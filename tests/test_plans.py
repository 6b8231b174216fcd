"""Physical-plan assertions: the plans we designed for, not just plans
that happen to pass.

Correctness is covered by the DuckDB differential suite; these tests pin
the *scale* properties SURVEY.md §4 calls out — predicate pushdown into
the parquet scan, column pruning to the read schema, broadcast joins for
dimensions, top-k without a global sort, partial (map-side) aggregation,
and shuffle-free co-located joins over the bucketed write layout.
"""

from __future__ import annotations

import re

import pytest

from ser_etl_spark.etl.build import TableLayout, write_bucketed_table
from ser_etl_spark.registry import all_queries
from ser_etl_spark.session import explain_string
from ser_etl_spark.sources.parquet import load_table

QUERIES = all_queries()


def _plan(spark, sf_small, name: str, mode: str = "formatted") -> str:
    return explain_string(QUERIES[name].builder(spark, sf_small), mode)


def test_filter_reaches_parquet_scan(spark, sf_small):
    plan = _plan(spark, sf_small, "where_filter")
    m = re.search(r"PushedFilters: \[(.+?)\]", plan)
    assert m and m.group(1).strip(), plan


def test_projection_prunes_read_schema(spark, sf_small):
    plan = _plan(spark, sf_small, "select_columns")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the projected columns reach the scan — no SELECT * smuggled in
    assert read_cols == {"p_partkey", "p_name", "p_brand",
                         "p_retailprice"}, read_cols


def test_topk_is_take_ordered_not_global_sort(spark, sf_small):
    plan = _plan(spark, sf_small, "top_k")
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["join_broadcast_dims", "shipping_priority", "supplier_variety",
     "disjunctive_revenue", "small_order_revenue", "nation_trade_volume",
     "nation_market_share", "product_type_profit"],
)
def test_dimension_joins_broadcast(spark, sf_small, name):
    plan = _plan(spark, sf_small, name)
    assert "BroadcastHashJoin" in plan, plan


def test_group_by_has_partial_aggregation(spark, sf_small):
    plan = _plan(spark, sf_small, "group_by")
    assert re.search(r"Functions \[\d+\]: \[partial_", plan), plan


def test_pricing_summary_stays_in_codegen(spark, sf_small):
    # AQE reports codegen subtrees only after execution; plan without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, sf_small, "pricing_summary", "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    assert m and int(m.group(1)) >= 1, plan[:2000]


def test_q13_preaggregates_orders_before_outer_join(spark, sf_small):
    """The orders side must collapse to one row per customer *below* the
    outer join — the shuffle carries |customer| rows, not |orders|."""
    plan = _plan(spark, sf_small, "customer_order_distribution", "simple")
    join_pos = plan.find("Join")
    agg_positions = [m.start() for m in re.finditer("HashAggregate", plan)]
    assert join_pos != -1 and agg_positions, plan
    # plan text is printed root-first: an aggregate *below* the join
    # appears after it in the string
    assert any(p > join_pos for p in agg_positions), plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_small, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    layout = dict(num_buckets=8)
    write_bucketed_table(
        load_table(spark, sf_small, "orders"),
        "b_orders", str(base / "orders"),
        TableLayout(bucket_by="o_orderkey", **layout),
    )
    write_bucketed_table(
        load_table(spark, sf_small, "lineitem"),
        "b_lineitem", str(base / "lineitem"),
        TableLayout(bucket_by="l_orderkey", sort_col="l_orderkey", **layout),
    )
    yield "b_orders", "b_lineitem"
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """Co-located fact⋈fact join over the bucketed layout: zero Exchange.

    Broadcast is disabled so the test proves bucketing (not dim size)
    eliminated the shuffle — at 100 TB neither side broadcasts.
    """
    orders_t, lineitem_t = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table(orders_t)
        li = spark.table(lineitem_t)
        j = o.join(li, o.o_orderkey == li.l_orderkey)
        plan = explain_string(j, "simple")
        assert "Bucketed: true" in plan, plan
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_date_partitioned_layout_prunes_directories(spark, sf_small, tmp_path):
    """A9's partition-pruning half: a snapshot partitioned by a derived
    month column answers time-range queries by skipping directories —
    PartitionFilters carries the predicate, not the row-level scan."""
    from pyspark.sql import functions as F

    from ser_etl_spark.etl.build import build_snapshot

    li = load_table(spark, sf_small, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    report = build_snapshot(
        {"lineitem_bymonth": li},
        str(tmp_path),
        layouts={
            "lineitem_bymonth": TableLayout(
                num_files=1, partition_by="ship_month"
            )
        },
    )
    assert report.tables["lineitem_bymonth"] > 0
    read = spark.read.parquet(str(tmp_path / "lineitem_bymonth")).filter(
        F.col("ship_month") == "1997-03"
    )
    plan = explain_string(read)
    m = re.search(r"PartitionFilters: \[(.+?)\]", plan)
    assert m and "ship_month" in m.group(1), plan
    assert read.count() > 0


def test_bucketed_aggregation_is_shuffle_free(spark, bucketed_tables):
    """groupBy on the bucket key reuses the bucketing — no Exchange."""
    _, lineitem_t = bucketed_tables
    from pyspark.sql import functions as F

    agg = spark.table(lineitem_t).groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = explain_string(agg, "simple")
    assert "Exchange" not in plan, plan


def test_quartiles_broadcasts_customer_dim(spark, sf_small):
    """customer (dim) must broadcast into the orders aggregate; the
    ranking window then shuffles once on the segment key."""
    plan = _plan(spark, sf_small, "customer_spend_quartiles")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_table_profile_is_single_pass(spark, sf_small):
    """All per-column statistics must come from ONE scan of orders —
    a per-column loop of jobs would show multiple parquet scans."""
    plan = _plan(spark, sf_small, "table_profile")
    # formatted mode prints each node once in the tree and once in the
    # detail section — count the numbered detail headers only
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_zorder_layout_narrows_file_spans_on_both_columns(spark, sf_small, tmp_path):
    """Z-order vs single-column sort: per-file min/max spans must be
    narrow on BOTH keys under Z-order, while a plain sort leaves its
    non-leading column's spans wide — the property parquet row-group
    skipping feeds on."""
    from pyspark.sql import functions as F

    from ser_etl_spark.etl.build import write_zordered_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    zpath = str(tmp_path / "zorder")
    write_zordered_table(li, zpath, ["l_partkey", "l_suppkey"], num_files=8)

    spath = str(tmp_path / "sorted")
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    import glob

    def avg_span(path: str, col: str) -> float:
        spans = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            row = spark.read.parquet(f).agg(
                F.min(col).alias("mn"), F.max(col).alias("mx")
            ).first()
            spans.append(row["mx"] - row["mn"])
        return sum(spans) / len(spans)

    full = li.agg((F.max("l_suppkey") - F.min("l_suppkey")).alias("s")).first()["s"]
    z_supp = avg_span(zpath, "l_suppkey")
    s_supp = avg_span(spath, "l_suppkey")
    # plain sort on partkey leaves suppkey spans ~the full domain;
    # z-order must do meaningfully better on the second column
    assert s_supp > 0.8 * full
    assert z_supp < 0.7 * full, (z_supp, s_supp, full)


def test_interval_attribution_is_single_scan_window(spark, sf_small):
    """The attribution window pairs each click with its preceding view
    via a per-user LAG over ONE events scan (the r10 single-scan sweep
    replaced the r9 equi-join + time-residual form). A join or
    cartesian reappearing here means the rewrite regressed to the
    two-scan shape."""
    plan = _plan(spark, sf_small, "view_click_interval")
    assert "Join" not in plan, plan[:2500]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2500]
    assert re.search(r"hashpartitioning\(user_id", plan), plan[:2500]


def test_chunking_is_shuffle_free(spark, sf_small):
    """chunk_documents is a narrow generate + substr projection — any
    Exchange in this plan means a rewrite introduced a shuffle."""
    plan = _plan(spark, sf_small, "doc_chunks")
    assert "Exchange" not in plan, plan


def test_decontamination_broadcasts_benchmark_ngrams(spark, sf_small):
    plan = _plan(spark, sf_small, "decontamination")
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan  # totals restricted to hit docs


def test_source_mixture_broadcasts_fractions(spark, sf_small):
    """The keep-fraction table (|sources| rows) broadcasts; the document
    side is filtered in place, never shuffled for the join."""
    plan = _plan(spark, sf_small, "source_mixture")
    assert "BroadcastHashJoin" in plan, plan


def test_sharded_ordering_never_uses_a_single_partition(spark, sf_small):
    """training_order and source_cap windows partition by shard/source —
    a SinglePartition exchange would mean a global sort bottleneck."""
    for name in ("training_order", "source_cap"):
        plan = _plan(spark, sf_small, name)
        assert "SinglePartition" not in plan, (name, plan)


class TestPartsuppShapePlans:
    """Scale properties of the Q2/Q11/Q20 partsupp-family shapes."""

    def test_min_cost_supplier_broadcasts_dims(self, spark, sf_small):
        plan = _plan(spark, sf_small, "min_cost_supplier")
        # part filter + supplier/nation/region dims ride broadcasts; the
        # only hash shuffle is the window partition on the part key
        assert "BroadcastHashJoin" in plan, plan
        assert "Window" in plan, plan

    def test_important_stock_threshold_is_broadcast_scalar(
        self, spark, sf_small
    ):
        plan = _plan(spark, sf_small, "important_stock")
        # the group-total threshold joins as a broadcast 1-row scalar,
        # not a per-row correlated subquery
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert re.search(r"Functions \[\d+\]: \[partial_sum", plan), plan

    def test_stocked_parts_promotion_is_semi_join(self, spark, sf_small):
        plan = _plan(spark, sf_small, "stocked_parts_promotion")
        assert "LeftSemi" in plan, plan


class TestRound3OperatorPlans:
    """Scale properties of the round-3 additions."""

    def test_count_min_sketch_broadcasts_and_partials(self, spark, sf_small):
        plan = _plan(spark, sf_small, "count_min_tokens")
        # the d x w sketch rides a broadcast to the probe join; the
        # counter aggregation keeps its map-side partial
        assert "BroadcastHashJoin" in plan, plan
        assert re.search(r"Functions \[\d+\]: \[partial_count", plan), plan

    def test_bloom_decontamination_broadcasts_positions(self, spark, sf_small):
        plan = _plan(spark, sf_small, "decontamination_bloom")
        # benchmark positions broadcast — the train side never shuffles
        # for the membership join
        assert "BroadcastHashJoin" in plan, plan

    def test_gap_fill_single_window_pass(self, spark, sf_small):
        plan = _plan(spark, sf_small, "gap_filled_hourly")
        assert plan.count("Window") >= 1, plan
        # events aggregate BEFORE the spine join: partial agg present
        assert re.search(r"Functions \[\d+\]: \[partial_", plan), plan

    def test_uniform_ksample_is_take_ordered(self, spark, sf_small):
        plan = _plan(spark, sf_small, "uniform_ksample")
        # fixed-size sample = per-partition top-k heaps, never global sort
        assert "TakeOrderedAndProject" in plan, plan


def test_bm25_is_topk_with_broadcast_stats(spark, sf_small):
    """BM25's global stats (per-term df, corpus totals) are tiny and must
    broadcast; the final ranking must be partial top-k, not a global
    sort — at corpus scale a Sort+Limit here would shuffle every doc."""
    plan = _plan(spark, sf_small, "bm25_search")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_expanded_vector_stages_compile(sf_small):
    """The barrier-column restructure must keep these stages INSIDE
    whole-stage codegen: a janino 'Code grows beyond 64 KB' failure is
    silent (the stage falls back to interpreted execution and pays a
    failed multi-second compile per job). The JVM writes the error to
    the stderr it inherited at launch, so an in-process fd redirect
    cannot see it (a round-5 review caught exactly that vacuous form of
    this test); instead run the queries in a SUBPROCESS whose stderr is
    captured for real. The r6 write-time ANN layout removed the one
    documented interpreted stage (the registry ivf_ann_topk probe now
    reads precomputed centroid partitions + vnorm, so the fused
    argmax+cosine expression no longer exists), and the r12 observe()
    stage split removed the last one (ivf_recall_trained_vs_seed's fused
    assign+anchor-sims stage, VERDICT r11 #5) — ALL registry ANN
    queries must now compile clean. The SCAN-time ivf_ann_topk function,
    which still fuses the centroid argmax with the query-cosine
    projection in one stage, remains the POSITIVE control: its error
    must appear, proving the capture works.
    """
    import subprocess
    import sys

    script = f"""
import os
os.environ["SPARK_GRAFT_CPUS"] = "4"
from ser_etl_spark.session import get_spark
spark = get_spark(conf={{"spark.ui.enabled": "false",
                         "spark.sql.shuffle.partitions": "4"}})
from ser_etl_spark.registry import all_queries
Q = all_queries()
import sys
import tempfile
from ser_etl_spark.operators.similarity import build_ann_index
build_ann_index(spark, {sf_small!r}, tempfile.mkdtemp(prefix="annidx_"))
print("CLEAN_DONE build_ann_index", file=sys.stderr, flush=True)
for name in ("lsh_ann_topk", "ivf_assign", "hard_negative_mining",
             "ivf_ann_topk", "lsh_ann_multiprobe", "ann_quantized_rescore",
             "ivf_recall_trained_vs_seed"):
    Q[name].builder(spark, {sf_small!r}).collect()
    print("CLEAN_DONE " + name, file=sys.stderr, flush=True)
print("CONTROL_START", file=sys.stderr, flush=True)
from ser_etl_spark.operators.similarity import ivf_ann_topk, _query_vector
from ser_etl_spark.sources.parquet import load_table
emb = load_table(spark, {sf_small!r}, "embeddings")
ivf_ann_topk(emb, _query_vector(spark, {sf_small!r}), k=10).collect()
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    clean, _, control = proc.stderr.partition("CONTROL_START")
    assert clean.count("CLEAN_DONE") == 8, proc.stderr[-3000:]
    assert "Failed to compile" not in clean, clean[-3000:]
    # positive control: the known-failing stage must surface the error,
    # otherwise this test has silently stopped observing codegen at all
    assert "Failed to compile" in control, control[-2000:]


def test_registry_codegen_compiles_clean(sf_small):
    """r13 (VERDICT r12 #4): the codegen pin, registry-WIDE. Every
    registered query executes at sf0.001 in a SUBPROCESS whose stderr
    is captured for real (the JVM writes janino failures to the stderr
    it inherited at launch — an in-process redirect is vacuous, the
    r5 lesson), and the whole run must produce zero
    'Failed to compile' events: the next janino method-limit regression
    in ANY operator is caught at authoring time, not by a bench
    anomaly. The known-interpreted scan-time ivf_ann_topk stage stays
    the positive control proving the capture observes codegen."""
    import subprocess
    import sys

    script = f"""
import os, sys
os.environ["SPARK_GRAFT_CPUS"] = "8"
from ser_etl_spark.session import get_spark
spark = get_spark(conf={{"spark.ui.enabled": "false",
                         "spark.sql.shuffle.partitions": "8"}})
from ser_etl_spark.registry import all_queries
Q = all_queries()
for name in sorted(Q):
    Q[name].builder(spark, {sf_small!r}).collect()
    print("CLEAN_DONE " + name, file=sys.stderr, flush=True)
print("CONTROL_START", file=sys.stderr, flush=True)
from ser_etl_spark.operators.similarity import ivf_ann_topk, _query_vector
from ser_etl_spark.sources.parquet import load_table
emb = load_table(spark, {sf_small!r}, "embeddings")
ivf_ann_topk(emb, _query_vector(spark, {sf_small!r}), k=10).collect()
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=3000,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    clean, _, control = proc.stderr.partition("CONTROL_START")
    from ser_etl_spark.registry import all_queries

    n = len(all_queries())
    assert clean.count("CLEAN_DONE") == n, (
        clean.count("CLEAN_DONE"),
        n,
        proc.stderr[-4000:],
    )
    if "Failed to compile" in clean:
        # attribute the failure to the query whose run surfaced it
        bad = clean[: clean.index("Failed to compile")]
        last_ok = bad.rsplit("CLEAN_DONE ", 1)[-1].split("\n")[0]
        raise AssertionError(
            f"codegen fallback after {last_ok!r}: "
            + clean[clean.index("Failed to compile") :][:2000]
        )
    # positive control: the known-failing stage must surface the error,
    # otherwise the capture has silently stopped observing codegen
    assert "Failed to compile" in control, control[-2000:]


def test_pack_sequences_single_group_shuffle(spark, sf_small):
    """The packer's only data-sized shuffle is ONE hash partition on the
    (source, shard) group key feeding FlatMapGroupsInPandas — token
    counting is map-side, so a second Exchange would mean the plan
    regressed to shuffling the corpus twice."""
    plan = _plan(spark, sf_small, "pack_sequences")
    assert "FlatMapGroupsInPandas" in plan, plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan
    m = re.search(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert m and "source" in m.group(1) and "shard" in m.group(1), plan


def test_bigram_rare_ratio_builds_bigrams_without_window(spark, sf_small):
    """Bigrams come from transform(slice) inside the row — a Window
    (lead) formulation would add a per-doc sort + shuffle before the
    first aggregate."""
    plan = _plan(spark, sf_small, "bigram_rare_ratio")
    assert "Window" not in plan, plan


def test_hard_negative_is_single_fused_scan(spark, sf_small):
    """All anchors must be scored in ONE corpus scan (a per-anchor branch
    plan reads the corpus Q times — at 100 TB the IO, not the dot
    products, is the budget), with the floor filter applied before the
    ranking window's exchange so the window only sees candidates."""
    import re as _re

    plan = _plan(spark, sf_small, "hard_negative_mining")
    scans = _re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "Window" in plan, plan
    # floor filter sits below the exchange feeding the window
    assert plan.index("Filter") < plan.index("Window"), plan


def test_ann_index_probes_prune_partitions(spark, sf_small):
    """Directive-r6 #1: the persisted ANN layout must turn every probe
    into partition pruning — PartitionFilters carries the bucket/list
    predicate (the scan never touches non-matching directories), and the
    layout on disk actually shards the corpus so the pruned fraction is
    a strict subset."""
    import glob
    import os

    from ser_etl_spark.operators import similarity as S

    vec = S._query_vector(spark, sf_small)
    idx = S.ensure_ann_index(spark, sf_small)

    def pf(df) -> str:
        m = re.search(r"PartitionFilters: \[(.+?)\]", explain_string(df))
        assert m, explain_string(df)
        return m.group(1)

    single = S.lsh_ann_topk_indexed(spark, sf_small, vec, k=10)
    assert "srp_bucket" in pf(single)
    multi = S.lsh_ann_topk_indexed(spark, sf_small, vec, k=10, max_mismatches=1)
    assert re.search(r"srp_bucket#\d+ IN \(", pf(multi))
    ivf = S.ivf_ann_topk_indexed(spark, sf_small, vec, k=10)
    assert re.search(r"centroid_id#\d+ IN \(", pf(ivf))

    # the layout genuinely shards: >1 bucket directory exists, so the
    # single-bucket probe reads a strict subset of the data files
    bucket_dirs = glob.glob(os.path.join(idx, "srp_bucket=*"))
    assert len(bucket_dirs) > 1, bucket_dirs
    all_files = glob.glob(os.path.join(idx, "srp_bucket=*", "*", "*.parquet"))
    qb = S._srp_bucket_py(vec, S._plane_matrix(spark, len(vec), S.ANN_PLANES))
    probe_files = glob.glob(
        os.path.join(idx, f"srp_bucket={qb}", "*", "*.parquet")
    )
    assert 0 < len(probe_files) < len(all_files), (len(probe_files), len(all_files))


def test_quantized_rescore_reads_materialized_int8(spark, sf_small):
    """Directive-r7 #1: the two-stage rescore's cheap stage must READ
    the write-time int8 artifact, never re-quantize the float corpus per
    query — (a) no quantize expressions (the greatest(1e-30, ...) max-abs
    chain) anywhere in the per-query plan, (b) the cheap-stage scan's
    ReadSchema carries qvec/scale and NOT the float embedding column
    (4x byte saving), and (c) every index scan is partition-pruned to
    the probed centroid lists (scan fraction multiplies with the byte
    saving)."""
    plan = _plan(spark, sf_small, "ann_quantized_rescore")
    assert "1.0E-30" not in plan, plan  # quantization paid at build time
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    cheap = [s for s in schemas if "qvec" in s]
    assert cheap, schemas
    assert all("embedding" not in s for s in cheap), cheap
    pfs = re.findall(r"PartitionFilters: \[(.+?)\]", plan)
    assert pfs and all(
        re.search(r"centroid_id#\d+ IN \(", pf) for pf in pfs
    ), plan


def test_ann_indexed_probes_match_scan_probes(spark, sf_small):
    """The write-time layout is a pure layout change: indexed probes must
    return bit-identical rows to the scan-time filter forms."""
    from ser_etl_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_ann_topk_indexed,
        lsh_ann_multiprobe,
        lsh_ann_topk,
        lsh_ann_topk_indexed,
        _query_vector,
    )

    emb = load_table(spark, sf_small, "embeddings")
    vec = _query_vector(spark, sf_small)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(lsh_ann_topk_indexed(spark, sf_small, vec, k=10)) == rows(
        lsh_ann_topk(emb, vec, k=10)
    )
    assert rows(
        lsh_ann_topk_indexed(spark, sf_small, vec, k=10, max_mismatches=1)
    ) == rows(lsh_ann_multiprobe(emb, vec, k=10, max_mismatches=1))
    assert rows(ivf_ann_topk_indexed(spark, sf_small, vec, k=10)) == rows(
        ivf_ann_topk(emb, vec, k=10)
    )


def test_dedup_propagation_round_shuffle_count(spark):
    """Directive-r6 #3: pin the two-shuffles-per-round claim (ec8cf5f) at
    the plan level. One round = edge join + min-aggregate; with broadcast
    disabled (the 100 TB shape — neither side fits) the plan must carry
    exactly THREE Exchange nodes: edges + labels hashpartitioned into the
    join, and the aggregate's hashpartitioning on node. The r4 form paid
    a fourth/fifth (a second labels-vs-updated join) for its convergence
    flag."""
    from pyspark.sql import functions as F

    from ser_etl_spark.operators.dedup import _propagation_round

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
    )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).distinct()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_string(_propagation_round(edges, labels))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # count only the round's own exchanges: strip the edges/labels prep
    # (distinct aggregates) by asserting on the total with them included
    # is brittle — instead count Exchange nodes ABOVE the highest
    # pre-existing aggregate... simpler: build the round over
    # checkpoint-equivalent inputs so the plan contains only the round.
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    # in duplicate_clusters the inputs arrive checkpointed, so the
    # round's marginal cost is this plan's exchanges MINUS the ones the
    # un-checkpointed edges/labels prep contributes on its own
    base = len(re.findall(r"\(\d+\) Exchange", explain_string(edges))) + len(
        re.findall(r"\(\d+\) Exchange", explain_string(labels))
    )
    assert len(exchanges) - base == 3, plan


def test_snapshot_ann_layout_prunes(spark, sf_small, tmp_path):
    """TableLayout(ann_index=True) materializes the ANN probe layout
    inside the snapshot build (the production write-time path); a bucket
    probe over it is partition pruning, same as the on-demand index."""
    from pyspark.sql import functions as F

    from ser_etl_spark.etl.build import build_snapshot
    from ser_etl_spark.operators import similarity as S

    emb = load_table(spark, sf_small, "embeddings")
    report = build_snapshot(
        {"embeddings": emb},
        str(tmp_path),
        layouts={"embeddings": TableLayout(unique_key="vec_id",
                                           ann_index=True)},
    )
    assert report.tables["embeddings"] > 0
    vec = S._query_vector(spark, sf_small)
    qb = S._srp_bucket_py(vec, S._plane_matrix(spark, len(vec), S.ANN_PLANES))
    probe = (
        spark.read.parquet(str(tmp_path / "embeddings_ann_index"))
        .filter(F.col("srp_bucket") == qb)
    )
    plan = explain_string(probe)
    m = re.search(r"PartitionFilters: \[(.+?)\]", plan)
    assert m and "srp_bucket" in m.group(1), plan
    assert probe.count() > 0


def test_incremental_dedup_reads_persisted_bands(spark, sf_small):
    """The corpus side of incremental dedup must READ the materialized
    band artifact (a parquet scan of the *_minhash_bands layout), not
    re-derive corpus signatures — the wired form of the A2 story.

    The candidate sliver is checkpointed while the query builds, so the
    artifact read sits in a build-time execution, not in the returned
    plan: assert on the plans Spark recorded for the registered query.
    Its scan-budget row pins the rest — re-deriving corpus signatures
    inline would surface there as an extra documents scan."""
    from scripts.gen_scan_budget import build_time_executions

    _, plans = build_time_executions(
        QUERIES["incremental_dedup"], spark, sf_small
    )
    assert any("minhash_bands" in p for p in plans), [p[:2000] for p in plans]


def test_series_anomalies_two_exchange_shape(spark, sf_small):
    """One (user, hour) aggregate exchange + one user-only window
    exchange over the AGGREGATED series — nothing else moves."""
    plan = _plan(spark, sf_small, "series_anomalies")
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 2, parts
    assert "hour_bucket" in parts[0] and "hour_bucket" not in parts[1], parts


def test_phash_and_blocked_neardup_never_cartesian(spark, sf_small):
    """Band/partition blocking must surface as an equi-join — a
    CartesianProduct or nested-loop pair join would be the quadratic
    shape the blocking exists to avoid."""
    for name in ("media_phash_neardup", "ann_blocked_neardup"):
        plan = _plan(spark, sf_small, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_label_cohesion_plan_constant_in_label_cardinality(spark, tmp_path):
    """r8 (VERDICT directive #1): label_cohesion's plan must not grow
    with label cardinality. The r7 form baked one literal expression
    column per label plus an L-branch CASE pick — at realistic QA loads
    (1e3-1e5 labels) the driver burns minutes building the plan and
    codegen falls over (the documented >~20-looped-Columns cliff). The
    rewrite broadcast-joins an aggregated (label, centroid) frame, so
    the scoring expression is O(dim) and independent of L: asserted by
    comparing optimized-plan sizes at L=5 vs L=600 and by the absence
    of the per-label _lc columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ser_etl_spark.operators.similarity import label_cohesion
    from ser_etl_spark.sources.parquet import load_table

    dim = 8

    def corpus(path, n_labels: int) -> None:
        ids, vecs, labels = [], [], []
        for lab in range(n_labels):
            for m in range(3):
                ids.append(lab * 3 + m)
                # identical members per label => cohesion exactly 1.0
                vecs.append([float((lab + i) % 7 + 1) for i in range(dim)])
                labels.append(lab)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float32())),
                    "label": pa.array(labels, pa.int32()),
                }
            ),
            path,
        )

    small = tmp_path / "small"
    big = tmp_path / "big"
    small.mkdir()
    big.mkdir()
    corpus(small / "embeddings.parquet", 5)
    corpus(big / "embeddings.parquet", 600)

    plans = {}
    for d, n in ((small, 5), (big, 600)):
        df = label_cohesion(load_table(spark, str(d), "embeddings"))
        plan = explain_string(df)
        assert "_lc0" not in plan, "per-label literal columns are back"
        plans[n] = len(plan)
    # identical corpora schema => identical plan; allow only trivial
    # drift (plan-id numbering), nothing proportional to 595 labels
    assert abs(plans[600] - plans[5]) < 200, plans

    # and the big corpus actually runs in bounded time with exact output
    out = label_cohesion(load_table(spark, str(big), "embeddings")).collect()
    assert len(out) == 600
    assert all(r["n_members"] == 3 and r["cohesion"] == 1.0 for r in out)


def test_substring_dedup_never_cartesian(spark, sf_small):
    """The anchor inverted index must surface as an equi-join on the
    gram (plus the diagonal window over matched anchors only) — never a
    pair-enumerating nested loop."""
    plan = _plan(spark, sf_small, "substring_dedup")
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_literal_baking_operators_plan_constant_in_corpus_size(
    spark, tmp_path
):
    """r8 (VERDICT optional #8, now a permanent gate): the operators
    that bake driver-collected values as literal expression columns —
    ivf_assign (K=8 centroids -> _csx{cid} columns) and
    hard_negative_mine (HARD_NEG_QUERIES=5 anchors -> _sim{q} columns)
    — must have plan/expression counts bounded by their CONSTANTS, not
    by data cardinality. A 20x corpus (with 20x distinct labels) must
    produce the same number of per-literal columns; if a future change
    makes the fan-out data-dependent, this trips before the
    py4j/janino cliff does."""
    import re as _re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ser_etl_spark.operators.similarity import (
        HARD_NEG_QUERIES,
        IVF_CENTROIDS,
        hard_negative_mine,
        ivf_assign,
    )
    from ser_etl_spark.sources.parquet import load_table

    dim = 8

    def corpus(path, n_rows: int) -> None:
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n_rows), pa.int64()),
                    "embedding": pa.array(
                        [
                            [((v * 13 + i * 5) % 11 - 5) / 6.0 + 0.02
                             for i in range(dim)]
                            for v in range(n_rows)
                        ],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(
                        [v % max(1, n_rows // 3) for v in range(n_rows)],
                        pa.int32(),
                    ),
                }
            ),
            path,
        )

    counts = {}
    for tag, n in (("small", 60), ("big", 1200)):
        d = tmp_path / tag
        d.mkdir()
        corpus(d / "embeddings.parquet", n)
        emb = load_table(spark, str(d), "embeddings")
        ivf_plan = explain_string(ivf_assign(emb))
        anchors = [
            (int(r["vec_id"]), int(r["label"]), [float(v) for v in r["embedding"]])
            for r in emb.orderBy("vec_id").limit(HARD_NEG_QUERIES).collect()
        ]
        hn_plan = explain_string(hard_negative_mine(emb, anchors))
        counts[tag] = (
            len(set(_re.findall(r"_csx\d+", ivf_plan))),
            len(set(_re.findall(r"_sim\d+", hn_plan))),
        )
    assert counts["small"] == counts["big"], counts
    ivf_cols, hn_cols = counts["big"]
    assert ivf_cols == IVF_CENTROIDS
    assert hn_cols == HARD_NEG_QUERIES


def test_bm25_indexed_prunes_token_buckets(spark, sf_small):
    """The indexed BM25 probe must reach the postings layout as
    PartitionFilters on tok_bucket (<= |terms| of 64 directories read)
    and its ReadSchema must carry the denormalized dl — no doc-length
    join, no corpus-wide aggregate anywhere in the plan."""
    plan = _plan(spark, sf_small, "bm25_search_indexed")
    m = re.search(r"PartitionFilters: \[(.+?)\]", plan)
    assert m and "tok_bucket" in m.group(1), plan[:2000]
    m2 = re.search(r"ReadSchema: (.+)", plan)
    assert m2 and "dl" in m2.group(1), plan[:2000]


def test_containment_and_span_removal_never_cartesian(spark, sf_small):
    """Both r8 dedup-family additions must stay equi-join shaped."""
    for name in ("ngram_containment", "span_removal"):
        plan = _plan(spark, sf_small, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r8b_additions_never_cartesian(spark, sf_small):
    """knn_classify / recall eval / overlap matrix / boilerplate score:
    every join in the r8b additions is an equi-join (bucket key, shingle
    key, or anchor id) — a nested-loop anywhere here is corpus^2."""
    for name in ("knn_classify", "ann_recall_eval", "source_overlap_matrix",
                 "boilerplate_score", "label_centroid_confusion"):
        plan = _plan(spark, sf_small, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_knn_classify_reads_persisted_index(spark, sf_small):
    """The probe/neighbor sides both come from the persisted ANN layout
    (vnorm reused, srp_bucket read from directories), not a recomputed
    corpus scan."""
    plan = _plan(spark, sf_small, "knn_classify")
    assert "embeddings_ann_index" in plan or "ann_index" in plan, plan
    assert "vnorm" in plan, plan


def test_ranking_windows_use_group_limit(spark, sf_small):
    """The per-probe top-k window must compile to WindowGroupLimit
    (per-partition heaps before the final sort): a rank-then-filter that
    sorts whole partitions is the non-scalable shape. (ann_recall_eval
    deliberately does NOT qualify — its window also carries the running
    in-bucket count the n_bucket aggregate needs, so all rows flow.)"""
    plan = _plan(spark, sf_small, "knn_classify")
    assert "WindowGroupLimit" in plan, plan


def test_ann_recall_eval_single_corpus_scan(spark, sf_small):
    """ONE fused scan scores all anchors and buckets all rows: the
    embeddings parquet appears exactly once in the physical plan (the
    anchor fetch is a separate driver-side O(n_anchors) job, not part of
    this plan)."""
    plan = _plan(spark, sf_small, "ann_recall_eval")
    assert plan.count("embeddings.parquet") == 1, plan


def test_source_overlap_guard_inside_single_aggregate(spark, sf_small):
    """The fan-out guard lives inside the vocabulary aggregate (size
    filter on the collected per-shingle source list) and pair expansion
    is an in-row bounded array transform: no shingle-table SELF-join
    remains (the only joins are the two broadcast size lookups), and the
    shingle pipeline is not re-derived per consumer (the anti-join
    formulation this replaces scanned documents 8x)."""
    plan = _plan(spark, sf_small, "source_overlap_matrix")
    assert plan.count("documents.parquet") <= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_boilerplate_and_confusion_single_scan(spark, sf_small):
    """boilerplate_score computes shingle df with a partition window (no
    df-table join) and label_centroid_confusion carries the label
    through the assignment scan (no corpus join): one scan each."""
    for name, f in (("boilerplate_score", "documents.parquet"),
                    ("label_centroid_confusion", "embeddings.parquet")):
        plan = _plan(spark, sf_small, name)
        assert plan.count(f) == 1, (name, plan.count(f))


def test_windowed_outlier_and_burst_single_exchange_per_key(spark, sf_small):
    """value_outliers_mad's two sorted windows and burst_detection's
    range frame all partition by the same key: exactly ONE shuffle
    exchange on that key may appear (AQE may add none elsewhere)."""
    for name, key in (("value_outliers_mad", "grp"),
                      ("burst_detection", "user_id"),
                      ("time_weighted_value", "user_id"),
                      ("winsorized_stats", "grp")):
        plan = _plan(spark, sf_small, name)
        exchanges = re.findall(r"hashpartitioning\((\w+)", plan)
        assert len(exchanges) == 1 and exchanges[0].startswith(key), (
            name, exchanges)


def test_series_autocorr_two_exchange_shape(spark, sf_small):
    """Same discipline as series_anomalies: one (user, hour) aggregate
    exchange, then the user-only exchange shared by the LEAD window and
    the final per-user aggregate — nothing downstream reshuffles."""
    plan = _plan(spark, sf_small, "series_autocorr")
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 2, parts
    assert "hour_bucket" in parts[0] and "hour_bucket" not in parts[1], parts


def test_shard_manifest_prefix_sum_shape(spark, sf_small):
    """The two-level prefix sum must keep the single-task window on the
    BUCKET AGGREGATE only (one SinglePartition exchange, fed by the
    bucket hash-agg), broadcast the offsets back, and prune the
    documents scan to (doc_id, n_chars) — text never moves."""
    plan = _plan(spark, sf_small, "shard_manifest")
    assert plan.count("Arguments: SinglePartition") == 1, plan[:3000]
    assert "BroadcastExchange" in plan, plan[:3000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "doc_id:bigint", "n_chars:bigint"
    }, m and m.group(1)


def test_r8c_single_group_exchange_shapes(spark, sf_small):
    """The r8 continuation's windowed/grouped operators each shuffle
    raw rows exactly once, on their group key; every later window or
    aggregate reuses that partitioning."""
    for name, key in (("group_ksample", "lang"),
                      ("dim_variance_screen", "dim"),
                      ("brand_size_skyline", "p_brand")):
        plan = _plan(spark, sf_small, name)
        exchanges = re.findall(r"hashpartitioning\((\w+)", plan)
        assert len(exchanges) == 1 and exchanges[0].startswith(key), (
            name, exchanges)


def test_dominant_lang_share_windows_over_aggregates(spark, sf_small):
    """Documents shuffle once into the (source, lang) aggregate; the
    rank/total windows repartition only the aggregated rows on source."""
    plan = _plan(spark, sf_small, "dominant_lang_share")
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 2, parts
    assert "lang" in parts[0] and "lang" not in parts[1], parts


def test_spend_gini_single_task_only_on_distinct_values(spark, sf_small):
    """The only SinglePartition exchange feeds the distinct-value
    window — orders and per-customer rows must never be globally
    sorted."""
    plan = _plan(spark, sf_small, "spend_gini")
    assert plan.count("Arguments: SinglePartition") == 1, plan[:3000]
    keyed = re.findall(r"hashpartitioning\((\w+)", plan)
    assert any(k.startswith("cust") for k in keyed), keyed
    assert any(k.startswith("spend") for k in keyed), keyed


def test_revenue_abc_single_task_only_on_distinct_values(spark, sf_small):
    """Lineitem shuffles once to the part aggregate, parts collapse to
    distinct revenue values, and only THAT series hits a
    SinglePartition window — no global row sort, no join back."""
    plan = _plan(spark, sf_small, "revenue_abc_classes")
    assert plan.count("Arguments: SinglePartition") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_open_orders_timeline_broadcasts_delta_series(spark, sf_small):
    """The per-month delta aggregates and the month domain are tiny —
    they must broadcast; the only big operation is the order-close
    aggregate + equi-join."""
    plan = _plan(spark, sf_small, "open_orders_timeline")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_event_heatmap_single_fixed_cardinality_aggregate(spark, sf_small):
    """One hash aggregate on (dow, hour) with map-side partials —
    the shuffle carries at most 168 rows per mapper."""
    plan = _plan(spark, sf_small, "event_heatmap")
    assert re.search(r"Functions \[\d+\]: \[partial_", plan), plan[:2000]
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 1 and "dow" in parts[0], parts


def test_corr_matrix_single_scan_single_row_aggregate(spark, sf_small):
    """All 15 sufficient statistics must come from ONE lineitem scan
    feeding one global aggregate — a per-pair loop of jobs would show
    multiple scans."""
    plan = _plan(spark, sf_small, "corr_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2500]
    assert plan.count("Arguments: SinglePartition") == 1, plan[:2500]


def test_dedup_rate_by_source_two_keyed_exchanges(spark, sf_small):
    """One fingerprint shuffle for the copy-count window, one source
    aggregate over the flagged rows — no join back to documents."""
    plan = _plan(spark, sf_small, "dedup_rate_by_source")
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 2, parts
    assert "fp" in parts[0] and "source" in parts[1], parts
    assert "Join" not in plan, plan[:2500]


def test_rfm_and_latency_windows_over_aggregates(spark, sf_small):
    """rfm_segments' NTILE windows and fulfillment_latency's rank
    window must consume AGGREGATED rows (per customer / per order),
    never the raw fact stream: a hash aggregate sits below every
    window in the plan."""
    for name in ("rfm_segments", "fulfillment_latency"):
        plan = _plan(spark, sf_small, name, "simple")
        first_window = plan.find("Window")
        assert first_window != -1, name
        # plan text is root-first: an aggregate BELOW the window
        # appears after it in the string
        assert "HashAggregate" in plan[first_window:], (name, plan[:2000])


def test_langid_confusion_no_self_join(spark, sf_small):
    """The label rides the single classifier scan — a join back to
    documents would scan the text twice."""
    plan = _plan(spark, sf_small, "langid_confusion")
    assert "Join" not in plan, plan[:2500]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2500]


def test_basket_lift_no_cartesian_and_topk(spark, sf_small):
    """The pair generator must be the orderkey equi-self-join (bounded
    by basket size), never a part-level cartesian; ranking is
    TakeOrderedAndProject."""
    plan = _plan(spark, sf_small, "basket_lift")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_revenue_mom_growth_single_raw_exchange(spark, sf_small):
    """Orders shuffle once into the month aggregate; LAG runs over the
    tiny month series on a single partition."""
    plan = _plan(spark, sf_small, "revenue_mom_growth")
    parts = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(parts) == 1 and parts[0].startswith("m"), parts
    assert plan.count("Arguments: SinglePartition") == 1, plan[:2500]


def test_r9_text_quality_plan_shapes(spark, sf_small):
    """r9 wave-1 queries: broadcast small sides, no cartesian products,
    scan counts where a single pass is the claim."""
    # rarity: vocabulary frequency table broadcasts back onto the token
    # stream — never a shuffled sort-merge join, never a cartesian
    plan = _plan(spark, sf_small, "doc_rarity_topk")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    # contamination span profile: benchmark grams broadcast; the window
    # partitions by doc_id (matched sliver), no cartesian
    plan = _plan(spark, sf_small, "contamination_span_profile")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    assert re.search(r"hashpartitioning\(doc_id", plan), plan[:2000]
    # funnel: ONE documents scan, one scalar aggregate (SinglePartition)
    plan = _plan(spark, sf_small, "quality_filter_funnel")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Arguments: SinglePartition" in plan
    # context fit: one scan; the window dimension is a generator, so no
    # join of any kind appears
    plan = _plan(spark, sf_small, "context_fit_histogram")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    # budget selection (two-level prefix sum since r11): the static plan
    # shows both consumers of the shared (source, priority) window — two
    # scans statically, ONE at runtime via ReusedExchange (pinned by
    # test_runtime_exchange_reuse_for_shared_aggregates); the within-band
    # window partitions by (source, priority)
    plan = _plan(spark, sf_small, "token_budget_selection")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan[:2000]
    assert re.search(
        r"hashpartitioning\(source#\d+, priority#\d+", plan
    ), plan[:2000]


def test_r9_vector_and_analytics_plan_shapes(spark, sf_small):
    """r9 waves 2-9: broadcast/scan/top-k claims pinned on the plan."""
    # Lloyd step: the only join left is the K-row spine/movement
    # broadcast (r15 — seeds ride a literal map, not a join); no
    # data-sized cartesian (the E-step is projection-based, not a join)
    plan = _plan(spark, sf_small, "kmeans_lloyd_step")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    # PCA step: ONE embeddings scan feeds the quantized aggregate
    plan = _plan(spark, sf_small, "embedding_pca_step")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    # path mining: single scan, user-partitioned window, TakeOrdered
    plan = _plan(spark, sf_small, "event_path_topk")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"hashpartitioning\(user_id", plan)
    assert "TakeOrderedAndProject" in plan
    # turnover: equi-join (broadcast or shuffled), never cartesian; top-k
    plan = _plan(spark, sf_small, "inventory_turnover_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # Lorenz: the only windows run over the DISTINCT-VALUE series /
    # 10-row decile rollup — no per-customer ranking anywhere (no ntile)
    plan = _plan(spark, sf_small, "lorenz_deciles")
    assert "ntile" not in plan.lower()
    # grouped KMV: window partitioned by source (k-state per group)
    plan = _plan(spark, sf_small, "kmv_distinct_by_source")
    assert re.search(r"hashpartitioning\(source", plan)
    # dup matrix: fp equi-join, no cartesian
    plan = _plan(spark, sf_small, "dup_source_matrix")
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# generic scan-multiset budget (r9 directive #3)
# ---------------------------------------------------------------------------

from tests._scan_budget import SCAN_BUDGET  # noqa: E402


@pytest.mark.parametrize("name", sorted(SCAN_BUDGET))
def test_scan_budget_multiset(spark, sf_small, name):
    """Every registered query's STATIC plan reads each table exactly as
    many times as the reviewed budget says (self-joins and thin
    column-pruned normalizer scans are part of the recorded number).
    A rewrite that ADDS a scan — the r9 'normalizer recompute' class —
    fails here until scripts/gen_scan_budget.py is deliberately re-run
    and the diff reviewed. Queries that single-scan only at RUNTIME
    (AQE ReusedExchange, e.g. doc_rarity_topk) keep their static count;
    the runtime gate below covers the reuse.

    Builders that run SQL while they build (driver-collected training
    loops, label propagation, checkpoints, streaming micro-batches)
    additionally pin ``<build:executions>`` and one ``<build:<table>>``
    scan count per table, read from the executions Spark recorded
    during the build — 'scans outside the final plan', distinguished
    from 'no scans' (VERDICT r10 #7): a hidden extra pass fails here."""
    from scripts.gen_scan_budget import budget_row

    row, plan = budget_row(QUERIES[name], spark, sf_small)
    assert row == SCAN_BUDGET[name], (row, plan[:2000])


def _count_documents(spark, sf, df):
    load_table(spark, sf, "documents").count()


def _count_result(spark, sf, df):
    df.count()


@pytest.mark.parametrize(
    "name, extra, delta",
    [
        # a builder that already runs SQL at build time
        ("mixture_rebalance", _count_documents,
         {"<build:executions>": 1, "<build:documents>": 1}),
        # a builder that ran none: no hand-placed counter ever covered it
        ("group_by", _count_documents,
         {"<build:executions>": 1, "<build:documents>": 1}),
        # an action over checkpointed data moves no scan, only the count
        ("bpe_merge_step", _count_result, {"<build:executions>": 1}),
    ],
)
def test_scan_budget_catches_extra_build_time_action(
    spark, sf_small, name, extra, delta
):
    """Mutation check on the gate's build-time half: wrap a registered
    builder so it runs one extra action while building, and the measured
    row must leave the budget by exactly that action."""
    import dataclasses

    from scripts.gen_scan_budget import budget_row

    spec = QUERIES[name]

    def builder(spark, sf):
        df = spec.builder(spark, sf)
        extra(spark, sf, df)
        return df

    row, _ = budget_row(
        dataclasses.replace(spec, builder=builder), spark, sf_small
    )
    expected = dict(SCAN_BUDGET[name])
    for key, n in delta.items():
        expected[key] = expected.get(key, 0) + n
    assert row != SCAN_BUDGET[name]
    assert row == expected, (row, SCAN_BUDGET[name])


@pytest.mark.parametrize(
    "name", ["doc_rarity_topk", "token_budget_selection",
             "cluster_balanced_sample", "ngram_jaccard_pairs",
             "ngram_jaccard_guarded", "ngram_containment"]
)
def test_runtime_exchange_reuse_for_shared_aggregates(spark, sf_small, name):
    """Queries whose two consumers share one shuffled subtree rely on
    AQE's runtime ReusedExchange (the static plan shows both subtrees).
    Execute and assert the FINAL adaptive plan scans the corpus once.
    token_budget_selection joined the list in r11: its two-level prefix
    sum derives band totals from the SAME (source, priority) window
    output the selection consumes, and the non-nullable priority key
    keeps the two exchange subtrees canonical-identical (a one-sided
    inferred isnotnull(priority) used to block the reuse). The shingle
    similarity joins joined in r14: the DF-guard aggregate and both
    self-join sides all end in sized_shingle_rows' one doc_id exchange
    (the r14 rewrite that replaced the 12-scan static plan)."""
    df = QUERIES[name].builder(spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final[:3000]
    assert final.count("FileScan parquet") == 1, final[:3000]


def test_corpus_release_runtime_reuse(spark, sf_small):
    """corpus_release's three union branches all derive from ONE
    `marked` lineage ending in the fp-window exchange; AQE's runtime
    ReusedExchange must collapse the repeated subtrees (r15, VERDICT
    r14 #8 — pins the claim the static 12-scan plan obscures): the
    FINAL adaptive plan runs at most 4 corpus scans (pool, pool
    shingles, bench shingles, and the shard branch's window-side read)
    with at least 3 reused exchanges."""
    df = QUERIES["corpus_release"].builder(spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 3, final[:3000]
    assert final.count("FileScan parquet") <= 4, final[:3000]


def test_vocab_growth_bounds_scan_is_doc_id_only(spark, sf_small):
    """vocab_growth's second scan is the max-id normalizer: column
    pruning must reach parquet (ReadSchema = doc_id alone), so at 100 TB
    it reads one thin int64 column, not the text corpus twice."""
    plan = _plan(spark, sf_small, "vocab_growth")
    schemas = sorted(re.findall(r"ReadSchema: (\S+)", plan))
    assert schemas == [
        "struct<doc_id:bigint,text:string>",
        "struct<doc_id:bigint>",
    ], schemas


def test_snapshot_diff_and_kmv_overlap_single_consumption(spark, sf_small):
    """snapshot_diff_audit: the derived-prev diff computes inline — one
    documents scan, no join. kmv_overlap: provenance flags replace the
    merge + two semi-joins — each side's sketch (and table) is consumed
    once, no join above the sketches."""
    plan = _plan(spark, sf_small, "snapshot_diff_audit")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan, plan[:2000]
    plan = _plan(spark, sf_small, "kmv_overlap")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "Join" not in plan, plan[:2000]


def test_r10_new_query_plan_shapes(spark, sf_small):
    """r10 wave: scan counts and shapes for the new operators."""
    # MAD outliers: ONE thin scan (source+n_chars only — text never
    # read), run-level windows partitioned by source
    plan = _plan(spark, sf_small, "mad_length_outliers")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "struct<source:string,n_chars:bigint>" in plan, plan[:1500]
    # quality canonical: one scan; the only window partitions by the
    # fingerprint (cluster-sized, never source-sized)
    plan = _plan(spark, sf_small, "quality_canonical_dedup")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert re.search(r"hashpartitioning\(fp", plan), plan[:2000]
    # health audit: one scan, array predicates, |labels| aggregate,
    # no explode anywhere
    plan = _plan(spark, sf_small, "embedding_health_audit")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Generate" not in plan, plan[:2000]
    # decayed activity: the normalizer scan is ts-only pruned; top-k is
    # TakeOrdered, never a global sort
    plan = _plan(spark, sf_small, "decayed_activity_topk")
    assert "struct<ts:timestamp_ntz>" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    # list balance: exactly the two E-step scans the comparison needs,
    # embedding-only pruned, no cartesian. (A fused single-scan form —
    # both argmaxes on one row — was measured consistently 1.1-1.4x
    # SLOWER at sf0.1 in interleaved worktree A/Bs and rejected in r15;
    # see OPTIMIZATION_r15.md.)
    plan = _plan(spark, sf_small, "ivf_list_balance_trained")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# r11 operator plan gates
# ---------------------------------------------------------------------------


def test_weighted_sample_is_take_ordered(spark, sf_small):
    plan = _plan(spark, sf_small, "weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_rrf_arms_are_take_ordered_no_cartesian(spark, sf_small):
    plan = _plan(spark, sf_small, "rrf_fusion")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_knn_graph_pairs_are_equi_join(spark, sf_small):
    """The label-block pair join must be an equi-join (hash/sort-merge on
    the block key) — a nested-loop regression here is the all-pairs
    scale killer the blocking exists to prevent."""
    plan = _plan(spark, sf_small, "knn_graph_degree_audit")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rate_limit_audit_single_window_no_joins(spark, sf_small):
    plan = _plan(spark, sf_small, "rate_limit_audit")
    # formatted mode lists each node twice (tree + detail section)
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan


def test_scd2_two_windows_no_joins(spark, sf_small):
    plan = _plan(spark, sf_small, "scd2_state_history")
    assert plan.count("Window") == 4, plan  # 2 nodes x (tree + detail)
    assert "Join" not in plan, plan


def test_revenue_trend_dims_broadcast(spark, sf_small):
    plan = _plan(spark, sf_small, "revenue_trend_ols")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_" in plan or "Partial" in plan, plan


@pytest.mark.parametrize(
    "name", ["tokenizer_compression", "shingle_size_sensitivity"]
)
def test_single_pass_text_aggregates(spark, sf_small, name):
    """One-scan text rollups: map-side partial aggregation, no windows,
    no joins."""
    plan = _plan(spark, sf_small, name)
    assert "partial_" in plan or "Partial" in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_mixture_banded_rank_partitions_by_band(spark, sf_small):
    """r12 (VERDICT r11 #1): the mixture rank window must partition by
    (grp, _band), never by grp alone — a fixed-4-value partition key
    would serialize ~a quarter of the corpus through one task. The
    checkpoint in the full builder hides this fragment, so the gate
    explains the exposed pre-checkpoint plan directly."""
    from ser_etl_spark.operators.sampling import _mixture_banded_rank
    from ser_etl_spark.session import explain_string
    from ser_etl_spark.sources.parquet import load_table

    df = _mixture_banded_rank(load_table(spark, sf_small, "documents"))
    plan = explain_string(df, "formatted")
    m = re.search(r"hashpartitioning\(grp#\d+, _band#\d+", plan)
    assert m, plan[:2000]
    # exactly one window node (tree + detail = 2 mentions), one scan
    assert plan.count("Window") == 2, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]


def test_broadcast_if_dim_declines_oversized(spark, sf_small):
    """r12 (VERDICT r11 #4): the dim-broadcast policy, not the hint.
    Under the ceiling the helper hints (plan shows BroadcastHashJoin
    without AQE's help); over a forced tiny ceiling it must return the
    frame UNHINTED so AQE picks the strategy from runtime stats."""
    from ser_etl_spark.functions.broadcast import (
        broadcast_if_dim,
        plan_size_estimate,
    )
    from ser_etl_spark.sources.parquet import load_table

    c = load_table(spark, sf_small, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    est = plan_size_estimate(c)
    assert est is not None and est > 0

    hinted = o.join(broadcast_if_dim(c), o.o_custkey == c.c_custkey)
    plan = explain_string(hinted, "formatted")
    assert "BroadcastHashJoin" in plan, plan[:2000]

    declined = o.join(
        broadcast_if_dim(c, max_bytes=1), o.o_custkey == c.c_custkey
    )
    # the unhinted logical plan must carry NO broadcast hint: disable
    # AQE/auto-broadcast for the explain so a size-based conversion
    # can't mask a leaked hint
    prev_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan2 = explain_string(declined, "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_auto)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert "BroadcastHashJoin" not in plan2, plan2[:2000]


def test_broadcast_if_dim_margin(spark):
    """r13 (VERDICT r12 #1): the ceiling is denominated in build-side
    bytes. A frame whose PLAN ESTIMATE sits between the new 32 MiB
    estimate ceiling and the old 256 MiB build target (i.e. one that
    the unit-mismatched ceiling would have hinted) must be DECLINED —
    its decompressed build side could hydrate to ~8x the estimate.
    ``spark.range`` gives a deterministic 8-bytes/row estimate with no
    job, so the test is pure metadata."""
    from ser_etl_spark.functions.broadcast import (
        BROADCAST_BUILD_TARGET_BYTES,
        BROADCAST_DIM_MAX_BYTES,
        PARQUET_TO_BUILD_EXPANSION,
        broadcast_if_dim,
        plan_size_estimate,
    )

    # the margin contract itself
    assert (
        BROADCAST_DIM_MAX_BYTES
        == BROADCAST_BUILD_TARGET_BYTES // PARQUET_TO_BUILD_EXPANSION
    )
    assert BROADCAST_DIM_MAX_BYTES <= 64 << 20  # estimate ceiling is small

    # ~48 MB estimate: over the new ceiling, under the old 256 MiB one
    mid = spark.range(6_000_000)
    est = plan_size_estimate(mid)
    assert est is not None
    assert BROADCAST_DIM_MAX_BYTES < est < BROADCAST_BUILD_TARGET_BYTES, est
    assert broadcast_if_dim(mid) is mid  # declined: returned unhinted

    # well under the ceiling: still hinted
    small = spark.range(1_000)
    assert broadcast_if_dim(small) is not small


def test_r12_new_op_plan_shapes(spark, sf_small):
    """r12 wave: scan/shuffle/window claims pinned on the plan."""
    # pii_scan / intra_doc_repetition: one scan, partial+final agg,
    # no join, no window
    for name in ("pii_scan", "intra_doc_repetition"):
        plan = _plan(spark, sf_small, name)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, name
        assert "Join" not in plan, name
        assert "partial_" in plan, name  # map-side partials
    # cohort_retention: one scan (first-seen trick — no join back to the
    # corpus), the only window runs over the metadata-sized cell matrix
    plan = _plan(spark, sf_small, "cohort_retention")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    # event_funnel: ONE user_id exchange feeds the three chained windows
    # (same partitioning — no re-shuffle between stages), no join
    plan = _plan(spark, sf_small, "event_funnel")
    assert "Join" not in plan, plan[:2000]
    assert (
        len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    ), plan[:3000]
    # cluster_balanced_sample: the per-cluster rank window partitions by
    # (centroid_id, _band) — fixed K+1 domain, banded from day one
    plan = _plan(spark, sf_small, "cluster_balanced_sample")
    assert re.search(
        r"hashpartitioning\(centroid_id#\d+, _band#\d+", plan
    ), plan[:3000]


def test_r12_wave2_plan_shapes(spark, sf_small):
    """r12 wave 2: scan/shuffle/broadcast claims pinned on the plan."""
    # pii_redact: one scan, no shuffle at all (stateless row transform
    # + ordered output only)
    plan = _plan(spark, sf_small, "pii_redact")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    # event_transition_matrix / customer_order_gaps: ONE keyed exchange
    # feeds the lag/lead window; the share window runs over the
    # metadata-sized matrix
    plan = _plan(spark, sf_small, "event_transition_matrix")
    assert (
        len(re.findall(r"hashpartitioning\(user_id", plan)) == 1
    ), plan[:3000]
    assert "Join" not in plan, plan[:2000]
    plan = _plan(spark, sf_small, "customer_order_gaps")
    assert (
        len(re.findall(r"hashpartitioning\(o_custkey", plan)) == 1
    ), plan[:3000]
    # supplier_concentration_hhi: dims broadcast, one lineitem scan,
    # no cartesian
    plan = _plan(spark, sf_small, "supplier_concentration_hhi")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3, plan[:2000]


def test_r13_new_op_plan_shapes(spark, sf_small):
    """r13 wave: scan/shuffle/topk claims pinned on the plan."""
    # domain_dedup_profile: ONE scan — the per-fp rollup is a window
    # over the (source, fp)-aggregated table, never a join back to a
    # second corpus scan
    plan = _plan(spark, sf_small, "domain_dedup_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert re.search(r"hashpartitioning\(fp#\d+", plan), plan[:3000]
    # mixture_temperature_profile: one scan, |sources|-row aggregate,
    # no join; map-side partials
    plan = _plan(spark, sf_small, "mixture_temperature_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # doc_prefix_cluster_profile: per-partition top-k heaps (never a
    # global sort over the prefix table) + the thin broadcast
    # normalizer (1-row total), no shuffled join
    plan = _plan(spark, sf_small, "doc_prefix_cluster_profile")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    # pii_cooccurrence_matrix: one scan into ONE global aggregate with
    # map-side partials; the unpivot is constant-width — no join/window
    plan = _plan(spark, sf_small, "pii_cooccurrence_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # quality_vs_dup_correlation: fp self-join class (equi-join, never
    # cartesian) — the skew-tolerant shape (hash-agg partials + AQE
    # skew-join split, unlike a per-doc fp window)
    plan = _plan(spark, sf_small, "quality_vs_dup_correlation")
    assert "CartesianProduct" not in plan, plan[:2000]
    # ann_probe_depth_sweep: ONE fused embeddings scan; the whole depth
    # axis rides one a_id-partitioned window pass (a single exchange)
    plan = _plan(spark, sf_small, "ann_probe_depth_sweep")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert (
        len(re.findall(r"hashpartitioning\(a_id", plan)) == 1
    ), plan[:3000]
    # minhash_pr_eval: both pair spaces are equi-join-shaped (band join
    # + guarded inverted index) — never cartesian, and the final fold
    # is a single ungrouped aggregate with partials
    plan = _plan(spark, sf_small, "minhash_pr_eval")
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # prototypicality_profile: ONE E-step scan (keep_best rides the
    # same argmax projection — no join back for the winning cosine),
    # K*21-row aggregate with partials
    plan = _plan(spark, sf_small, "prototypicality_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # cross_split_neardup_leakage: the split is a PURE doc_id hash —
    # the pair table gains its split cells with ZERO extra scans
    # beyond minhash_lsh_pairs' own (budget pins 4 = the pair chain),
    # and no cartesian anywhere
    plan = _plan(spark, sf_small, "cross_split_neardup_leakage")
    assert "CartesianProduct" not in plan, plan[:2000]
    # benchmark_leakage_by_split: the contaminated sliver broadcasts
    # to the thin universe projection — never a shuffled join for the
    # per-split rollup
    plan = _plan(spark, sf_small, "benchmark_leakage_by_split")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # segment_dedup_profile: ONE corpus scan, the position-driven
    # explode (Generate) feeds a hash aggregate with map-side partials,
    # and nothing joins — the per-hash rollup is a window over the
    # reduced table
    plan = _plan(spark, sf_small, "segment_dedup_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Generate" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # media_chunk_plan: metadata-only chunk math — one scan, the
    # array-local sequence explode, no join, payload column pruned out
    # of the scan entirely (ReadSchema carries doc_id only)
    plan = _plan(spark, sf_small, "media_chunk_plan")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Generate" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    # media_aspect_buckets: stateless integer row math into a
    # |buckets|-row aggregate — one scan, no join, no explode
    plan = _plan(spark, sf_small, "media_aspect_buckets")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # leakage_safe_split: ONE corpus scan; the canonical-id window and
    # the fp aggregate share the fp hash partitioning (exactly one
    # data-sized exchange), MIN<>MAX straddle detection means no
    # Expand, and nothing joins
    plan = _plan(spark, sf_small, "leakage_safe_split")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "Expand" not in plan, plan[:2000]
    assert len(re.findall(r"hashpartitioning\(fp", plan)) == 1, plan[:3000]
    # dedup_quality_shift: same single-scan/single-fp-exchange shape —
    # the canonical flag is a window, never a join back; the corpus
    # row re-aggregates the 2-row cohort table (metadata-sized)
    plan = _plan(spark, sf_small, "dedup_quality_shift")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert len(re.findall(r"hashpartitioning\(fp", plan)) == 1, plan[:3000]
    # ann_recall_vs_k: the depth sweep's fused shape with the k axis —
    # ONE embeddings scan, one a_id-partitioned window exchange, the
    # whole ladder as predicates over a single running probed count
    plan = _plan(spark, sf_small, "ann_recall_vs_k")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert (
        len(re.findall(r"hashpartitioning\(a_id", plan)) == 1
    ), plan[:3000]
    # vocab_coverage_curve: one scan, two hash aggregates, no join —
    # the only window runs over the distinct-frequency histogram (a
    # SinglePartition sort over ~sqrt(N) rows, never over types)
    plan = _plan(spark, sf_small, "vocab_coverage_curve")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # the single-partition window must sit on the f-histogram, after
    # BOTH reducing aggregates — never on the raw token stream (node
    # ids increase from the scan upward, so every reducing aggregate
    # must carry a smaller id than the window)
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert len(win_ids) == 1, plan[:2000]
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert sum(1 for a in agg_ids if a < win_ids[0]) >= 4, plan[:2000]
    # epoch_plan: one scan into the |sources|-row aggregate; the budget
    # totals ride a metadata window over that rollup, nothing joins
    plan = _plan(spark, sf_small, "epoch_plan")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # pii_by_split: stateless flags x the split hash — one scan, 3-row
    # aggregate, nothing joins, no window anywhere
    plan = _plan(spark, sf_small, "pii_by_split")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # contamination_by_source: the contaminated sliver broadcasts to
    # the thin (doc_id, source) projection — never a shuffled join
    plan = _plan(spark, sf_small, "contamination_by_source")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # split_mixture_audit: one scan into the (split, source) rollup;
    # both normalizers are windows over that metadata-sized table
    plan = _plan(spark, sf_small, "split_mixture_audit")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
