"""Property-based tests (hypothesis) for the algebraic operators.

Each property batches all generated rows into ONE Spark job per example
and caps example counts, so the suite stays fast while still exploring
the input space far beyond the handcrafted cases.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

ROW = st.tuples(
    st.integers(min_value=0, max_value=9),  # key
    st.text(alphabet="abc", min_size=1, max_size=3),  # value
    st.integers(min_value=0, max_value=5),  # day offset = timestamp
)


def _df(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(k, v, base + dt.timedelta(days=d)) for k, v, d in rows],
        "id bigint, v string, updated_at timestamp_ntz",
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    current=st.lists(ROW, min_size=0, max_size=6, unique_by=lambda r: r[0]),
    batch1=st.lists(ROW, min_size=0, max_size=4, unique_by=lambda r: r[0]),
    batch2=st.lists(ROW, min_size=0, max_size=4, unique_by=lambda r: r[0]),
)
def test_merge_sequential_batches_equal_one_merged_batch(
    spark, current, batch1, batch2
):
    """Applying change batches one-by-one must equal applying their
    union-with-latest-timestamp-per-key in one shot — the property that
    makes catch-up after downtime (one big batch) equivalent to live
    incremental syncs (many small ones). Ties within a batch pair are
    broken identically because the merged batch keeps the max-ts row."""
    from ser_etl_spark.etl.merge import merge_incremental

    cur = _df(spark, current)
    b1, b2 = _df(spark, batch1), _df(spark, batch2)

    sequential = merge_incremental(
        merge_incremental(cur, b1, "id"), b2, "id"
    )
    # one-shot: b2 wins over b1 on ties (later batch), so pre-merge the
    # batches with the same operator before applying
    combined = merge_incremental(b1, b2, "id")
    one_shot = merge_incremental(cur, combined, "id")

    assert sorted(map(str, sequential.collect())) == sorted(
        map(str, one_shot.collect())
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**63 - 1),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
def test_split_bucket_matches_pure_python_model(spark, ids):
    """The Knuth-hash bucket must equal the arithmetic model for ANY
    bigint id — the engine-independence contract behind dataset_split."""
    from ser_etl_spark.operators.sampling import _FOLD, _KNUTH, _MOD, split_bucket

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["b"]
        for r in df.select("id", split_bucket("id").alias("b")).collect()
    }
    for i in ids:
        expect = ((i % _FOLD) * _KNUTH) % _MOD % 100
        assert got[i] == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=700,
        ),
        min_size=1,
        max_size=8,
    ),
    chunk_chars=st.integers(min_value=2, max_value=300),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
def test_chunking_reconstructs_any_document(spark, texts, chunk_chars, overlap_frac):
    """For ANY text and geometry: chunks cover the document exactly —
    stride-prefixes + last chunk reassemble it, every chunk is non-empty
    and at most chunk_chars long."""
    from ser_etl_spark.operators.curation import chunk_documents

    overlap = min(int(chunk_chars * overlap_frac), chunk_chars - 1)
    stride = chunk_chars - overlap
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = chunk_documents(docs, chunk_chars, overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["chunk_chars"] <= chunk_chars
        assert r["chunk_chars"] == len(r["chunk_text"])
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        if not t:
            assert i not in by_doc
            continue
        got = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        assert [r["chunk_id"] for r in got] == list(range(len(got)))
        rebuilt = "".join(r["chunk_text"][:stride] for r in got[:-1])
        rebuilt += got[-1]["chunk_text"]
        assert rebuilt == t


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**63 - 1),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_training_order_is_permutation_for_any_ids(spark, ids):
    """training_order yields a sharded permutation for ANY id set:
    every id appears once, shard positions are contiguous from 1, and
    the hash matches the pure-python Knuth model."""
    from ser_etl_spark.operators.curation import ORDER_SHARDS, training_order
    from ser_etl_spark.operators.sampling import _FOLD, _KNUTH, _MOD

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = training_order(docs).collect()
    assert {r["doc_id"] for r in rows} == set(ids)
    by_shard: dict[int, list] = {}
    for r in rows:
        expect_shard = ((r["doc_id"] % _FOLD) * _KNUTH) % _MOD % ORDER_SHARDS
        assert r["shard_id"] == expect_shard
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


@settings(max_examples=300, deadline=None)
@given(q=st.text(max_size=300))
def test_validator_never_crashes_on_arbitrary_input(q):
    """Admission control faces raw untrusted strings: for ANY input it
    must either return an Admission or raise the typed QueryRejected —
    never an unhandled exception."""
    from ser_etl_spark.gateway.validator import (
        Admission,
        QueryRejected,
        QueryValidator,
    )

    v = QueryValidator()
    try:
        adm = v.validate(q)
    except QueryRejected:
        assert not v.is_valid(q)
    else:
        assert isinstance(adm, Admission)
        assert v.is_valid(q)


@settings(max_examples=100, deadline=None)
@given(
    prefix=st.sampled_from(["", " ", "/* c */ ", "-- c\n"]),
    bad=st.sampled_from(
        ["DROP TABLE t", "INSERT INTO t VALUES (1)", "DELETE FROM t",
         "UPDATE t SET x=1", "EXEC xp_cmdshell 'x'", "SELECT 1; SELECT 2"]
    ),
)
def test_validator_rejects_mutations_under_any_dressing(prefix, bad):
    from ser_etl_spark.gateway.validator import QueryValidator

    assert not QueryValidator().is_valid(prefix + bad)


class TestUniformKsample:
    def test_fixed_size_stable_and_consistent_under_growth(self, spark):
        """Exactly k rows; same sample on rerun; growing the corpus can
        only displace members, never reshuffle the survivors' order."""
        from ser_etl_spark.operators.sampling import uniform_ksample

        base = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        s1 = [r["doc_id"] for r in uniform_ksample(base, "doc_id", 50).collect()]
        s2 = [r["doc_id"] for r in uniform_ksample(base, "doc_id", 50).collect()]
        assert len(s1) == 50 and s1 == s2
        grown = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s3 = set(
            r["doc_id"] for r in uniform_ksample(grown, "doc_id", 50).collect()
        )
        # survivors from the small corpus stay iff not displaced by a
        # smaller-hash newcomer — the overlap is exactly the old members
        # that remain in the new top-50
        assert s3 & set(s1) == {d for d in s1 if d in s3}
        assert len(s3) == 50


class TestVerificationRotation:
    def test_changed_spec_hash_rotates_query_to_front(self, monkeypatch):
        """A verified query whose recorded (builder source + oracle) hash
        no longer matches must re-enter the pending front of the driver
        window; matching hashes stay in the verified tail."""
        import ser_etl_spark._verified_hashes as vh
        from ser_etl_spark.registry import (
            VERIFIED_PRIOR_ROUNDS,
            all_queries,
            spec_source_hash,
        )

        queries = all_queries()
        names = list(queries)
        target = next(n for n in reversed(names) if n in VERIFIED_PRIOR_ROUNDS)
        assert names.index(target) > names.index(names[0])  # in the tail

        monkeypatch.setitem(vh.VERIFIED_SOURCE_HASHES, target, "deadbeef0000")
        rotated = list(all_queries())
        # The stable tail = verified entries whose recorded hash still
        # matches (mid-round, other entries may legitimately be rotated
        # too — the boundary is the stable count, not |VERIFIED|).
        stable = {
            n
            for n in VERIFIED_PRIOR_ROUNDS
            if n != target
            and n in queries
            and (
                vh.VERIFIED_SOURCE_HASHES.get(n) is None
                or spec_source_hash(queries[n]) is None
                or spec_source_hash(queries[n])
                == vh.VERIFIED_SOURCE_HASHES[n]
            )
        }
        front_len = len(rotated) - len(stable)
        assert rotated.index(target) < front_len, (
            f"{target} did not rotate to the pending front"
        )

    def test_held_out_names_keep_their_recorded_hash(self):
        """``update_verified.py --exclude`` holds a rewritten query out of
        the verified set. Its recorded hash must stay the one from before
        the rewrite, so that putting the name back without a green row
        leaves it rotated into the driver window."""
        from scripts.update_verified import source_hashes

        specs = {"kept": "a", "held": "b", "unhashed": None, "new_held": "c"}
        got = source_hashes(
            specs,
            lambda src: None if src is None else f"now-{src}",
            recorded={"kept": "old-a", "held": "old-b"},
            held_out={"held", "new_held"},
        )
        assert got == {"kept": "now-a", "held": "old-b"}

    def test_oracle_text_participates_in_the_hash(self):
        import dataclasses

        from ser_etl_spark.registry import REGISTRY, spec_source_hash

        spec = next(s for s in REGISTRY.values() if s.oracle is not None)
        changed = dataclasses.replace(spec, oracle=spec.oracle + " -- edited")
        assert spec_source_hash(spec) != spec_source_hash(changed)

    def test_helper_mutation_rotates_consumers(self):
        """VERDICT r13 #1: an edit to a declared answer-affecting shared
        helper must change the pin of every query whose builder
        (transitively) references it — and of NO query that doesn't."""
        from ser_etl_spark.registry import (
            _answer_helper_sources,
            all_queries,
            spec_source_hash,
        )

        qs = all_queries()
        helpers = dict(_answer_helper_sources())
        # the r13 verdict's minimum declared set is present
        for name in (
            "split_bucket", "quality_score", "fingerprint",
            "dsum", "xxh64_long",
        ):
            assert name in helpers, f"undeclared answer helper: {name}"

        base = {n: spec_source_hash(s) for n, s in qs.items()}
        mutated = dict(helpers)
        mutated["split_bucket"] += "\n# scratch-copy mutation"
        changed = {
            n
            for n, s in qs.items()
            if spec_source_hash(s, helper_sources=mutated) != base[n]
        }
        assert "dataset_split" in changed  # direct split consumer
        assert "leakage_safe_split" in changed  # r13 consumer
        assert "count_star" not in changed  # references no split helper
        # targeted rotation, not a blanket one: the churn must fit the
        # driver window semantics (only actual consumers move)
        assert 0 < len(changed) < len(qs) // 2

    def test_helper_fold_is_transitive(self):
        """Builders never name `_FOLD` — they reach it only through
        split_bucket/hash_u32 — yet mutating it must rotate the split
        consumers (helper-of-helper closure)."""
        from ser_etl_spark.registry import (
            _answer_helper_sources,
            all_queries,
            spec_source_hash,
        )

        qs = all_queries()
        helpers = dict(_answer_helper_sources())
        spec = qs["dataset_split"]
        import inspect
        import textwrap

        src = textwrap.dedent(inspect.getsource(spec.builder))
        assert "_FOLD" not in src  # reached only transitively
        mutated = dict(helpers)
        mutated["_FOLD"] = "mutated-constant"
        assert spec_source_hash(spec, helper_sources=mutated) != (
            spec_source_hash(spec)
        )

    def test_volatile_module_state_stays_out_of_the_pin(self, monkeypatch):
        """Mutable module globals (lazy caches) and object() sentinels
        are runtime state, not code: the pin must not move when they do
        (the r14 first-cut closure folded similarity._NULL_QUERY's
        memory-address repr and rotated the whole ANN family on every
        process)."""
        from ser_etl_spark import registry
        from ser_etl_spark.operators import similarity
        from ser_etl_spark.registry import (
            _is_stable_const,
            _spec_source_hash_uncached,
            all_queries,
        )

        assert not _is_stable_const(object())
        assert not _is_stable_const({"lloyd": 0})
        assert not _is_stable_const([1, 2])
        assert not _is_stable_const(("x", [1]))  # nested mutability
        assert _is_stable_const(("a", 1, frozenset({"b"})))

        spec = all_queries()["lsh_ann_topk"]

        def folding_every_constant() -> str:
            with monkeypatch.context() as m:
                m.setattr(registry, "_is_stable_const", lambda v: True)
                return _spec_source_hash_uncached(spec)

        before = _spec_source_hash_uncached(spec)
        folded = folding_every_constant()
        similarity._PLANE_CACHE[(0, 0)] = []
        try:
            assert _spec_source_hash_uncached(spec) == before
            # the builder's closure does reach the cache: with every
            # constant folded, the same mutation moves the pin
            assert folding_every_constant() != folded
        finally:
            del similarity._PLANE_CACHE[(0, 0)]

    def test_helper_constant_repr_is_hashseed_stable(self):
        """Set-typed helper constants must render sorted: a
        PYTHONHASHSEED-dependent repr would rotate consumers spuriously
        on every fresh interpreter."""
        from ser_etl_spark.registry import _stable_repr

        assert _stable_repr(frozenset({"b", "a"})) == "{'a', 'b'}"
        assert _stable_repr({"k": {2, 1}}) == "{'k': {1, 2}}"
        assert _stable_repr(("x", [1, 2])) == "('x', [1, 2])"


# ---------------------------------------------------------------------------
# r8c: the exact-analytics batch vs brute-force Python models
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=-200, max_value=200),  # doc_id (neg too)
            st.integers(min_value=0, max_value=50),  # n_chars
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    )
)
def test_shard_manifest_matches_serial_prefix_sum(spark, docs):
    """The two-level distributed prefix sum must equal the trivial
    serial model: walk docs in id order, shard = start_offset // S."""
    from ser_etl_spark.operators.packing import shard_manifest

    df = spark.createDataFrame(
        [(i, None, None, None, c) for i, c in docs],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    got = {
        r["shard_id"]: (r["n_docs"], r["shard_chars"], r["first_doc"],
                        r["last_doc"])
        for r in shard_manifest(df, shard_chars=64, bucket_w=8).collect()
    }
    exp: dict[int, list] = {}
    cum = 0
    for i, c in sorted(docs):
        sid = cum // 64
        e = exp.setdefault(sid, [0, 0, i, i])
        e[0] += 1
        e[1] += c
        e[3] = i
        cum += c
    assert got == {k: tuple(v) for k, v in exp.items()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # o_orderkey-ish row id
            st.integers(min_value=0, max_value=8),  # o_custkey
            st.floats(min_value=0.0, max_value=500.0,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    )
)
def test_spend_gini_matches_sorted_rank_model(spark, orders):
    """The distinct-value arithmetic-series Gini must equal the textbook
    sorted-rank formula computed serially."""
    from ser_etl_spark.operators.statistics import spend_gini

    df = spark.createDataFrame(
        [(k, c, p) for k, c, p in orders],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    row = spend_gini(df).collect()[0]
    import math

    spend: dict[int, int] = {}
    for _, c, p in orders:
        spend[c] = spend.get(c, 0) + int(math.floor(p * 100.0 + 0.5))
    xs = sorted(spend.values())
    n, sx = len(xs), sum(xs)
    srx = sum((i + 1) * x for i, x in enumerate(xs))
    assert row["n_customers"] == n
    assert row["total_cents"] == sx
    if n * sx == 0:
        assert row["gini"] is None
    else:
        expected = (2 * srx - (n + 1) * sx) / (n * sx)
        assert abs(row["gini"] - expected) < 1e-6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),  # event_id
            st.sampled_from(["a", "b"]),  # event_type
            st.floats(min_value=-100.0, max_value=100.0,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    )
)
def test_winsorized_stats_matches_rank_model(spark, events):
    """Exact discrete-percentile clamping must equal the serial model:
    bound = value at rank ceil(q*n) under (cents, id) order."""
    import datetime as _dt
    import math

    from ser_etl_spark.operators.statistics import winsorized_stats

    df = spark.createDataFrame(
        [(k, _dt.datetime(2024, 1, 1), 0, t, v, None)
         for k, t, v in events],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = {
        r["event_type"]: r
        for r in winsorized_stats(
            df, value_col="value", group_col="event_type",
            id_col="event_id",
        ).collect()
    }
    groups: dict[str, list] = {}
    for k, t, v in events:
        groups.setdefault(t, []).append(
            (int(math.floor(v * 100.0 + 0.5)), k)
        )
    for t, rows in groups.items():
        rows.sort()
        n = len(rows)
        lo = rows[(n * 5 + 99) // 100 - 1][0]
        hi = rows[(n * 95 + 99) // 100 - 1][0]
        wsum = sum(min(max(c, lo), hi) for c, _ in rows)
        rsum = sum(c for c, _ in rows)
        r = got[t]
        assert r["n"] == n
        assert r["p05"] == lo / 100.0 and r["p95"] == hi / 100.0
        assert r["raw_mean_bp"] == _half_away_bp(rsum, n)
        assert r["wins_mean_bp"] == _half_away_bp(wsum, n)


def _half_away_bp(cents_sum: int, n: int) -> int:
    """Serial model of the builder's exact-integer mean-in-basis-points:
    half-away-from-zero rounding of (cents_sum * 100) / n on the scaled
    integer, never through a double."""
    num = cents_sum * 100
    s = -1 if num < 0 else 1
    return s * ((abs(num) * 2 + n) // (2 * n))


def test_winsorized_half_tie_regression(spark):
    """Pin the hypothesis counterexample from round 9: a cents sum of
    -3159 over n=8 makes the true mean -3.94875 — an exact decimal half
    at the 4th place, where Spark round (HALF_UP) gave -3.9488 while
    Python's banker's round gave -3.9487. The exact-integer basis-point
    form must yield -39488 (half-away-from-zero) on both engines."""
    import datetime as _dt

    from ser_etl_spark.operators.statistics import winsorized_stats

    # seven zero-valued events plus one at -31.59 dollars: cents sum
    # floor(-31.59*100 + 0.5) = -3159 over n=8.
    rows = [(i, _dt.datetime(2024, 1, 1), 0, "a", 0.0, None)
            for i in range(7)]
    rows.append((7, _dt.datetime(2024, 1, 1), 0, "a", -31.59, None))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    r = winsorized_stats(
        df, value_col="value", group_col="event_type", id_col="event_id"
    ).collect()[0]
    assert r["raw_mean_bp"] == -39488
    assert r["raw_mean_bp"] == _half_away_bp(-3159, 8)


# ---------------------------------------------------------------------------
# r9 properties: distinct-value NTILE emulation, span recovery, greedy
# budget selection — each checked against a serial pure-Python model
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    spends=st.lists(
        st.integers(min_value=0, max_value=5),  # heavy ties on purpose
        min_size=1,
        max_size=40,
    )
)
def test_lorenz_distinct_value_form_equals_naive_ntile(spark, spends):
    """The tie-run argument behind lorenz_deciles: emulating NTILE
    bucket rank ranges arithmetically over DISTINCT values must equal
    ranking every row with real NTILE, for ANY tie structure — per
    decile, both the row count and the value sum."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ser_etl_spark.operators.statistics import lorenz_deciles

    rows = [(i, float(s)) for i, s in enumerate(spends)]
    orders = spark.createDataFrame(
        # one order per customer: spend == o_totalprice (cents = s*100)
        rows, "o_custkey long, o_totalprice double"
    )
    got = {
        r["decile"]: (r["n_customers"], r["decile_cents"])
        for r in lorenz_deciles(orders).collect()
    }
    w = Window.orderBy(F.col("c").asc(), F.col("o_custkey").asc())
    naive = (
        orders.select(
            "o_custkey",
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("c"),
        )
        .select("c", F.ntile(10).over(w).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
        .collect()
    )
    want = {r["d"]: (r["n"], r["s"]) for r in naive}
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=5, max_size=14
        ),
        min_size=2,
        max_size=6,
    )
)
def test_contamination_spans_match_serial_model(spark, docs):
    """gaps-and-islands over matched gram positions must recover exactly
    the per-doc contiguous contaminated runs a serial scan finds."""
    from ser_etl_spark.operators.curation import contamination_span_profile

    n, bench_mod = 3, 2  # doc_id % 2 == 0 is the benchmark slice
    rows = [(i, " ".join(toks), "en", "s", len(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["doc_id"]: (r["hit_ngrams"], r["n_spans"], r["longest_run_tokens"])
        for r in contamination_span_profile(df, n=n, bench_mod=bench_mod).collect()
    }

    def grams(toks):
        return [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    bench = set()
    for i, toks in enumerate(docs):
        if i % bench_mod == 0:
            bench.update(grams(toks))
    want = {}
    for i, toks in enumerate(docs):
        if i % bench_mod == 0:
            continue
        hitpos = [p for p, g in enumerate(grams(toks)) if g in bench]
        if not hitpos:
            continue
        runs, cur = [], 1
        for a, b in zip(hitpos, hitpos[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[i] = (len(hitpos), len(runs), max(runs) + n - 1)
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=12,
    ),
    budget=st.integers(min_value=1, max_value=40),
)
def test_token_budget_selection_matches_serial_greedy(spark, docs, budget):
    """The windowed prefix-under-budget must equal the serial greedy
    model: walk docs in (priority desc, doc_id) order, keep while the
    running total stays within budget, cut the first overflow."""
    from ser_etl_spark.operators.curation import token_budget_selection

    rows = [(i, " ".join(toks), "en", "s", len(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["source"]: (r["n_selected"], r["tokens_used"])
        for r in token_budget_selection(df, budget=budget).collect()
    }

    items = []
    for i, toks in enumerate(docs):
        ntok = len(toks)
        prio = (len(set(toks)) * 10000) // ntok
        items.append((-prio, i, ntok))
    items.sort()
    used = n_sel = 0
    for _p, _i, ntok in items:
        if used + ntok > budget:
            break  # greedy prefix: first overflow is cut
        used += ntok
        n_sel += 1
    want = {"s": (n_sel, used)} if n_sel else {}
    assert got == want


# ---------------------------------------------------------------------------
# r10: MAD outlier screen vs a serial order-statistics model
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lengths=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_mad_outliers_match_serial_model(spark, lengths):
    """median = value at rank ceil(n/2); MAD = same statistic over
    |x - med|; outliers = count(dev > 3*MAD). Pure integers — the
    engine must agree with the serial model exactly, including heavy
    tie runs and single-row sources."""
    from pyspark.sql import functions as F

    from ser_etl_spark.operators.text import mad_length_outliers

    rows = [
        (i, src, n) for i, (src, n) in enumerate(lengths)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, n_chars bigint"
    ).withColumn("text", F.lit("x"))

    def model():
        out = {}
        by_src: dict[str, list[int]] = {}
        for _, src, n in rows:
            by_src.setdefault(src, []).append(n)
        for src, vals in by_src.items():
            vals.sort()
            n = len(vals)
            med = vals[(n + 1) // 2 - 1]
            devs = sorted(abs(v - med) for v in vals)
            mad = devs[(n + 1) // 2 - 1]
            out[src] = (
                n,
                med,
                mad,
                sum(1 for v in vals if abs(v - med) > 3 * mad),
            )
        return out

    got = {
        r["source"]: (
            r["n_docs"], r["median_chars"], r["mad_chars"], r["n_outliers"]
        )
        for r in mad_length_outliers(docs).collect()
    }
    assert got == model()


# ---------------------------------------------------------------------------
# r10: quality-canonical survivor rule vs a serial model
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs_=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            # a tiny text pool so fingerprint clusters actually form;
            # 'good' passes the funnel (10+ tokens incl. a stopword),
            # others fail different stages
            st.sampled_from(
                [
                    "the quick brown fox jumps over the lazy dog today",
                    "the quick brown fox jumps over the lazy dog  today",
                    "short text",
                    "",
                    None,
                ]
            ),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_quality_canonical_matches_serial_model(spark, docs_):
    """Cluster key = normalized md5; survivor = (admitted desc,
    n_chars desc, doc_id asc). The engine's per-source counts must
    match a serial replay, including the NULL-text cluster and the
    two-texts-one-fingerprint normalization seam."""
    import hashlib as _h
    import re as _re

    from ser_etl_spark.operators.dedup import quality_canonical_dedup

    rows = [
        (i, src, txt, len(txt) if txt is not None else None)
        for i, (src, txt) in enumerate(docs_)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string, n_chars bigint"
    )

    _STOP = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it"}

    def admitted(txt):
        if txt is None or not txt.strip():
            return 0
        norm = _re.sub(" +", " ", txt.strip().lower())
        t = norm.split(" ")
        if len(t) < 10:
            return 0
        wl = len(norm) - len(t) + 1
        if not (2 * len(t) <= wl <= 12 * len(t)):
            return 0
        if len(set(t)) * 10 < len(t) * 3:
            return 0
        if not any(x in _STOP for x in t):
            return 0
        return 1

    def fp(txt):
        if txt is None:
            return None
        return _h.md5(
            _re.sub("[^a-z0-9]+", " ", txt.lower()).strip().encode()
        ).hexdigest()

    def model():
        clusters: dict = {}
        for i, src, txt, nc in rows:
            clusters.setdefault(fp(txt), []).append(
                (-admitted(txt), -(nc if nc is not None else -1), i, src)
            )
        per = {}
        for members in clusters.values():
            members.sort()
            min_id = min(m[2] for m in members)
            for rank, (_, _, i, src) in enumerate(members):
                st_ = per.setdefault(src, [0, 0, 0, 0])
                st_[0] += 1
                if rank == 0:
                    st_[1] += 1
                    if i != min_id:
                        st_[3] += 1
                else:
                    st_[2] += 1
        return {
            s: tuple(v) for s, v in per.items()
        }

    got = {
        r["source"]: (
            r["n_docs"], r["n_canonical"], r["n_dropped"],
            r["n_quality_overrides"],
        )
        for r in quality_canonical_dedup(docs).collect()
    }
    assert got == model()


# ---------------------------------------------------------------------------
# r11 operators vs serial models
# ---------------------------------------------------------------------------

_KNUTH_P = 2654435761
_FOLD_P = 2**31


def _py_hash_u32(i: int) -> int:
    return ((i % _FOLD_P + _FOLD_P) % _FOLD_P * _KNUTH_P) % 2**32


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),  # doc_id
            st.sampled_from(["en", "de", "fr", "zh", "es"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    )
)
def test_mixture_rebalance_matches_serial_model(spark, docs):
    """The exact-count rebalancer must equal the trivial serial model:
    feasible M = min over present groups of n_g*100//pct, each group
    keeps its M*pct//100 lowest-hash docs."""
    from ser_etl_spark.operators.sampling import (
        MIXTURE_TARGETS,
        mixture_rebalance_sample,
    )

    df = spark.createDataFrame(
        [(i, None, lang, None, 0) for i, lang in docs],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    got = {
        r["grp"]: (r["n_orig"], r["target_pct"], r["n_kept"])
        for r in mixture_rebalance_sample(df).collect()
    }
    pct = dict(MIXTURE_TARGETS)
    named = {g for g in pct if g != "other"}
    groups: dict[str, list[int]] = {}
    for i, lang in docs:
        groups.setdefault(lang if lang in named else "other", []).append(i)
    m = min(len(v) * 100 // pct[g] for g, v in groups.items())
    exp = {}
    for g, ids in groups.items():
        t = m * pct[g] // 100
        exp[g] = (len(ids), pct[g], min(t, len(ids)))
    assert got == exp


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet="abcdefg .,!", min_size=1, max_size=60
        ).filter(lambda t: t.strip()),
        min_size=2,
        max_size=20,
    )
)
def test_quantile_normalize_is_identity_on_single_source(spark, texts):
    """With ONE source, within-source rank == global rank, so the
    midpoint position maps every doc to ITSELF: norm == quality and
    every shift is exactly 0.0 — the calibration no-op the algebra
    promises."""
    from ser_etl_spark.operators.curation import quality_quantile_normalize

    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    rows = quality_quantile_normalize(df).collect()
    assert rows, "non-empty single-source corpus must rank"
    for r in rows:
        assert r["shift"] == 0.0
        assert r["norm_quality"] == r["quality"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=300),  # epoch second
        ),
        min_size=1,
        max_size=60,
    )
)
def test_rate_limit_audit_matches_serial_model(spark, events):
    """The RANGE-frame sliding window must equal the brute-force count
    of same-user events in [t, t+59] — ties (equal timestamps) all
    share one frame."""
    import datetime as _dt

    from ser_etl_spark.operators.timeseries import rate_limit_audit

    epoch = _dt.datetime(1970, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, epoch + _dt.timedelta(seconds=s), u, "view", 0.0, None)
            for eid, (u, s) in enumerate(events)
        ],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = {
        r["user_id"]: (r["n_events"], r["peak_minute"], r["n_window_viol"])
        for r in rate_limit_audit(df, limit=3).collect()
    }
    by_user: dict[int, list[int]] = {}
    for u, s in events:
        by_user.setdefault(u, []).append(s)
    exp = {}
    for u, ss in by_user.items():
        wins = [sum(1 for t2 in ss if t <= t2 <= t + 59) for t in ss]
        exp[u] = (len(ss), max(wins), sum(1 for w in wins if w > 3))
    assert got == exp


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=50),  # second
            st.sampled_from(["a", "b", "c"]),  # state
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_intervals_partition_each_user_timeline(spark, events):
    """SCD2 invariants for ANY stream: per user, valid_from strictly
    increases in (ts, event_id) order, each valid_to equals the next
    valid_from, adjacent states differ, and exactly one open
    (is_current) interval exists."""
    import datetime as _dt

    from ser_etl_spark.operators.temporal import scd2_state_history

    epoch = _dt.datetime(1970, 1, 1)
    df = spark.createDataFrame(
        [
            (eid, epoch + _dt.timedelta(seconds=s), u, st_, 0.0, None)
            for eid, (u, s, st_) in enumerate(events)
        ],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    rows = scd2_state_history(df).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == {u for u, _, _ in events}
    for u, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in ivs) == 1
        assert ivs[-1]["is_current"] == 1 and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["state"] != b["state"] or True  # equal-run collapse:
            # adjacent SURVIVING rows may share a state only when an
            # intervening different state row exists at the same ts —
            # impossible after compaction, so assert strictly:
        for a, b in zip(ivs, ivs[1:]):
            assert a["state"] != b["state"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),    # user_id
            st.integers(min_value=0, max_value=20),   # epoch day
        ),
        min_size=1,
        max_size=60,
    )
)
def test_cohort_retention_matches_serial_model(spark, events):
    """The retention matrix must equal the trivial serial model: cohort
    = min active day per user, cell (c, o) = |{u : first(u)=c, c+o in
    days(u)}|, size = offset-0 cell."""
    import datetime as _dt

    from ser_etl_spark.operators.timeseries import cohort_retention

    base = _dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            (i, base + _dt.timedelta(days=day), u, "view", 1.0, None)
            for i, (u, day) in enumerate(events)
        ],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = {
        (r["cohort_day"], r["day_offset"]): (
            r["active_users"], r["cohort_size"], r["retention_bp"]
        )
        for r in cohort_retention(df).collect()
    }
    day0 = (base - _dt.datetime(1970, 1, 1)).days
    per_user: dict[int, set] = {}
    for u, day in events:
        per_user.setdefault(u, set()).add(day0 + day)
    cells: dict[tuple, int] = {}
    for u, days in per_user.items():
        first = min(days)
        for dd in days:
            cells[(first, dd - first)] = cells.get((first, dd - first), 0) + 1
    exp = {}
    for (c, o), n in cells.items():
        size = cells[(c, 0)]
        exp[(c, o)] = (n, size, 10000 * n // size)
    assert got == exp
