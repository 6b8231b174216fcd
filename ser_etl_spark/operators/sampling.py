"""Deterministic dataset splitting and sampling for training pipelines.

A training-data pipeline needs reproducible, engine-independent
train/val/test assignment: the same document must land in the same split
on every run, on any engine, under any partitioning — which rules out
``rand()`` and engine-specific hash functions. We use a Knuth
multiplicative hash on the stable document id (golden-ratio constant
2654435761 = floor(2^32 / phi)); it is pure int64 arithmetic, so the
DuckDB oracle reproduces it bit-for-bit, and it decorrelates the split
from any ordering or locality in the id space.

Scale design: the assignment is a stateless per-row projection — no
shuffle, no sampling pass, no driver coordination; it composes with any
downstream filter (``split = 'train'``) which pushes down to the scan of
a snapshot written with ``partitionBy(split)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ser_etl_spark.functions.numeric import dsum, sql_dsum
from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table

#: floor(2^32 / golden ratio) — Knuth's multiplicative hashing constant.
_KNUTH = 2654435761
_MOD = 2**32
#: Fold modulus for the id BEFORE the multiply. Must satisfy
#: (_FOLD - 1) * _KNUTH < 2^63 - 1 or the int64 product overflows —
#: Spark would wrap silently while DuckDB raises, silently diverging the
#: split. 2^31 gives (2^31 - 1) * 2654435761 ~= 5.7e18 < 9.22e18. A 2^32
#: fold (round-1 version) overflowed for ids with id % 2^32 > ~3.47e9.
_FOLD = 2**31

#: (split, lower-percent-bound, upper-percent-bound), ordered.
DEFAULT_SPLITS: tuple[tuple[str, int, int], ...] = (
    ("train", 0, 80),
    ("val", 80, 90),
    ("test", 90, 100),
)


def split_bucket(id_col: Column | str) -> Column:
    """Deterministic bucket in [0, 100) from a stable integer id.

    ``((id mod 2^31) * 2654435761) mod 2^32 mod 100`` — the id is folded
    mod 2^31 before the multiply so the product stays below 2^63 - 1 for
    ANY bigint id (see ``_FOLD``); both engines then compute identical
    pure-int64 arithmetic.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    folded = F.pmod(c, F.lit(_FOLD))
    return F.pmod(F.pmod(folded * F.lit(_KNUTH), F.lit(_MOD)), F.lit(100))


def sql_split_bucket(id_expr: str) -> str:
    """Oracle-side rendering of :func:`split_bucket`.

    Plain ``%`` follows the dividend's sign in DuckDB while Spark's
    ``pmod`` is always non-negative, so the fold is rendered as
    ``(id % F + F) % F`` to stay engine-exact for negative ids too.
    The later moduli operate on non-negative values and need no fixup.
    """
    folded = f"(({id_expr} % {_FOLD} + {_FOLD}) % {_FOLD})"
    return f"(({folded} * {_KNUTH}) % {_MOD}) % 100"


def hash_u32(id_col: Column | str) -> Column:
    """Full-resolution Knuth hash in [0, 2^32) from a stable integer id.

    The pre-``mod 100`` form of :func:`split_bucket` — same overflow-safe
    fold, 2^32 granularity. Used where 1-percent buckets are too coarse
    (per-source keep *fractions*, pseudo-random orderings); pure int64
    arithmetic, so DuckDB reproduces it bit-for-bit.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(F.pmod(c, F.lit(_FOLD)) * F.lit(_KNUTH), F.lit(_MOD))


def sql_hash_u32(id_expr: str) -> str:
    """Oracle-side rendering of :func:`hash_u32` (non-negative fold —
    see :func:`sql_split_bucket`)."""
    folded = f"(({id_expr} % {_FOLD} + {_FOLD}) % {_FOLD})"
    return f"(({folded} * {_KNUTH}) % {_MOD})"


def assign_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int, int], ...] = DEFAULT_SPLITS,
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named bucket range."""
    bucket = split_bucket(id_col)
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(splits):
        expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, int],
    default_pct: int | None = None,
) -> DataFrame:
    """Deterministic stratified sample: keep ``fractions[stratum]``
    percent of each stratum, chosen by the same Knuth-hash bucket as
    :func:`split_bucket` — reproducible on any engine, no sampling pass,
    no ``rand()``. Rows whose stratum has no entry keep ``default_pct``
    percent (dropped entirely when ``default_pct`` is None).

    At scale this is a stateless filter (predicate-pushdown friendly);
    contrast ``df.sampleBy``, whose Bernoulli draws are seed- and
    partitioning-dependent and therefore irreproducible across engines.
    """
    bucket = split_bucket(id_col)
    pct = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )[F.col(strata_col)]
    if default_pct is not None:
        pct = F.coalesce(pct, F.lit(default_pct))
    return df.filter(bucket < pct)


@register(
    "stratified_sample",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_dsum('n_chars', 0)} AS total_chars
    FROM documents
    WHERE {sql_split_bucket('doc_id')} <
          CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50
                    WHEN 'fr' THEN 50 ELSE 100 END
    GROUP BY lang
    ORDER BY lang
    """,
    description="training-pipeline op: deterministic per-language "
    "stratified downsampling (10% en, 50% de/fr, 100% rest) via the "
    "Knuth-hash bucket — the reproducible, engine-independent analog of "
    "sampleBy for corpus rebalancing",
    covers=("X-sample",),
)
def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    pick = stratified_sample(
        docs, "doc_id", "lang",
        {"en": 10, "de": 50, "fr": 50},
        default_pct=100,
    )
    return (
        pick.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum("n_chars", 0).alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "dataset_split",
    oracle=f"""
    SELECT CASE
             WHEN {sql_split_bucket('doc_id')} < 80 THEN 'train'
             WHEN {sql_split_bucket('doc_id')} < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_docs,
           {sql_dsum('n_chars', 0)} AS total_chars
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    description="training-pipeline op: reproducible train/val/test "
    "assignment via a Knuth multiplicative hash of doc_id — stateless "
    "per-row projection, engine-independent (oracle reproduces it "
    "exactly), no sampling pass",
    covers=("X-split",),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dsum("n_chars", 0).alias("total_chars"),
        )
        .orderBy("split")
    )


def uniform_ksample(
    df: DataFrame, id_col: str, k: int, cols: list[str] | None = None
) -> DataFrame:
    """Deterministic fixed-SIZE uniform sample: the ``k`` rows with the
    smallest Knuth-hash values of ``id_col`` (ties impossible — the hash
    is injective on the folded id, and the id breaks any residual tie).

    The eval-set selection primitive: percentage splits
    (:func:`assign_split`) can't hit an exact row budget, and
    ``df.sample`` is neither fixed-size nor engine-reproducible. Ordering
    by the hash is a pseudo-random permutation, so the k smallest form a
    uniform sample — executed as per-partition top-k heaps
    (TakeOrderedAndProject), never a global sort; the driver merges
    partitions x k candidate rows. Adding rows to the corpus can only
    displace members (hash order is stable), so samples are consistent
    across snapshot versions.
    """
    picked = cols if cols is not None else [c for c in df.columns]
    return (
        df.select(*picked, hash_u32(id_col).alias("_h"))
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(k)
        .drop("_h")
    )


@register(
    "uniform_ksample",
    oracle=f"""
    SELECT doc_id, source, lang, n_chars
    FROM documents
    ORDER BY {sql_hash_u32('doc_id')} ASC, doc_id ASC
    LIMIT 200
    """,
    description="training-pipeline op: deterministic fixed-size uniform "
    "sample (the 200 docs with the smallest Knuth-hash of doc_id) — the "
    "eval-set selection primitive; per-partition top-k heaps "
    "(TakeOrderedAndProject), engine-exact, stable across snapshot "
    "growth",
    covers=("X-sample", "B8"),
)
def uniform_ksample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return uniform_ksample(docs, "doc_id", k=200)


def group_ksample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic fixed-size sample PER STRATUM: the ``k`` rows with
    the smallest Knuth-hash values inside each group — the per-language
    / per-source eval-set primitive (:func:`uniform_ksample` draws one
    global sample; :func:`stratified_sample` keeps a percentage, which
    can't hit an exact per-group row budget).

    Engine-exact for the same reason as the siblings: the hash order is
    a pseudo-random permutation computed by pure int64 arithmetic, ties
    broken by the id. Shape: one shuffle on the stratum, a per-group
    sorted rank window, and the ``rnk <= k`` filter — group cardinality
    unbounded, no global sort anywhere.
    """
    from pyspark.sql import Window

    picked = cols if cols is not None else list(df.columns)
    # explicit NULLS LAST: a NULL id hashes to NULL, and Spark's ASC
    # default is NULLS FIRST while DuckDB's is NULLS LAST — a corpus
    # with NULL ids would silently sample differently per engine
    w = Window.partitionBy(strata_col).orderBy(
        hash_u32(id_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    return (
        df.select(*picked)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy(strata_col, "rnk")
    )


@register(
    "group_ksample",
    oracle=f"""
    SELECT lang, doc_id, n_chars, rnk FROM (
      SELECT lang, doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {sql_hash_u32('doc_id')} ASC, doc_id ASC)
               AS BIGINT) AS rnk
      FROM documents)
    WHERE rnk <= 5
    ORDER BY lang, rnk
    """,
    description="training-pipeline op: deterministic per-language "
    "5-sample via Knuth-hash rank inside each stratum — exact per-group "
    "row budgets for eval sets; one stratum shuffle + rank window, "
    "engine-exact, stable under corpus growth",
    covers=("X-sample", "X-window"),
)
def group_ksample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return group_ksample(docs, "doc_id", "lang", k=5,
                         cols=["lang", "doc_id", "n_chars"])


# ---------------------------------------------------------------------------
# weighted priority sampling
# ---------------------------------------------------------------------------


def weighted_priority_sample(
    docs: DataFrame, k: int = 200
) -> DataFrame:
    """Deterministic weight-proportional-ish fixed-size sample: each doc
    gets the priority ``knuth_hash(doc_id) / weight`` (weight = char
    length, floored at 1) and the ``k`` SMALLEST priorities win — longer
    documents draw systematically smaller priorities, so selection
    probability grows with length while staying a pure function of the
    id (the reproducible analog of weighted reservoir sampling; the
    exact Efraimidis-Spirakis key ``u^(1/w)`` needs libm ``pow``, which
    the cross-engine discipline forbids — this rank transform preserves
    the monotone weight preference with one exact double division).

    Scale: stateless per-row priority, per-partition top-k heaps
    (``TakeOrderedAndProject``) — no global sort, no shuffle beyond the
    k-row gather. The fixed-size twin of the fraction-based
    ``source_temperature_sample``.
    """
    w = F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1))
    prio = hash_u32("doc_id").cast("double") / w.cast("double")
    return (
        docs.select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_chars"), F.lit(0))
            .cast("bigint")
            .alias("n_chars"),
            prio.alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(k)
    )


@register(
    "weighted_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(COALESCE(n_chars, 0) AS BIGINT) AS n_chars,
           CAST({sql_hash_u32('doc_id')} AS DOUBLE)
             / CAST(greatest(COALESCE(n_chars, 0), 1) AS DOUBLE) AS priority
    FROM documents
    ORDER BY priority ASC, doc_id ASC
    LIMIT 200
    """,
    description="training-pipeline op: deterministic length-weighted "
    "fixed-size sample — priority = knuth_hash(id)/weight, k smallest "
    "win (the engine-exact stand-in for weighted reservoir sampling; "
    "E-S u^(1/w) needs libm pow); stateless per-row math + "
    "TakeOrderedAndProject, no global sort",
    covers=("X-sample",),
)
def weighted_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_priority_sample(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# exact-mixture rebalancing
# ---------------------------------------------------------------------------

#: Target corpus mixture in integer percent, by language group. 'other'
#: pools every language outside the named ones.
MIXTURE_TARGETS: tuple[tuple[str, int], ...] = (
    ("en", 40),
    ("de", 30),
    ("fr", 20),
    ("other", 10),
)


#: hash-prefix band width for the two-level rank: ``hash_u32 div 2^16``
#: yields up to 2^16 bands per group — the per-(grp, band) rank window
#: is ~1/65536th of a group, and the band table stays metadata-sized
#: (|groups| x 65536 rows max, broadcastable).
MIXTURE_BAND_DIV = 1 << 16


def _mixture_banded_rank(docs: DataFrame) -> DataFrame:
    """The pre-checkpoint banded-rank fragment of
    :func:`mixture_rebalance_sample`, exposed so the plan gate can pin
    the window partitioning (grp, _band) — the checkpoint in the full
    builder makes the downstream plan opaque to ``explain``."""
    named = [g for g, _ in MIXTURE_TARGETS if g != "other"]
    pct = F.create_map(
        *[x for g, p in MIXTURE_TARGETS for x in (F.lit(g), F.lit(p))]
    )
    from pyspark.sql import Window

    base = (
        docs.select(
            "doc_id",
            F.when(F.col("lang").isin(*named), F.col("lang"))
            .otherwise(F.lit("other"))
            .alias("grp"),
        )
        .withColumn("_pct", pct[F.col("grp")])
        .withColumn("_h", hash_u32("doc_id"))
        .withColumn("_band", F.expr(f"_h div {MIXTURE_BAND_DIV}"))
    )
    wband = Window.partitionBy("grp", "_band").orderBy(
        F.col("_h").asc(), F.col("doc_id").asc()
    )
    return base.select(
        "doc_id", "grp", "_pct", "_band",
        F.row_number().over(wband).alias("_ibr"),
    )


def mixture_rebalance_sample(docs: DataFrame) -> DataFrame:
    """Exact-count mixture rebalancing: downsample language groups so the
    kept corpus hits the target mixture EXACTLY (in integer arithmetic),
    keeping as many documents as feasible without upsampling anyone.

    Feasible total ``M = min_g floor(n_g * 100 / pct_g)`` over the groups
    present; each group keeps its ``t_g = floor(M * pct_g / 100)``
    lowest-Knuth-hash documents. Unlike the fraction-based
    ``source_temperature_sample`` (independent per-row coin flips whose
    realized mixture drifts at small n), the rank threshold hits the
    target counts exactly — the contract a curriculum spec demands.

    Skew (r11 VERDICT #1): the group domain is FIXED at four
    (:data:`MIXTURE_TARGETS`), so a single per-group rank window would
    serialize ~a quarter of the corpus through one task at scale. This
    uses the two-level banded rank proven in ``token_budget_selection``
    and ``quality_quantile_normalize``: band on the hash PREFIX
    (``hash_u32 div 2^16`` — banding by a prefix of the rank key keeps
    band order ≡ rank order), rank within each (grp, band) partition,
    cumulate the metadata-sized per-(grp, band) counts in band order,
    and broadcast the exclusive offsets back. ``band_offset +
    in_band_rank`` equals the single-window ``row_number`` bit-for-bit
    (same hash, same doc_id tie-break), so the oracle keeps the naive
    single-window form and the differential gate proves the
    decomposition. The residual serial unit is one (grp, band) slice —
    ~1/65536th of a group.

    Scale: ONE corpus scan, ``localCheckpoint``-materialized after the
    banded rank (dedup label-propagation discipline — the downstream
    consumers replay checkpoint-local, not from parquet); the band
    table is aggregated once off the SAME checkpoint and is itself
    checkpointed (metadata-sized). Output is the |groups|-row audit a
    pipeline logs.
    """
    from pyspark.sql import Window

    in_band = _mixture_banded_rank(docs).localCheckpoint()
    # band sizes fall out of the SAME window output as its max rank —
    # grouping keys exactly match the window partitioning, so this
    # aggregate rides the existing (grp, _band) distribution; the tiny
    # result is checkpointed because three consumers (offsets, feasible,
    # universe) would otherwise each replay the checkpoint-local pass
    totals = (
        in_band.groupBy("grp", "_band")
        .agg(F.max("_ibr").alias("_bn"), F.max("_pct").alias("_pct"))
        .localCheckpoint()
    )
    wb_off = (
        Window.partitionBy("grp")
        .orderBy(F.col("_band").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "grp",
        "_band",
        F.coalesce(F.sum("_bn").over(wb_off), F.lit(0)).alias("_boff"),
    )
    ranked = in_band.join(F.broadcast(offsets), ["grp", "_band"]).select(
        "doc_id",
        "grp",
        "_pct",
        (F.col("_boff") + F.col("_ibr")).alias("_rnk"),
    )
    per_group = totals.groupBy("grp").agg(
        F.sum("_bn").alias("n_orig"), F.max("_pct").alias("_pct")
    )
    feasible = per_group.agg(
        F.min(F.expr("(n_orig * 100) div _pct")).alias("_m")
    )
    kept = (
        ranked.crossJoin(F.broadcast(feasible))
        .withColumn("_t", F.expr("(_m * _pct) div 100"))
        .filter(F.col("_rnk") <= F.col("_t"))
    )
    # the audit reports EVERY present group — a group whose feasible keep
    # count is 0 (tiny group dominating the min) must surface as
    # n_kept=0, not vanish (hypothesis-found: a lone 'en' doc yields
    # t_en = 0 and the group disappeared from the old kept-side rollup)
    universe = per_group.select(
        "grp",
        F.col("n_orig").cast("bigint").alias("n_orig"),
        F.col("_pct").cast("bigint").alias("target_pct"),
    )
    agg = kept.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("_k")
    )
    out = universe.join(agg, "grp", "left").select(
        "grp",
        "n_orig",
        "target_pct",
        F.coalesce(F.col("_k"), F.lit(0)).cast("bigint").alias("n_kept"),
    )
    total = out.agg(F.sum("n_kept").alias("_tot"))
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "grp",
            "n_orig",
            "target_pct",
            "n_kept",
            F.when(F.col("_tot") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * n_kept) div _tot"))
            .cast("bigint")
            .alias("kept_share_bp"),
        )
        .orderBy("grp")
    )


def _mixture_oracle() -> str:
    named = [g for g, _ in MIXTURE_TARGETS if g != "other"]
    in_list = ", ".join(f"'{g}'" for g in named)
    cases = " ".join(
        f"WHEN '{g}' THEN {p}" for g, p in MIXTURE_TARGETS if g != "other"
    )
    other = dict(MIXTURE_TARGETS)["other"]
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN lang IN ({in_list}) THEN lang ELSE 'other' END AS grp
      FROM documents
    ), tagged AS (
      SELECT doc_id, grp,
             CASE grp {cases} ELSE {other} END AS _pct,
             COUNT(*) OVER (PARTITION BY grp) AS n_orig,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY {sql_hash_u32('doc_id')} ASC,
                                         doc_id ASC) AS _rnk
      FROM base
    ), feasible AS (
      SELECT MIN((n_orig * 100) // _pct) AS _m
      FROM (SELECT DISTINCT grp, _pct, n_orig FROM tagged)
    ), kept AS (
      SELECT t.* FROM tagged t, feasible f
      WHERE t._rnk <= (f._m * t._pct) // 100
    ), universe AS (
      SELECT grp, MAX(n_orig) AS n_orig, MAX(_pct) AS target_pct
      FROM tagged GROUP BY grp
    ), agg AS (
      SELECT u.grp, u.n_orig, u.target_pct,
             COALESCE(k._k, 0) AS n_kept
      FROM universe u
      LEFT JOIN (SELECT grp, COUNT(*) AS _k FROM kept GROUP BY grp) k
        USING (grp)
    )
    SELECT grp, CAST(n_orig AS BIGINT) AS n_orig,
           CAST(target_pct AS BIGINT) AS target_pct,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(CASE WHEN (SELECT SUM(n_kept) FROM agg) = 0 THEN 0
                ELSE (10000 * n_kept) // (SELECT SUM(n_kept) FROM agg)
                END AS BIGINT) AS kept_share_bp
    FROM agg
    ORDER BY grp
    """


@register(
    "mixture_rebalance",
    oracle=_mixture_oracle(),
    description="exact-count corpus mixture rebalancing (en 40 / de 30 / "
    "fr 20 / other 10): feasible total M = min_g floor(n_g*100/pct_g), "
    "each group keeps its floor(M*pct/100) lowest-Knuth-hash docs — rank "
    "thresholds hit the target mixture exactly where per-row keep-fraction "
    "coins drift; one scan, group windows + a broadcast |groups|-row min",
    covers=("X-sample", "N-quality"),
)
def mixture_rebalance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_rebalance_sample(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cluster-balanced sampling (r12)
# ---------------------------------------------------------------------------

#: total sample size for the cluster-balanced selection (fixture-scale;
#: per-cluster quota = target div K over the K trained IVF clusters)
CLUSTER_SAMPLE_TARGET = 200


def cluster_balanced_sample(
    spark: SparkSession, sf_dir: str, target: int = CLUSTER_SAMPLE_TARGET
) -> DataFrame:
    """Cluster-balanced embedding sample: assign every vector to its
    nearest TRAINED coarse centroid (the persisted quantizer the ANN
    family serves from), then keep each cluster's ``target div K``
    lowest-Knuth-hash members — the diversity-preserving downsample
    (semantic-cluster stratification) a curation pipeline runs so one
    dominant mode cannot monopolize the training mix. Degenerate
    vectors (NULL cosine everywhere) form the ``-1`` cluster and are
    quota'd like any other.

    Scale: the E-step assign is one narrow scan (K dot products per
    row, no shuffle); the per-cluster rank uses the SAME two-level
    hash-prefix banded rank as :func:`mixture_rebalance_sample` — the
    cluster domain is fixed at K+1, exactly the fixed-small-domain
    window the r11 verdict flagged there, so it ships banded from day
    one. Output is the |K|-row audit (cluster size, kept, quota,
    kept share in bp).
    """
    from pyspark.sql import Window

    from ser_etl_spark.operators.similarity import (
        IVF_CENTROIDS,
        _trained_cents,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_cents(spark, sf_dir)
    quota = target // IVF_CENTROIDS
    assigned = ivf_assign(emb, centroids=cents).select(
        "vec_id",
        # the coalesces never fire (ivf_assign's sentinel is already -1,
        # the hash is total) — they mark the join keys NON-NULLABLE so
        # the band join infers no one-sided isnotnull, which would
        # de-canonicalize the two shared exchange subtrees and block
        # AQE's ReusedExchange (the token_budget_selection lesson)
        F.expr("coalesce(centroid_id, -1)").alias("centroid_id"),
    )
    base = assigned.withColumn(
        "_h", F.coalesce(hash_u32("vec_id"), F.lit(-1))
    ).withColumn(
        "_band", F.expr(f"coalesce(_h div {MIXTURE_BAND_DIV}, -1)")
    )
    wband = Window.partitionBy("centroid_id", "_band").orderBy(
        F.col("_h").asc(), F.col("vec_id").asc()
    )
    in_band = base.select(
        "vec_id", "centroid_id", "_band",
        F.row_number().over(wband).alias("_ibr"),
    )
    totals = in_band.groupBy("centroid_id", "_band").agg(
        F.max("_ibr").alias("_bn")
    )
    wb_off = (
        Window.partitionBy("centroid_id")
        .orderBy(F.col("_band").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "centroid_id",
        "_band",
        F.coalesce(F.sum("_bn").over(wb_off), F.lit(0)).alias("_boff"),
    )
    ranked = in_band.join(
        F.broadcast(offsets), ["centroid_id", "_band"]
    ).select(
        "centroid_id",
        (F.col("_boff") + F.col("_ibr")).alias("_rnk"),
    )
    return (
        ranked.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orig"),
            F.sum(F.when(F.col("_rnk") <= quota, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "centroid_id",
            "n_orig",
            F.lit(quota).cast("bigint").alias("quota"),
            "n_kept",
            F.expr("(10000 * n_kept) div n_orig")
            .cast("bigint")
            .alias("kept_share_bp"),
        )
        .orderBy("centroid_id")
    )


def _cluster_sample_oracle(target: int = CLUSTER_SAMPLE_TARGET) -> str:
    from ser_etl_spark.operators.similarity import (
        IVF_CENTROIDS,
        _ivf_assign_oracle,
    )

    quota = target // IVF_CENTROIDS
    return f"""
    WITH a AS ({_ivf_assign_oracle()}
    ), ranked AS (
      SELECT centroid_id,
             ROW_NUMBER() OVER (PARTITION BY centroid_id
                                ORDER BY {sql_hash_u32('vec_id')} ASC,
                                         vec_id ASC) AS _rnk
      FROM a
    )
    SELECT centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_orig,
           CAST({quota} AS BIGINT) AS quota,
           CAST(SUM(CASE WHEN _rnk <= {quota} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST((10000 * SUM(CASE WHEN _rnk <= {quota} THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS kept_share_bp
    FROM ranked GROUP BY centroid_id ORDER BY centroid_id
    """


@register(
    "cluster_balanced_sample",
    oracle=_cluster_sample_oracle(),
    description="cluster-balanced embedding downsample: E-step assign to "
    "the trained quantizer (one narrow scan, K dots/row), then each "
    "cluster keeps its target/K lowest-hash members via the two-level "
    "banded rank (fixed K+1-cluster domain — banded from day one); "
    "|K|-row audit of size/quota/kept/share; the oracle re-derives the "
    "trained centroids and replays the naive single-window rank",
    covers=("N-sim", "X-sample"),
)
def cluster_balanced_sample_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cluster_balanced_sample(spark, sf_dir)


# ---------------------------------------------------------------------------
# temperature-scaled source mixture (r13)
# ---------------------------------------------------------------------------


def mixture_temperature_profile(docs: DataFrame) -> DataFrame:
    """Temperature-scaled sampling weights per source — the standard
    multilingual/multi-source rebalancing readout (weights proportional
    to ``count^tau``): tau=1 reproduces natural proportions, lower tau
    flattens the mixture toward uniform, and a pipeline reads this
    table to pick the tau that up-samples tail sources without
    swamping the head.

    Cross-engine exactness by construction: the tau ladder is
    {0.25, 0.5, 1.0} so every power is a composition of ``sqrt`` —
    IEEE-754 correctly-rounded in BOTH engines (never ``pow``/``exp``/
    ``ln``, which are libm-dependent) — and each weight is quantized to
    an integer micro-weight (``round(w * 1e6)`` BIGINT) BEFORE the
    normalizing sum, so the denominator is an order-free integer sum.
    One corpus scan, one |sources|-row aggregate; the totals ride a
    window over that metadata-sized table, never a second scan.
    """
    from pyspark.sql import Window

    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    nd = F.col("n_docs").cast("double")
    weighted = counts.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.sqrt(nd)) * F.lit(1.0e6), 0)
        .cast("bigint")
        .alias("w_tau25_micro"),
        F.round(F.sqrt(nd) * F.lit(1.0e6), 0)
        .cast("bigint")
        .alias("w_tau50_micro"),
    )
    w = Window.partitionBy()
    return (
        weighted.withColumn("_t25", F.sum("w_tau25_micro").over(w))
        .withColumn("_t50", F.sum("w_tau50_micro").over(w))
        .withColumn("_tn", F.sum("n_docs").over(w))
        .select(
            "source",
            "n_docs",
            "w_tau25_micro",
            "w_tau50_micro",
            F.expr("(10000 * w_tau25_micro) div _t25")
            .cast("bigint")
            .alias("share_tau25_bp"),
            F.expr("(10000 * w_tau50_micro) div _t50")
            .cast("bigint")
            .alias("share_tau50_bp"),
            F.expr("(10000 * n_docs) div _tn")
            .cast("bigint")
            .alias("share_tau100_bp"),
        )
        .orderBy("source")
    )


@register(
    "mixture_temperature_profile",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), weighted AS (
      SELECT source, n_docs,
             CAST(round(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1e6)
                  AS BIGINT) AS w_tau25_micro,
             CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1e6)
                  AS BIGINT) AS w_tau50_micro
      FROM counts
    )
    SELECT source, n_docs, w_tau25_micro, w_tau50_micro,
           CAST((10000 * w_tau25_micro)
                // (SELECT SUM(w_tau25_micro) FROM weighted)
                AS BIGINT) AS share_tau25_bp,
           CAST((10000 * w_tau50_micro)
                // (SELECT SUM(w_tau50_micro) FROM weighted)
                AS BIGINT) AS share_tau50_bp,
           CAST((10000 * n_docs) // (SELECT SUM(n_docs) FROM weighted)
                AS BIGINT) AS share_tau100_bp
    FROM weighted
    ORDER BY source
    """,
    description="temperature-scaled source mixture: sampling weights "
    "proportional to count^tau for tau in {0.25, 0.5, 1} — sqrt-only "
    "powers (IEEE-exact cross-engine, never pow), integer micro-weight "
    "quantization before the order-free normalizing sum; one scan + "
    "|sources|-row window",
    covers=("N-curation", "X-sample", "B5"),
)
def mixture_temperature_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return mixture_temperature_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# epoch plan (r13) — the data-recipe repeat-count readout
# ---------------------------------------------------------------------------

#: token budget as a multiple of the natural corpus (train "2 epochs
#: worth" of tokens, temperature-mixed)
EPOCH_BUDGET_X = 2


def epoch_plan(
    docs: DataFrame, budget_x: int = EPOCH_BUDGET_X
) -> DataFrame:
    """Per-source epoch counts implied by a temperature-mixed token
    budget — the data-recipe table model cards publish ("wikipedia:
    3.3 epochs, web: 0.7"): with a budget of ``budget_x`` natural
    corpus passes allocated ∝ ``tokens^0.5`` (the tau=0.5 mixture),
    how many times does each source repeat? Tail sources land above
    1.0 epochs (up-sampled — the repetition the recipe must justify),
    head sources below (sub-sampled).

    Cross-engine exactness: the only non-integer step is ``sqrt``
    (IEEE-correctly-rounded in both engines, the
    :func:`mixture_temperature_profile` convention) quantized to an
    integer micro-weight BEFORE the normalizing sum; the budget
    arithmetic runs in decimal(38,0)/HUGEINT so ``budget · w_s`` can
    never overflow at any corpus size. One scan (per-source token
    sums), a |sources|-row aggregate, totals via a window over that
    metadata-sized table.
    """
    from pyspark.sql import Window

    n_toks = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    )
    counts = docs.groupBy("source").agg(
        F.sum(n_toks).cast("bigint").alias("tokens")
    )
    weighted = counts.select(
        "source",
        "tokens",
        F.round(F.sqrt(F.col("tokens").cast("double")) * F.lit(1.0e6), 0)
        .cast("bigint")
        .alias("w_micro"),
    )
    w = Window.partitionBy()
    staged = weighted.withColumn(
        "_wsum", F.sum("w_micro").over(w)
    ).withColumn("_total", F.sum("tokens").over(w))
    # all products exact in decimal(38,0) (<= ~30 digits at 100 TB),
    # floor division via decimal `div` == DuckDB's HUGEINT `//`
    dec = "CAST({} AS DECIMAL(38,0))"
    num = (
        f"({dec.format(budget_x)} * {dec.format('_total')} "
        f"* {dec.format('w_micro')})"
    )
    alloc = f"{num} div {dec.format('_wsum')}"
    epochs = (
        f"({dec.format(1000)} * {num}) "
        f"div ({dec.format('_wsum')} * {dec.format('tokens')})"
    )
    return (
        staged.select(
            "source",
            "tokens",
            "w_micro",
            F.when(F.col("_wsum") > 0, F.expr(alloc))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("alloc_tokens"),
            F.when(
                (F.col("tokens") > 0) & (F.col("_wsum") > 0),
                F.expr(epochs),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("epochs_milli"),
        )
        .select(
            "source",
            "tokens",
            "w_micro",
            "alloc_tokens",
            "epochs_milli",
            (F.col("epochs_milli") > 1000).cast("bigint").alias("upsampled"),
        )
        .orderBy("source")
    )


def _epoch_plan_oracle(budget_x: int = EPOCH_BUDGET_X) -> str:
    return f"""
    WITH counts AS (
      SELECT source,
             CAST(SUM(CASE WHEN text IS NULL THEN 0
                           ELSE len(string_split_regex(trim(lower(text)),
                                                       ' +')) END)
                  AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ), weighted AS (
      SELECT source, tokens,
             CAST(round(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS w_micro
      FROM counts
    ), staged AS (
      SELECT *, SUM(w_micro) OVER () AS wsum,
             SUM(tokens) OVER () AS total
      FROM weighted
    )
    SELECT source, tokens, w_micro,
           CAST(CASE WHEN wsum > 0
                THEN (CAST({budget_x} AS HUGEINT) * total * w_micro)
                     // wsum
                ELSE -1 END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN tokens > 0 AND wsum > 0
                THEN (CAST(1000 AS HUGEINT) * {budget_x} * total * w_micro)
                     // (CAST(wsum AS HUGEINT) * tokens)
                ELSE -1 END AS BIGINT) AS epochs_milli,
           CAST(CASE WHEN tokens > 0 AND wsum > 0
                THEN (CAST(1000 AS HUGEINT) * {budget_x} * total * w_micro)
                     // (CAST(wsum AS HUGEINT) * tokens) > 1000
                ELSE FALSE END AS BIGINT) AS upsampled
    FROM staged ORDER BY source
    """


@register(
    "epoch_plan",
    oracle=_epoch_plan_oracle(),
    description="data-recipe repeat counts: per-source epochs implied "
    "by a 2x-natural token budget allocated by the tau=0.5 temperature "
    "mixture (tail sources land above 1.0 epochs = up-sampled, head "
    "below) — sqrt-only weights quantized to integer micro-weights "
    "before the order-free normalizing sum, budget arithmetic in "
    "decimal(38,0)/HUGEINT with floor div on both engines; one scan, "
    "|sources|-row aggregate + metadata window",
    covers=("N-curation", "X-sample", "B5"),
)
def epoch_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epoch_plan(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# split mixture audit (r13) — does the split hash preserve the mix?
# ---------------------------------------------------------------------------


def split_mixture_audit(docs: DataFrame) -> DataFrame:
    """Per-(split, source) mixture balance audit: a hash split is only
    trustworthy if each split's source mixture matches the corpus —
    a skewed val/test mixture silently reweights every evaluation. Per
    cell: doc count, the source's share within the split, the source's
    global share, and the imbalance (split share − global share) in
    signed basis points.

    One scan into a (split, source) aggregate with map-side partials;
    both normalizers ride windows over that ≤ 3·|sources|-row rollup
    (per-split total and per-source global total) — never a second
    scan. All outputs exact signed BIGINT bp.
    """
    from pyspark.sql import Window

    bucket = split_bucket("doc_id")
    split_expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(DEFAULT_SPLITS):
        split_expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(
            split_expr
        )
    cells = docs.select(
        split_expr.alias("split"), "source"
    ).groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w_split = Window.partitionBy("split")
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    return (
        cells.withColumn("_split_tot", F.sum("n_docs").over(w_split))
        .withColumn("_src_tot", F.sum("n_docs").over(w_src))
        .withColumn("_all_tot", F.sum("n_docs").over(w_all))
        .select(
            "split",
            "source",
            "n_docs",
            F.expr("(10000 * n_docs) div _split_tot")
            .cast("bigint")
            .alias("split_share_bp"),
            F.expr("(10000 * _src_tot) div _all_tot")
            .cast("bigint")
            .alias("global_share_bp"),
            (
                F.expr("(10000 * n_docs) div _split_tot")
                - F.expr("(10000 * _src_tot) div _all_tot")
            )
            .cast("bigint")
            .alias("imbalance_bp"),
        )
        .orderBy("split", "source")
    )


def _split_mixture_oracle() -> str:
    split_case = (
        f"CASE WHEN {sql_split_bucket('doc_id')} < 80 THEN 'train' "
        f"WHEN {sql_split_bucket('doc_id')} < 90 THEN 'val' "
        f"ELSE 'test' END"
    )
    return f"""
    WITH cells AS (
      SELECT {split_case} AS split, source, COUNT(*) AS n_docs
      FROM documents GROUP BY 1, 2
    ), staged AS (
      SELECT split, source, n_docs,
             SUM(n_docs) OVER (PARTITION BY split) AS split_tot,
             SUM(n_docs) OVER (PARTITION BY source) AS src_tot,
             SUM(n_docs) OVER () AS all_tot
      FROM cells
    )
    SELECT split, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((10000 * n_docs) // split_tot AS BIGINT)
             AS split_share_bp,
           CAST((10000 * src_tot) // all_tot AS BIGINT)
             AS global_share_bp,
           CAST((10000 * n_docs) // split_tot
                - (10000 * src_tot) // all_tot AS BIGINT)
             AS imbalance_bp
    FROM staged ORDER BY split, source
    """


@register(
    "split_mixture_audit",
    oracle=_split_mixture_oracle(),
    description="split balance audit: per (split, source) the doc "
    "count, within-split share, global share and signed imbalance bp — "
    "a skewed val/test mixture silently reweights every evaluation; "
    "one scan into the (split, source) rollup, both normalizers as "
    "windows over that metadata-sized table",
    covers=("X-sample", "N-curation", "B5"),
)
def split_mixture_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return split_mixture_audit(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# split language-balance audit (r14)
# ---------------------------------------------------------------------------


def split_lang_balance_audit(docs: DataFrame) -> DataFrame:
    """Is each split LANGUAGE-representative of the corpus? Per
    (split, lang): the language's share inside the split vs its share
    of the whole corpus, both in integer basis points, and the signed
    deviation — the per-language companion of the per-source
    :func:`split_mixture_audit` (a split whose language mixture drifts
    from the corpus biases every per-language eval run on it).

    One corpus scan into a |splits|x|langs| aggregate; the three
    marginals (split total, language total, grand total) are windows
    over that TINY table, so nothing corpus-sized moves twice. Shares
    are integer ``(10000 * n) div total`` — engine-exact, no doubles.
    """
    from pyspark.sql import Window

    split_expr = F.lit(None).cast("string")
    bucket = split_bucket("doc_id")
    for name, lo, hi in reversed(DEFAULT_SPLITS):
        split_expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(
            split_expr
        )
    cell = (
        docs.select(split_expr.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    ws = Window.partitionBy("split")
    wl = Window.partitionBy("lang")
    wg = Window.partitionBy()
    return (
        cell.withColumn("split_total", F.sum("n_docs").over(ws))
        .withColumn("lang_total", F.sum("n_docs").over(wl))
        .withColumn("grand_total", F.sum("n_docs").over(wg))
        .select(
            "split",
            "lang",
            "n_docs",
            F.expr("(10000 * n_docs) div split_total")
            .cast("bigint")
            .alias("split_share_bp"),
            F.expr("(10000 * lang_total) div grand_total")
            .cast("bigint")
            .alias("corpus_share_bp"),
            F.expr(
                "(10000 * n_docs) div split_total "
                "- (10000 * lang_total) div grand_total"
            )
            .cast("bigint")
            .alias("deviation_bp"),
        )
        .orderBy("split", "lang")
    )


@register(
    "split_lang_balance_audit",
    oracle=f"""
    WITH cell AS (
      SELECT CASE WHEN {sql_split_bucket('doc_id')} < 80 THEN 'train'
                  WHEN {sql_split_bucket('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT split, lang, n_docs,
             SUM(n_docs) OVER (PARTITION BY split) AS split_total,
             SUM(n_docs) OVER (PARTITION BY lang) AS lang_total,
             SUM(n_docs) OVER () AS grand_total
      FROM cell
    )
    SELECT split, lang, n_docs,
           CAST((10000 * n_docs) // split_total AS BIGINT)
             AS split_share_bp,
           CAST((10000 * lang_total) // grand_total AS BIGINT)
             AS corpus_share_bp,
           CAST((10000 * n_docs) // split_total
                - (10000 * lang_total) // grand_total AS BIGINT)
             AS deviation_bp
    FROM m ORDER BY split, lang
    """,
    description="per-(split, lang) representativeness: in-split share "
    "vs corpus share in bp + signed deviation — one scan into a "
    "|splits|x|langs| cell table, marginals as windows over that tiny "
    "table, all-integer shares",
    covers=("X-sample", "N-curation"),
)
def split_lang_balance_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return split_lang_balance_audit(load_table(spark, sf_dir, "documents"))
