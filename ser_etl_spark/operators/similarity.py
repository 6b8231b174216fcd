"""Embedding similarity search: brute-force cosine top-k, random
hyperplane LSH ANN, and blocked embedding near-duplicate detection.

Over an ``embeddings(vec_id, embedding array<float>, label)`` table
(BASELINE.json north star). Vector math is expanded into flat
per-component double expressions that stay inside whole-stage codegen
(higher-order lambdas execute interpreted — measured ~8x slower); no
Python in any per-row path. Scale design:

- **brute-force top-k**: one scan, per-partition top-k heaps via
  ORDER BY + LIMIT (TakeOrderedAndProject) — the exact baseline; linear
  in corpus size, embarrassingly parallel.
- **LSH ANN**: sign-random-projection bucketing; queries probe only
  their bucket. Hyperplanes are derived deterministically from
  xxhash64, so executors regenerate them independently — no broadcast
  of plane matrices needed.
- **near-dup**: pairs within a blocking key (here the coarse ``label``,
  standing in for an IVF cluster id) — the IVF-style answer to
  quadratic pair growth: clusters bound the candidate set.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ser_etl_spark.artifacts import resolve_artifact, write_manifest
from ser_etl_spark.functions.numeric import fround
from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table, spread_small_input

# Vector math is *expanded* into flat per-component expressions
# (element products summed left-to-right) rather than higher-order
# ``zip_with``/``aggregate`` lambdas: HOFs are CodegenFallback and run
# interpreted (~8x slower here), while the expanded form stays inside
# whole-stage codegen. Accumulation order (left-to-right) is identical
# to both the HOF form and DuckDB's list_cosine_similarity, so results
# are bit-equal. Requires a known dimension — probed O(1) from the
# first row, never from data volume.
#
# Each expanded expression is generated as ONE SQL string handed to a
# single ``F.expr`` call: composing hundreds of Column objects in Python
# costs a py4j round-trip per node (measured: several seconds per query
# just building the tree), while string assembly is free and the server
# parses it in one call. Float literals use ``repr`` — the shortest
# round-trip form, parsed back to the bit-identical double.


#: Dimension of the `embeddings` fixture vectors (TESTDATA.md); baked into
#: the generated oracle SQL for the ANN/quantize/project registry entries.
EMB_DIM = 64


def _dim(vectors: DataFrame, vec_col: str) -> int | None:
    """Vector dimension probed from the first row carrying an actual
    vector; None on an empty input OR one whose vector column is
    all-NULL (callers either degrade to a typed empty result or raise a
    clear error — never a bare NoneType crash). The NULL filter matters:
    ``size(NULL)`` is NULL under Spark 4's ANSI default (-1 under
    legacy), and a NULL/-1 first row would turn a merely-degenerate
    corpus into an int(None) crash or a nonsense dimension."""
    row = (
        vectors.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") >= 0))
        .first()
    )
    return None if row is None else int(row["d"])


def _elem_sql(arr: str, i: int) -> str:
    """SQL for component i (0-based) of an array expression, as double.

    ``get()`` rather than ``[]``: under Spark 4's ANSI default, indexing
    past the end of an array THROWS (INVALID_ARRAY_INDEX) — ``get``
    returns NULL, matching DuckDB's out-of-range list access, so a
    length-mismatched vector degrades to a NULL score on both engines
    instead of failing the job (pinned by
    tests/test_edge_vectors_parity.py's short-array row)."""
    return f"CAST(get(({arr}), {i}) AS DOUBLE)"


def _dot_lit_sql(arr: str, vals: list[float]) -> str:
    """SQL dot product of an array expression with a literal vector —
    coefficients fold into the generated code as constants."""
    return "(" + " + ".join(
        f"{_elem_sql(arr, i)}*({float(v)!r})" for i, v in enumerate(vals)
    ) + ")"


def _dot_cols_sql(a: str, b: str, dim: int) -> str:
    """SQL dot product of two array expressions of known dimension."""
    return "(" + " + ".join(
        f"{_elem_sql(a, i)}*{_elem_sql(b, i)}" for i in range(dim)
    ) + ")"


def _norm_sql(arr: str, dim: int) -> str:
    return f"sqrt({_dot_cols_sql(arr, arr, dim)})"


def _norm_col(col_name: str, dim: int) -> Column:
    return F.expr(_norm_sql(col_name, dim))


def _pynorm(vals: list[float]) -> float:
    """Driver-side norm with the same left-to-right double accumulation
    as the engine expressions (Python floats are IEEE doubles)."""
    s = 0.0
    for v in vals:
        s = s + float(v) * float(v)
    return math.sqrt(s)


def _present_round(raw: Column, d: int = 4) -> Column:
    """Tie-safe ``d``-decimal presentation rounding of a similarity score.

    ``round(double, d)`` diverges across engines whenever the operand's
    shortest decimal repr is an exact tie at place d+1 (ROUNDING_AUDIT.md).
    The r10 audit deferred the float-cosine sites on a "ties unreachable
    except by adversarial construction" argument — but the adversarial
    corpus EXISTS (a quotient of float-derived doubles can land exactly on
    a tie double such as 0.07125, constructed in
    tests/test_fround_seam.py::test_adversarial_cosine_corpus), so r11
    converts the whole class to the floor form ``floor(x*10^d + 0.5)/10^d``
    — every step correctly rounded IEEE binary, bit-identical on any
    engine, ties included.

    NaN/Inf guard: Spark's ``floor(double)`` returns BIGINT (NaN -> 0,
    +/-Inf -> LONG extremes) while DuckDB's floor is double-preserving, so
    degenerate scores (NaN elements, overflow) pass through unrounded on
    both sides (:func:`_duck_f` is the oracle twin). Cosines are bounded
    by ~dim via Cauchy-Schwarz, so finite operands never overflow the
    BIGINT floor.

    Caller contract: ``raw`` is referenced four times — pass a cheap
    column REFERENCE, binding any expanded dot-product tree in a prior
    barrier-protected projection (the janino discipline of
    :func:`_with_nearest_centroid`), never the tree itself.
    """
    guard = F.isnan(raw) | (F.abs(raw) == F.lit(float("inf")))
    s = F.lit(float(10**d))
    return F.when(guard, raw).otherwise(
        F.floor(raw * s + F.lit(0.5)).cast("double") / s
    )


def _present_round_sql(x: str, d: int = 4) -> str:
    """SQL-text twin of :func:`_present_round` — identical expression
    (floor form, NaN/Inf passthrough, double literals), emitted as a
    string so batched ``selectExpr`` callers pay one parse round-trip
    for many rounded columns instead of a py4j call chain per column.
    ``x`` must be a cheap column reference (same caller contract)."""
    s = f"{float(10 ** d)!r}D"
    return (
        f"CASE WHEN (isnan({x}) OR (abs({x}) = CAST('Infinity' AS DOUBLE)))"
        f" THEN {x}"
        f" ELSE CAST(floor(({x} * {s}) + 0.5D) AS DOUBLE) / {s} END"
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays via higher-order functions
    (dimension-agnostic API form; the registered operators use the
    expanded codegen form instead — same accumulation order, same bits)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )

    def norm(c: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.zip_with(c, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    return dot / (norm(a) * norm(b))


def _query_cosine_topk(
    df: DataFrame,
    q: list[float],
    k: int,
    vec_col: str,
    id_col: str,
    norm_sql: str | None = None,
) -> DataFrame:
    """The canonical query-cosine ranking tail shared by every ANN
    variant: the tie-safe 4-decimal ``dot(vec, q) / (norm * |q|)``
    (:func:`_present_round`) ranked DESC with the vec_id tie-break and a
    top-k limit. One definition so a future
    rounding or tie-break change cannot silently diverge between the
    exact, single-probe, multi-probe and IVF paths (each has a
    generated oracle twin that must keep matching). ``norm_sql``
    overrides the row-norm expression (IVF passes its precomputed
    column)."""
    # Zero-norm guard: the denominator goes through nullif(.., 0) so a
    # zero vector scores NULL (cosine undefined) and sorts LAST under the
    # DESC ordering in BOTH engines — without it Spark yields IEEE NaN
    # (which sorts FIRST) while DuckDB's division-by-zero yields NULL; the
    # seam is pinned by tests/test_edge_vectors_parity.py. NaN elements
    # still propagate as NaN (nullif passes NaN through) and NULL /
    # short-array elements surface as NULL — identical both sides.
    sim = F.expr(
        f"{_dot_lit_sql(vec_col, q)}"
        f" / nullif(({norm_sql or _norm_sql(vec_col, len(q))})"
        f" * ({_pynorm(q)!r}), 0.0D)"
    )
    # Two-step projection: the expanded dot-product tree lands ONCE behind
    # the exact-zero nondeterminism barrier, and the tie-safe presentation
    # (_present_round, 4 references) reads the cheap column ref — without
    # the split CollapseProject would splice the 64-term tree into every
    # reference (see _with_nearest_centroid).
    barrier = F.monotonically_increasing_id() * F.lit(0)
    return (
        df.select(F.col(id_col), (sim + barrier).alias("_rcs"))
        .select(
            F.col(id_col), _present_round(F.col("_rcs"), 4).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k nearest by cosine to a literal query vector."""
    q = [float(v) for v in query_vec]
    return _query_cosine_topk(vectors, q, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# sign-random-projection LSH
# ---------------------------------------------------------------------------


#: (planes, dim) -> hyperplane coefficient matrix, resolved once per
#: session via one O(planes*dim) JVM job.
_PLANE_CACHE: dict[tuple[int, int], list[list[float]]] = {}


def _plane_matrix(
    spark: SparkSession | None, dim: int, planes: int
) -> list[list[float]]:
    """Deterministic hyperplane components in [-1, 1).

    Derived from ``xxhash64('plane:p:i')`` — the same values regenerate
    on any engine, so the "model" ships as code. Computed with the
    pure-Python XXH64 twin (``oracle_hash``, pinned bit-equal to Spark's
    hash in tests): ``float(signed_hash) / 2^63`` performs the identical
    IEEE long->double rounding and division Spark's
    ``CAST(xxhash64(..) AS DOUBLE)/2^63`` does, so literals embedded in
    queries, the driver-side bucket of a query point, and the generated
    DuckDB oracle all agree bitwise. No Spark job needed (``spark`` is
    accepted for API compatibility but unused).
    """
    key = (planes, dim)
    if key not in _PLANE_CACHE:
        from ser_etl_spark.oracle_hash import to_signed, xxh64_bytes

        denom = float(2**63)
        _PLANE_CACHE[key] = [
            [
                float(to_signed(xxh64_bytes(f"plane:{p}:{i}".encode()))) / denom
                for i in range(dim)
            ]
            for p in range(planes)
        ]
    return _PLANE_CACHE[key]


def _plane_proj_sql(coeffs: list[float], vec_col: str) -> str:
    """One hyperplane's expanded projection — the shared generator for
    the single- and multi-probe sign filters (left-to-right, matching
    ``_srp_bucket_py`` and the oracle bitwise)."""
    return " + ".join(
        f"{_elem_sql(vec_col, i)}*({c!r})" for i, c in enumerate(coeffs)
    )


def _srp_bucket_py(vec: list[float], matrix: list[list[float]]) -> int:
    """Driver-side bucket of a literal vector — same left-to-right IEEE
    accumulation as the SQL form, so the bits agree."""
    bucket = 0
    for p, coeffs in enumerate(matrix):
        proj = 0.0
        for i, c in enumerate(coeffs):
            proj = proj + float(vec[i]) * c
        if proj >= 0:
            bucket ^= 1 << p
    return bucket


def lsh_ann_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's SRP bucket.

    With ``planes`` bits the corpus shards into 2^planes buckets; the
    scan cost drops by that factor at some recall cost
    (:func:`lsh_ann_multiprobe` is the recall lever — it widens the
    probe to neighboring buckets). This scan-time form filters a full
    corpus read; the production path is :func:`lsh_ann_topk_indexed`
    over the :func:`build_ann_index` layout, where the same bucket
    filter prunes partition directories instead (bit-identical results,
    pinned by tests/test_plans.py).
    """
    q = [float(v) for v in query_vec]
    dim = len(q)
    matrix = _plane_matrix(vectors.sparkSession, dim, planes)
    qbucket = _srp_bucket_py(q, matrix)
    # Same-bucket-as-query filter, written as one sign-match conjunct per
    # plane instead of `_srp_bucket(vec) == qbucket`: the packed-bucket
    # form put all `planes` expanded dot products into ONE expression
    # tree, which blew janino's 64 KB method limit together with the
    # cosine projection and dropped the stage to interpreted execution.
    # Separate conjuncts are separate trees codegen compiles
    # independently. Bit semantics must match the packed CASE exactly:
    # a NaN projection satisfies `proj >= 0` in Spark (NaN sorts above
    # every value) -> bucket-bit 1 in both forms, and a NULL projection
    # (NULL element / short array) fell to the CASE's ELSE -> bit 0, so
    # the conjunct coalesces NULL to false rather than letting a
    # three-valued `~NULL` silently drop the row.
    cond = None
    for p, coeffs in enumerate(matrix):
        proj = F.expr(_plane_proj_sql(coeffs, vec_col))
        bit = F.coalesce(proj >= 0, F.lit(False))
        this = bit if (qbucket >> p) & 1 else ~bit
        cond = this if cond is None else cond & this
    return _query_cosine_topk(vectors.filter(cond), q, k, vec_col, id_col)


def lsh_ann_multiprobe(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 4,
    max_mismatches: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe SRP ANN: score vectors whose bucket differs from the
    query's in at most ``max_mismatches`` sign bits.

    The standard recall lever for hash-bucketed ANN (Lv et al.'s
    multi-probe LSH): near neighbors that land just across one
    hyperplane are the dominant misses of single-probe, so probing the
    ``planes`` Hamming-1 neighbor buckets too recovers most of them
    while still scanning only ``(1 + planes)/2^planes`` of the corpus
    (~31% here vs ~6% single-probe — recall/cost dial, not free lunch).

    Plan shape: the per-plane sign projections land as separate
    barrier-protected columns (the janino discipline of
    ``_with_nearest_centroid``); the probe filter is then one small
    expression counting sign matches over those column refs, and the
    cosine scoring/top-k is identical to :func:`lsh_ann_topk`. NULL
    projections coalesce to bucket-bit 0 and NaN satisfies ``>= 0``
    (bit 1) — the same bit semantics as the single-probe form and the
    generated oracle.
    """
    q = [float(v) for v in query_vec]
    dim = len(q)
    matrix = _plane_matrix(vectors.sparkSession, dim, planes)
    qbucket = _srp_bucket_py(q, matrix)
    barrier = F.monotonically_increasing_id() * F.lit(0)
    proj_cols = [
        (F.expr(_plane_proj_sql(coeffs, vec_col)) + barrier).alias(f"_pl{p}")
        for p, coeffs in enumerate(matrix)
    ]
    scored = vectors.select(F.col(id_col), F.col(vec_col), *proj_cols)
    matches = None
    for p in range(planes):
        bit = F.coalesce(F.col(f"_pl{p}") >= 0, F.lit(False))
        qbit = bool((qbucket >> p) & 1)
        hit = F.when(bit == F.lit(qbit), 1).otherwise(0)
        matches = hit if matches is None else matches + hit
    return _query_cosine_topk(
        scored.filter(matches >= planes - max_mismatches), q, k, vec_col, id_col
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.35,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse blocks.

    Blocks (IVF-cluster stand-in: the fixture's ``label``) bound the
    pair space; within a block, pairs are scored exactly. At 100 TB the
    block id comes from a k-means coarse quantizer and the same plan
    applies unchanged.
    """
    dim = _dim(vectors, vec_col)
    if dim is None:  # empty corpus: no pairs, typed empty result
        return vectors.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.col(block_col).alias("label"),
            F.lit(0.0).alias("cos_sim"),
        ).limit(0)
    p = vectors.select(
        F.col(block_col),
        F.col(id_col),
        F.col(vec_col),
        _norm_col(vec_col, dim).alias("_nv"),
    )
    # Spread the probe side across the cluster BEFORE the broadcast join:
    # a small-file input arrives as one partition, and a broadcast join
    # inherits the probe side's parallelism — without this the whole
    # quadratic pair evaluation runs in a single task. No-op on a
    # well-partitioned input, and row-hash (not block) distribution keeps
    # skewed blocks spread over many tasks.
    lhs = spread_small_input(
        p.select(
            F.col(block_col).alias("blk"),
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("_nv").alias("na"),
        )
    )
    rhs = p.select(
        F.col(block_col).alias("blk_b"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_nv").alias("nb"),
    )
    # per pair only the dot remains; norms were computed once per row
    sim = F.expr(f"{_dot_cols_sql('va', 'vb', dim)} / (na * nb)")
    barrier = F.monotonically_increasing_id() * F.lit(0)
    return (
        lhs.join(
            rhs,
            (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a",
            "id_b",
            F.col("blk").alias("label"),
            (sim + barrier).alias("_rcs"),
        )
        .select(
            "id_a",
            "id_b",
            "label",
            _present_round(F.col("_rcs"), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer -> per-list exact search
# ---------------------------------------------------------------------------

#: Number of coarse-quantizer centroids for the IVF stand-in.
IVF_CENTROIDS = 8

#: Lloyd iterations of the quantizer training job (``kmeans_train``).
#: Declared here (not with the training section) because the generated
#: oracles of the whole index family re-derive the trained centroids at
#: module-import time via ``_train_cte_blocks``.
KMEANS_TRAIN_ITERS = 3


def ivf_centroids(
    vectors: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer centroids: the vectors with the
    ``num_centroids`` lowest ids.

    These are the SEEDS: the real training job is :func:`kmeans_train`,
    which iterates Lloyd steps from exactly these seeds and persists the
    result via :func:`build_trained_quantizer`. Since r11 the ENTIRE
    index family (build/layout/assign/probe/rescore/SemDeDup) serves
    from that trained artifact; the seeds remain as the training start,
    the pre-training fallback of the direct APIs, and the "before" side
    of :func:`ivf_list_balance_trained`. Either way the quantizer is a
    tiny centroid table collected to the driver and shipped to
    executors — collecting K rows is how real IVF indexes distribute
    their quantizer; it is O(K), not O(data).
    """
    rows = (
        vectors.filter(F.col(id_col) < num_centroids)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    # A centroid row with a NULL vector stays in the quantizer as a
    # NULL centroid (it scores NULL against everything — exactly what
    # the oracle's CROSS JOIN produces for that cid); materializing it
    # as float(None) crashed the driver on degenerate corpora (r8b
    # review finding).
    return [
        (
            int(r[id_col]),
            None if r[vec_col] is None else [float(x) for x in r[vec_col]],
        )
        for r in rows
    ]


def _with_nearest_centroid(
    df: DataFrame,
    vec: str,
    vec_norm: str,
    centroids: list[tuple[int, list[float]]],
    out: str = "_cid",
    keep_best: str | None = None,
) -> DataFrame:
    """Append the argmax-cosine centroid id (ties to lowest cid) as
    column ``out``; every per-centroid similarity is quantized to 4
    decimals first (tie-safe :func:`_present_round`) so the argmax is
    bit-reproducible cross-engine.

    Codegen shape matters here: the round-4 form was ONE
    ``array_max(array(named_struct(...) x K))`` expression — K expanded
    64-term dot products in a single tree — which exceeds janino's 64 KB
    per-method limit, so the whole stage silently fell back to
    interpreted execution AND paid a failed multi-second compile per job
    (ivf_ann_topk benched ~3.8 s on 2000 rows). Instead the K rounded
    cosines land as SEPARATE projection columns (separate expression
    trees, which codegen splits into separate compiled methods), and the
    argmax reads those columns several times (greatest + per-centroid
    tie-break) — the multiple references keep CollapseProject from
    inlining the expensive trees back into one giant expression.

    Precise status (pinned by tests/test_plans.py's compile guard):
    ivf_assign's stage compiles cleanly. The SCAN-time ivf_ann_topk
    fuses this argmax WITH the final query-cosine projection into one
    whole-stage ``processNext`` that still crosses the 64 KB limit —
    kept as the test's positive control. The REGISTRY ivf_ann_topk has
    read the write-time layout since r6 (``ivf_ann_topk_indexed``):
    centroid ids and norms are precomputed at build, so the probe stage
    is just the query-cosine projection and compiles clean.
    """
    cs_cols: list[tuple[int, str]] = []
    exprs = []
    for cid, cvec in centroids:
        name = f"_csx{cid}"
        # nullif: a zero-norm row scores NULL against every centroid, so
        # greatest/when/least below all yield NULL and the row's centroid
        # id is NULL (no nearest list) — matching the oracle's CASE and
        # the NULL semantics of _query_cosine_topk. A NULL centroid
        # (degenerate quantizer row) scores constant NULL — greatest and
        # the when-chain skip it, same as the oracle's NULL cs.
        if cvec is None:
            cs = "CAST(NULL AS DOUBLE)"
        else:
            cs = (
                f"{_dot_lit_sql(vec, cvec)}"
                f" / nullif(({vec_norm}) * ({_pynorm(cvec)!r}), 0.0D)"
            )
        cs_cols.append((cid, name))
        # `+ monotonically_increasing_id()*0` adds an EXACT integer zero
        # (value unchanged) but marks the column nondeterministic, which
        # stops CollapseProject / PushDownPredicate from splicing the K
        # expanded dot products into every downstream reference — without
        # the barrier the optimizer inlined each 64-term tree ~9x into
        # one 620 KB filter expression (14k element references) and the
        # query ran 6x SLOWER than the form this replaced.
        exprs.append(
            f"({cs}) + monotonically_increasing_id() * 0 AS _csr{cid}"
        )
    # Raw expanded cosines land first (one barrier-protected column per
    # centroid), THEN the tie-safe 4-decimal presentation reads the cheap
    # refs — the 64-term trees appear once each no matter how many times
    # the argmax below references the quantized columns. Both projections
    # are assembled as ONE selectExpr string each (r14): the K expanded
    # trees cost a py4j round-trip + an analyzer re-walk PER CALL in the
    # per-centroid Column form — measured ~0.4 s of driver time per
    # E-step build at K=8, dim=64 — while the server parses one batched
    # string in a single call (the minhash_signatures discipline).
    # Expressions are unchanged: same barrier, same floor-rounding.
    scored = df.selectExpr("*", *exprs).selectExpr(
        "*",
        *[
            _present_round_sql(f"_csr{cid}", 4) + f" AS {name}"
            for cid, name in cs_cols
        ],
    ).drop(*[f"_csr{cid}" for cid, _ in cs_cols])
    # greatest/least require >= 2 args; a degenerate 1-centroid quantizer
    # (e.g. a 1-row corpus, caught by the r6 one-row probe) reduces to
    # the single column / single when-branch directly.
    cs_refs = [F.col(n) for _, n in cs_cols]
    best = cs_refs[0] if len(cs_refs) == 1 else F.greatest(*cs_refs)
    whens = [F.when(F.col(n) == best, F.lit(cid)) for cid, n in cs_cols]
    cid_col = whens[0] if len(whens) == 1 else F.least(*whens)
    # keep_best (r13): also expose the WINNING quantized cosine — the
    # prototypicality score — as a column; both expressions read the
    # same cheap quantized refs, so this costs nothing extra.
    extra = [best.alias(keep_best)] if keep_best else []
    return scored.select("*", cid_col.alias(out), *extra).drop(
        *[n for _, n in cs_cols]
    )


def ivf_assign(
    vectors: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float] | None]] | None = None,
) -> DataFrame:
    """IVF build step: assign every vector to its nearest centroid list.

    One narrow scan — K dot products per row, no shuffle, no Python. At
    100 TB this is the embarrassingly-parallel "index build" pass; the
    output would be written partitioned by ``centroid_id`` so each
    inverted list is a contiguous partition for the probe step.

    ``centroids`` injects the quantizer (the registry query passes the
    TRAINED artifact via :func:`ensure_trained_quantizer` — r11 migrated
    the whole index family off the first-K seed stand-in); default None
    derives the seeds, the pre-training fallback for direct API use.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(vectors, num_centroids, vec_col, id_col)
    )
    if not cents:  # empty corpus: nothing to assign, typed empty result
        return vectors.select(
            F.col(id_col), F.lit(-1).alias("centroid_id")
        ).limit(0)
    dim = next((len(v) for _, v in cents if v is not None), None)
    if dim is None:
        # centroid rows exist but every one is vector-less: each row
        # scores NULL against each centroid, so the oracle assigns the
        # -1 sentinel to EVERY row — an empty result here would drop
        # rows the oracle keeps (r8b review finding).
        return vectors.select(
            F.col(id_col), F.lit(-1).alias("centroid_id")
        )
    p = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        _norm_col(vec_col, dim).alias("_nv"),
    )
    # -1 sentinel = "no assignable list": a degenerate vector (zero-norm,
    # NULL element, short array) scores NULL against every centroid. A
    # NULL in the output's BIGINT column would make the driver's pandas
    # rendering float the whole column, so the sentinel keeps the dtype
    # integral in both engines (oracle mirrors it).
    return _with_nearest_centroid(p, vec_col, "_nv", cents, "centroid_id").select(
        F.col(id_col),
        F.coalesce(F.col("centroid_id"), F.lit(-1)).alias("centroid_id"),
    )


def _ivf_probe_ids(
    q: list[float], cents: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """Driver-side probe choice over O(K) centroids — the bit-exact twin
    of the oracle's ``ORDER BY cos DESC, cid ASC`` under DuckDB's default
    NULLS LAST: tier 0 = NaN score (sorts first, NaN is greatest), tier 1
    = real numbers by descending cosine, tier 2 = NULL score (zero-norm,
    NULL-element or length-mismatched centroid). The cosine uses
    left-to-right accumulation + ``math.sqrt`` — the exact IEEE operation
    sequence of the expanded SQL (``x ** 0.5`` is libm pow, not
    guaranteed identical to SQL sqrt; raw unrounded ordering avoids any
    Python-vs-SQL rounding seam)."""

    def key(cv: tuple[int, list[float]]) -> tuple[int, float, int]:
        cid, vec = cv
        # SQL semantics: any NULL element (out-of-range access on a short
        # list included) or a NULL centroid nulls the whole sum -> NULL
        # score.
        if vec is None or len(vec) < len(q) or any(x is None for x in vec):
            return (2, 0.0, cid)
        dot, na, nb = 0.0, 0.0, 0.0
        for x, y in zip(q, vec):
            y = float(y)
            dot = dot + x * y
            na = na + x * x
            nb = nb + y * y
        denom = math.sqrt(na) * math.sqrt(nb)
        if denom == 0.0:
            return (2, 0.0, cid)  # nullif -> NULL, sorts last
        c = dot / denom
        if math.isnan(c):
            return (0, 0.0, cid)  # NaN sorts above every number
        return (1, -c, cid)

    return [cid for cid, _ in sorted(cents, key=key)[:nprobe]]


def ivf_ann_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float] | None]] | None = None,
) -> DataFrame:
    """Approximate top-k: exact search over the query's ``nprobe``
    nearest inverted lists only.

    Probing more lists trades scan cost for recall (nprobe=K degenerates
    to brute force). With centroid-partitioned storage the filter below
    becomes partition pruning — only ``nprobe`` of ``num_centroids``
    partitions are read at all. ``centroids`` injects the quantizer
    (pass an index's frozen table to replay its probes scan-time);
    default derives the first-K seeds.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(vectors, num_centroids, vec_col, id_col)
    )
    q = [float(v) for v in query_vec]
    probes = _ivf_probe_ids(q, cents, nprobe)
    dim = len(q)
    p = vectors.select(
        F.col(id_col), F.col(vec_col), _norm_col(vec_col, dim).alias("_nv")
    )
    return _query_cosine_topk(
        _with_nearest_centroid(p, vec_col, "_nv", cents, "_cid")
        .filter(F.col("_cid").isin(probes)),
        q, k, vec_col, id_col, norm_sql="_nv",
    )


# ---------------------------------------------------------------------------
# write-time ANN layout: SRP bucket + IVF list as partition columns
# ---------------------------------------------------------------------------

#: default SRP plane count for the persisted layout (16 buckets)
ANN_PLANES = 4

#: bump to invalidate previously materialized index directories
#: (v2: int8 qvec + scale columns persisted inside the partitions;
#: v3: TRAINED coarse quantizer — centroid lists come from the persisted
#: 3-iteration k-means artifact, and the frozen quantizer table itself
#: rides inside the index at ``_quantizer/``)
ANN_INDEX_VERSION = 3

#: schema of every persisted quantizer table (the trained artifact and
#: the frozen copy inside each index)
_QUANTIZER_SCHEMA = "centroid_id int, centroid array<double>"


def write_quantizer_table(
    spark: SparkSession,
    cents: list[tuple[int, list[float] | None]],
    out_dir: str,
) -> None:
    """Persist a quantizer as K ``(centroid_id, centroid)`` rows — one
    tiny file (coalesce(1)): the artifact is O(K*dim) by construction and
    a single footer read resolves it."""
    df = spark.createDataFrame(list(cents), _QUANTIZER_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(out_dir)


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Materialize the embeddings table partitioned by its SRP bucket and
    IVF centroid id — the write-time layout that turns every ANN probe
    from a corpus scan into *partition pruning*.

    This is the Spark analog of the reference's secondary-index intent
    (``/root/reference/etl-service/src/sync.py:90-100``) applied to
    vector search, and the same layout-replaces-index move
    ``etl/build.py`` makes for A8/A9: pay one pass at write time
    (projections + centroid argmax, both embarrassingly parallel; one
    shuffle to co-locate each partition's rows into one writer task), and
    a probe then reads only the matching ``srp_bucket=…/centroid_id=…``
    directories — at 100 TB, 1/2^planes (resp. nprobe/K) of the corpus,
    with the pruning visible in the plan (PartitionFilters, asserted in
    tests/test_plans.py).

    Bit-compatibility: the bucket bits use the exact per-plane
    projection + NULL→0 / NaN→1 semantics of the scan-time filter in
    :func:`lsh_ann_topk`, the centroid id reuses
    ``_with_nearest_centroid``, and the persisted ``vnorm`` is the same
    expanded norm expression — doubles round-trip parquet losslessly, so
    indexed and scan-time probes return identical bits.

    v3 (r11): the coarse quantizer is the TRAINED artifact
    (:func:`ensure_trained_quantizer` — 3 Lloyd iterations from the
    deterministic seeds) instead of the first-K stand-in, and the frozen
    centroid table is persisted INSIDE the index at ``_quantizer/`` so
    probes and upserts read the quantizer the partitions were actually
    laid out with — never the live corpus (the drift rule of
    :func:`ivf_ann_topk_indexed`).
    """
    from ser_etl_spark.sources.parquet import table_path

    qdir = ensure_trained_quantizer(spark, sf_dir, num_centroids)
    cents = trained_quantizer_centroids(spark, qdir)
    laid = ann_layout_frame(
        load_table(spark, sf_dir, "embeddings"), planes, num_centroids,
        vec_col, id_col, centroids=cents,
    )
    (
        laid.write.mode("overwrite")
        .partitionBy("srp_bucket", "centroid_id")
        .parquet(out_dir)
    )
    # the frozen quantizer rides inside the index (underscore dir: Spark's
    # listing ignores it, so probes over the partition tree never see it)
    write_quantizer_table(spark, cents, os.path.join(out_dir, "_quantizer"))
    # freshness manifest (ADVICE r8): record the source state this index
    # reflects, so published-first resolution can refuse a stale copy
    write_manifest(
        out_dir, table_path(sf_dir, "embeddings"), ANN_INDEX_VERSION
    )
    return out_dir


def ann_layout_frame(
    emb: DataFrame,
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The ANN layout as a DataFrame: the input plus ``vnorm``,
    ``srp_bucket`` and ``centroid_id``, repartitioned for a
    ``partitionBy(srp_bucket, centroid_id)`` write. Shared by
    :func:`build_ann_index` and ``etl.build.build_snapshot`` (a
    ``TableLayout(ann_index=True)`` materializes this next to the table
    during the snapshot build — the production write-time path).

    ``centroids`` freezes the coarse quantizer: an incremental upsert
    (:func:`upsert_ann_index`) must lay out NEW vectors with the
    centroids the existing index was built with, or assignments drift
    between old and new partitions. Every production path passes it
    (the v3 build paths pass the TRAINED quantizer; upserts pass the
    index's frozen ``_quantizer`` copy); default None derives the
    first-K seeds — the pre-training stand-in, kept for direct API use
    on corpora without a trained artifact."""
    dim = _dim(emb, vec_col)
    if dim is None:
        raise ValueError(
            "ann_layout_frame: cannot lay out an empty embeddings table "
            "(no vector to probe the dimension from)"
        )
    matrix = _plane_matrix(emb.sparkSession, dim, planes)
    # Separate barrier-protected projection columns per plane (the janino
    # discipline of _with_nearest_centroid / lsh_ann_multiprobe).
    barrier = F.monotonically_increasing_id() * F.lit(0)
    proj_cols = [
        (F.expr(_plane_proj_sql(coeffs, vec_col)) + barrier).alias(f"_pl{p}")
        for p, coeffs in enumerate(matrix)
    ]
    # The int8 artifact rides inside the index partitions: qvec + scale are
    # the proven `quantize_embeddings` expressions, persisted at write time
    # so the two-stage rescore's cheap stage READS int8 bytes instead of
    # re-quantizing the float corpus per query (directive-r7 #1). `_mx`
    # carries the same nondeterminism barrier as the plane columns —
    # without it CollapseProject splices the 64-term greatest chain into
    # all 64 qvec components (the 4096-term blowup embedding_quantize's
    # unnested twin documents).
    p = emb.select(
        "*",
        _norm_col(vec_col, dim).alias("vnorm"),
        *proj_cols,
        (F.expr(_maxabs_sql(vec_col, dim)) + barrier).alias("_mx"),
    )
    bucket = None
    for i in range(planes):
        bit = F.when(
            F.coalesce(F.col(f"_pl{i}") >= 0, F.lit(False)), F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    # try_cast, not CAST: a NaN/Inf component (adversarial corpus row)
    # quantizes to NULL instead of failing the whole build under Spark 4's
    # ANSI default — one poisoned vector must never kill a 100 TB index
    # build. NULL components make the cheap-stage score NULL (sorts last),
    # mirroring the cosine family's degenerate-vector semantics; DuckDB's
    # TRY_CAST replays it (pinned by tests/test_edge_vectors_parity.py).
    qvec_sql = "array(" + ", ".join(
        f"try_cast(round({_elem_sql(vec_col, i)} * 127.0 / _mx) AS INT)"
        for i in range(dim)
    ) + ")"
    p = (
        p.withColumn("srp_bucket", bucket)
        .withColumn("qvec", F.expr(qvec_sql))
        .withColumn("scale", F.col("_mx") / F.lit(127.0))
        .drop("_mx", *[f"_pl{i}" for i in range(planes)])
    )
    # The repartition serves two purposes, placed BETWEEN the plane stage
    # and the centroid stage deliberately:
    # 1. co-locate each bucket into one writer task — without it every
    #    input task writes a file into every partition directory, the
    #    small-file explosion that kills object-store listings at scale;
    # 2. its Exchange is a whole-stage-codegen boundary, so the 4 plane
    #    trees + norm (the compiling lsh_ann_multiprobe shape) and the 8
    #    centroid trees + argmax (the compiling ivf_assign shape) land in
    #    SEPARATE generated methods — fused into one stage their combined
    #    straight-line code crosses janino's 64 KB limit and the whole
    #    build silently drops to interpreted execution (pinned compiled
    #    by tests/test_plans.py's subprocess stderr capture).
    p = p.repartition(F.col("srp_bucket"))
    cents = centroids or ivf_centroids(emb, num_centroids, vec_col, id_col)
    return _with_nearest_centroid(p, vec_col, "vnorm", cents, "centroid_id")


#: data columns the v2 index must carry for every probe family (the
#: partition columns srp_bucket/centroid_id are directory-encoded and
#: never appear in the part-file footers)
_INDEX_REQUIRED_COLS = frozenset({"vnorm", "qvec", "scale"})


def _index_usable(path: str) -> bool:
    """True when ``path`` holds a complete, current-version ANN index:
    committed (_SUCCESS), partitioned, carrying the v2 data columns AND
    the v3 frozen-quantizer table (one parquet-footer read — no data
    scan)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    if not os.path.exists(os.path.join(path, "_quantizer", "_SUCCESS")):
        return False
    import glob

    parts = glob.glob(os.path.join(path, "srp_bucket=*", "*", "*.parquet"))
    if not parts:
        return False
    try:
        import pyarrow.parquet as pq

        names = set(pq.read_schema(parts[0]).names)
    except Exception:
        return False
    return _INDEX_REQUIRED_COLS.issubset(names)


def ensure_ann_index(
    spark: SparkSession,
    sf_dir: str,
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
) -> str:
    """Return the path of the materialized ANN layout for ``sf_dir``,
    preferring the PUBLISHED index and building an on-demand copy only
    as a fallback.

    Resolution order (directive-r7 #3):

    1. ``<sf_dir>/embeddings_ann_index`` — the artifact
       ``build_snapshot(TableLayout(ann_index=True))`` materializes next
       to the table (``etl/build.py``), including any
       :func:`upsert_ann_index` deltas appended since. Serving reads the
       same index the ETL publishes; zero per-query build work. Used
       only for the default (planes, centroids) geometry the build
       writes, and only when complete, current-version
       (:func:`_index_usable` — one footer read) AND FRESH: the
       ``_manifest.json`` digest recorded at build/upsert time must
       still match the live source table, so a corpus rewritten or
       grown without a matching upsert can never serve stale neighbors
       (ADVICE r8); structural checks alone would.
    2. The per-user tmp cache, keyed by a recursive source fingerprint
       (path + size + mtime of every part file), so a changed corpus
       rebuilds; a concurrent builder losing the rename race simply
       discards its copy. The cache root is scoped to the invoking user
       (uid suffix + mode 0700) — a world-shared fixed path could be
       pre-created/poisoned by another local user (ADVICE r7).
    """
    from ser_etl_spark.sources.parquet import table_path

    src = table_path(sf_dir, "embeddings")
    return resolve_artifact(
        published=os.path.join(sf_dir, "embeddings_ann_index"),
        source_path=src,
        version=ANN_INDEX_VERSION,
        family="ann_index",
        key_extra=f":{planes}:{num_centroids}",
        # the snapshot only ever publishes the default geometry
        usable=lambda p: (
            planes == ANN_PLANES
            and num_centroids == IVF_CENTROIDS
            and _index_usable(p)
        ),
        build_fn=lambda tmp: build_ann_index(
            spark, sf_dir, tmp, planes, num_centroids
        ),
    )


def index_centroids(
    spark: SparkSession,
    idx_dir: str,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float] | None]]:
    """The frozen coarse quantizer of an existing index, read back from
    the quantizer table persisted INSIDE the index (``_quantizer/``,
    written at build time — O(K) rows collected, the same cost class as
    shipping a trained quantizer). Reading from the index rather than
    the source table or the trained-quantizer artifact means probes and
    upserts always use the exact centroids the partitions were laid out
    with, and maintenance never depends on the original corpus snapshot
    (or a since-retrained artifact) still being around.

    ``num_centroids``/``vec_col``/``id_col`` are retained for API
    compatibility; the quantizer table defines its own geometry."""
    del num_centroids, vec_col, id_col
    return trained_quantizer_centroids(
        spark, os.path.join(idx_dir, "_quantizer")
    )


def upsert_ann_index(
    spark: SparkSession,
    idx_dir: str,
    new_vectors: DataFrame,
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    source_path: str | None = None,
) -> None:
    """Incremental index maintenance: lay out only the NEW vectors —
    with the index's frozen quantizer — and append their files into the
    matching partition directories.

    This is the A2/A16 incremental-sync story applied to the vector
    index: the corpus grows by a delta, so only the delta pays the
    layout cost (projections + centroid argmax + one small shuffle),
    while probes keep pruning the same partition scheme — new files
    simply join their directories. Append-only by design: replacing a
    changed vector is a snapshot-rebuild concern (``build_snapshot`` +
    ``publish_snapshot``'s atomic repoint), not an in-place file edit —
    at 100 TB an in-place read-modify-write of live index partitions is
    exactly the non-atomic mutation the manifest-resolved snapshot
    model exists to avoid.

    Bit-compatibility: the frozen centroids and the data-independent
    hyperplanes make the delta's bucket/centroid assignments identical
    to what a full rebuild over the grown corpus would produce, so
    upserted and rebuilt indexes answer probes with the same rows
    (pinned by tests/test_llm_ops.py).
    """
    cents = index_centroids(spark, idx_dir, num_centroids, vec_col, id_col)
    laid = ann_layout_frame(
        new_vectors, planes, num_centroids, vec_col, id_col, centroids=cents
    )
    (
        laid.write.mode("append")
        .partitionBy("srp_bucket", "centroid_id")
        .parquet(idx_dir)
    )
    # ``source_path`` = the source table AS GROWN by this delta: an
    # incremental sync appends the delta to the table then upserts the
    # index, and refreshing the manifest here is what keeps the
    # published copy servable (manifest_fresh) after the cycle. Omitted
    # when the delta didn't come from a tracked table rewrite — the
    # existing manifest still describes the unchanged source.
    if source_path is not None:
        write_manifest(idx_dir, source_path, ANN_INDEX_VERSION)


def _hamming_ball(bucket: int, planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of ``bucket``."""
    from itertools import combinations

    out = {bucket}
    for r in range(1, radius + 1):
        for bits in combinations(range(planes), r):
            b = bucket
            for p in bits:
                b ^= 1 << p
            out.add(b)
    return sorted(out)


def lsh_ann_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float],
    k: int = 10,
    planes: int = ANN_PLANES,
    max_mismatches: int = 0,
) -> DataFrame:
    """SRP ANN over the persisted layout: the probe filter lands on the
    ``srp_bucket`` partition column, so only the matching directories are
    read at all (``max_mismatches`` > 0 widens to the Hamming ball — the
    multi-probe recall lever). Identical results to the scan-time
    :func:`lsh_ann_topk` / :func:`lsh_ann_multiprobe`, minus the corpus
    scan."""
    q = [float(v) for v in query_vec]
    idx = ensure_ann_index(spark, sf_dir, planes=planes)
    matrix = _plane_matrix(spark, len(q), planes)
    qb = _srp_bucket_py(q, matrix)
    df = spark.read.parquet(idx).filter(
        F.col("srp_bucket").isin(_hamming_ball(qb, planes, max_mismatches))
    )
    return _query_cosine_topk(df, q, k, "embedding", "vec_id", norm_sql="vnorm")


def ivf_ann_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """IVF ANN over the persisted layout: the ``centroid_id IN probes``
    filter prunes partition directories, so only ``nprobe`` of
    ``num_centroids`` inverted lists are read — the plan shape
    :func:`ivf_ann_topk`'s docstring promises, realized. Identical
    results to the scan-time form.

    Probe selection reads the quantizer FROM THE INDEX
    (:func:`index_centroids`) — the index's frozen centroids are the
    ground truth for its own partition assignments; deriving probes from
    the source table instead can drift from the persisted layout after
    an :func:`upsert_ann_index` delta or any source/index skew and
    silently miss true neighbors (directive-r7 #4 / ADVICE r7)."""
    q = [float(v) for v in query_vec]
    idx = ensure_ann_index(spark, sf_dir, num_centroids=num_centroids)
    cents = index_centroids(spark, idx, num_centroids)
    probes = _ivf_probe_ids(q, cents, nprobe)
    df = spark.read.parquet(idx).filter(F.col("centroid_id").isin(probes))
    return _query_cosine_topk(df, q, k, "embedding", "vec_id", norm_sql="vnorm")


# ---------------------------------------------------------------------------
# embedding aggregation: per-label centroid components
# ---------------------------------------------------------------------------


def embedding_centroids(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean-vector components: ``(group, dim, centroid_val)``.

    ``posexplode`` the embedding, then one hash aggregate on
    ``(group, dim)`` — map-side partial sums make the shuffle carry one
    row per group-dim, not per vector.

    Determinism: double addition is order-sensitive, and decimal casts
    of doubles differ across engines in the last ulp (DuckDB converts
    via an inexact ``x * 10^scale`` in double space). So components are
    quantized to 1e-9 with pure IEEE double ops (identical everywhere),
    summed exactly as BIGINT (associative — partitioning can't change
    the result), and divided back out once at the end.
    """
    exploded = vectors.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    )
    q = F.round(F.col("_x").cast("double") * F.lit(1.0e9), 0).cast("long")
    return (
        exploded.groupBy("grp", "dim")
        .agg(
            (
                F.sum(q).cast("double") / (F.lit(1.0e9) * F.count("_x"))
            ).alias("centroid_val")
        )
        .select(F.col("grp").alias(group_col), "dim", "centroid_val")
        .orderBy(group_col, "dim")
    )


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------


#: Sentinel: the vec_id=0 row EXISTS but its embedding is NULL. Distinct
#: from "no row" (None) because the oracles distinguish them too — an
#: empty query CTE yields zero rows, while a NULL query vector scores
#: NULL against every candidate (rows survive under NULLS-LAST ranking
#: in the exact/LSH family, and vanish under ``cid IN probes`` NULL
#: propagation in the IVF/rescore family). r8b review finding.
_NULL_QUERY = object()


def _query_vector(spark: SparkSession, sf_dir: str):
    """The corpus vector with vec_id=0 serves as the test query point;
    None when the corpus (or that row) is absent — a query point derived
    FROM an empty corpus does not exist, so the ANN builders return a
    typed empty result, matching the oracles (whose query CTE is empty
    and whose final SELECT therefore yields zero rows). A present row
    whose vector is NULL returns :data:`_NULL_QUERY` (see there). A NULL
    *element* inside an otherwise-present query vector is out of
    contract (the fixture/corpus contract keeps vec_id 0 well-formed)."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    if row is None:
        return None
    if row["embedding"] is None:
        return _NULL_QUERY
    return list(row["embedding"])


def _empty_topk(spark: SparkSession) -> DataFrame:
    """Typed empty (vec_id, cos_sim) result for query-less ANN probes."""
    return spark.createDataFrame([], "vec_id bigint, cos_sim double")


def _null_query_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    max_mismatches: int | None = None,
) -> DataFrame:
    """Top-k for a present-but-NULL query vector: every cosine is NULL
    (NULLS LAST on both engines), so ranking falls to the vec_id
    tie-break — but the CANDIDATE SET is still the bucket filter, with
    the query bucket = 0 (every SRP projection of a NULL vector is NULL
    -> bit 0 on both engines). ``max_mismatches`` None = exact scan (no
    filter); 0 = single probe (row bucket must be 0); >0 = the Hamming
    ball around bucket 0 (row bucket popcount <= it). Computed scan-time
    — a corpus whose query row is NULL may have no buildable index at
    all (the all-NULL corpus), and this is a degenerate-input path where
    the plan shape is irrelevant and only oracle parity matters."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb
    dim = _dim(emb, "embedding")
    if max_mismatches is not None and dim is not None:
        matrix = _plane_matrix(spark, dim, ANN_PLANES)
        barrier = F.monotonically_increasing_id() * F.lit(0)
        bit_cols = [
            (
                F.coalesce(
                    F.expr(_plane_proj_sql(coeffs, "embedding")) >= 0,
                    F.lit(False),
                ).cast("int")
                + barrier.cast("int")
            ).alias(f"_qb{p}")
            for p, coeffs in enumerate(matrix)
        ]
        pop = None
        for p in range(len(matrix)):
            c = F.col(f"_qb{p}")
            pop = c if pop is None else pop + c
        cand = (
            emb.select("vec_id", *bit_cols)
            .filter(pop <= max_mismatches)
        )
    return (
        cand.select(
            F.col("vec_id"),
            F.lit(None).cast("double").alias("cos_sim"),
        )
        .orderBy(F.col("vec_id").asc())
        .limit(k)
    )


def _duck_elem(arr: str, i: int) -> str:
    """DuckDB component i (0-based like the Spark side; lists 1-based)."""
    return f"CAST(({arr})[{i + 1}] AS DOUBLE)"


def _duck_dot(a: str, b: str, dim: int) -> str:
    """Left-to-right IEEE dot product as a folded list expression.

    ``list_reduce`` seeds the fold with the FIRST term (no 0.0 init)
    and accumulates strictly left-to-right, so the result is
    bit-identical to the Spark side's unrolled ``a[0]*b[0] + a[1]*b[1]
    + ...`` chain — including NULL propagation (any NULL/out-of-bounds
    component nulls the whole fold on both engines) and NaN/Inf.
    The fold REPLACED the textual per-dim unroll in r11: each unrolled
    cosine was ~17 KB of SQL and the index-family oracles spliced dozens
    of them, driving DuckDB's expression allocator past the kernel's
    ``vm.max_map_count`` (65 530 maps) when the Spark JVM shares the
    process — the driver's own harness topology (bad_alloc at 16 KB
    with 125 GB free; pinned by tests/test_oracle_sql_budget.py)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"_di -> CAST(({a})[_di] AS DOUBLE)*CAST(({b})[_di] AS DOUBLE)), "
        f"(_dx, _dy) -> _dx + _dy)"
    )


def _duck_norm(arr: str, dim: int) -> str:
    return f"sqrt({_duck_dot(arr, arr, dim)})"


def _duck_f(x: str, d: int = 4) -> str:
    """DuckDB twin of :func:`_present_round`: tie-safe floor-form
    ``d``-decimal rounding with the NaN/Inf pass-through (DuckDB's floor
    is double-preserving where Spark's returns BIGINT — the guard keeps
    degenerate scores identical on both sides). The operand string is
    repeated — fine for SQL text, which has no codegen size limit."""
    return (
        f"(CASE WHEN isnan({x}) OR isinf({x}) THEN ({x})"
        f" ELSE CAST(floor(({x}) * 1e{d} + 0.5) AS DOUBLE) / 1e{d} END)"
    )


def _duck_cos4(a: str, b: str, dim: int) -> str:
    """DuckDB twin of ``_query_cosine_topk``'s scoring expression: the
    same expanded left-to-right dot/norm chains and the same
    ``nullif(denominator, 0)`` zero-norm guard — NOT the builtin
    ``list_cosine_similarity``, which returns -1.0 for a zero vector and
    errors on length-mismatched lists (seam divergences pinned by
    tests/test_edge_vectors_parity.py). Presentation is the tie-safe
    floor form (:func:`_duck_f`) since r11 — ``round(double, 4)`` was
    engine-divergent on adversarially constructed tie cosines
    (tests/test_fround_seam.py)."""
    return _duck_f(
        f"{_duck_dot(a, b, dim)} / nullif({_duck_norm(a, dim)}"
        f" * {_duck_norm(b, dim)}, 0.0)",
        4,
    )


def _train_cte_blocks(
    iters: int = KMEANS_TRAIN_ITERS,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """The DuckDB replay of :func:`kmeans_train` as chained WITH blocks:
    ``c0`` = seeds, then per iteration the scored/assign/means CTEs of
    the green ``kmeans_lloyd_step`` oracle plus a per-iteration
    ``readout{t}`` and the next centroid table ``c{t}`` (per-dim
    COALESCE against the previous position — a member-less centroid or
    all-skipped dim keeps its coordinate, like the builder). Declared
    with the oracle helpers because the generated oracles of the whole
    index family (r11 trained-quantizer migration) splice it in at
    module-import time."""
    dim = EMB_DIM if dim is None else dim
    blocks = [
        f"""c0 AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings WHERE vec_id < {num_centroids}
    )"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        blocks.append(f"""scored{t} AS (
      SELECT e.vec_id, c.centroid_id,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c{p} c
    )""")
        blocks.append(f"""assign{t} AS (
      SELECT vec_id,
             CASE WHEN cs IS NULL THEN -1 ELSE centroid_id END AS centroid_id
      FROM scored{t}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id ASC) = 1
    )""")
        blocks.append(f"""ex{t} AS (
      SELECT a.centroid_id, generate_subscripts(e.embedding, 1) - 1 AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS x
      FROM assign{t} a JOIN embeddings e USING (vec_id)
      WHERE a.centroid_id >= 0
    )""")
        blocks.append(f"""means{t} AS (
      SELECT centroid_id, dim,
             CAST(SUM(TRY_CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
               / (1e9 * COUNT(TRY_CAST(round(x * 1e9) AS BIGINT))) AS mu,
             COUNT(*) AS nrows
      FROM ex{t} GROUP BY centroid_id, dim
    )""")
        blocks.append(f"""seeds{t} AS (
      SELECT centroid_id, generate_subscripts(cv, 1) - 1 AS dim,
             CAST(unnest(cv) AS DOUBLE) AS o
      FROM c{p}
    )""")
        blocks.append(f"""readout{t} AS (
      SELECT {t} AS iteration, u.centroid_id,
             CAST(COALESCE(n.cnt, 0) AS BIGINT) AS n_assigned,
             mv.sq_movement
      FROM (SELECT centroid_id FROM c0) u
      LEFT JOIN (SELECT centroid_id,
                        MAX(CASE WHEN dim = 0 THEN nrows END) AS cnt
                 FROM means{t} GROUP BY centroid_id) n USING (centroid_id)
      LEFT JOIN (SELECT m.centroid_id,
                        CAST(SUM(TRY_CAST(round((mu - o) * (mu - o) * 1e9)
                                          AS BIGINT)) AS DOUBLE) / 1e9
                          AS sq_movement
                 FROM means{t} m JOIN seeds{t} s USING (centroid_id, dim)
                 GROUP BY m.centroid_id) mv USING (centroid_id)
    )""")
        blocks.append(f"""c{t} AS (
      SELECT s.centroid_id,
             list(COALESCE(m.mu, s.o) ORDER BY s.dim) AS cv
      FROM seeds{t} s LEFT JOIN means{t} m USING (centroid_id, dim)
      GROUP BY s.centroid_id
    )""")
    return ",\n    ".join(blocks)


def _trained_c_cte(
    iters: int = KMEANS_TRAIN_ITERS,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """WITH-fragment every index-family oracle shares since the r11
    trained-quantizer migration: the full training chain plus ``c`` =
    the TRAINED quantizer as ``(cid, cv)`` rows.

    The LEFT JOIN against ``c0``'s id set restores vector-less
    centroids (NULL seed embedding — ``unnest`` drops them from the
    per-iteration centroid tables) as ``cv NULL`` rows, mirroring
    :func:`kmeans_train`'s frozen ``(cid, None)`` entries: such a
    centroid scores NULL against everything, never wins an argmax, and
    never attracts probes ahead of a real centroid — identical algebra
    on both engines."""
    return (
        f"{_train_cte_blocks(iters, num_centroids, dim)},\n"
        f"    c AS (\n"
        f"      SELECT s.centroid_id AS cid, t.cv\n"
        f"      FROM (SELECT centroid_id FROM c0) s\n"
        f"      LEFT JOIN c{iters} t USING (centroid_id)\n"
        f"    )"
    )


def _ann_exact_oracle(
    k: int = 10, dim: int | None = None, exclude_query: bool = False
) -> str:
    dim = EMB_DIM if dim is None else dim
    where = "WHERE a.vec_id <> 0" if exclude_query else ""
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT a.vec_id, {_duck_cos4("a.embedding", "q.qv", dim)} AS cos_sim
    FROM embeddings a, q
    {where}
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT {k}
    """


@register(
    "ann_cosine_topk",
    oracle=_ann_exact_oracle(),
    description="exact brute-force cosine top-10 to the vec_id=0 query "
    "point (TakeOrderedAndProject: per-partition heaps, no global sort); "
    "oracle uses the expanded nullif-guarded expression, bit-identical "
    "to the builder on degenerate vectors too",
    covers=("N-sim",),
)
def ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None:
        return _empty_topk(spark)
    if vec is _NULL_QUERY:  # NULL query: all scores NULL, no filter
        return _null_query_topk(spark, sf_dir, k=10)
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), vec, k=10)


@register(
    "embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
           {_duck_f("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
                    " CAST(b.embedding AS DOUBLE[]))", 4)} AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_duck_f("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
                   " CAST(b.embedding AS DOUBLE[]))", 4)} >= 0.35
    """,
    description="embedding-cosine near-dup pairs within label blocks "
    "(IVF-style candidate bounding)",
    covers=("N-sim", "N-dedup"),
)
def embedding_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"), 0.35)


def _srp_bucket_duck(arr: str, matrix: list[list[float]]) -> str:
    """Packed SRP bucket id in DuckDB: the same left-to-right
    multiply-add chains over the same plane literals as the builder's
    per-plane sign conjuncts, so the bits agree."""
    plane_sqls = []
    for p, coeffs in enumerate(matrix):
        proj = " + ".join(
            f"{_duck_elem(arr, i)}*({c!r})" for i, c in enumerate(coeffs)
        )
        plane_sqls.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(plane_sqls) + ")"


def _lsh_ann_oracle(k: int = 10, planes: int = 4, dim: int | None = None) -> str:
    """DuckDB twin of ``lsh_ann_topk``: the seeded hyperplanes are baked
    in as the same float literals (pure-Python XXH64, bit-equal to
    Spark's), the query point's bucket is computed IN SQL from the
    vec_id=0 row with the identical expanded expression, and the
    within-bucket cosine/round/tie-break mirrors the builder."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    bkt = _srp_bucket_duck("embedding", m)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bkt} AS bkt FROM embeddings
    ), q AS (
      SELECT embedding AS qv, bkt AS qb FROM b WHERE vec_id = 0
    )
    SELECT b.vec_id, {_duck_cos4("b.embedding", "q.qv", dim)} AS cos_sim
    FROM b, q
    WHERE b.bkt = q.qb
    ORDER BY cos_sim DESC, b.vec_id ASC
    LIMIT {k}
    """


@register(
    "lsh_ann_topk",
    oracle=_lsh_ann_oracle(),
    description="sign-random-projection LSH ANN: single-probe bucketed "
    "top-10 (scale path for similarity search). Oracle-backed since r5: "
    "the hyperplanes are seeded xxhash64 literals reproduced by the "
    "pure-Python twin, so bucketing and scoring replay exactly in SQL; "
    "recall vs the exact top-k is also tested. Since r6 the probe reads "
    "the write-time layout (build_ann_index): the bucket filter prunes "
    "srp_bucket partition directories instead of scanning the corpus",
    covers=("N-sim",),
)
def lsh_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None:
        return _empty_topk(spark)
    if vec is _NULL_QUERY:  # NULL query probes its bucket-0 peers
        return _null_query_topk(spark, sf_dir, k=10, max_mismatches=0)
    return lsh_ann_topk_indexed(spark, sf_dir, vec, k=10)


def _lsh_multiprobe_oracle(
    k: int = 10, planes: int = 4, max_mismatches: int = 1,
    dim: int | None = None,
) -> str:
    """DuckDB twin of ``lsh_ann_multiprobe``: packed buckets from the
    same plane literals, probe set = Hamming distance <= max_mismatches
    from the vec_id=0 row's bucket, identical scoring/tie-break."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    bkt = _srp_bucket_duck("embedding", m)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bkt} AS bkt FROM embeddings
    ), q AS (
      SELECT embedding AS qv, bkt AS qb FROM b WHERE vec_id = 0
    )
    SELECT b.vec_id, {_duck_cos4("b.embedding", "q.qv", dim)} AS cos_sim
    FROM b, q
    WHERE bit_count(xor(b.bkt, q.qb)) <= {max_mismatches}
    ORDER BY cos_sim DESC, b.vec_id ASC
    LIMIT {k}
    """


@register(
    "lsh_ann_multiprobe",
    oracle=_lsh_multiprobe_oracle(),
    description="multi-probe SRP ANN: top-10 over the query's bucket "
    "PLUS its 4 Hamming-1 neighbor buckets — the standard recall lever "
    "for hash-bucketed similarity search (scans ~31% of the corpus vs "
    "~6% single-probe); oracle-backed, recall-vs-single-probe pinned in "
    "tests. Since r6 the probe reads the write-time layout: the "
    "Hamming-1 bucket set prunes partition directories (~31% of them) "
    "instead of scanning and filtering the corpus",
    covers=("N-sim",),
)
def lsh_ann_multiprobe_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None:
        return _empty_topk(spark)
    if vec is _NULL_QUERY:  # Hamming ball around bucket 0
        return _null_query_topk(spark, sf_dir, k=10, max_mismatches=1)
    return lsh_ann_topk_indexed(spark, sf_dir, vec, k=10, max_mismatches=1)


def _ivf_assign_oracle(
    num_centroids: int = IVF_CENTROIDS, dim: int | None = None
) -> str:
    """DuckDB twin of ``ivf_assign`` over the TRAINED quantizer: the
    training chain re-derives the centroids in SQL (bit-identical to the
    persisted artifact — proven by the kmeans_train_readout row), then
    expanded nullif-guarded cosine per centroid (same bits as
    ``_with_nearest_centroid``), argmax via ROW_NUMBER with the cid
    tie-break. DuckDB's default NULLS LAST on the DESC sort plus the
    CASE make an all-NULL row (zero-norm vector) surface the -1
    sentinel — exactly the builder's greatest/when/least NULL
    propagation coalesced to -1."""
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, scored AS (
      SELECT e.vec_id, c.cid,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, CASE WHEN cs IS NULL THEN -1 ELSE cid END AS centroid_id
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) = 1
    """


@register(
    "ivf_assign",
    oracle=_ivf_assign_oracle(),
    description="IVF index build: every vector assigned to its nearest of "
    "the 8 TRAINED coarse centroids (the persisted 3-iteration k-means "
    "artifact — r11 migrated the family off the first-K seed stand-in; "
    "argmax cosine, ties to lowest id) — K dot products per row, no "
    "shuffle; output would be written partitioned by centroid_id so ANN "
    "probes become partition pruning. The oracle re-derives the trained "
    "centroids via the training CTE chain",
    covers=("N-sim",),
)
def ivf_assign_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_assign(emb, centroids=_trained_cents(spark, sf_dir))


def _ivf_ann_oracle(
    k: int = 10, nprobe: int = 2, num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin of ``ivf_ann_topk`` over the TRAINED quantizer (read
    from the index's frozen ``_quantizer`` table on the Spark side,
    re-derived via the training chain here). The probe choice replays
    the builder's driver-side ``cos_py`` with an expanded
    left-associative dot / sqrt-norm product (bit-identical IEEE
    sequence, raw unrounded ordering); assignment and final scoring
    reuse the tie-safe 4-decimal cosine forms the green ivf_assign /
    ann_cosine_topk oracles prove."""
    dim = EMB_DIM if dim is None else dim
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probes AS (
      SELECT cid FROM c, q
      ORDER BY {probe_cos} DESC, cid ASC
      LIMIT {nprobe}
    ), assign AS (
      SELECT e.vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      ) e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    )
    SELECT a.vec_id, {_duck_cos4("e.embedding", "q.qv", dim)} AS cos_sim
    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id, q
    WHERE a.cid IN (SELECT cid FROM probes)
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT {k}
    """


def _ann_layout_oracle(
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin of the persisted index's partition columns: the packed
    SRP bucket from the same plane literals and the nearest-TRAINED-
    centroid assignment (training chain) with the -1 degenerate
    sentinel."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    bkt = _srp_bucket_duck("e.embedding", m)
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, scored AS (
      SELECT e.vec_id, c.cid,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c
    ), a AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN -1 ELSE cid END AS centroid_id
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    )
    SELECT e.vec_id, {bkt} AS srp_bucket, a.centroid_id
    FROM embeddings e JOIN a USING (vec_id)
    """


@register(
    "ann_index_layout",
    oracle=_ann_layout_oracle(),
    description="the write-time ANN layout itself as a relation: every "
    "vector's persisted (srp_bucket, centroid_id) partition assignment, "
    "read back from the materialized index and checked against the "
    "generated bucket/assignment SQL — the index build (not just probes "
    "over it) faces the oracle; degenerate vectors carry the -1 sentinel",
    covers=("N-sim",),
)
def ann_index_layout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    if _dim(emb, "embedding") is None:
        # no buildable index (empty corpus OR no probe-able vector) —
        # but the LAYOUT relation still owes one row per existing row:
        # all-NULL projections put every row in bucket 0 with the -1
        # sentinel, exactly the oracle's algebra (empty in => empty out
        # falls out of the same projection; r8b review finding)
        return emb.select(
            "vec_id",
            F.lit(0).alias("srp_bucket"),
            F.lit(-1).alias("centroid_id"),
        )
    idx = ensure_ann_index(spark, sf_dir)
    return spark.read.parquet(idx).select(
        "vec_id",
        "srp_bucket",
        F.coalesce(F.col("centroid_id"), F.lit(-1)).alias("centroid_id"),
    )


@register(
    "ivf_ann_topk",
    oracle=_ivf_ann_oracle(),
    description="IVF ANN: exact cosine top-10 over the query's 2 nearest "
    "inverted lists only (centroid-partitioned storage -> partition "
    "pruning at scale). Oracle-backed since r5: probe selection, nearest-"
    "centroid assignment and inverted-list top-k all replayed in SQL; "
    "recall vs the exact top-k is also tested. Since r6 the probe reads "
    "the write-time layout: centroid_id IN (probes) prunes partition "
    "directories, so only 2 of 8 inverted lists are read at all",
    covers=("N-sim",),
)
def ivf_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None:
        return _empty_topk(spark)
    if vec is _NULL_QUERY:
        # NULL query: every row's assignment check is `NULL IN probes`
        # -> no row survives the oracle's pruning; typed empty
        return _empty_topk(spark)
    return ivf_ann_topk_indexed(spark, sf_dir, vec, k=10)


@register(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT label, dim,
           CAST(SUM(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
             / (1e9 * COUNT(x)) AS centroid_val
    FROM ex GROUP BY label, dim
    """,
    description="per-label mean-embedding components via posexplode + one "
    "hash aggregate (map-side partial sums; exact BIGINT accumulation of "
    "1e-9-quantized components for order-independent bit determinism)",
    covers=("N-sim",),
)
def embedding_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_centroids(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# int8 quantization (storage/bandwidth scale path)
# ---------------------------------------------------------------------------


def _maxabs_sql(vec_col: str, dim: int) -> str:
    """Expanded ``greatest(1e-30, |x_0|, ..., |x_{dim-1}|)`` — the 1e-30
    floor makes the all-zero vector quantize to zeros with scale ~0
    instead of dividing by zero (NULL components)."""
    return "greatest(1e-30, " + ", ".join(
        f"abs({_elem_sql(vec_col, i)})" for i in range(dim)
    ) + ")"


def quantize_embeddings(
    vectors: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = round(x[i] *
    127 / max_abs)``, carrying the reconstruction ``scale = max_abs /
    127`` alongside.

    The storage scale path for ANN at 100 TB: int8 vectors are 4x
    smaller than float32 (16x vs float64), which cuts shuffle and cache
    pressure for every downstream similarity op; reconstruction error is
    bounded by ``scale / 2`` per component. Expanded flat-column SQL —
    one expression string, whole-stage codegen, no Python per row.
    """
    if dim is None:
        dim = _dim(vectors, vec_col)
        if dim is None:
            raise ValueError(
                "quantize_embeddings: empty input and no dim given — "
                "pass dim explicitly to quantize an empty table"
            )
    mx = _maxabs_sql(vec_col, dim)
    qvec = "array(" + ", ".join(
        f"CAST(round({_elem_sql(vec_col, i)} * 127.0 / _mx) AS INT)"
        for i in range(dim)
    ) + ")"
    return (
        vectors.withColumn("_mx", F.expr(mx))
        .withColumn("qvec", F.expr(qvec))
        .withColumn("scale", (F.col("_mx") / F.lit(127.0)))
        .drop("_mx")
    )


def _quantize_oracle(dim: int) -> str:
    """DuckDB twin of ``quantize_embeddings``: same expanded per-component
    expressions (DuckDB lists are 1-indexed), same left-to-right greatest
    chain, same round-half-away-from-zero — bit-identical values. The
    output is UNNESTED to scalar (vec_id, dim, qval, scale) rows: the
    driver hashes results through a pandas frame, where list columns
    become numpy arrays with engine-specific rendering — exploded scalars
    are the robust (and per-component stronger) compare, the same shape
    ``embedding_centroids`` / ``frame_sample`` proved in round 2."""

    def elem(i: int) -> str:
        return f"CAST(embedding[{i + 1}] AS DOUBLE)"

    mx = (
        "greatest(1e-30, "
        + ", ".join(f"abs({elem(i)})" for i in range(dim))
        + ")"
    )
    comps = ", ".join(
        f"CAST(round({elem(i)} * 127.0 / mx) AS INTEGER)" for i in range(dim)
    )
    return f"""
    WITH m AS (SELECT vec_id, embedding, {mx} AS mx FROM embeddings),
    q AS (SELECT vec_id, [{comps}] AS qvec, mx / 127.0 AS scale FROM m)
    SELECT vec_id, generate_subscripts(qvec, 1) - 1 AS dim,
           unnest(qvec) AS qval, scale
    FROM q
    """


@register(
    "embedding_quantize",
    oracle=_quantize_oracle(EMB_DIM),
    description="symmetric per-vector int8 quantization (q = round(x * "
    "127 / max_abs) + reconstruction scale): 4x smaller vectors for "
    "storage/shuffle at 100 TB; flat expanded SQL, codegen-resident; "
    "presented unnested for the per-component oracle hash check "
    "(reconstruction-error invariants also tested in tests/test_llm_ops.py)",
    covers=("N-sim",),
)
def embedding_quantize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unnested twin of ``quantize_embeddings``: compute max-abs ONCE per
    # vector, then explode the raw embedding and quantize per scalar row.
    # (Exploding the built qvec array instead lets CollapseProject inline
    # the 64-term max into all 64 components — a 4096-term codegen blowup.)
    emb = load_table(spark, sf_dir, "embeddings")
    p = emb.select(
        F.col("vec_id"),
        F.expr(_maxabs_sql("embedding", EMB_DIM)).alias("_mx"),
        F.posexplode("embedding").alias("dim", "_x"),
    )
    return p.select(
        "vec_id",
        "dim",
        F.expr("CAST(round(CAST(_x AS DOUBLE) * 127.0 / _mx) AS INT)").alias(
            "qval"
        ),
        (F.col("_mx") / F.lit(127.0)).alias("scale"),
    )


# ---------------------------------------------------------------------------
# int8 reconstruction-error profile (r10): did quantization hurt, and
# which label's vectors does it hurt most
# ---------------------------------------------------------------------------


def quantization_error_profile(vectors: DataFrame) -> DataFrame:
    """Per-label reconstruction-error profile of the persisted int8
    artifact's math: quantize each component with EXACTLY the index's
    expressions (``q = round(x*127/max_abs)``, ``rec = q * max_abs/127``
    — same literals, same order), measure ``|x - rec|``, and report per
    label the component count, the worst error and the mean error, both
    as exact 1e-9-quantized BIGINT accumulations (the
    ``embedding_centroids`` determinism discipline — a float SUM would
    be partition-ordered). The QA a pipeline publishes next to the
    quantized index: rescore quality degrades smoothly with this
    number, and a label whose vectors saturate the int8 grid (one huge
    component flattens the rest) shows up as an outlier row.

    One scan: max-abs once per row (barrier-protected, the
    ``embedding_quantize`` codegen discipline), posexplode, one
    |labels| aggregate with map-side partials."""
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p = vectors.select(
        "label",
        (F.expr(_maxabs_sql("embedding", EMB_DIM)) + barrier).alias("_mx"),
        F.posexplode("embedding").alias("dim", "_x"),
    )
    err = (
        "abs(CAST(_x AS DOUBLE) - "
        "CAST(round(CAST(_x AS DOUBLE) * 127.0 / _mx) AS INT)"
        " * (_mx / 127.0))"
    )
    eq = F.expr(f"try_cast(round(({err}) * 1e9) AS BIGINT)")
    return (
        p.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
            F.coalesce(F.max(eq), F.lit(0))
            .cast("bigint")
            .alias("max_err_1e9"),
            (
                F.coalesce(F.sum(eq), F.lit(0)).cast("double")
                / (F.lit(1.0e9) * F.count(eq))
            ).alias("mean_err"),
        )
        .orderBy("label")
    )


@register(
    "quantization_error_profile",
    oracle=f"""
    WITH p AS (
      SELECT label,
             greatest(1e-30, {", ".join(
                 f"abs({_duck_elem('embedding', i)})"
                 for i in range(EMB_DIM)
             )}) AS mx,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), e AS (
      SELECT label,
             TRY_CAST(round(abs(x - CAST(round(x * 127.0 / mx) AS INT)
               * (mx / 127.0)) * 1e9) AS BIGINT) AS eq
      FROM p
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(COALESCE(MAX(eq), 0) AS BIGINT) AS max_err_1e9,
           CAST(COALESCE(SUM(eq), 0) AS DOUBLE) / (1e9 * COUNT(eq))
             AS mean_err
    FROM e GROUP BY label ORDER BY label
    """,
    description="int8 reconstruction-error QA per label: quantize with "
    "the index's exact expressions, measure |x - q*scale| as "
    "1e-9-quantized BIGINT max/mean (order-independent exact sums); "
    "one scan, barrier-protected per-row max-abs, |labels| aggregate — "
    "the saturation readout published next to the quantized artifact",
    covers=("N-sim", "N-quality", "B4"),
)
def quantization_error_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quantization_error_profile(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# two-stage retrieval: quantized approximate scan -> exact rescore
# ---------------------------------------------------------------------------

#: candidate pool the cheap quantized stage hands to the exact stage
RESCORE_POOL = 50


def quantized_rescore_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = RESCORE_POOL,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Two-stage retrieval: rank the whole corpus by cosine over the
    int8-RECONSTRUCTED vectors (cheap stage), keep the top ``m``
    candidates, rescore them exactly, return the top ``k``.

    The standard production ANN serving pattern: the scan stage reads
    4x fewer bytes (int8 vs float32 — at 100 TB the quantized table is
    the materialized artifact ``quantize_embeddings`` exists to
    produce), and full-precision vectors are fetched for only ``m``
    rows. Composes with the partition layout: run the cheap stage over
    the probed partitions of :func:`build_ann_index` and the scan
    fraction multiplies with the byte saving.

    Determinism: quantization is exact integer math, reconstruction is
    one exact double multiply per component, and both stages round to 4
    decimals with the vec_id tie-break — the oracle replays every step
    bit-for-bit. The exact stage reuses ``_query_cosine_topk``'s
    scoring (nullif zero-norm guard included), so a degenerate vector
    can enter the candidate pool but never the final top-k.
    """
    q = [float(v) for v in query_vec]
    if dim is None:
        dim = len(q)
    quant = quantize_embeddings(vectors.select(id_col, vec_col), vec_col, dim)
    barrier = F.monotonically_increasing_id() * F.lit(0)
    cand = (
        quant.select(
            F.col(id_col), (_approx_sim_expr(q, dim) + barrier).alias("_ras")
        )
        .select(
            F.col(id_col),
            _present_round(F.col("_ras"), 4).alias("approx_sim"),
        )
        .orderBy(F.col("approx_sim").desc(), F.col(id_col).asc())
        .limit(m)
    )
    # m rows — broadcast the candidate ids back onto the corpus so the
    # exact stage is a broadcast semi-join + m dot products, no shuffle
    full = vectors.select(id_col, vec_col).join(
        F.broadcast(cand.select(id_col)), id_col
    )
    return _query_cosine_topk(full, q, k, vec_col, id_col)


def _approx_sim_expr(q: list[float], dim: int) -> Column:
    """The cheap-stage score: cosine of the literal query against the
    int8-RECONSTRUCTED vector (``get(qvec, i) * scale``), shared by the
    scan-time and indexed rescore forms so their bits cannot diverge."""

    def recon(i: int) -> str:
        return f"(CAST(get((qvec), {i}) AS DOUBLE) * scale)"

    rdot = " + ".join(f"{recon(i)}*({q[i]!r})" for i in range(dim))
    rnorm = "sqrt(" + " + ".join(
        f"{recon(i)}*{recon(i)}" for i in range(dim)
    ) + ")"
    return F.expr(f"({rdot}) / nullif(({rnorm}) * ({_pynorm(q)!r}), 0.0D)")


def quantized_rescore_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float],
    k: int = 10,
    m: int = RESCORE_POOL,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Two-stage retrieval over the persisted v2 index — the cheap stage
    READS the materialized int8 artifact instead of quantizing the float
    corpus per query (directive-r7 #1), composed with the write-time
    partition layout so byte saving and scan fraction multiply:

    - **partition pruning**: ``centroid_id IN probes`` lands on the
      partition column — only ``nprobe`` of ``num_centroids`` inverted
      lists are touched at all (PartitionFilters, plan-asserted);
    - **column pruning**: the cheap stage selects only
      ``(vec_id, qvec, scale)`` — int8 components, ~4x fewer bytes than
      the float column, and the parquet scan's ReadSchema never includes
      ``embedding`` (plan-asserted); no quantize expressions appear in
      the per-query plan — quantization was paid once at
      :func:`build_ann_index` / snapshot-build time, mirroring the
      reference's materialize-at-sync intent
      (``/root/reference/etl-service/src/sync.py:105-114``);
    - **exact stage**: the top-``m`` candidate ids broadcast back onto
      the same pruned partitions; ``m`` full-precision dot products
      against the persisted ``vnorm``, no shuffle.

    Probe selection uses the index's own frozen quantizer
    (:func:`index_centroids`), so it stays consistent with the persisted
    partition assignments after upserts. Determinism: qvec/scale
    round-trip parquet losslessly, and both stages reuse the proven
    scoring/tie-break expressions, so results are bit-identical to the
    scan-time :func:`quantized_rescore_topk` restricted to the probed
    lists (oracle replays every step).
    """
    q = [float(v) for v in query_vec]
    idx = ensure_ann_index(spark, sf_dir, num_centroids=num_centroids)
    cents = index_centroids(spark, idx, num_centroids)
    probes = _ivf_probe_ids(q, cents, nprobe)
    pruned = spark.read.parquet(idx).filter(F.col("centroid_id").isin(probes))
    barrier = F.monotonically_increasing_id() * F.lit(0)
    cand = (
        pruned.select(
            F.col("vec_id"),
            (_approx_sim_expr(q, len(q)) + barrier).alias("_ras"),
        )
        .select(
            F.col("vec_id"),
            _present_round(F.col("_ras"), 4).alias("approx_sim"),
        )
        .orderBy(F.col("approx_sim").desc(), F.col("vec_id").asc())
        .limit(m)
    )
    full = pruned.select("vec_id", "embedding", "vnorm").join(
        F.broadcast(cand.select("vec_id")), "vec_id"
    )
    return _query_cosine_topk(full, q, k, "embedding", "vec_id", norm_sql="vnorm")


def _quantized_rescore_indexed_oracle(
    k: int = 10,
    m: int = RESCORE_POOL,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin of ``quantized_rescore_topk_indexed``: the proven IVF
    probe-selection/assignment CTEs (``_ivf_ann_oracle``) restrict the
    corpus to the probed inverted lists, then the proven quantize
    expressions, per-component reconstruction with the same operation
    order, round(approx, 4) + vec_id tie-break for the candidate cut,
    and the exact ``_duck_cos4`` rescore. The oracle re-derives the int8
    components the builder reads from the persisted index — their
    equality IS the lossless-parquet-round-trip claim."""
    dim = EMB_DIM if dim is None else dim
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )

    # folded forms (r11): pairwise-greatest and left-to-right add folds
    # are bit-identical to the old variadic/unrolled text (NULL-skip
    # greatest, NaN-top, NULL-poisoning '+') — the unroll was the
    # map-count blow-up _duck_dot's docstring describes
    elem = "CAST(embedding[_di] AS DOUBLE)"
    mx = (
        f"greatest(1e-30, list_reduce(list_transform(range(1, {dim + 1}), "
        f"_di -> abs({elem})), (_dx, _dy) -> greatest(_dx, _dy)))"
    )
    comps = (
        f"list_transform(range(1, {dim + 1}), "
        f"_di -> TRY_CAST(round({elem} * 127.0 / mx) AS INTEGER))"
    )
    recon = "(CAST(qvec[_di] AS DOUBLE) * scale)"
    rdot = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"_di -> {recon}*CAST(q.qv[_di] AS DOUBLE)), (_dx, _dy) -> _dx + _dy)"
    )
    rnorm = (
        f"sqrt(list_reduce(list_transform(range(1, {dim + 1}), "
        f"_di -> {recon}*{recon}), (_dx, _dy) -> _dx + _dy))"
    )
    approx = _duck_f(
        f"({rdot}) / nullif(({rnorm}) * {_duck_norm('q.qv', dim)}, 0.0)", 4
    )
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probes AS (
      SELECT cid FROM c, q
      ORDER BY {probe_cos} DESC, cid ASC
      LIMIT {nprobe}
    ), assign AS (
      SELECT e.vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      ) e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), pr AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
      WHERE a.cid IN (SELECT cid FROM probes)
    ), mq AS (
      SELECT vec_id, embedding, {mx} AS mx FROM pr
    ), qn AS (
      SELECT vec_id, {comps} AS qvec, mx / 127.0 AS scale FROM mq
    ), cand AS (
      SELECT qn.vec_id,
             {approx} AS approx_sim
      FROM qn, q
      ORDER BY approx_sim DESC, qn.vec_id ASC
      LIMIT {m}
    )
    SELECT e.vec_id, {_duck_cos4("e.embedding", "q.qv", dim)} AS cos_sim
    FROM cand JOIN pr e USING (vec_id), q
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {k}
    """


@register(
    "ann_quantized_rescore",
    oracle=_quantized_rescore_indexed_oracle(),
    description="two-stage retrieval over the persisted v2 index: cheap "
    "stage READS the write-time int8 artifact (qvec/scale columns inside "
    "the probed centroid_id partitions — partition pruning x 4x byte "
    "saving, no quantize expressions in the per-query plan), top-50 "
    "candidates rescored at full precision via a broadcast semi-join, "
    "exact top-10 returned — probe choice, quantization, reconstruction, "
    "both rankings and both tie-breaks replayed bit-exactly in the oracle",
    covers=("N-sim",),
)
def ann_quantized_rescore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None:
        return _empty_topk(spark)
    if vec is _NULL_QUERY:
        # same `NULL IN probes` pruning as ivf_ann_topk: oracle-empty
        return _empty_topk(spark)
    return quantized_rescore_topk_indexed(spark, sf_dir, vec)


def _rademacher_matrix(in_dim: int, out_dim: int, seed: int):
    """Seeded ±1/sqrt(out_dim) JL matrix — identical on every executor
    and in the generated oracle SQL (entries are exact binary fractions
    for power-of-two out_dim, so literals round-trip bit-exactly)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return (
        (rng.integers(0, 2, size=(in_dim, out_dim)) * 2 - 1).astype(np.float64)
        / np.sqrt(out_dim)
    )


def random_projection(
    vectors: DataFrame,
    out_dim: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` seeded Rademacher (±1) directions,
    scaled by 1/sqrt(out_dim).

    The compression stage ahead of ANN indexing at 100 TB: a 64→16
    projection cuts every downstream shuffle/cache 4x while expected
    pairwise distances are preserved (JL; Achlioptas 2001 for the ±1
    matrix). The matrix is generated from ``seed`` identically on every
    executor — the projection is deterministic under any partitioning,
    re-runnable forever, with no fit state to persist.

    Executed as one Arrow ``mapInPandas`` pass, vectorized over the
    batch but accumulating input dimensions LEFT-TO-RIGHT in double —
    the same order as a flat SQL sum — so the result is bit-identical
    to the expanded-expression oracle regardless of BLAS summation
    strategy. (A per-component SQL expansion at 64x16 terms would bloat
    codegen far past the win measured for quantize/cosine.)

    ``in_dim`` should be passed when known (the array element count is
    not in the schema); probing the first row is the fallback and
    raises a clear error on an empty input instead of a bare TypeError.
    """
    import numpy as np
    import pandas as pd

    if in_dim is None:
        row = vectors.select(vec_col).first()
        if row is None:
            raise ValueError(
                "random_projection: cannot infer in_dim from an empty "
                "DataFrame — pass in_dim explicitly"
            )
        in_dim = len(row[0])
    mat = _rademacher_matrix(in_dim, out_dim, seed)

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.vstack(pdf[vec_col].to_numpy())
            # left-to-right over input dims: ((0 + x0*m0) + x1*m1) + ...
            y = np.zeros((len(pdf), mat.shape[1]), dtype=np.float64)
            for i in range(mat.shape[0]):
                y += x[:, i : i + 1].astype(np.float64) * mat[i]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "projected": list(map(list, y))}
            )

    return vectors.mapInPandas(
        project, f"{id_col} long, projected array<double>"
    )


def _project_oracle(in_dim: int, out_dim: int, seed: int) -> str:
    """DuckDB twin of ``random_projection``: the seeded matrix baked in
    as exact ±1/sqrt(out_dim) literals, each output component a flat
    left-associative sum starting from 0.0 — the identical IEEE
    operation sequence the Arrow path performs."""
    mat = _rademacher_matrix(in_dim, out_dim, seed)
    cols = []
    for j in range(out_dim):
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE)*({float(mat[i, j])!r})"
            for i in range(in_dim)
        )
        cols.append(f"(0.0 + {terms})")
    return f"""
    WITH q AS (SELECT vec_id, [{", ".join(cols)}] AS projected
               FROM embeddings)
    SELECT vec_id, generate_subscripts(projected, 1) - 1 AS dim,
           unnest(projected) AS pval
    FROM q
    """


@register(
    "embedding_project",
    oracle=_project_oracle(EMB_DIM, 16, 7),
    description="Johnson-Lindenstrauss random projection 64->16 dims "
    "(seeded Rademacher matrix, identical on every executor; one Arrow "
    "mapInPandas pass with deterministic left-to-right accumulation, "
    "bit-equal to the expanded-SQL oracle) — embedding compression ahead "
    "of ANN indexing; presented unnested for the per-component hash "
    "check; JL distance-preservation also tested in tests/test_llm_ops.py",
    covers=("N-sim",),
)
def embedding_project_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return random_projection(
        load_table(spark, sf_dir, "embeddings"), in_dim=EMB_DIM
    ).select(
        F.col("vec_id"), F.posexplode("projected").alias("dim", "pval")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

#: The registered mining run: the first 5 vectors are the query points,
#: each collects its top-5 cross-label neighbors above the floor.
HARD_NEG_QUERIES = 5
HARD_NEG_K = 5
#: Candidate floor on the rounded cosine — the scale lever: the codegen
#: filter prunes the query x corpus score matrix down to the few
#: candidates per query before any shuffle, so the per-query ranking
#: window never sees corpus-sized input.
HARD_NEG_FLOOR = 0.30


def _query_points(
    spark: SparkSession, sf_dir: str, n: int = HARD_NEG_QUERIES
) -> list[tuple[int, int, list[float]]]:
    """The first ``n`` (vec_id, label, embedding) rows — an O(n) driver
    fetch, same contract as the ann query-vector fetch above."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select("vec_id", "label", "embedding")
        .collect()
    )
    # A NULL embedding stays None (callers drop or NULL-score such
    # anchors — crashing the driver on a degenerate corpus row would
    # diverge from the oracle's NULL algebra; r8b review finding).
    return [
        (
            r["vec_id"],
            r["label"],
            None
            if r["embedding"] is None
            else [float(v) for v in r["embedding"]],
        )
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ]


def hard_negative_mine(
    vectors: DataFrame,
    queries: list[tuple[int, int, list[float]]],
    k: int = HARD_NEG_K,
    floor: float = HARD_NEG_FLOOR,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cross-label neighbors per query point above a cosine floor.

    Contrastive training (InfoNCE, triplet losses) wants HARD negatives:
    corpus items highly similar to the anchor but of a different class.
    For each query point this mines the ``k`` most-similar vectors whose
    ``label`` differs, among candidates with rounded cosine >= ``floor``
    (the floor is part of the mining semantics — practical miners cut at
    a similarity band — and the scale lever, see ``HARD_NEG_FLOOR``).

    Scale shape: ONE fused corpus scan scores all anchors (at 100 TB a
    per-anchor branch plan reads the corpus Q times — IO, not compute,
    is the budget), then explode -> floor filter -> per-anchor ranking
    window over only the floor survivors. Rounds 1-4 ran per-anchor
    branches because Q expanded 64-dim dot products in one expression
    tree exceed janino's method limit (the stage silently dropped to
    interpreted execution); the fused form is now viable because each
    anchor's score lands as a SEPARATE projection column behind an
    exact-zero ``monotonically_increasing_id()*0`` barrier — separate
    trees compile as separate methods, and the barrier stops the
    optimizer from splicing them back into one giant generator input
    (see ``_with_nearest_centroid``). For large anchor batches brute
    force is the wrong tool regardless — mining then goes through the
    bucketed LSH/IVF paths above, which prune the corpus before any
    scoring.

    Scores are rounded to 4 decimals before ranking so both engines
    order identically; ties break on vec_id.
    """
    from pyspark.sql.window import Window

    # A NULL-embedding anchor scores NULL against every candidate, and
    # NULL < floor excludes all of them in BOTH engines — dropping the
    # anchor up front is the same relation without the driver crash.
    queries = [q for q in queries if q[2] is not None]
    if not queries:  # no anchors (empty corpus): typed empty result
        return vectors.select(
            F.col(id_col).alias("q_id"),
            F.lit(1).alias("neg_rank"),
            F.col(id_col),
            F.col("label"),
            F.lit(0.0).alias("cos_sim"),
        ).limit(0)
    dim = len(queries[0][2])
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p0 = vectors.select(
        F.col(id_col),
        F.col("label"),
        F.col(vec_col),
        (F.expr(_norm_sql(vec_col, dim)) + barrier).alias("_nv"),
    )
    sim_cols = []
    for q_id, _, q in queries:
        sim = F.expr(f"{_dot_lit_sql(vec_col, q)} / (_nv * ({_pynorm(q)!r}))")
        sim_cols.append((sim + barrier).alias(f"_rsim{q_id}"))
    # raw barrier-protected trees first, tie-safe presentation over the
    # cheap refs second (the _with_nearest_centroid split)
    p1 = p0.select(F.col(id_col), F.col("label"), *sim_cols).select(
        F.col(id_col),
        F.col("label"),
        *[
            _present_round(F.col(f"_rsim{q_id}"), 4).alias(f"_sim{q_id}")
            for q_id, _, _ in queries
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(q_id).cast("bigint").alias("q_id"),
                F.lit(q_label).alias("q_label"),
                F.col(f"_sim{q_id}").alias("cos_sim"),
            )
            for q_id, q_label, _ in queries
        ]
    )
    cand = (
        p1.select(F.col(id_col), F.col("label"), F.explode(entries).alias("s"))
        .select(id_col, "label", "s.q_id", "s.q_label", "s.cos_sim")
        .filter(
            (F.col("label") != F.col("q_label"))
            & (F.col("cos_sim") >= floor)
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("neg_rank") <= k)
        .select("q_id", "neg_rank", id_col, "label", "cos_sim")
        .orderBy("q_id", "neg_rank")
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {HARD_NEG_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             {_duck_f("list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),"
                      " q.qv)", 4)} AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.q_label
    ), ranked AS (
      SELECT q_id, vec_id, label, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id ASC)
               AS neg_rank
      FROM scored WHERE cos_sim >= {HARD_NEG_FLOOR}
    )
    SELECT q_id, neg_rank, vec_id, label, cos_sim
    FROM ranked WHERE neg_rank <= {HARD_NEG_K}
    ORDER BY q_id, neg_rank
    """,
    description="hard-negative mining for contrastive training: per query "
    "point, the top-5 most-similar CROSS-label vectors above a 0.30 "
    "cosine floor — ONE fused corpus scan scores all anchors (since r5: "
    "per-anchor score columns behind a codegen barrier compile as "
    "separate methods, lifting the janino limit that forced per-anchor "
    "branch scans in r4), the floor prunes before the shuffle, only "
    "candidates reach the per-query ranking window",
    covers=("N-sim",),
)
def hard_negative_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file fixture arrives as one partition, serializing every
    # branch's dot products into one task; no-op on multi-split input
    return hard_negative_mine(
        spread_small_input(load_table(spark, sf_dir, "embeddings")),
        _query_points(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# index-blocked embedding near-dup: the persisted ANN layout as the blocker
# ---------------------------------------------------------------------------


def ann_blocked_neardup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding near-duplicate pairs blocked by the persisted ANN index
    partitions: candidates are pairs sharing BOTH their ``srp_bucket``
    and ``centroid_id``, scored exactly within the block.

    The index-powered completion of :func:`embedding_neardup_pairs`
    (whose ``label`` blocking is an IVF stand-in): here the blocker is
    the real write-time layout, so the self-join's key IS the physical
    partitioning — each (bucket, list) block is read co-located, the
    pair space is bounded by block sizes (never corpus^2), and the
    persisted ``vnorm`` removes the norm recomputation. Standard
    LSH-dedup recall semantics: a pair must agree on all hyperplane
    signs and the coarse quantizer to be considered (deterministic, and
    replayed exactly by the oracle — like ``minhash_lsh_pairs``, the
    blocking is part of the operator's definition, not a hidden
    approximation).
    """
    from ser_etl_spark.sources.parquet import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    dim = _dim(emb, "embedding")
    if dim is None:  # empty corpus: no index, no pairs
        return spark.createDataFrame(
            [], "id_a bigint, id_b bigint, cos_sim double"
        )
    idx = ensure_ann_index(spark, sf_dir)
    cols = ("vec_id", "embedding", "vnorm", "srp_bucket", "centroid_id")
    df = spark.read.parquet(idx).select(*cols)
    a = df.select(
        F.col("srp_bucket").alias("bk"),
        F.col("centroid_id").alias("cd"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("vnorm").alias("na"),
    )
    b = df.select(
        F.col("srp_bucket").alias("bk"),
        F.col("centroid_id").alias("cd"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("vnorm").alias("nb"),
    )
    sim = F.expr(
        f"{_dot_cols_sql('va', 'vb', dim)}"
        " / nullif(na * nb, 0.0D)"
    )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    return (
        a.join(b, ["bk", "cd"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (sim + barrier).alias("_rcs"))
        .select(
            "id_a", "id_b", _present_round(F.col("_rcs"), 4).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .orderBy("id_a", "id_b")
    )


def _ann_blocked_neardup_oracle(
    threshold: float = 0.35,
    planes: int = ANN_PLANES,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin: the proven layout CTEs (bucket literals + nearest-
    TRAINED-centroid assignment via the training chain, NULL for
    degenerate rows so they can never pair — equality join semantics
    match Spark's), the same block self-join and the exact tie-safe
    cosine. The builder reads the persisted layout; the oracle
    re-derives it — their equality extends the ann_index_layout check
    to the pair surface."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    bkt = _srp_bucket_duck("e.embedding", m)
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, scored AS (
      SELECT e.vec_id, c.cid,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c
    ), asg AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN NULL ELSE cid END AS centroid_id
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), l AS (
      SELECT e.vec_id, e.embedding, {bkt} AS srp_bucket, asg.centroid_id
      FROM embeddings e JOIN asg USING (vec_id)
    )
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           {_duck_cos4("x.embedding", "y.embedding", dim)} AS cos_sim
    FROM l x JOIN l y
      ON x.srp_bucket = y.srp_bucket AND x.centroid_id = y.centroid_id
     AND x.vec_id < y.vec_id
    WHERE {_duck_cos4("x.embedding", "y.embedding", dim)} >= {threshold}
    ORDER BY id_a, id_b
    """


@register(
    "ann_blocked_neardup",
    oracle=_ann_blocked_neardup_oracle(),
    description="embedding near-dup pairs blocked by the persisted ANN "
    "index partitions (srp_bucket AND centroid_id must match): the "
    "write-time layout is the blocker, so the self-join key IS the "
    "physical partitioning — co-located block reads, pair space bounded "
    "by block sizes, persisted vnorm reused; exact rounded cosine "
    "verification within blocks, LSH-dedup recall semantics replayed "
    "exactly by the oracle (the label-blocked embedding_neardup's "
    "index-powered completion)",
    covers=("N-sim", "N-dedup"),
)
def ann_blocked_neardup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_blocked_neardup(spark, sf_dir)


# ---------------------------------------------------------------------------
# label cohesion: embedding-cluster quality QA
# ---------------------------------------------------------------------------


def label_cohesion(
    vectors: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label cluster quality: member count and the mean cosine of
    members to their label's mean-vector centroid — the embedding-QA
    gate a training pipeline runs before trusting labels/clusters
    (collapsed or incoherent labels surface as low cohesion).

    Determinism recipe (every piece proven elsewhere): centroids are the
    exact integer-space means of :func:`embedding_centroids` (1e-9
    quantization, BIGINT sums — partitioning-independent doubles),
    aggregated to ONE (label, centroid-array) row per label and
    broadcast-joined back onto the members; each member scores ONE
    rounded cosine against its joined centroid via the module's
    expanded per-component double expressions (dim-bounded — the plan
    is O(dim) and **O(1) in label cardinality**, unlike the r7
    per-label-literal form whose L expression columns + L-branch CASE
    hit the py4j/janino cliff at realistic label counts); cosines
    quantize to exact 1e4-scaled BIGINTs (try_cast: a NaN-element
    member contributes NULL, excluded from the mean, and can never fail
    the job) and sum associatively, with ONE double division per label
    at the end. Two corpus scans (centroid pass + scoring pass), one
    broadcast of L rows, label-keyed hash aggregates with map-side
    partials — nothing data-sized moves, and no driver collect at all:
    labels of any cardinality (and NULL labels) flow through. A label
    whose members all lack vectors keeps its member count with NULL
    cohesion (left join); a dimension that is NaN/absent in every
    member contributes 0.0 to the centroid on both engines.
    """
    spark = vectors.sparkSession
    dim = _dim(vectors, vec_col)
    if dim is None:
        # no probe-able vector anywhere (empty corpus OR every member
        # vector NULL): the LEFT-join semantics still owe one row per
        # label — member counts with NULL cohesion — exactly what the
        # oracle's LEFT JOIN produces for this corpus; an empty frame
        # here would diverge on a non-empty vector-less corpus (r8
        # review finding). Degrades to empty output on an empty input.
        return (
            vectors.groupBy(label_col)
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.lit(None).cast("double").alias("cohesion"),
            )
            .orderBy(label_col)
        )
    exploded = vectors.select(
        F.col(label_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    )
    # try_cast (unlike embedding_centroids' plain cast): a NaN/Inf
    # component becomes NULL and drops out of BOTH the sum and the count
    # — one poisoned vector shifts its label's centroid instead of
    # failing the QA job under ANSI, and DuckDB's TRY_CAST replays it
    # (this op runs the full adversarial seam corpus).
    q9 = F.expr(
        "try_cast(round(CAST(_x AS DOUBLE) * 1000000000.0D) AS LONG)"
    )
    # One row per (label, centroid array): dims re-packed in dim order;
    # a dim whose every member component was NaN/absent has cv NULL —
    # coalesced to 0.0 (a no-information dimension contributes nothing
    # to the dot product), mirrored by the oracle's coalesce.
    cent = (
        exploded.groupBy("grp", "dim")
        .agg(
            (F.sum(q9).cast("double") / (F.lit(1.0e9) * F.count(q9))).alias(
                "cv"
            )
        )
        .groupBy("grp")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("cv")))
            ).alias("_dc")
        )
        .select(
            F.col("grp").alias(label_col),
            F.expr("transform(_dc, s -> coalesce(s.cv, 0.0D))").alias("_c"),
        )
    )
    # Left join: labels with no centroid (every member's vector NULL or
    # empty) keep their member count with NULL cohesion; NULL labels
    # never equi-match and likewise score NULL — no driver-side int()
    # cast to crash on them. Centroids are O(L) rows: broadcast.
    members = vectors.select(F.col(label_col), F.col(vec_col)).join(
        F.broadcast(cent), on=label_col, how="left"
    )
    cs = (
        f"try_cast(round(({_dot_cols_sql(vec_col, '_c', dim)}"
        f" / nullif({_norm_sql(vec_col, dim)} * {_norm_sql('_c', dim)},"
        f" 0.0D)) * 10000.0) AS LONG)"
    )
    return (
        members.select(F.col(label_col), F.expr(cs).alias("_q"))
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # floor form: sum(_q)/count is an integer ratio —
            # tie-reachable (r10 round-half-tie audit).
            F.expr(
                "(CAST(floor((CAST(sum(_q) AS DOUBLE)"
                " / nullif(10000.0D * count(_q), 0.0D))"
                " * 1e6 + 0.5) AS DOUBLE) / 1e6)"
            ).alias("cohesion"),
        )
        .orderBy(label_col)
    )


def _label_cohesion_oracle(dim: int | None = None) -> str:
    """DuckDB twin: the proven exact-integer centroid means (the
    embedding_centroids oracle), re-packed to per-label lists ordered by
    dim (all-NULL dims coalesced to 0.0 like the Spark transform), then
    the same rounded-cosine quantization (TRY_CAST NaN->NULL), BIGINT
    sum and single division. LEFT JOIN so a label whose members all
    lack vectors keeps its member count with NULL cohesion — matching
    the Spark left broadcast join (ADVICE r8 alignment)."""
    dim = EMB_DIM if dim is None else dim
    cos = (
        f"({_duck_dot('e.embedding', 'cl.c', dim)}"
        f" / nullif({_duck_norm('e.embedding', dim)}"
        f" * {_duck_norm('cl.c', dim)}, 0.0)) * 10000.0"
    )
    return f"""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, dim,
             CAST(SUM(TRY_CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
               / (1e9 * COUNT(TRY_CAST(round(x * 1e9) AS BIGINT))) AS cv
      FROM ex GROUP BY label, dim
    ), cl AS (
      SELECT label, list(coalesce(cv, 0.0) ORDER BY dim) AS c
      FROM cent GROUP BY label
    ), scored AS (
      SELECT e.label,
             TRY_CAST(round({cos}) AS BIGINT) AS q
      FROM embeddings e LEFT JOIN cl ON e.label = cl.label
    )
    SELECT label, COUNT(*) AS n_members,
           (CAST(floor((CAST(SUM(q) AS DOUBLE)
                 / nullif(10000.0 * COUNT(q), 0.0))
                 * 1e6 + 0.5) AS DOUBLE) / 1e6) AS cohesion
    FROM scored GROUP BY label ORDER BY label
    """


@register(
    "label_cohesion",
    oracle=_label_cohesion_oracle(),
    description="embedding-cluster quality QA: per-label member count + "
    "mean cosine of members to their label's exact integer-space mean "
    "centroid (aggregated to L (label, centroid-array) rows and "
    "broadcast-LEFT-joined onto members — plan size O(dim), O(1) in "
    "label cardinality, no driver collect; 1e4-quantized BIGINT mean — "
    "partitioning-independent, NaN members excluded via try_cast on "
    "both engines, vector-less labels kept with NULL cohesion); the "
    "gate that catches collapsed or incoherent label clusters before "
    "training trusts them",
    covers=("N-sim", "B5"),
)
def label_cohesion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_cohesion(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic-duplicate canonical corpus over the ANN index blocks
# ---------------------------------------------------------------------------


def semdedup_canonical(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """The semantically deduplicated embedding corpus: every vector
    except non-survivor members of semantic-duplicate clusters — the
    SemDeDup recipe of the public LLM-data literature (cluster the
    embedding space, drop all but one member of each near-identical
    group) assembled from this module's verified pieces:

    1. :func:`ann_blocked_neardup` — near-dup pairs blocked by the
       PERSISTED index partitions (the write-time (srp_bucket,
       centroid_id) layout is the cluster structure SemDeDup computes
       ad hoc; here it is already on disk and co-located);
    2. ``duplicate_clusters`` (operators/dedup.py) — transitive closure
       by iterative min-label propagation, two shuffles per round;
    3. survivor anti-join — the right side is only the duplicate
       LOSERS, so AQE broadcasts it at any realistic dup rate.

    Same terminal-step semantics as ``dedup_canonical`` for text, with
    the embedding column as the identity signal.
    """
    from ser_etl_spark.operators.dedup import duplicate_clusters

    # an empty or all-NULL corpus yields no pairs, so the anti-join keeps
    # every row — as the oracle's NOT IN over an empty loser set does
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = ann_blocked_neardup(spark, sf_dir, threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    losers = (
        duplicate_clusters(pairs)
        .filter(~F.col("is_survivor"))
        .select(F.col("doc_id").alias("vec_id"))
    )
    return (
        emb.join(losers, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


def _semdedup_oracle(threshold: float = 0.35) -> str:
    """DuckDB twin: the full ann_blocked_neardup pair pipeline as a
    subquery, recursive reachability over its undirected edges (the
    ``dedup_clusters`` oracle pattern), survivors kept.

    ``AS MATERIALIZED`` is load-bearing since the r11 trained-quantizer
    migration: the inner pair pipeline now embeds the 3-iteration
    training chain, and without the hint DuckDB's recursive-CTE planner
    re-expands it per reachability step — observed as an
    OutOfMemoryException at sf0.01."""
    inner = _ann_blocked_neardup_oracle(threshold)
    return f"""
    WITH RECURSIVE prs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({inner}) q
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ), reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.node
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (
      SELECT node FROM reach GROUP BY node HAVING node <> MIN(r)
    )
    ORDER BY e.vec_id
    """


@register(
    "semdedup_canonical",
    oracle=_semdedup_oracle(),
    description="SemDeDup: the semantically deduplicated embedding "
    "corpus — near-dup pairs blocked by the persisted ANN index "
    "partitions, transitive closure via min-label propagation, one "
    "survivor kept per semantic cluster (anti-join whose right side is "
    "only the dup losers); the embedding-space twin of dedup_canonical",
    covers=("N-dedup", "N-sim"),
)
def semdedup_canonical_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_canonical(spark, sf_dir)


# ---------------------------------------------------------------------------
# k-NN label propagation over the persisted ANN index
# ---------------------------------------------------------------------------

#: Every vec_id divisible by this is treated as UNLABELED (the probe set)
#: — a deterministic holdout, so the operator doubles as its own accuracy
#: harness (`correct` column) without needing a second fixture table.
KNN_HOLDOUT_MOD = 5
#: Neighbors voting per probe.
KNN_K = 5


def knn_classify(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    holdout_mod: int = KNN_HOLDOUT_MOD,
) -> DataFrame:
    """Semi-supervised k-NN label propagation served by the persisted ANN
    index: probes (``vec_id % holdout_mod == 0``, their labels held out)
    join LABELED corpus rows sharing their ``srp_bucket``, take the
    ``k`` nearest by exact rounded cosine within the bucket, and predict
    by majority vote (ties to the smaller label). The weak-supervision /
    auto-labeling pass of a training-data pipeline (propagating a seed
    label set onto unlabeled crawl items), with the blocking key being
    the index's physical partitioning.

    Scale shape: the probe-to-corpus join is an equi-join on
    ``srp_bucket`` — per-bucket candidate sets, never corpus x probes —
    and the persisted ``vnorm`` removes every norm recomputation. The
    two windows partition by probe id; the top-k filter compiles to
    WindowGroupLimit (per-partition heaps before the final sort), so no
    bucket-sized global sort survives at scale. Like every LSH-family
    operator here, the single-bucket probe IS the recall semantics
    (deterministic, replayed exactly by the oracle); the recall lever at
    production scale is the multiprobe variant's Hamming ball.

    Degenerate corpora (no probeable vector anywhere) replay the
    oracle's NULL algebra without an index: every SRP projection is NULL
    -> every plane bit 0 -> all rows share bucket 0, and every cosine is
    NULL, so the vote falls through to the (NULL-last, n_id ASC)
    tie-break — identical on both engines.
    """
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _dim(emb, "embedding")
    is_probe = (F.col("vec_id") % holdout_mod) == 0
    if dim is None:
        base = emb.select("vec_id", "label", F.lit(0).alias("bk"))
        probes = base.filter(is_probe).select(
            "bk",
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("true_label"),
        )
        nbrs = base.filter(~is_probe & F.col("label").isNotNull()).select(
            "bk",
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("pred_label"),
        )
        scored = probes.join(nbrs, "bk").select(
            "q_id",
            "true_label",
            "n_id",
            "pred_label",
            F.lit(None).cast("double").alias("cos_sim"),
        )
    else:
        idx = ensure_ann_index(spark, sf_dir)
        df = spark.read.parquet(idx).select(
            "vec_id", "label", "embedding", "vnorm", "srp_bucket"
        )
        probes = df.filter(is_probe).select(
            F.col("srp_bucket").alias("bk"),
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("va"),
            F.col("vnorm").alias("na"),
        )
        nbrs = df.filter(~is_probe & F.col("label").isNotNull()).select(
            F.col("srp_bucket").alias("bk"),
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("pred_label"),
            F.col("embedding").alias("vb"),
            F.col("vnorm").alias("nb"),
        )
        sim = F.expr(
            f"{_dot_cols_sql('va', 'vb', dim)} / nullif(na * nb, 0.0D)"
        )
        barrier = F.monotonically_increasing_id() * F.lit(0)
        scored = (
            probes.join(nbrs, "bk")
            .select(
                "q_id",
                "true_label",
                "n_id",
                "pred_label",
                (sim + barrier).alias("_rcs"),
            )
            .select(
                "q_id",
                "true_label",
                "n_id",
                "pred_label",
                _present_round(F.col("_rcs"), 4).alias("cos_sim"),
            )
        )
    w_near = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    topk = (
        scored.withColumn("_rn", F.row_number().over(w_near))
        .filter(F.col("_rn") <= k)
    )
    votes = topk.groupBy("q_id", "true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    return (
        votes.withColumn("_rk", F.row_number().over(w_vote))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            "true_label",
            "pred_label",
            "votes",
            (F.col("pred_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
        .orderBy("vec_id")
    )


def _knn_classify_oracle(
    k: int = KNN_K,
    holdout_mod: int = KNN_HOLDOUT_MOD,
    planes: int = ANN_PLANES,
    dim: int | None = None,
) -> str:
    """DuckDB twin: the same SRP bucket literals, bucket equi-join,
    rounded-cosine top-k (NULLS LAST both engines) and majority vote
    with the (votes DESC, label ASC) tie-break."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    bkt = _srp_bucket_duck("e.embedding", m)
    return f"""
    WITH l AS (
      SELECT e.vec_id, e.label, e.embedding, {bkt} AS bk
      FROM embeddings e
    ), scored AS (
      SELECT q.vec_id AS q_id, q.label AS true_label,
             n.vec_id AS n_id, n.label AS pred_label,
             {_duck_cos4("q.embedding", "n.embedding", dim)} AS cs
      FROM l q JOIN l n ON q.bk = n.bk
      WHERE q.vec_id % {holdout_mod} = 0
        AND n.vec_id % {holdout_mod} <> 0
        AND n.label IS NOT NULL
    ), topk AS (
      SELECT q_id, true_label, pred_label FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cs DESC, n_id ASC) <= {k}
    ), votes AS (
      SELECT q_id, true_label, pred_label, COUNT(*) AS votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT q_id AS vec_id, true_label, pred_label, votes,
           CAST(pred_label = true_label AS INT) AS correct
    FROM votes
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY votes DESC, pred_label ASC) = 1
    ORDER BY vec_id
    """


@register(
    "knn_classify",
    oracle=_knn_classify_oracle(),
    description="semi-supervised k-NN label propagation over the "
    "persisted ANN index: held-out probes (vec_id % 5 == 0) equi-join "
    "labeled rows on their srp_bucket partition, top-5 by exact rounded "
    "cosine within the bucket (WindowGroupLimit: per-partition heaps), "
    "majority vote with deterministic tie-breaks; the auto-labeling / "
    "weak-supervision pass of a training pipeline, with per-probe "
    "accuracy surfaced in the `correct` column",
    covers=("N-sim",),
)
def knn_classify_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_classify(spark, sf_dir)


# ---------------------------------------------------------------------------
# label / centroid confusion: clustering-vs-labels QA
# ---------------------------------------------------------------------------


def label_centroid_confusion(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float] | None]] | None = None,
) -> DataFrame:
    """Confusion matrix between the human label column and the IVF
    coarse-quantizer assignment: ``(label, centroid_id, n, share)`` with
    ``share`` = the fraction of the label's members landing on that
    centroid. The clustering-QA companion to :func:`label_cohesion` —
    a label whose members scatter across many centroids (low max share)
    disagrees with embedding-space structure, the signal a curation
    pipeline uses to find mislabeled or incoherent classes before
    training on them. ``centroids`` injects the quantizer (the registry
    query passes the TRAINED artifact — the quantizer the index actually
    serves since r11); default derives the first-K seeds.

    Scale: ONE embarrassingly-parallel scan (K dot products per row, no
    shuffle — the label rides through the same projection
    :func:`ivf_assign` uses, so no join back to the corpus); the matrix
    aggregate is |labels| x K rows, the share window runs over that
    aggregate, and nothing data-sized moves after the first groupBy.
    Degenerate vectors carry the -1 sentinel list and confuse nothing.
    """
    from pyspark.sql.window import Window

    cents = centroids if centroids is not None else ivf_centroids(vectors)
    if not cents:  # empty corpus: typed empty matrix
        return vectors.select(
            F.col("label"),
            F.lit(-1).alias("centroid_id"),
            F.lit(0).cast("bigint").alias("n"),
            F.lit(0.0).alias("share"),
        ).limit(0)
    dim = next((len(v) for _, v in cents if v is not None), None)
    if dim is None:
        # centroid rows exist but carry no vector: every row scores NULL
        # everywhere and the whole corpus lands on the -1 sentinel (the
        # oracle's CASE; rows must survive — r8b review finding)
        counts = vectors.groupBy("label").agg(
            F.count(F.lit(1)).alias("n")
        ).select("label", F.lit(-1).alias("centroid_id"), "n")
    else:
        p = vectors.select(
            F.col("label"),
            F.col("embedding"),
            _norm_col("embedding", dim).alias("_nv"),
        )
        asg = _with_nearest_centroid(
            p, "embedding", "_nv", cents, "centroid_id"
        )
        counts = asg.groupBy(
            "label",
            F.coalesce(F.col("centroid_id"), F.lit(-1)).alias("centroid_id"),
        ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("label")
    # fround: counts ratio — tie-reachable at the 5th decimal (r10
    # round-half-tie audit).
    share = fround(
        F.col("n").cast("double")
        / F.sum("n").over(w).cast("double"),
        4,
    )
    return counts.select(
        "label", "centroid_id", "n", share.alias("share")
    ).orderBy("label", "centroid_id")


def _label_centroid_confusion_oracle(
    num_centroids: int = IVF_CENTROIDS, dim: int | None = None
) -> str:
    """DuckDB twin: the proven ivf_assign CTE over the TRAINED quantizer
    (expanded nullif-guarded cosines, argmax with cid tie-break, -1
    sentinel) grouped against the label column; explicit DOUBLE casts
    keep the share division out of HUGEINT arithmetic."""
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}, scored AS (
      SELECT e.vec_id, c.cid,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c
    ), asg AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN -1 ELSE cid END AS centroid_id
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), g AS (
      SELECT e.label, a.centroid_id, COUNT(*) AS n
      FROM embeddings e JOIN asg a USING (vec_id)
      GROUP BY 1, 2
    )
    SELECT label, centroid_id, n,
           (CAST(floor((CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE))
                 * 1e4 + 0.5) AS DOUBLE) / 1e4) AS share
    FROM g ORDER BY label, centroid_id
    """


@register(
    "label_centroid_confusion",
    oracle=_label_centroid_confusion_oracle(),
    description="label-vs-IVF-centroid confusion matrix over the TRAINED "
    "quantizer: every vector's coarse-quantizer assignment (one "
    "K-dot-product scan, no shuffle) grouped against its human label, "
    "with per-label share — the clustering-agreement QA that surfaces "
    "mislabeled or incoherent classes; aggregate is |labels| x K rows, "
    "nothing data-sized moves after the first groupBy",
    covers=("N-sim",),
)
def label_centroid_confusion_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return label_centroid_confusion(
        load_table(spark, sf_dir, "embeddings"),
        centroids=_trained_cents(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: the index-QA harness
# ---------------------------------------------------------------------------

#: Anchors (lowest vec_ids) and cutoff for the recall evaluation.
RECALL_ANCHORS = 5
RECALL_K = 10


def ann_recall_eval(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int = RECALL_ANCHORS,
    k: int = RECALL_K,
    planes: int = ANN_PLANES,
) -> DataFrame:
    """Recall@k of the single-probe SRP bucket ANN against the exact
    cosine top-k, per anchor — the evaluation harness an index rollout
    gates on (publish the new layout only if recall holds). Output:
    ``(anchor_id, n_exact, n_bucket, n_hit, recall)`` where ``n_bucket``
    is the anchor's candidate-set size (the scan-fraction evidence:
    bucket size / corpus = the cost side of the recall/cost trade).

    Scale shape: ONE fused corpus scan scores every anchor AND computes
    each row's SRP bucket (per-anchor score columns and per-plane
    projections land as separate barrier-protected projections — the
    janino discipline of :func:`hard_negative_mine`), then ONE sorted
    window per anchor yields both the exact rank and the in-bucket rank
    (a running in_bucket count over the same order), and an anchor-sized
    aggregate closes it: one scan, one window exchange, one aggregate
    exchange (pinned by tests/test_plans.py — the naive two-window/join
    tail re-ran the fused scan once per consumer). The per-anchor sort
    is the honest cost of exact ground truth; at 100 TB the eval runs
    over a corpus SAMPLE at the same plan shape.
    """
    anchors = [
        (a_id, vec)
        for a_id, _, vec in _query_points(spark, sf_dir, n_anchors)
        if vec is not None
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    if not anchors:
        return spark.createDataFrame(
            [],
            "anchor_id bigint, n_exact bigint, n_bucket bigint, "
            "n_hit bigint, recall double",
        )
    from pyspark.sql.window import Window

    dim = len(anchors[0][1])
    matrix = _plane_matrix(spark, dim, planes)
    barrier = F.monotonically_increasing_id() * F.lit(0)
    proj_cols = [
        (F.expr(_plane_proj_sql(coeffs, "embedding")) + barrier).alias(f"_pl{p}")
        for p, coeffs in enumerate(matrix)
    ]
    p0 = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
        *proj_cols,
    )
    bucket = None
    for i in range(planes):
        bit = F.when(
            F.coalesce(F.col(f"_pl{i}") >= 0, F.lit(False)), F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    sim_cols = []
    for a_id, q in anchors:
        sim = F.expr(
            f"{_dot_lit_sql('embedding', q)}"
            f" / nullif(_nv * ({_pynorm(q)!r}), 0.0D)"
        )
        sim_cols.append((sim + barrier).alias(f"_rsim{a_id}"))
    # raw barrier-protected trees, then tie-safe presentation over refs
    p1 = p0.select(
        F.col("vec_id"), bucket.alias("_bk"), *sim_cols
    ).select(
        F.col("vec_id"),
        F.col("_bk"),
        *[
            _present_round(F.col(f"_rsim{a_id}"), 4).alias(f"_sim{a_id}")
            for a_id, _ in anchors
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(a_id).cast("bigint").alias("a_id"),
                F.col(f"_sim{a_id}").alias("cos_sim"),
                (F.col("_bk") == F.lit(_srp_bucket_py(q, matrix))).alias(
                    "in_bucket"
                ),
            )
            for a_id, q in anchors
        ]
    )
    stacked = p1.select(F.col("vec_id"), F.explode(entries).alias("s")).select(
        "vec_id", "s.a_id", "s.cos_sim", "s.in_bucket"
    )
    # Single-pass tail: one sorted window per anchor yields BOTH ranks —
    # the exact rank (row_number) and the in-bucket rank (running count
    # of in_bucket rows over the same order, inclusive — for an
    # in-bucket row that running count IS its rank among bucket rows).
    # The naive two-window/anti-join formulation re-computed the fused
    # corpus scan once per consumer (4 scans in the plan); this shape is
    # pinned to exactly one scan by tests/test_plans.py.
    w_rank = Window.partitionBy("a_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = stacked.select(
        "a_id",
        "in_bucket",
        F.row_number().over(w_rank).cast("bigint").alias("_er"),
        F.sum(F.col("in_bucket").cast("bigint")).over(w_run).alias("_bc"),
    )
    in_exact = F.col("_er") <= k
    in_approx = F.col("in_bucket") & (F.col("_bc") <= k)
    agg = ranked.groupBy("a_id").agg(
        F.sum(in_exact.cast("bigint")).alias("n_exact"),
        F.max("_bc").alias("n_bucket"),
        F.sum((in_exact & in_approx).cast("bigint")).alias("n_hit"),
    )
    return agg.select(
        F.col("a_id").alias("anchor_id"),
        "n_exact",
        "n_bucket",
        "n_hit",
        # fround: counts ratio — tie-reachable at the 5th decimal
        # (r10 round-half-tie audit).
        fround(
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
            4,
        ).alias("recall"),
    ).orderBy("anchor_id")


def _ann_recall_oracle(
    n_anchors: int = RECALL_ANCHORS,
    k: int = RECALL_K,
    planes: int = ANN_PLANES,
    dim: int | None = None,
) -> str:
    """DuckDB twin: anchor buckets computed IN SQL from the same rows
    the builder collects (the driver-side ``_srp_bucket_py`` is the
    pinned bit-twin of this expression), same rounded-cosine rankings,
    same NULL/NaN ordering, same aggregate tail."""
    dim = EMB_DIM if dim is None else dim
    m = _plane_matrix(None, dim, planes)
    return f"""
    WITH q AS (
      SELECT e.vec_id AS a_id, e.embedding AS qv,
             {_srp_bucket_duck("e.embedding", m)} AS qb
      FROM embeddings e
      WHERE e.vec_id < {n_anchors} AND e.embedding IS NOT NULL
    ), b AS (
      SELECT e.vec_id, e.embedding,
             {_srp_bucket_duck("e.embedding", m)} AS bk
      FROM embeddings e
    ), scored AS (
      SELECT q.a_id, b.vec_id,
             {_duck_cos4("b.embedding", "q.qv", dim)} AS cs,
             (b.bk = q.qb) AS in_bucket
      FROM b CROSS JOIN q
    ), ranked AS (
      SELECT a_id, in_bucket,
             ROW_NUMBER() OVER (PARTITION BY a_id
                                ORDER BY cs DESC, vec_id ASC) AS er,
             SUM(CAST(in_bucket AS BIGINT)) OVER (
               PARTITION BY a_id ORDER BY cs DESC, vec_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bc
      FROM scored
    ), agg AS (
      SELECT a_id,
             CAST(SUM(CAST(er <= {k} AS BIGINT)) AS BIGINT) AS n_exact,
             CAST(MAX(bc) AS BIGINT) AS n_bucket,
             CAST(SUM(CAST(er <= {k} AND in_bucket AND bc <= {k}
                           AS BIGINT)) AS BIGINT) AS n_hit
      FROM ranked GROUP BY 1
    )
    SELECT a_id AS anchor_id, n_exact, n_bucket, n_hit,
           (CAST(floor((CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE))
                 * 1e4 + 0.5) AS DOUBLE) / 1e4)
             AS recall
    FROM agg
    ORDER BY anchor_id
    """


@register(
    "ann_recall_eval",
    oracle=_ann_recall_oracle(),
    description="recall@10 of the single-probe SRP-bucket ANN vs the "
    "exact cosine top-10, per anchor, with the bucket's candidate-set "
    "size as the cost evidence — ONE fused corpus scan scores all "
    "anchors and computes row buckets (barrier-protected projections), "
    "one sorted window yielding both ranks, one anchor-sized "
    "aggregate; the index-rollout QA gate",
    covers=("N-sim",),
)
def ann_recall_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_eval(spark, sf_dir)


# ---------------------------------------------------------------------------
# vector quality audit: embeddings-table data QA
# ---------------------------------------------------------------------------


def vector_quality_audit(
    vectors: DataFrame, expect_dim: int | None = None
) -> DataFrame:
    """Per-label embedding-quality audit: how many vectors are NULL,
    dimension-mismatched, carry NULL/NaN components, or are zero-norm —
    the ingest gate run BEFORE building the ANN index (degenerate rows
    land in sentinel partitions, poison cosine rankings, and waste index
    space; this is the table that tells you how many and where from).
    Mirrors the reference's QA-before-index intent (the uniqueness gate
    of ``etl/build.py check_unique``) applied to the vector column.

    One scan, one |labels|-sized hash aggregate with map-side partials;
    component checks are higher-order EXISTS/aggregate over the array —
    per-row bounded work, no shuffle beyond the label key. ``expect_dim``
    defaults to the corpus's probed dimension, so the audit is
    self-calibrating (and the probe is O(1), not a scan).
    """
    dim = expect_dim if expect_dim is not None else _dim(vectors, "embedding")
    if dim is None:
        # no probe-able vector anywhere: every row is either NULL or
        # mismatched-by-definition-unknown; report the NULL counts only
        return (
            vectors.groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("embedding").isNull().cast("bigint")
                ).alias("n_null_vec"),
                F.lit(0).cast("bigint").alias("n_wrong_dim"),
                F.lit(0).cast("bigint").alias("n_null_elem"),
                F.lit(0).cast("bigint").alias("n_nan"),
                F.lit(0).cast("bigint").alias("n_zero_norm"),
            )
            .orderBy("label")
        )
    has_null_elem = F.expr("exists(embedding, x -> x IS NULL)")
    has_nan = F.expr("exists(embedding, x -> isnan(x))")
    # exact zero norm: NO non-NULL nonzero component present (the
    # predicate inside exists is never NULL, so the three-valued-logic
    # seam of a forall over NULL elements cannot appear; buckets may
    # overlap — a [NULL, 0.0] vector is both n_null_elem and
    # n_zero_norm — identically on both engines)
    all_zero = F.expr(
        "NOT exists(embedding, x -> x IS NOT NULL AND x <> CAST(0.0 AS FLOAT))"
    )
    ok_vec = F.col("embedding").isNotNull()
    right_dim = F.size("embedding") == dim
    return (
        vectors.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~ok_vec).cast("bigint")).alias("n_null_vec"),
            F.sum((ok_vec & ~right_dim).cast("bigint")).alias("n_wrong_dim"),
            F.sum(
                (ok_vec & F.coalesce(has_null_elem, F.lit(False)))
                .cast("bigint")
            ).alias("n_null_elem"),
            F.sum(
                (ok_vec & F.coalesce(has_nan, F.lit(False))).cast("bigint")
            ).alias("n_nan"),
            F.sum(
                (ok_vec & F.coalesce(all_zero, F.lit(False))).cast("bigint")
            ).alias("n_zero_norm"),
        )
        .orderBy("label")
    )


def _vector_quality_oracle(dim: int | None = None) -> str:
    d = EMB_DIM if dim is None else dim
    return f"""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CAST(embedding IS NULL AS BIGINT)) AS BIGINT)
             AS n_null_vec,
           CAST(SUM(CAST(embedding IS NOT NULL AND len(embedding) <> {d}
                         AS BIGINT)) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(CAST(embedding IS NOT NULL AND coalesce(
                  len(list_filter(embedding, x -> x IS NULL)) > 0, false)
                         AS BIGINT)) AS BIGINT) AS n_null_elem,
           CAST(SUM(CAST(embedding IS NOT NULL AND coalesce(
                  len(list_filter(embedding, x -> isnan(x))) > 0, false)
                         AS BIGINT)) AS BIGINT) AS n_nan,
           CAST(SUM(CAST(embedding IS NOT NULL AND coalesce(
                  len(list_filter(embedding,
                      x -> x IS NOT NULL AND x <> CAST(0.0 AS FLOAT))) = 0,
                  false)
                         AS BIGINT)) AS BIGINT) AS n_zero_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """


@register(
    "vector_quality_audit",
    oracle=_vector_quality_oracle(),
    description="per-label embedding data-QA: counts of NULL vectors, "
    "dimension mismatches, NULL/NaN components and exact zero-norm "
    "rows — one scan, |labels|-sized hash aggregate with map-side "
    "partials, bounded per-row array checks; the ingest gate run "
    "before an ANN index build trusts the vector column",
    covers=("N-sim", "N-quality"),
)
def vector_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vector_quality_audit(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# embedding drift: centroid movement between corpus halves
# ---------------------------------------------------------------------------


def embedding_drift(
    vectors: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid drift between two corpus halves (``vec_id %
    2``): the cosine between the exact integer-space mean centroid of
    each half, with both member counts. The QA a pipeline runs when an
    embedding model or upstream corpus changes — a label whose halves'
    centroids disagree (low ``drift_cos``) is unstable, and indexes /
    thresholds tuned on the old half will not transfer.

    Determinism: both centroids use :func:`embedding_centroids`'s
    1e-9-quantized BIGINT means (partitioning-independent doubles, NaN
    components try_cast-dropped), re-packed to dim-ordered arrays; the
    drift cosine is ONE fixed-order expanded 64-term expression over
    the two centroid arrays — deterministic on both engines without
    further quantization (unlike label_cohesion's member SUM, nothing
    here accumulates in a partition-dependent order). A label appears
    only when BOTH halves have at least one component row (inner join);
    a dim absent from one half's members makes that drift NULL on both
    engines (out-of-range access).

    Scale: one posexplode scan, (label, half, dim)-keyed hash
    aggregates with map-side partials, two |labels|-sized join inputs —
    nothing data-sized moves after the first aggregate.
    """
    dim = _dim(vectors, vec_col)
    if dim is None:
        # no component rows anywhere -> no (label, half) centroid rows
        # -> the inner join is empty on both engines
        return vectors.sparkSession.createDataFrame(
            [],
            f"{label_col} int, n_a bigint, n_b bigint, drift_cos double",
        )
    half = (F.col("vec_id") % 2).alias("half")
    exploded = vectors.select(
        F.col(label_col).alias("grp"),
        half,
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    )
    q9 = F.expr(
        "try_cast(round(CAST(_x AS DOUBLE) * 1000000000.0D) AS LONG)"
    )
    packed = (
        exploded.groupBy("grp", "half", "dim")
        .agg(
            (F.sum(q9).cast("double") / (F.lit(1.0e9) * F.count(q9))).alias(
                "cv"
            )
        )
        .groupBy("grp", "half")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("cv")))
            ).alias("_dc")
        )
        .select(
            "grp",
            "half",
            F.expr("transform(_dc, s -> coalesce(s.cv, 0.0D))").alias("_c"),
        )
    )
    a = packed.filter(F.col("half") == 0).select(
        F.col("grp"), F.col("_c").alias("_a")
    )
    b = packed.filter(F.col("half") == 1).select(
        F.col("grp"), F.col("_c").alias("_b")
    )
    counts = vectors.select(F.col(label_col).alias("grp"), half).groupBy(
        "grp", "half"
    ).agg(F.count(F.lit(1)).alias("n"))
    na = counts.filter(F.col("half") == 0).select(
        "grp", F.col("n").alias("n_a")
    )
    nb = counts.filter(F.col("half") == 1).select(
        "grp", F.col("n").alias("n_b")
    )
    drift = F.expr(
        f"{_dot_cols_sql('_a', '_b', dim)}"
        f" / nullif({_norm_sql('_a', dim)} * {_norm_sql('_b', dim)},"
        f" 0.0D)"
    )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    return (
        a.join(b, "grp")
        .join(na, "grp")
        .join(nb, "grp")
        .select(
            F.col("grp").alias(label_col),
            "n_a",
            "n_b",
            (drift + barrier).alias("_rdc"),
        )
        .select(
            label_col,
            "n_a",
            "n_b",
            _present_round(F.col("_rdc"), 6).alias("drift_cos"),
        )
        .orderBy(label_col)
    )


def _embedding_drift_oracle(dim: int | None = None) -> str:
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cent AS (
      SELECT label, half, dim,
             CAST(SUM(TRY_CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
               / (1e9 * COUNT(TRY_CAST(round(x * 1e9) AS BIGINT))) AS cv
      FROM ex GROUP BY 1, 2, 3
    ), cl AS (
      SELECT label, half, list(coalesce(cv, 0.0) ORDER BY dim) AS c
      FROM cent GROUP BY 1, 2
    ), n AS (
      SELECT label, vec_id % 2 AS half, COUNT(*) AS n
      FROM embeddings GROUP BY 1, 2
    )
    SELECT a.label, na.n AS n_a, nb.n AS n_b,
           {_duck_f(f"{_duck_dot('a.c', 'b.c', dim)}"
                    f" / nullif({_duck_norm('a.c', dim)}"
                    f" * {_duck_norm('b.c', dim)}, 0.0)", 6)} AS drift_cos
    FROM cl a
    JOIN cl b ON a.label = b.label AND a.half = 0 AND b.half = 1
    JOIN n na ON na.label = a.label AND na.half = 0
    JOIN n nb ON nb.label = a.label AND nb.half = 1
    ORDER BY a.label
    """


@register(
    "embedding_drift",
    oracle=_embedding_drift_oracle(),
    description="per-label centroid drift between corpus halves "
    "(vec_id % 2): cosine between the two halves' exact "
    "1e-9-quantized-BIGINT mean centroids plus both member counts — "
    "one posexplode scan, (label, half, dim) hash aggregates with "
    "map-side partials, |labels|-sized joins; the stability QA run "
    "when an embedding model or corpus version changes",
    covers=("N-sim", "N-quality"),
)
def embedding_drift_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_drift(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# per-dimension variance screen: near-constant embedding dims
# ---------------------------------------------------------------------------

#: Near-constant threshold in quantized units squared: a dimension whose
#: exact variance is below (0.01)^2 in float space — q9 scale makes that
#: (0.01 * 1e9)^2 = 1e14 — carries almost no signal and usually marks a
#: dead model output or a truncated ingest column.
_DIM_EPS_Q2 = 10**14


def dim_variance_screen(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-DIMENSION embedding QA: exact integer variance statistics for
    every vector component position, flagging near-constant dimensions —
    the feature-screen complement of ``vector_quality_audit``'s per-row
    checks (a dimension that never moves wastes index bits, distorts
    quantizer training, and often marks a dead model head).

    Exactness: components quantize to 1e-9 BIGINTs (``try_cast`` drops
    NaN to NULL, counts use COUNT(q) so NULL components don't dilute),
    n·Σx² − (Σx)² accumulates in decimal(38,0)/HUGEINT, and the
    near-constant flag is the pure integer predicate
    ``varn <= n² · eps_q²`` — bit-deterministic on both engines. The
    mean/variance columns are presentation-only doubles (round 6).

    Scale: one posexplode scan to (dim, q) rows — a ``dim``-factor row
    expansion but each row is two scalars — then ONE fixed-cardinality
    (|dims| rows) hash aggregate with map-side partials; nothing else
    shuffles. Magnitude envelope: varn terms scale as (n·max|q|)²/n —
    with unit-norm embeddings (|q| <= 1e9) safe past 1e10 rows.
    """
    exploded = vectors.select(F.posexplode(F.col(vec_col)).alias("dim", "_x"))
    q = F.expr("try_cast(round(CAST(_x AS DOUBLE) * 1000000000.0D) AS LONG)")
    base = exploded.select("dim", q.alias("q"))
    d = F.col("q").cast("decimal(19,0)")
    agg = base.groupBy("dim").agg(
        F.count("q").alias("n"),
        F.sum(d).alias("sx"),
        F.sum(d * d).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(20,0)")
    varn = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    eps = F.lit(_DIM_EPS_Q2).cast("decimal(15,0)")
    # fround x2: exact-integer ratios over quantized sums —
    # tie-reachable at the 7th decimal (r10 round-half-tie audit).
    mean = fround(
        F.col("sx").cast("double")
        / F.when(F.col("n") > 0, F.col("n").cast("double") * 1e9),
        6,
    )
    variance = fround(
        varn.cast("double")
        / F.when(
            F.col("n") > 0,
            F.col("n").cast("double") * F.col("n").cast("double") * 1e18,
        ),
        6,
    )
    flag = F.when(varn <= nd * nd * eps, F.lit(1)).otherwise(F.lit(0))
    return agg.select(
        "dim",
        "n",
        mean.alias("mean"),
        variance.alias("variance"),
        flag.cast("long").alias("near_const"),
    ).orderBy("dim")


@register(
    "dim_variance_screen",
    oracle=f"""
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             TRY_CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e9)
                      AS BIGINT) AS q
      FROM embeddings
    ), agg AS (
      SELECT dim, COUNT(q) AS n,
             SUM(CAST(q AS HUGEINT)) AS sx,
             SUM(CAST(q AS HUGEINT) * q) AS sxx
      FROM ex GROUP BY dim
    )
    SELECT dim, CAST(n AS BIGINT) AS n,
           (CAST(floor((CAST(sx AS DOUBLE)
                 / nullif(CAST(n AS DOUBLE) * 1e9, 0.0))
                 * 1e6 + 0.5) AS DOUBLE) / 1e6) AS mean,
           (CAST(floor((CAST(n*sxx - sx*sx AS DOUBLE)
                 / nullif(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e18,
                          0.0)) * 1e6 + 0.5) AS DOUBLE) / 1e6) AS variance,
           CAST(CASE WHEN n*sxx - sx*sx <= CAST(n AS HUGEINT)*n*{_DIM_EPS_Q2} THEN 1
                     ELSE 0 END AS BIGINT) AS near_const
    FROM agg ORDER BY dim
    """,
    description="per-dimension embedding variance screen: exact "
    "n*sxx-sx^2 in decimal(38,0)/HUGEINT over 1e-9-quantized "
    "components, near-constant flag as a pure integer predicate, "
    "presentation-only double mean/variance — one posexplode scan, one "
    "fixed-cardinality dim aggregate",
    covers=("N-sim", "N-quality", "B4"),
)
def dim_variance_screen_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dim_variance_screen(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# embedding hygiene audit (r10): the malformed-vector QA every ANN/dedup
# consumer upstream-gates on
# ---------------------------------------------------------------------------


def embedding_health_audit(
    vectors: DataFrame, dim: int = EMB_DIM
) -> DataFrame:
    """Per-label counts of the vector pathologies every downstream
    consumer (cosine probes, quantized index, k-means) degrades on:
    NULL vectors, wrong dimensionality, non-finite components (NaN/Inf
    — the rows try_cast silently skips in the M-step), and zero-norm
    vectors (cosine NULL, the -1 assignment sentinel). One scan, one
    |labels| aggregate; every flag is a pure array predicate evaluated
    inside codegen — no explode, no shuffle beyond the tiny group.

    NULL-element seams guarded with coalesce (``exists`` is three-valued
    over NULL elements on both engines); NaN comparison semantics agree
    (NaN <> 0 is TRUE on Spark and DuckDB), pinned by the oracle."""
    e = "embedding"
    nonfinite = F.coalesce(
        F.expr(
            f"exists({e}, x -> isnan(cast(x AS double)) OR "
            f"abs(cast(x AS double)) = cast('Infinity' AS DOUBLE))"
        ),
        F.lit(False),
    )
    zero_norm = (F.size(F.col(e)) > 0) & ~F.coalesce(
        F.expr(f"exists({e}, x -> cast(x AS double) <> 0.0D)"),
        F.lit(False),
    )
    flags = vectors.select(
        "label",
        F.col(e).isNull().cast("bigint").alias("f_null"),
        (
            F.col(e).isNotNull() & (F.size(F.col(e)) != dim)
        ).cast("bigint").alias("f_dim"),
        nonfinite.cast("bigint").alias("f_nonfin"),
        zero_norm.cast("bigint").alias("f_zero"),
    )
    z = F.lit(0)
    return (
        flags.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.coalesce(F.sum("f_null"), z).cast("bigint").alias("n_null_vec"),
            F.coalesce(F.sum("f_dim"), z).cast("bigint").alias("n_wrong_dim"),
            F.coalesce(F.sum("f_nonfin"), z)
            .cast("bigint")
            .alias("n_nonfinite"),
            F.coalesce(F.sum("f_zero"), z).cast("bigint").alias("n_zero_norm"),
        )
        .orderBy("label")
    )


@register(
    "embedding_health_audit",
    oracle=f"""
    WITH fl AS (
      SELECT label,
             CAST(embedding IS NULL AS BIGINT) AS f_null,
             CAST(embedding IS NOT NULL AND len(embedding) <> {EMB_DIM}
                  AS BIGINT) AS f_dim,
             CAST(COALESCE(len(list_filter(embedding,
                    x -> isnan(CAST(x AS DOUBLE)) OR
                         abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)
                  )) > 0, FALSE) AS BIGINT) AS f_nonfin,
             CAST(COALESCE(len(embedding) > 0, FALSE) AND NOT
                  COALESCE(len(list_filter(embedding,
                    x -> CAST(x AS DOUBLE) <> 0.0)) > 0, FALSE)
                  AS BIGINT) AS f_zero
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COALESCE(SUM(f_null), 0) AS BIGINT) AS n_null_vec,
           CAST(COALESCE(SUM(f_dim), 0) AS BIGINT) AS n_wrong_dim,
           CAST(COALESCE(SUM(f_nonfin), 0) AS BIGINT) AS n_nonfinite,
           CAST(COALESCE(SUM(f_zero), 0) AS BIGINT) AS n_zero_norm
    FROM fl GROUP BY label ORDER BY label
    """,
    description="embedding hygiene audit: per label the NULL / "
    "wrong-dim / non-finite-component / zero-norm vector counts — the "
    "upstream gate for every cosine/quantize/k-means consumer; one "
    "scan, codegen array predicates, |labels| aggregate",
    covers=("N-sim", "N-quality", "B4"),
)
def embedding_health_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return embedding_health_audit(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# one Lloyd iteration: the k-means training step as a query (r9)
# ---------------------------------------------------------------------------

#: quantization scale for mean/movement determinism (the
#: embedding_centroids convention: exact BIGINT accumulation of
#: 1e-9-quantized doubles)
_Q_SCALE = 1.0e9


def _dlit(x: float) -> str:
    """SQL double literal for ``x``, non-finite-safe: ``repr`` of a NaN /
    Inf float ('nan'/'inf') is not valid SQL (ADVICE r14 #2 — the old
    createDataFrame seeds path could ship such values), so those render
    as explicit casts; finite doubles render exactly via repr."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{float(x)!r}D"


def _mstep_rows(
    assigned: DataFrame,
    cents: list[tuple[int, list[float] | None]],
    vec_col: str,
) -> DataFrame:
    """The M-step readout rows ``(centroid_id, dim, mu, _d2q, _nrows)``
    for one Lloyd pass over the assigned rows — the single definition
    :func:`kmeans_lloyd_step` and :func:`_lloyd_pass` share since r15
    (they carried drift-prone twins of the same three expressions).

    Shape: posexplode + ONE (centroid, dim) hash aggregate with
    map-side partial sums of 1e-9-quantized BIGINTs (the
    ``embedding_centroids`` determinism discipline), then the squared
    movement against the PREVIOUS positions as a literal-map lookup —
    ``cents`` is driver data already, so a seeds scan + broadcast join
    would re-derive it from the corpus (the r14 _lloyd_pass lesson, now
    applied to kmeans_lloyd_step's plan too).

    A no-posexplode variant (per-centroid wide aggregate carrying 64
    per-dim sum/count columns — VERDICT r14 #5's prescription) was
    implemented and measured SLOWER at sf0.1 (exec 1.77 s vs 1.30 s,
    construct 0.73 s vs 0.59 s, same session, min-of-3): the corpus is
    2,000 vectors, so the explode is 128k rows — trivial — while the
    129-buffer aggregate pays more analysis + codegen than the explode
    ever cost. Reverted; see OPTIMIZATION_r15.md.

    The literal map is bound ONCE behind a nondeterminism barrier
    (ADVICE r14 #2: the r14 form inlined the K x dim map literal twice
    per squared difference — CollapseProject would re-inline a plain
    alias), with non-finite coordinates rendered parse-safe by
    :func:`_dlit`. The barrier adds integer zero: exact for every
    finite ``_o``, and the squared difference erases the one observable
    difference (the sign of a ±0.0 sum). A centroid absent from the
    map (NULL-vector seed) cannot appear in ``means`` — it scores NULL
    against every row and never wins the argmax — so the old
    inner-join restriction is preserved vacuously (r14 argument).
    """
    members = assigned.select(
        "centroid_id", F.posexplode(F.col(vec_col)).alias("dim", "_x")
    )
    # try_cast, not CAST: a NaN/Inf component must degrade to a skipped
    # summand (both engines), never ANSI-fail the whole M-step — the
    # ann_layout_frame discipline. The divisor counts USABLE components.
    q = F.expr(
        f"try_cast(round(cast(_x AS double) * {_Q_SCALE!r}) AS bigint)"
    )
    # _nrows at dim 0 IS the member count: every assigned (non-sentinel)
    # row has a non-empty vector, so it contributes exactly one dim-0
    # row to the explode — counting those here folds n_assigned into
    # this SAME aggregate instead of re-deriving `assigned` from
    # scratch (the r9-verdict second full E-step pass; plan-gated).
    means = members.groupBy("centroid_id", "dim").agg(
        (
            F.sum(q).cast("double") / (F.lit(_Q_SCALE) * F.count(q))
        ).alias("mu"),
        F.count(F.lit(1)).alias("_nrows"),
    )
    olits = ", ".join(
        f"{cid}, array({', '.join(_dlit(float(x)) for x in v)})"
        for cid, v in cents
        if v is not None
    )
    bound = means.selectExpr(
        "centroid_id",
        "dim",
        "mu",
        "_nrows",
        f"element_at(element_at(map({olits}), centroid_id), dim + 1)"
        " + monotonically_increasing_id() * 0 AS _o",
    )
    d2q = F.expr(
        f"try_cast(round((mu - _o) * (mu - _o) * {_Q_SCALE!r}) AS bigint)"
    )
    return bound.select(
        "centroid_id", "dim", "mu", d2q.alias("_d2q"), "_nrows"
    )


def kmeans_lloyd_step(
    vectors: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd (k-means) iteration over the corpus, as a readout:
    assign every vector to its nearest seed centroid (:func:`ivf_assign`
    — the E-step), recompute each centroid as its members' mean (the
    M-step), and report per centroid the member count and the SQUARED
    movement between old and new positions — the convergence signal a
    quantizer-training job monitors each round (sqrt is avoided so the
    engines never disagree on a libm call; squared distance carries the
    same convergence information).

    Scale: the E-step is K expanded dot products per row, shuffle-free;
    the M-step is ``posexplode`` + one (centroid, dim) hash aggregate
    (map-side partial sums of 1e-9-quantized BIGINTs — the
    ``embedding_centroids`` determinism discipline); movement reads the
    seed positions from a literal map (the seeds are the already-
    collected quantizer — r15, no seeds scan or join) and re-aggregates
    K*dim rows. No step is data-sized after the first aggregate.

    Degenerate rows (NULL/zero-norm vectors) assign the -1 sentinel and
    never contribute to means; a member-less centroid reports
    ``n_assigned = 0`` with NULL movement."""
    cents = ivf_centroids(vectors, num_centroids, vec_col, id_col)
    dim0 = next((len(v) for _, v in cents if v is not None), None)
    if not cents or dim0 is None:
        # empty corpus, or centroid rows with no vector: nothing assigns
        # (every row takes the -1 sentinel), so every centroid row (if
        # any) reports zero members and NULL movement
        return vectors.filter(F.col(id_col) < num_centroids).select(
            F.col(id_col).cast("int").alias("centroid_id"),
            F.lit(0).cast("bigint").alias("n_assigned"),
            F.lit(None).cast("double").alias("sq_movement"),
        ).orderBy("centroid_id")
    # assignment computed INLINE so the embedding rides the same row —
    # going through ivf_assign's narrow (id, cid) output would force a
    # corpus self-join to get the vector back for the M-step (a second
    # scan plus a shuffle on the id; plan-gated single-scan below)
    p = vectors.select(
        F.col(id_col), F.col(vec_col), _norm_col(vec_col, dim0).alias("_nv")
    )
    assigned = _with_nearest_centroid(
        p, vec_col, "_nv", cents, "centroid_id"
    ).filter(F.col("centroid_id").isNotNull())
    # M-step + squared movement via the shared _mstep_rows (r15): the
    # old (mu - _o) movement join against a posexplode'd seeds scan is
    # now a literal-map projection — `cents` IS the seed rows already
    # collected, so the scan + broadcast join re-derived driver data
    # (two of this query's three corpus scans drop; plan-gated).
    rows = _mstep_rows(assigned, cents, vec_col)
    moved = rows.groupBy("centroid_id").agg(
        (F.sum("_d2q").cast("double") / F.lit(_Q_SCALE)).alias(
            "sq_movement"
        ),
        F.max(F.when(F.col("dim") == 0, F.col("_nrows"))).alias(
            "n_assigned"
        ),
    )
    # the centroid-id spine: `cents` is the collected first-K seed rows,
    # so the old `vectors.filter(id < K)` scan re-derived driver data
    ids = ", ".join(str(int(cid)) for cid, _ in cents)
    base = vectors.sparkSession.range(1).selectExpr(
        f"explode(array({ids})) AS centroid_id"
    ).select(F.col("centroid_id").cast("int").alias("centroid_id"))
    return (
        base.join(moved, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce(F.col("n_assigned"), F.lit(0))
            .cast("bigint")
            .alias("n_assigned"),
            "sq_movement",
        )
        .orderBy("centroid_id")
    )


def _kmeans_step_oracle(
    num_centroids: int = IVF_CENTROIDS, dim: int | None = None
) -> str:
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings WHERE vec_id < {num_centroids}
    ), scored AS (
      SELECT e.vec_id, c.centroid_id,
             {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
      FROM embeddings e CROSS JOIN c
    ), assign AS (
      SELECT vec_id,
             CASE WHEN cs IS NULL THEN -1 ELSE centroid_id END AS centroid_id
      FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id ASC) = 1
    ), ex AS (
      SELECT a.centroid_id, generate_subscripts(e.embedding, 1) - 1 AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS x
      FROM assign a JOIN embeddings e USING (vec_id)
      WHERE a.centroid_id >= 0
    ), means AS (
      SELECT centroid_id, dim,
             CAST(SUM(TRY_CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE)
               / (1e9 * COUNT(TRY_CAST(round(x * 1e9) AS BIGINT))) AS mu
      FROM ex GROUP BY centroid_id, dim
    ), seeds AS (
      SELECT centroid_id, generate_subscripts(cv, 1) - 1 AS dim,
             CAST(unnest(cv) AS DOUBLE) AS o
      FROM c
    ), moved AS (
      SELECT centroid_id,
             CAST(SUM(TRY_CAST(round((mu - o) * (mu - o) * 1e9) AS BIGINT))
               AS DOUBLE) / 1e9 AS sq_movement
      FROM means JOIN seeds USING (centroid_id, dim)
      GROUP BY centroid_id
    ), cnt AS (
      SELECT centroid_id, COUNT(*) AS n FROM assign
      WHERE centroid_id >= 0 GROUP BY centroid_id
    )
    SELECT CAST(c.centroid_id AS INT) AS centroid_id,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_assigned,
           moved.sq_movement
    FROM c LEFT JOIN cnt USING (centroid_id) LEFT JOIN moved
      USING (centroid_id)
    ORDER BY centroid_id
    """


@register(
    "kmeans_lloyd_step",
    oracle=_kmeans_step_oracle(),
    description="one k-means Lloyd iteration as a convergence readout: "
    "E-step nearest-centroid assignment (shuffle-free expanded dot "
    "products), M-step per-(centroid,dim) means via exact quantized "
    "BIGINT accumulation, per-centroid member count + squared centroid "
    "movement (sqrt-free); movement re-aggregates K*dim rows only",
    covers=("N-sim", "B5"),
)
def kmeans_lloyd_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_lloyd_step(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# k-means TRAINING: iterated Lloyd steps -> a trained coarse quantizer
# (r10 — the step machinery above, run to a fixed horizon and persisted)
# ---------------------------------------------------------------------------

#: fixed Lloyd iteration count for the trained quantizer. Fixed, not
#: convergence-tested: a data-dependent stopping rule would make the
#: trained centroids (and every probe built on them) impossible to
#: replay in the oracle; 3 iterations converge the fixture corpus to
#: sub-1e-3 movement (the readout query reports the trajectory).
#: bump to invalidate previously materialized trained-quantizer dirs
#: (v2: the E-step assignment adopted the tie-safe floor-form cosine
#: presentation — see _present_round)
TRAINED_QUANTIZER_VERSION = 2


def _lloyd_pass(
    vectors: DataFrame,
    cents: list[tuple[int, list[float] | None]],
    vec_col: str,
    id_col: str,
) -> list:
    """One E+M Lloyd pass against LITERAL centroids; returns the
    collected (centroid_id, dim, mu, _d2q, _nrows) rows — O(K*dim)
    driver data, the same cost class as shipping a quantizer.

    The E-step is :func:`_with_nearest_centroid` (shuffle-free expanded
    dot products against baked literals), the M-step one (centroid, dim)
    hash aggregate with map-side partials — identical shapes to
    :func:`kmeans_lloyd_step`, whose oracle proved the cross-engine
    determinism of every expression here. Movement summands are
    quantized to BIGINTs IN-ENGINE (``round((mu-o)^2 * 1e9)``) so the
    driver only ever sums exact integers — Python's banker's rounding
    never touches a value."""
    dim0 = next(len(v) for _, v in cents if v is not None)
    p = vectors.select(
        F.col(id_col), F.col(vec_col), _norm_col(vec_col, dim0).alias("_nv")
    )
    assigned = _with_nearest_centroid(
        p, vec_col, "_nv", cents, "centroid_id"
    ).filter(F.col("centroid_id").isNotNull())
    # M-step + movement readout via the shared _mstep_rows (r15) —
    # same shapes as r14 (posexplode aggregate + literal-map previous
    # positions), with the map literal bound once (ADVICE r14 #2).
    return _mstep_rows(assigned, cents, vec_col).collect()


def kmeans_train(
    vectors: DataFrame,
    num_centroids: int = IVF_CENTROIDS,
    iters: int = KMEANS_TRAIN_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[tuple[int, list[float] | None]], list[tuple]]:
    """Train the coarse quantizer: ``iters`` Lloyd iterations from the
    deterministic first-K seeds (:func:`ivf_centroids`). Returns
    ``(trained_centroids, trajectory)`` where trajectory rows are
    ``(iteration, centroid_id, n_assigned, sq_movement)`` — the
    convergence readout a training job logs each round.

    Per iteration: ONE data-sized Spark job (E-step projection + M-step
    aggregate, no data-sized join) and one O(K*dim) collect whose rows
    become the next iteration's baked literals — exactly how production
    IVF training distributes a quantizer (the centroid table rides the
    task closure, never a shuffle). A member-less (or NULL-seeded)
    centroid keeps its previous position and reports ``n_assigned = 0``
    with NULL movement, mirroring :func:`kmeans_lloyd_step`.

    Determinism: every float that crosses the driver boundary is either
    an exact quantized-BIGINT sum or the ``sum(q)/(1e9*n)`` double both
    engines compute bit-identically (green ``kmeans_lloyd_step`` row);
    ``repr`` round-trips the collected doubles into the next E-step's
    literals losslessly, so iteration t+1 sees the same quantizer bits
    on both engines. Driver-side arithmetic is integer-only.

    2^53 caveat (same as ``embedding_centroids``): the quantized BIGINT
    sums stay exact up to ~9e6 members per (centroid, dim) at |x| <= 1;
    beyond that, pre-aggregate per shard or raise the quantum."""
    cents = ivf_centroids(vectors, num_centroids, vec_col, id_col)
    trajectory: list[tuple] = []
    if not cents:
        return cents, trajectory
    if all(v is None for _, v in cents):
        # degenerate quantizer: nothing can assign; positions frozen
        for t in range(1, iters + 1):
            for cid, _ in cents:
                trajectory.append((t, cid, 0, None))
        return cents, trajectory
    for t in range(1, iters + 1):
        rows = _lloyd_pass(vectors, cents, vec_col, id_col)
        by_cid: dict[int, dict[int, tuple]] = {}
        for r in rows:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = r
        new_cents: list[tuple[int, list[float] | None]] = []
        for cid, old in cents:
            got = by_cid.get(cid)
            if old is None or got is None:
                trajectory.append((t, cid, 0, None))
                new_cents.append((cid, old))
                continue
            n = int(got[0]["_nrows"]) if 0 in got else 0
            d2vals = [
                int(r["_d2q"])
                for r in got.values()
                if r["_d2q"] is not None
            ]
            # every per-dim summand try_cast away (|x| beyond the BIGINT
            # quantum) => the oracle's SUM over all-NULL rows is NULL, so
            # the trajectory reports None, not 0.0 (r10 ADVICE)
            trajectory.append(
                (t, cid, n, sum(d2vals) / _Q_SCALE if d2vals else None)
            )
            # mu can be NULL with the row PRESENT (every member's
            # quantized summand try_cast'd away at that dim) — keep the
            # seed coordinate exactly like the oracle's COALESCE(mu, o)
            new_cents.append(
                (
                    cid,
                    [
                        float(got[d]["mu"])
                        if d in got and got[d]["mu"] is not None
                        else old[d]
                        for d in range(len(old))
                    ],
                )
            )
        cents = new_cents
    return cents, trajectory


def _kmeans_train_oracle(
    iters: int = KMEANS_TRAIN_ITERS,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM readout{t}" for t in range(1, iters + 1)
    )
    return f"""
    WITH {_train_cte_blocks(iters, num_centroids, dim)}
    SELECT CAST(iteration AS INT) AS iteration,
           CAST(centroid_id AS INT) AS centroid_id,
           n_assigned, sq_movement
    FROM ({unions})
    ORDER BY iteration, centroid_id
    """


@register(
    "kmeans_train_readout",
    oracle=_kmeans_train_oracle(),
    description="the full quantizer TRAINING loop as a readout: 3 Lloyd "
    "iterations from the deterministic seeds, per (iteration, centroid) "
    "member count + squared movement — one data-sized job per iteration "
    "(E-step projection, M-step quantized-BIGINT aggregate), O(K*dim) "
    "driver collects whose doubles repr-roundtrip into the next E-step's "
    "literals; the movement trajectory is the convergence evidence the "
    "persisted trained quantizer ships with",
    covers=("N-sim", "B5"),
)
def kmeans_train_readout_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, trajectory = kmeans_train(load_table(spark, sf_dir, "embeddings"))
    schema = (
        "iteration int, centroid_id int, n_assigned bigint, "
        "sq_movement double"
    )
    return spark.createDataFrame(trajectory, schema).orderBy(
        "iteration", "centroid_id"
    )


def build_trained_quantizer(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    num_centroids: int = IVF_CENTROIDS,
    iters: int = KMEANS_TRAIN_ITERS,
) -> str:
    """Train and PERSIST the coarse quantizer: K (centroid_id, centroid)
    rows plus the freshness manifest — the artifact a real IVF index
    ships instead of the first-K-ids stand-in. Train-once-freeze: index
    upserts never retrain (the frozen-quantizer rule of
    :func:`upsert_ann_index`); a changed source corpus is caught by the
    manifest digest and forces a full retrain, exactly like the ANN
    index's rebuild rule (``etl/build.py``)."""
    from ser_etl_spark.sources.parquet import table_path

    cents, _ = kmeans_train(
        load_table(spark, sf_dir, "embeddings"), num_centroids, iters
    )
    write_quantizer_table(spark, cents, out_dir)
    write_manifest(
        out_dir, table_path(sf_dir, "embeddings"), TRAINED_QUANTIZER_VERSION
    )
    return out_dir


def ensure_trained_quantizer(
    spark: SparkSession,
    sf_dir: str,
    num_centroids: int = IVF_CENTROIDS,
    iters: int = KMEANS_TRAIN_ITERS,
) -> str:
    """Resolve the trained-quantizer artifact published-first (the
    shared :func:`ser_etl_spark.artifacts.resolve_artifact` protocol):
    prefer ``<sf_dir>/embeddings_trained_quantizer`` when complete AND
    fresh (manifest digest matches the live source), else a per-user
    tmp cache keyed by the recursive source fingerprint."""
    from ser_etl_spark.sources.parquet import table_path

    src = table_path(sf_dir, "embeddings")
    return resolve_artifact(
        published=os.path.join(sf_dir, "embeddings_trained_quantizer"),
        source_path=src,
        version=TRAINED_QUANTIZER_VERSION,
        family="kmeans_q",
        key_extra=f":{num_centroids}:{iters}",
        usable=lambda p: (
            num_centroids == IVF_CENTROIDS
            and iters == KMEANS_TRAIN_ITERS
            and os.path.exists(os.path.join(p, "_SUCCESS"))
        ),
        build_fn=lambda tmp: build_trained_quantizer(
            spark, sf_dir, tmp, num_centroids, iters
        ),
    )


def trained_quantizer_centroids(
    spark: SparkSession, quantizer_dir: str
) -> list[tuple[int, list[float] | None]]:
    """Read a persisted trained quantizer back as the centroid list the
    probe/layout functions consume — O(K) rows collected, the same
    shipping cost as :func:`ivf_centroids` / :func:`index_centroids`."""
    rows = (
        spark.read.parquet(quantizer_dir)
        .select("centroid_id", "centroid")
        .orderBy("centroid_id")
        .collect()
    )
    return [
        (
            int(r["centroid_id"]),
            None
            if r["centroid"] is None
            else [float(x) for x in r["centroid"]],
        )
        for r in rows
    ]


def _trained_cents(
    spark: SparkSession, sf_dir: str, num_centroids: int = IVF_CENTROIDS
) -> list[tuple[int, list[float] | None]]:
    """Resolve-and-read shorthand for the trained quantizer — the O(K)
    centroid fetch every migrated index-family query starts with."""
    qdir = ensure_trained_quantizer(spark, sf_dir, num_centroids)
    return trained_quantizer_centroids(spark, qdir)


def ivf_ann_topk_trained(
    spark: SparkSession,
    sf_dir: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """IVF ANN probing the TRAINED quantizer: identical probe algebra to
    :func:`ivf_ann_topk` (driver-side nprobe choice, nearest-centroid
    pruning, exact cosine top-k over the surviving lists) with the
    centroid table read from the persisted artifact instead of the
    first-K stand-in — trained lists are tighter, so the same nprobe
    buys more recall. The quantizer stays FROZEN between retrains: the
    artifact (not the live corpus) defines assignments, so probes and
    any index built from it can never drift apart.

    Codegen (r13 — caught by the registry-wide smoke
    ``tests/test_plans.py::test_registry_codegen_compiles_clean`` on
    its first run): fusing the 16-centroid argmax with the query-cosine
    top-k projection in one stage exceeds janino's 64 KB method limit
    and silently ran interpreted. Same fix as ``_ivf_recall_fused`` — a
    zero-shuffle ``observe`` node (CollectMetricsExec does not
    participate in whole-stage codegen) splits the stage into two
    compiled ones — with one extra subtlety: the observe must sit
    BETWEEN the argmax projection and the probe-list ``isin`` filter,
    because PushDownPredicate otherwise substitutes the whole argmax
    expression tree into the filter predicate (re-creating the
    oversized method the projection barriers exist to prevent);
    CollectMetrics blocks that pushdown, so the filter reads ``_cid``
    as a bound reference. Same single corpus scan, one row-count
    accumulator (counting pre-filter rows) of overhead."""
    q = [float(v) for v in query_vec]
    qdir = ensure_trained_quantizer(spark, sf_dir, num_centroids)
    cents = trained_quantizer_centroids(spark, qdir)
    probes = _ivf_probe_ids(q, cents, nprobe)
    dim = len(q)
    vectors = load_table(spark, sf_dir, "embeddings")
    p = vectors.select(
        F.col("vec_id"), F.col("embedding"),
        _norm_col("embedding", dim).alias("_nv"),
    )
    assigned = (
        _with_nearest_centroid(p, "embedding", "_nv", cents, "_cid")
        .observe("_cgsplit_ivf_trained", F.count(F.lit(1)).alias("rows"))
        .filter(F.col("_cid").isin(probes))
    )
    return _query_cosine_topk(
        assigned, q, k, "embedding", "vec_id", norm_sql="_nv",
    )


def _ivf_trained_oracle(
    k: int = 10,
    nprobe: int = 2,
    iters: int = KMEANS_TRAIN_ITERS,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin of :func:`ivf_ann_topk_trained`: re-derives the
    trained centroids via the training CTE chain (bit-identical to the
    persisted artifact — proven by the kmeans_train_readout row), then
    replays the green ``ivf_ann_topk`` probe algebra against them."""
    dim = EMB_DIM if dim is None else dim
    ct = f"c{iters}"
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )
    return f"""
    WITH {_train_cte_blocks(iters, num_centroids, dim)},
    q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), probes AS (
      SELECT centroid_id AS cid FROM {ct} c, q
      ORDER BY {probe_cos} DESC, centroid_id ASC
      LIMIT {nprobe}
    ), fassign AS (
      SELECT e.vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.centroid_id AS cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN {ct} c
      ) e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    )
    SELECT a.vec_id, {_duck_cos4("e.embedding", "q.qv", dim)} AS cos_sim
    FROM fassign a JOIN embeddings e ON e.vec_id = a.vec_id, q
    WHERE a.cid IN (SELECT cid FROM probes)
    ORDER BY cos_sim DESC, a.vec_id ASC
    LIMIT {k}
    """


@register(
    "ivf_ann_topk_trained",
    oracle=_ivf_trained_oracle(),
    description="IVF ANN over the TRAINED quantizer: the persisted "
    "3-iteration k-means centroids (published-first artifact with "
    "freshness manifest, frozen between retrains) drive probe choice, "
    "assignment pruning and the exact cosine top-10 — the oracle "
    "re-derives the trained centroids in SQL and replays the probe, so "
    "the whole train->persist->probe path faces the differential gate",
    covers=("N-sim",),
)
def ivf_ann_trained_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    vec = _query_vector(spark, sf_dir)
    if vec is None or vec is _NULL_QUERY:
        return _empty_topk(spark)
    return ivf_ann_topk_trained(spark, sf_dir, vec, k=10)


# ---------------------------------------------------------------------------
# IVF list balance: seed vs TRAINED quantizer (r10) — why training matters
# ---------------------------------------------------------------------------


def _list_balance(
    vectors: DataFrame,
    cents: list[tuple[int, list[float] | None]],
    tag: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row inverted-list balance summary for a quantizer: assign
    every vector (one E-step scan), count list sizes (K rows), and
    report max/min list plus the imbalance in basis points —
    ``max_list * n_lists * 10000 div n_assigned`` (perfect balance =
    10000; the factor by which the hottest list exceeds fair share, in
    exact integers). The hottest list bounds IVF probe latency at
    100 TB, which is the number a quantizer is trained to shrink."""
    dim0 = next((len(v) for _, v in cents if v is not None), None)
    spark = vectors.sparkSession
    schema = (
        "quantizer string, n_assigned bigint, n_lists bigint, "
        "max_list bigint, min_list bigint, imbalance_bp bigint"
    )
    if dim0 is None:
        return spark.createDataFrame([], schema)
    p = vectors.select(
        F.col(id_col), F.col(vec_col), _norm_col(vec_col, dim0).alias("_nv")
    )
    assigned = _with_nearest_centroid(
        p, vec_col, "_nv", cents, "_cid"
    ).filter(F.col("_cid").isNotNull())
    cnts = assigned.groupBy("_cid").agg(F.count(F.lit(1)).alias("c"))
    # n_lists > 0: a corpus where nothing assigns (empty, or all
    # zero-norm) reports NO row for this quantizer rather than a
    # 0/NULL row — mirrored by the oracle's HAVING (and NULL in the
    # BIGINT imbalance column would float the driver's pandas path)
    summary = cnts.agg(
        F.lit(tag).alias("quantizer"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_assigned"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("max_list"),
        F.coalesce(F.min("c"), F.lit(0)).cast("bigint").alias("min_list"),
        F.expr(
            "CAST(coalesce(max(c), 0) * count(1) * 10000 div "
            "nullif(coalesce(sum(c), 0), 0) AS BIGINT)"
        ).alias("imbalance_bp"),
    )
    return summary.filter(F.col("n_lists") > 0)


def ivf_list_balance_trained(
    spark: SparkSession,
    sf_dir: str,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Side-by-side inverted-list balance of the SEED quantizer
    (first-K stand-in) and the TRAINED one (persisted 3-iteration
    k-means artifact) — the before/after readout of what training did
    to the list-size profile. (On clustered corpora training shrinks
    the hottest list; on this synthetic near-uniform fixture it mainly
    lifts the coldest list — the readout reports either, which is the
    point of publishing it next to the index.) Two E-step corpus scans
    by construction
    (one per quantizer — this is a comparison, both assignments must be
    computed); each is the proven shuffle-free expanded-literal shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    seeds = ivf_centroids(emb, num_centroids)
    if not seeds or all(v is None for _, v in seeds):
        return spark.createDataFrame(
            [],
            "quantizer string, n_assigned bigint, n_lists bigint, "
            "max_list bigint, min_list bigint, imbalance_bp bigint",
        )
    qdir = ensure_trained_quantizer(spark, sf_dir, num_centroids)
    trained = trained_quantizer_centroids(spark, qdir)
    return (
        _list_balance(emb, seeds, "seed")
        .unionByName(_list_balance(emb, trained, "trained"))
        .orderBy("quantizer")
    )


def _list_balance_oracle(
    iters: int = KMEANS_TRAIN_ITERS,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """Seed assignment replayed from the lloyd-step CTE shapes; trained
    assignment replayed against the re-derived ``c{iters}`` centroids."""
    dim = EMB_DIM if dim is None else dim
    ct = f"c{iters}"
    return f"""
    WITH {_train_cte_blocks(iters, num_centroids, dim)},
    sassign AS (
      SELECT vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE centroid_id END AS cid
      FROM (
        SELECT e.vec_id, c.centroid_id,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c0 c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id ASC) = 1
    ), tassign AS (
      SELECT vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE centroid_id END AS cid
      FROM (
        SELECT e.vec_id, c.centroid_id,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN {ct} c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id ASC) = 1
    ), scnt AS (
      SELECT cid, COUNT(*) AS c FROM sassign WHERE cid IS NOT NULL
      GROUP BY cid
    ), tcnt AS (
      SELECT cid, COUNT(*) AS c FROM tassign WHERE cid IS NOT NULL
      GROUP BY cid
    ), u AS (
      SELECT 'seed' AS quantizer,
             CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_assigned,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_list,
             CAST(COALESCE(MIN(c), 0) AS BIGINT) AS min_list,
             CAST(COALESCE(MAX(c), 0) * COUNT(*) * 10000
                  // nullif(COALESCE(SUM(c), 0), 0) AS BIGINT)
               AS imbalance_bp
      FROM scnt HAVING COUNT(*) > 0
      UNION ALL
      SELECT 'trained',
             CAST(COALESCE(SUM(c), 0) AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(MAX(c), 0) AS BIGINT),
             CAST(COALESCE(MIN(c), 0) AS BIGINT),
             CAST(COALESCE(MAX(c), 0) * COUNT(*) * 10000
                  // nullif(COALESCE(SUM(c), 0), 0) AS BIGINT)
      FROM tcnt HAVING COUNT(*) > 0
    )
    SELECT * FROM u ORDER BY quantizer
    """


@register(
    "ivf_list_balance_trained",
    oracle=_list_balance_oracle(),
    description="IVF inverted-list balance, seed vs TRAINED quantizer: "
    "per quantizer the assigned total, list count, hottest/coldest list "
    "and exact-integer imbalance basis points (hottest list bounds probe "
    "latency at scale — the profile a quantizer is trained against); the "
    "oracle re-derives the trained centroids and replays both E-steps",
    covers=("N-sim", "B5"),
)
def ivf_list_balance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_list_balance_trained(spark, sf_dir)


# ---------------------------------------------------------------------------
# IVF recall: trained vs seed quantizer at equal nprobe (r11) — the readout
# that gates the index family's migration onto the trained artifact
# ---------------------------------------------------------------------------


def _ivf_recall_fused(
    vectors: DataFrame,
    anchors: list[tuple[int, list[float]]],
    quantizers: list[tuple[str, list[tuple[int, list[float] | None]]]],
    k: int = RECALL_K,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of ``nprobe``-list IVF probing under EVERY quantizer in
    one corpus scan, per (quantizer, anchor) — the
    :func:`ann_recall_eval` harness with the SRP bucket swapped for the
    IVF membership test. r15 (VERDICT r14 #6): the old per-quantizer
    form built one full pipeline per quantizer and unioned them — two
    corpus scans, two anchor-sim projections computing the IDENTICAL
    five exact cosines, two window shuffles whose exchanges could never
    reuse (the baked centroid literals differ between the subtrees).
    Fusing assigns BOTH quantizers' nearest lists on the same row (the
    anchor cosines are quantizer-independent and now computed once),
    explodes to (quantizer, anchor) entries, and runs ONE window
    partitioned by (quantizer, a_id) — same rows per partition as the
    per-quantizer windows, so every rank/running-count below is
    unchanged row for row.

    Codegen (r11 accepted-fallback CLOSED in r12, VERDICT r11 #5): an
    ``observe`` node (CollectMetricsExec, which does not participate in
    whole-stage codegen) after EACH argmax projection keeps every stage
    under janino's 64 KB method limit — same zero-shuffle stage-split
    as before, now one per quantizer; pinned by
    ``tests/test_plans.py::test_expanded_vector_stages_compile``."""
    from pyspark.sql.window import Window

    dim = len(anchors[0][1])
    barrier = F.monotonically_increasing_id() * F.lit(0)
    assigned = vectors.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
    )
    for tag, cents in quantizers:
        assigned = _with_nearest_centroid(
            assigned, "embedding", "_nv", cents, f"_cid_{tag}"
        ).observe(f"_cgsplit_recall_{tag}", F.count(F.lit(1)).alias("rows"))
    sim_cols = []
    for a_id, q in anchors:
        sim = F.expr(
            f"{_dot_lit_sql('embedding', q)}"
            f" / nullif(_nv * ({_pynorm(q)!r}), 0.0D)"
        )
        sim_cols.append((sim + barrier).alias(f"_rsim{a_id}"))
    cid_cols = [F.col(f"_cid_{tag}") for tag, _ in quantizers]
    p1 = assigned.select(F.col("vec_id"), *cid_cols, *sim_cols).select(
        F.col("vec_id"),
        *cid_cols,
        *[
            _present_round(F.col(f"_rsim{a_id}"), 4).alias(f"_sim{a_id}")
            for a_id, _ in anchors
        ],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(tag).alias("quantizer"),
                F.lit(a_id).cast("bigint").alias("a_id"),
                F.col(f"_sim{a_id}").alias("cos_sim"),
                # NULL _cid (degenerate row) is in no list: coalesce the
                # three-valued isin to false, like the oracle's LEFT
                # JOIN miss
                F.coalesce(
                    F.col(f"_cid_{tag}").isin(
                        _ivf_probe_ids(q, cents, nprobe)
                    ),
                    F.lit(False),
                ).alias("in_probe"),
            )
            for tag, cents in quantizers
            for a_id, q in anchors
        ]
    )
    stacked = p1.select(F.col("vec_id"), F.explode(entries).alias("s")).select(
        "vec_id", "s.quantizer", "s.a_id", "s.cos_sim", "s.in_probe"
    )
    w_rank = Window.partitionBy("quantizer", "a_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = stacked.select(
        "quantizer",
        "a_id",
        "in_probe",
        F.row_number().over(w_rank).cast("bigint").alias("_er"),
        F.sum(F.col("in_probe").cast("bigint")).over(w_run).alias("_pc"),
    )
    in_exact = F.col("_er") <= k
    in_approx = F.col("in_probe") & (F.col("_pc") <= k)
    agg = ranked.groupBy("quantizer", "a_id").agg(
        F.sum(in_exact.cast("bigint")).alias("n_exact"),
        F.max("_pc").alias("n_probe"),
        F.sum((in_exact & in_approx).cast("bigint")).alias("n_hit"),
    )
    return agg.select(
        "quantizer",
        F.col("a_id").alias("anchor_id"),
        "n_exact",
        "n_probe",
        "n_hit",
        # counts ratio: tie-reachable at the 5th decimal -> fround
        fround(
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
            4,
        ).alias("recall"),
    )


def ivf_recall_trained_vs_seed(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int = RECALL_ANCHORS,
    k: int = RECALL_K,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Recall@k of IVF probing at EQUAL nprobe under the seed quantizer
    vs the trained one, per anchor — the number that justifies serving
    the index from the trained artifact (VERDICT r10 #3): training is
    worth shipping exactly when, list for list, the same probe budget
    recovers at least as much of the exact top-k. Both assignments must
    be computed (a comparison), but they ride ONE corpus scan since r15
    — both E-steps and the shared anchor cosines on the same row
    (:func:`_ivf_recall_fused`); everything after the scan is
    anchor-sized."""
    # anchors ⊂ seed rows (vec_id < 5 ⊂ vec_id < 8): ONE head collect
    # serves both driver fetches (r15 — the separate _query_points +
    # ivf_centroids collects were two jobs over the same head rows);
    # list-building mirrors each exactly (float widening, None vectors
    # kept as NULL centroids / dropped anchors, vec_id order).
    head = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < max(n_anchors, num_centroids))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    anchors = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in head
        if r["vec_id"] < n_anchors and r["embedding"] is not None
    ]
    schema = (
        "quantizer string, anchor_id bigint, n_exact bigint, "
        "n_probe bigint, n_hit bigint, recall double"
    )
    if not anchors:
        return spark.createDataFrame([], schema)
    emb = load_table(spark, sf_dir, "embeddings")
    # a non-empty anchor set guarantees at least one real seed vector;
    # vector-less centroids in either quantizer score NULL and attract
    # nothing — the generic path already replays the oracle's algebra
    seeds = [
        (
            int(r["vec_id"]),
            None
            if r["embedding"] is None
            else [float(x) for x in r["embedding"]],
        )
        for r in head
        if r["vec_id"] < num_centroids
    ]
    trained = _trained_cents(spark, sf_dir, num_centroids)
    return _ivf_recall_fused(
        emb, anchors, [("seed", seeds), ("trained", trained)], k, nprobe
    ).orderBy("quantizer", "anchor_id")


def _ivf_recall_cmp_oracle(
    n_anchors: int = RECALL_ANCHORS,
    k: int = RECALL_K,
    nprobe: int = 2,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin: the seed table and the re-derived trained chain side
    by side; per quantizer the per-anchor probe choice (raw expanded
    probe cosine, the _ivf_probe_ids twin), nearest-list assignment,
    LEFT-JOIN membership test, and the ann_recall_eval ranking tail."""
    dim = EMB_DIM if dim is None else dim

    def probe_cos(cv: str) -> str:
        return (
            f"{_duck_dot(cv, 'q.qv', dim)} / nullif({_duck_norm(cv, dim)}"
            f" * {_duck_norm('q.qv', dim)}, 0.0)"
        )

    def block(tag: str, ctab: str) -> str:
        return f"""{tag}probes AS (
      SELECT q.a_id, c.cid FROM {ctab} c CROSS JOIN q
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.a_id
                                 ORDER BY {probe_cos("c.cv")} DESC,
                                          c.cid ASC) <= {nprobe}
    ), {tag}assign AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN {ctab} c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), {tag}scored AS (
      SELECT q.a_id, e.vec_id,
             {_duck_cos4("e.embedding", "q.qv", dim)} AS cs,
             (p.cid IS NOT NULL) AS in_probe
      FROM embeddings e
      CROSS JOIN q
      JOIN {tag}assign a ON a.vec_id = e.vec_id
      LEFT JOIN {tag}probes p ON p.a_id = q.a_id AND p.cid = a.cid
    ), {tag}ranked AS (
      SELECT a_id, in_probe,
             ROW_NUMBER() OVER (PARTITION BY a_id
                                ORDER BY cs DESC, vec_id ASC) AS er,
             SUM(CAST(in_probe AS BIGINT)) OVER (
               PARTITION BY a_id ORDER BY cs DESC, vec_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
      FROM {tag}scored
    ), {tag}agg AS (
      SELECT a_id,
             CAST(SUM(CAST(er <= {k} AS BIGINT)) AS BIGINT) AS n_exact,
             CAST(MAX(pc) AS BIGINT) AS n_probe,
             CAST(SUM(CAST(er <= {k} AND in_probe AND pc <= {k}
                           AS BIGINT)) AS BIGINT) AS n_hit
      FROM {tag}ranked GROUP BY 1
    )"""

    recall = _duck_f("CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)", 4)
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)},
    s AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < {num_centroids}
    ), q AS (
      SELECT vec_id AS a_id, embedding AS qv FROM embeddings
      WHERE vec_id < {n_anchors} AND embedding IS NOT NULL
    ), {block("s", "s")}, {block("t", "c")}
    SELECT 'seed' AS quantizer, a_id AS anchor_id,
           n_exact, n_probe, n_hit, {recall} AS recall
    FROM sagg
    UNION ALL
    SELECT 'trained', a_id, n_exact, n_probe, n_hit, {recall}
    FROM tagg
    ORDER BY quantizer, anchor_id
    """


@register(
    "ivf_recall_trained_vs_seed",
    oracle=_ivf_recall_cmp_oracle(),
    description="recall@10 of 2-probe IVF under the SEED quantizer vs "
    "the TRAINED artifact, per anchor, with the probed candidate-set "
    "size as the cost evidence — the readout that gates serving the "
    "persisted index from the trained quantizer (equal probe budget, "
    "list-for-list comparison); ONE fused E-step corpus scan carrying "
    "both quantizers' assignments and the shared anchor cosines, "
    "anchor-sized everything after; the oracle re-derives the trained "
    "centroids and replays both probe choices",
    covers=("N-sim",),
)
def ivf_recall_cmp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_recall_trained_vs_seed(spark, sf_dir)


# ---------------------------------------------------------------------------
# centroid similarity matrix: quantizer-quality QA (r9)
# ---------------------------------------------------------------------------


def centroid_similarity_matrix(
    spark: SparkSession,
    cents: list[tuple[int, list[float] | None]],
) -> DataFrame:
    """Pairwise cosine similarity between the coarse-quantizer
    centroids — the index-QA readout that flags a DEGENERATE quantizer:
    two near-identical centroids split one true cluster across two
    inverted lists, halving probe recall at any nprobe. Emitted as
    ordered pairs (a < b) with the tie-safe 4-decimal cosine convention
    every probe shares. Since r11 the registry query QAs the TRAINED
    quantizer — the one the persisted index actually serves.

    Scale: K rows self-joined (K*(K-1)/2 pairs, K = 8) — constant-size
    regardless of corpus volume; the join is a broadcast of K rows."""
    dim = next((len(v) for _, v in cents if v is not None), None)
    if dim is None:
        return spark.createDataFrame(
            [], "cid_a int, cid_b int, cos_sim double"
        )
    c = spark.createDataFrame(
        list(cents), _QUANTIZER_SCHEMA
    ).select(
        F.col("centroid_id").alias("cid"),
        F.col("centroid"),
        _norm_col("centroid", dim).alias("_n"),
    )
    a = c.select(
        F.col("cid").alias("cid_a"),
        F.col("centroid").alias("va"),
        F.col("_n").alias("na"),
    )
    b = c.select(
        F.col("cid").alias("cid_b"),
        F.col("centroid").alias("vb"),
        F.col("_n").alias("nb"),
    )
    sim = F.expr(
        f"{_dot_cols_sql('va', 'vb', dim)} / nullif(na * nb, 0.0d)"
    )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    return (
        a.join(F.broadcast(b), F.col("cid_a") < F.col("cid_b"))
        .select("cid_a", "cid_b", (sim + barrier).alias("_rcs"))
        .select(
            "cid_a", "cid_b", _present_round(F.col("_rcs"), 4).alias("cos_sim")
        )
        .orderBy("cid_a", "cid_b")
    )


def _centroid_matrix_oracle(
    num_centroids: int = IVF_CENTROIDS, dim: int | None = None
) -> str:
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)}
    SELECT CAST(a.cid AS INT) AS cid_a, CAST(b.cid AS INT) AS cid_b,
           {_duck_cos4("a.cv", "b.cv", dim)} AS cos_sim
    FROM c a JOIN c b ON a.cid < b.cid
    ORDER BY cid_a, cid_b
    """


@register(
    "centroid_similarity_matrix",
    oracle=_centroid_matrix_oracle(),
    description="quantizer-quality QA: pairwise tie-safe 4-decimal cosine "
    "between the 8 TRAINED coarse centroids (near-identical centroids "
    "split clusters across inverted lists and halve probe recall) — "
    "constant K*(K-1)/2 pair space, broadcast self-join, "
    "corpus-size-independent; the oracle re-derives the trained "
    "centroids via the training CTE chain",
    covers=("N-sim",),
)
def centroid_similarity_matrix_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return centroid_similarity_matrix(spark, _trained_cents(spark, sf_dir))


# ---------------------------------------------------------------------------
# one PCA power-iteration step (r9)
# ---------------------------------------------------------------------------


def pca_power_step(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: ``v1 = normalize(X^T X v0)`` with the deterministic
    all-ones start vector — per row, the scalar ``s = x . v0`` (the
    component sum, one fixed-order addition chain) scales the row's own
    components, and the per-dim totals are the un-normalized new
    direction. The training loop a PCA/whitening job runs; one step as
    a query pins the machinery (the loop is this query iterated with v0
    swapped in — each step one scan, one fixed-width aggregate).

    Determinism: s*x_j is quantized to 1e-9 BIGINTs before the
    data-sized sum (exact, associative — the ``embedding_centroids``
    discipline); the final per-dim loading divides by the vector's own
    L2 norm (sqrt IS correctly rounded under IEEE-754, so both engines
    agree bit-for-bit). NaN/Inf components degrade via try_cast to
    skipped summands. Codegen: ``s`` lands once per ROW and the dim
    explosion carries it — one small expression per output row, never
    64 parallel 64-term trees (the janino discipline)."""
    dim = _dim(vectors, vec_col)
    if dim is None:
        return vectors.sparkSession.createDataFrame(
            [], "dim int, loading double"
        )
    s_expr = "(" + " + ".join(
        _elem_sql(vec_col, i) for i in range(dim)
    ) + ")"
    barrier = F.monotonically_increasing_id() * F.lit(0)
    rows = vectors.select(
        (F.expr(s_expr) + barrier).alias("_s"),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    )
    q = F.expr("try_cast(round(_s * cast(_x AS double) * 1e9) AS bigint)")
    sums = rows.groupBy("dim").agg(
        (F.sum(q).cast("double") / F.lit(1.0e9)).alias("v")
    )
    # the norm rides a whole-frame window over the dim-width sums (64
    # rows, one partition) instead of a second aggregate — a separate
    # agg would RECOMPUTE the corpus scan (DataFrame reuse is not
    # execution reuse), doubling the only data-sized pass
    from pyspark.sql.window import Window

    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nrm = F.sqrt(
        F.sum(F.expr("try_cast(round(v * v * 1e9) AS bigint)"))
        .over(wall)
        .cast("double")
        / F.lit(1.0e9)
    )
    return (
        sums.select(
            F.col("dim").cast("int").alias("dim"),
            # fround: quantized-integer ratio with an integer-radicand
            # sqrt — perfect squares make it tie-reachable (r10 audit).
            fround(F.col("v") / F.nullif(nrm, F.lit(0.0)), 6).alias(
                "loading"
            ),
        )
        .orderBy("dim")
    )


def _pca_step_oracle(dim: int | None = None) -> str:
    dim = EMB_DIM if dim is None else dim
    s = "(" + " + ".join(
        _duck_elem("e.embedding", i) for i in range(dim)
    ) + ")"
    return f"""
    WITH rows_ AS (
      SELECT {s} AS _s,
             generate_subscripts(e.embedding, 1) - 1 AS dim,
             CAST(unnest(e.embedding) AS DOUBLE) AS _x
      FROM embeddings e
    ), sums AS (
      SELECT dim,
             CAST(SUM(TRY_CAST(round(_s * _x * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9 AS v
      FROM rows_ GROUP BY dim
    ), nrm AS (
      SELECT sqrt(CAST(SUM(TRY_CAST(round(v * v * 1e9) AS BIGINT))
               AS DOUBLE) / 1e9) AS _n
      FROM sums
    )
    SELECT CAST(dim AS INT) AS dim,
           (CAST(floor((v / nullif(_n, 0.0)) * 1e6 + 0.5)
                 AS DOUBLE) / 1e6) AS loading
    FROM sums, nrm
    ORDER BY dim
    """


@register(
    "embedding_pca_step",
    oracle=_pca_step_oracle(),
    description="one PCA power-iteration step (v1 = normalize(X^T X 1)): "
    "per-row component-sum scalar carried through a dim explode, "
    "1e-9-quantized BIGINT accumulation per dim (exact, associative), "
    "L2-normalized with IEEE-exact sqrt — the whitening-job training "
    "step as one scan + one fixed-width aggregate",
    covers=("N-sim", "B4"),
)
def embedding_pca_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_power_step(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# IVF probe-depth sweep (r13) — the nprobe tuning curve
# ---------------------------------------------------------------------------

#: probe depths swept — the recall-vs-cost curve's x axis
PROBE_DEPTH_LADDER: tuple[int, ...] = (1, 2, 4, 8)

#: anchors for the sweep (kept below RECALL_ANCHORS: the oracle replays
#: the full training chain PLUS a 4-depth ranking tail per anchor)
SWEEP_ANCHORS: int = 3


def ann_probe_depth_sweep(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int = SWEEP_ANCHORS,
    k: int = RECALL_K,
    depths: tuple[int, ...] = PROBE_DEPTH_LADDER,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Recall@k vs probe depth under the TRAINED quantizer — the nprobe
    tuning curve next to :func:`ivf_recall_trained_vs_seed`'s
    quantizer comparison (that answers WHICH quantizer; this answers
    HOW MANY lists to probe): per depth in the ladder, the exact top-k
    mass the depth-bounded probe set recovers, summed over anchors.

    ONE fused corpus scan (the `_ivf_recall_one` shape: E-step argmax
    + per-anchor exact cosines, observe-split into two compiled
    stages) — the whole DEPTH DIMENSION is free: a row's probe_rank
    (its centroid's position in the anchor's probe preference order,
    driver-derived O(K) per anchor) is computed once, and each depth
    is a predicate over that rank inside the SAME single sorted
    window pass (4 running sums share one window spec — one sort, not
    four). Anchor-sized everything after; exact integer outputs
    (recall in basis points via BIGINT div).
    """
    from pyspark.sql.window import Window

    anchors = [
        (a_id, vec)
        for a_id, _, vec in _query_points(spark, sf_dir, n_anchors)
        if vec is not None
    ]
    schema = (
        "nprobe bigint, n_anchors bigint, n_exact bigint, "
        "n_hit bigint, recall_bp bigint"
    )
    if not anchors:
        return spark.createDataFrame([], schema)
    cents = _trained_cents(spark, sf_dir, num_centroids)
    # full probe preference order per anchor (all K centroids)
    order = {
        a_id: _ivf_probe_ids(q, cents, len(cents)) for a_id, q in anchors
    }
    rank_maps = {
        a_id: F.create_map(
            *[
                F.lit(x)
                for cid, r in zip(ids, range(1, len(ids) + 1))
                for x in (cid, r)
            ]
        )
        for a_id, ids in order.items()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(anchors[0][1])
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p0 = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
    )
    assigned = _with_nearest_centroid(
        p0, "embedding", "_nv", cents, "_cid"
    ).observe("_cgsplit_probe_sweep", F.count(F.lit(1)).alias("rows"))
    sim_cols = []
    for a_id, q in anchors:
        sim = F.expr(
            f"{_dot_lit_sql('embedding', q)}"
            f" / nullif(_nv * ({_pynorm(q)!r}), 0.0D)"
        )
        sim_cols.append((sim + barrier).alias(f"_psim{a_id}"))
    p1 = assigned.select(F.col("vec_id"), F.col("_cid"), *sim_cols)
    entries = F.array(
        *[
            F.struct(
                F.lit(a_id).cast("bigint").alias("a_id"),
                _present_round(F.col(f"_psim{a_id}"), 4).alias("cos_sim"),
                # NULL _cid (degenerate row) maps to NULL rank: in no
                # probe set at any depth, like the oracle's JOIN miss
                F.element_at(rank_maps[a_id], F.col("_cid")).alias(
                    "probe_rank"
                ),
            )
            for a_id, q in anchors
        ]
    )
    stacked = p1.select(
        F.col("vec_id"), F.explode(entries).alias("s")
    ).select("vec_id", "s.a_id", "s.cos_sim", "s.probe_rank")
    w_rank = Window.partitionBy("a_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = stacked.select(
        "a_id",
        "probe_rank",
        F.row_number().over(w_rank).cast("bigint").alias("_er"),
        *[
            F.sum((F.col("probe_rank") <= d).cast("bigint"))
            .over(w_run)
            .alias(f"_pc{d}")
            for d in depths
        ],
    )
    in_exact = F.col("_er") <= k
    one = ranked.agg(
        F.sum(in_exact.cast("bigint")).alias("_ne"),
        *[
            F.sum(
                (
                    in_exact
                    & (F.col("probe_rank") <= d)
                    & (F.col(f"_pc{d}") <= k)
                ).cast("bigint")
            ).alias(f"_h{d}")
            for d in depths
        ],
    )
    stack_args = ", ".join(f"{d}, _h{d}" for d in depths)
    return (
        one.selectExpr(
            f"stack({len(depths)}, {stack_args}) AS (nprobe, n_hit)", "_ne"
        )
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            F.lit(len(anchors)).cast("bigint").alias("n_anchors"),
            F.col("_ne").cast("bigint").alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit"),
            F.expr("(10000 * coalesce(n_hit, 0)) div _ne")
            .cast("bigint")
            .alias("recall_bp"),
        )
        .orderBy("nprobe")
    )


def _probe_sweep_oracle(
    n_anchors: int = SWEEP_ANCHORS,
    k: int = RECALL_K,
    depths: tuple[int, ...] = PROBE_DEPTH_LADDER,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin: trained chain, per-anchor probe RANK over the
    centroids (ROW_NUMBER, NULLs last like the driver's tiered key),
    assignment, then the shared ranking tail with one running probed
    count per depth."""
    dim = EMB_DIM if dim is None else dim
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )
    pcs = ",\n             ".join(
        f"SUM(CASE WHEN probe_rank <= {d} THEN 1 ELSE 0 END) OVER ("
        f"PARTITION BY a_id ORDER BY cs DESC, vec_id ASC "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc{d}"
        for d in depths
    )
    hits = ",\n           ".join(
        f"CAST(SUM(CASE WHEN er <= {k} AND probe_rank <= {d} "
        f"AND pc{d} <= {k} THEN 1 ELSE 0 END) AS BIGINT) AS h{d}"
        for d in depths
    )
    # EXISTS gate: with zero usable anchors the Spark side returns the
    # empty frame, while an ungrouped aggregate over the empty ranked
    # table would still emit one all-NULL row per depth here
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({d} AS BIGINT) AS nprobe,
           (SELECT COUNT(*) FROM q) AS n_anchors,
           n_exact, h{d} AS n_hit,
           CAST((10000 * h{d}) // n_exact AS BIGINT) AS recall_bp
    FROM agg WHERE EXISTS (SELECT 1 FROM q)"""
        for d in depths
    )
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)},
    q AS (
      SELECT vec_id AS a_id, embedding AS qv FROM embeddings
      WHERE vec_id < {n_anchors} AND embedding IS NOT NULL
    ), prk AS (
      SELECT q.a_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.a_id
                                ORDER BY {probe_cos} DESC, c.cid ASC)
               AS probe_rank
      FROM c CROSS JOIN q
    ), assign AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), scored AS (
      SELECT q.a_id, e.vec_id,
             {_duck_cos4("e.embedding", "q.qv", dim)} AS cs,
             p.probe_rank
      FROM embeddings e
      CROSS JOIN q
      JOIN assign a ON a.vec_id = e.vec_id
      LEFT JOIN prk p ON p.a_id = q.a_id AND p.cid = a.cid
    ), ranked AS (
      SELECT a_id, probe_rank,
             ROW_NUMBER() OVER (PARTITION BY a_id
                                ORDER BY cs DESC, vec_id ASC) AS er,
             {pcs}
      FROM scored
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN er <= {k} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           {hits}
      FROM ranked
    )
{rows}
    ORDER BY nprobe
    """


@register(
    "ann_probe_depth_sweep",
    oracle=_probe_sweep_oracle(),
    description="IVF nprobe tuning curve: recall@10 at probe depths "
    "1/2/4/8 under the trained quantizer, summed over 3 anchors — one "
    "fused observe-split E-step + anchor-cosine scan, the whole depth "
    "axis riding ONE sorted window pass (4 running sums share the "
    "window); exact bp integers; the oracle re-derives the trained "
    "centroids and replays the per-depth ranking tail",
    covers=("N-sim",),
)
def ann_probe_depth_sweep_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ann_probe_depth_sweep(spark, sf_dir)


# ---------------------------------------------------------------------------
# prototypicality profile (r13) — the SSL-prototypes data-pruning readout
# ---------------------------------------------------------------------------


def prototypicality_profile(
    spark: SparkSession,
    sf_dir: str,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Cosine-to-assigned-centroid histogram under the TRAINED
    quantizer — the prototypicality readout behind cluster-based data
    pruning (keep prototypical examples, drop far-from-every-centroid
    noise and near-centroid redundancy): per (centroid, cosine decile)
    the vector count and the exact basis-point cosine mass.

    One E-step corpus scan (the shared argmax, which now also exposes
    the WINNING quantized cosine via ``keep_best`` — no join back, no
    second dot product); the rollup is a ≤ K·21-row hash aggregate.
    Exactness discipline: the rounded-4 cosine reconstructs to an
    exact INTEGER basis-point value (``round(cs*1e4)``), deciles come
    from ``floor(bp/1000.0)`` (floor on a double — ``div``/``//``
    disagree on negatives across engines), and the per-bucket mass is
    the raw BIGINT bp sum (no mean division — same negative-division
    seam). Unassigned rows (NULL/zero-norm vectors, degenerate
    quantizer) keep sentinel ids (-1 centroid, -99 decile) so every
    BIGINT column stays NULL-free through the driver's pandas
    canonicalization.
    """
    cents = _trained_cents(spark, sf_dir, num_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _dim(emb, "embedding")
    if dim is None:
        # rows may still EXIST (all-NULL vectors): every row lands in
        # the sentinel bucket with zero scored mass — a grouped
        # aggregate over literals yields that row, and zero rows on a
        # truly empty corpus (no groups), matching the oracle
        return (
            emb.select(
                F.lit(-1).cast("bigint").alias("centroid_id"),
                F.lit(-99).cast("bigint").alias("cos_decile"),
            )
            .groupBy("centroid_id", "cos_decile")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.lit(0).cast("bigint").alias("n_scored"),
                F.lit(0).cast("bigint").alias("sum_cos_bp"),
            )
        )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p0 = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
    )
    assigned = _with_nearest_centroid(
        p0, "embedding", "_nv", cents, "_cid", keep_best="_best"
    )
    bp = F.round(F.col("_best") * F.lit(1.0e4), 0).cast("long")
    # explicit NULL branch: both engines' least() SKIPS NULLs (least(9,
    # NULL) = 9), so an unscored row would silently land in decile 9
    # instead of the sentinel without it (caught by the nullvec seam)
    decile = F.when(bp.isNull(), F.lit(-99)).otherwise(
        F.least(F.lit(9), F.floor(bp / F.lit(1000.0)).cast("long"))
    )
    return (
        assigned.select(
            F.coalesce(F.col("_cid").cast("bigint"), F.lit(-1)).alias(
                "centroid_id"
            ),
            decile.cast("bigint").alias("cos_decile"),
            bp.alias("_bp"),
        )
        .groupBy("centroid_id", "cos_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.count("_bp").cast("bigint").alias("n_scored"),
            F.coalesce(F.sum("_bp"), F.lit(0))
            .cast("bigint")
            .alias("sum_cos_bp"),
        )
        .orderBy("centroid_id", "cos_decile")
    )


def _prototypicality_oracle(
    num_centroids: int = IVF_CENTROIDS, dim: int | None = None
) -> str:
    """DuckDB twin: trained chain + the fassign E-step KEEPING the
    winning rounded cosine, then the same integer-bp bucket algebra."""
    dim = EMB_DIM if dim is None else dim
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)},
    fa AS (
      SELECT vec_id,
             CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid,
             cs
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), b AS (
      SELECT COALESCE(cid, -1) AS centroid_id,
             CAST(round(cs * 1e4) AS BIGINT) AS bp
      FROM fa
    )
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(CASE WHEN bp IS NULL THEN -99
                     ELSE least(9, CAST(floor(bp / 1000.0) AS BIGINT))
                END AS BIGINT) AS cos_decile,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(bp) AS BIGINT) AS n_scored,
           CAST(COALESCE(SUM(bp), 0) AS BIGINT) AS sum_cos_bp
    FROM b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register(
    "prototypicality_profile",
    oracle=_prototypicality_oracle(),
    description="cluster-pruning prototypicality readout: per (trained "
    "centroid, cosine decile) the vector count and exact bp cosine "
    "mass — one E-step scan exposing the winning quantized cosine "
    "(keep_best, no join back), K*21-row rollup; sentinel ids keep "
    "BIGINTs NULL-free; floor-form deciles avoid the negative "
    "div/floor cross-engine seam",
    covers=("N-sim", "N-curation", "B5"),
)
def prototypicality_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return prototypicality_profile(spark, sf_dir)


# ---------------------------------------------------------------------------
# recall-vs-k sweep (r13) — the OTHER IVF tuning axis
# ---------------------------------------------------------------------------

#: the k ladder the serving tier actually chooses between
RECALL_K_LADDER: tuple[int, ...] = (1, 5, 10, 20)

#: fixed probe depth for the k sweep (the ladder's production middle)
SWEEP_NPROBE: int = 4


def ann_recall_vs_k(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int = SWEEP_ANCHORS,
    ks: tuple[int, ...] = RECALL_K_LADDER,
    nprobe: int = SWEEP_NPROBE,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Recall@k vs k at a FIXED probe depth under the trained
    quantizer — the axis :func:`ann_probe_depth_sweep` holds constant:
    that curve tunes nprobe at k=10; this one answers whether the
    chosen depth serves every k the retrieval tier is asked for (IVF
    recall typically degrades as k grows past the probed lists' depth,
    and the k knee says when to raise nprobe).

    Same fused single-scan shape as the depth sweep (observe-split
    E-step + per-anchor exact cosines), but the k axis is even
    cheaper than the depth axis: every k shares ONE running
    probed-count column (``probe_rank <= nprobe`` cumulated over the
    same sorted window), so the whole ladder is |ks| predicates over
    one sort. Exact integer outputs; per-k exact mass is
    ``sum(er <= k)`` (= k·anchors when the corpus is large enough,
    smaller on tiny corpora — never assumed).
    """
    from pyspark.sql.window import Window

    anchors = [
        (a_id, vec)
        for a_id, _, vec in _query_points(spark, sf_dir, n_anchors)
        if vec is not None
    ]
    schema = (
        "k bigint, n_anchors bigint, n_exact bigint, "
        "n_hit bigint, recall_bp bigint"
    )
    if not anchors:
        return spark.createDataFrame([], schema)
    cents = _trained_cents(spark, sf_dir, num_centroids)
    order = {
        a_id: _ivf_probe_ids(q, cents, len(cents)) for a_id, q in anchors
    }
    rank_maps = {
        a_id: F.create_map(
            *[
                F.lit(x)
                for cid, r in zip(ids, range(1, len(ids) + 1))
                for x in (cid, r)
            ]
        )
        for a_id, ids in order.items()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(anchors[0][1])
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p0 = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
    )
    assigned = _with_nearest_centroid(
        p0, "embedding", "_nv", cents, "_cid"
    ).observe("_cgsplit_k_sweep", F.count(F.lit(1)).alias("rows"))
    sim_cols = []
    for a_id, q in anchors:
        sim = F.expr(
            f"{_dot_lit_sql('embedding', q)}"
            f" / nullif(_nv * ({_pynorm(q)!r}), 0.0D)"
        )
        sim_cols.append((sim + barrier).alias(f"_ksim{a_id}"))
    p1 = assigned.select(F.col("vec_id"), F.col("_cid"), *sim_cols)
    entries = F.array(
        *[
            F.struct(
                F.lit(a_id).cast("bigint").alias("a_id"),
                _present_round(F.col(f"_ksim{a_id}"), 4).alias("cos_sim"),
                F.element_at(rank_maps[a_id], F.col("_cid")).alias(
                    "probe_rank"
                ),
            )
            for a_id, q in anchors
        ]
    )
    stacked = p1.select(
        F.col("vec_id"), F.explode(entries).alias("s")
    ).select("vec_id", "s.a_id", "s.cos_sim", "s.probe_rank")
    w_rank = Window.partitionBy("a_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probed = F.col("probe_rank") <= nprobe
    ranked = stacked.select(
        "a_id",
        "probe_rank",
        F.row_number().over(w_rank).cast("bigint").alias("_er"),
        F.sum(probed.cast("bigint")).over(w_run).alias("_pc"),
    )
    one = ranked.agg(
        *[
            F.sum((F.col("_er") <= kk).cast("bigint")).alias(f"_ne{kk}")
            for kk in ks
        ],
        *[
            F.sum(
                (
                    (F.col("_er") <= kk)
                    & probed
                    & (F.col("_pc") <= kk)
                ).cast("bigint")
            ).alias(f"_h{kk}")
            for kk in ks
        ],
    )
    stack_args = ", ".join(f"{kk}, _ne{kk}, _h{kk}" for kk in ks)
    return (
        one.selectExpr(
            f"stack({len(ks)}, {stack_args}) AS (k, n_exact, n_hit)"
        )
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.lit(len(anchors)).cast("bigint").alias("n_anchors"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("bigint")
            .alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit"),
            F.expr("(10000 * coalesce(n_hit, 0)) div n_exact")
            .cast("bigint")
            .alias("recall_bp"),
        )
        .orderBy("k")
    )


def _recall_vs_k_oracle(
    n_anchors: int = SWEEP_ANCHORS,
    ks: tuple[int, ...] = RECALL_K_LADDER,
    nprobe: int = SWEEP_NPROBE,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin of :func:`ann_recall_vs_k`: the probe-sweep oracle's
    trained chain and ranking tail, with ONE running probed count and
    the k ladder as per-k predicates."""
    dim = EMB_DIM if dim is None else dim
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )
    aggs = ",\n           ".join(
        f"CAST(SUM(CASE WHEN er <= {kk} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS ne{kk},\n           "
        f"CAST(SUM(CASE WHEN er <= {kk} AND probe_rank <= {nprobe} "
        f"AND pc <= {kk} THEN 1 ELSE 0 END) AS BIGINT) AS h{kk}"
        for kk in ks
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({kk} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM q) AS n_anchors,
           ne{kk} AS n_exact, h{kk} AS n_hit,
           CAST((10000 * h{kk}) // ne{kk} AS BIGINT) AS recall_bp
    FROM agg WHERE EXISTS (SELECT 1 FROM q)"""
        for kk in ks
    )
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)},
    q AS (
      SELECT vec_id AS a_id, embedding AS qv FROM embeddings
      WHERE vec_id < {n_anchors} AND embedding IS NOT NULL
    ), prk AS (
      SELECT q.a_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.a_id
                                ORDER BY {probe_cos} DESC, c.cid ASC)
               AS probe_rank
      FROM c CROSS JOIN q
    ), assign AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), scored AS (
      SELECT q.a_id, e.vec_id,
             {_duck_cos4("e.embedding", "q.qv", dim)} AS cs,
             p.probe_rank
      FROM embeddings e
      CROSS JOIN q
      JOIN assign a ON a.vec_id = e.vec_id
      LEFT JOIN prk p ON p.a_id = q.a_id AND p.cid = a.cid
    ), ranked AS (
      SELECT a_id, probe_rank,
             ROW_NUMBER() OVER (PARTITION BY a_id
                                ORDER BY cs DESC, vec_id ASC) AS er,
             SUM(CASE WHEN probe_rank <= {nprobe} THEN 1 ELSE 0 END)
               OVER (PARTITION BY a_id ORDER BY cs DESC, vec_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pc
      FROM scored
    ), agg AS (
      SELECT {aggs}
      FROM ranked
    )
{rows}
    ORDER BY k
    """


@register(
    "ann_recall_vs_k",
    oracle=_recall_vs_k_oracle(),
    description="IVF recall-vs-k curve at fixed nprobe=4 under the "
    "trained quantizer (the axis the depth sweep holds constant): "
    "recall@k for k in 1/5/10/20, the whole ladder riding ONE sorted "
    "window pass with a single shared running probed count — fused "
    "observe-split E-step + anchor-cosine scan, exact bp integers",
    covers=("N-sim",),
)
def ann_recall_vs_k_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_vs_k(spark, sf_dir)


# ---------------------------------------------------------------------------
# IVF probe cost profile (r14) — the COST axis of the nprobe tuning pair
# ---------------------------------------------------------------------------


def ivf_probe_cost_profile(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int = SWEEP_ANCHORS,
    depths: tuple[int, ...] = PROBE_DEPTH_LADDER,
    num_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Candidates TOUCHED per probe depth under the trained quantizer —
    the cost curve next to :func:`ann_probe_depth_sweep`'s recall
    curve (together they ARE the nprobe knob: recall bought vs
    candidates paid). Per depth: total candidate vectors the anchors'
    depth-bounded probe sets cover, the per-anchor average, and the
    scanned share of the assigned corpus in basis points.

    ONE corpus scan: the E-step assignment reduces to K list sizes
    (map-side partials); the anchor->centroid probe ranks are the
    driver's O(K)-per-anchor preference order (``_ivf_probe_ids``,
    bit-exact twin of the oracle's ROW_NUMBER) shipped as an A x K
    literal frame and broadcast onto the sizes. The whole depth ladder
    is conditional sums over that A x K table — adding a depth adds a
    column, never a scan. Degenerate rows (NULL/zero-norm embeddings)
    sit in no list and are excluded from both the sizes and the
    denominator, like the oracle's NULL-cid filter.
    """
    anchors = [
        (a_id, vec)
        for a_id, _, vec in _query_points(spark, sf_dir, n_anchors)
        if vec is not None
    ]
    schema = (
        "nprobe bigint, n_anchors bigint, total_candidates bigint, "
        "avg_candidates bigint, scanned_bp bigint"
    )
    if not anchors:
        return spark.createDataFrame([], schema)
    cents = _trained_cents(spark, sf_dir, num_centroids)
    rank_rows = [
        (a_id, cid, r)
        for a_id, q in anchors
        for r, cid in enumerate(_ivf_probe_ids(q, cents, len(cents)), 1)
    ]
    ranks = spark.createDataFrame(
        rank_rows, "a_id bigint, cid int, probe_rank int"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(anchors[0][1])
    barrier = F.monotonically_increasing_id() * F.lit(0)
    p0 = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        (F.expr(_norm_sql("embedding", dim)) + barrier).alias("_nv"),
    )
    sizes = (
        _with_nearest_centroid(p0, "embedding", "_nv", cents, "_cid")
        .filter(F.col("_cid").isNotNull())
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    joined = ranks.join(
        F.broadcast(sizes), ranks["cid"] == sizes["_cid"], "left"
    ).select(
        "a_id",
        "probe_rank",
        F.coalesce(F.col("sz"), F.lit(0)).alias("sz"),
    )
    aggs = [
        F.coalesce(F.sum(F.when(F.col("probe_rank") == 1, F.col("sz"))),
                   F.lit(0)).cast("bigint").alias("_assigned_probe")
    ]
    for d in depths:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("probe_rank") <= d, F.col("sz"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"c{d}")
        )
    # n_anchors * n_assigned — the only use of the assigned total — IS
    # the unconditional sz sum of this same A x K table (every anchor's
    # rank list covers every centroid exactly once, and unassigned
    # lists ride in as coalesced zeros), so it rides THIS aggregate
    # instead of a second derivation of the E-step subtree (r15: scans
    # 2 -> 1, and the crossJoin against it disappears).
    n_a = len(anchors)
    aggs.append(
        F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("_sz_all")
    )
    stack = ", ".join(
        f"{d}L, c{d}, c{d} div {n_a}L, "
        f"coalesce((10000 * c{d}) div nullif(_sz_all, 0), 0)"
        for d in depths
    )
    return (
        joined.agg(*aggs)
        .selectExpr(
            f"stack({len(depths)}, {stack}) "
            "AS (nprobe, total_candidates, avg_candidates, scanned_bp)"
        )
        .select(
            "nprobe",
            F.lit(n_a).cast("bigint").alias("n_anchors"),
            "total_candidates",
            "avg_candidates",
            F.col("scanned_bp").cast("bigint"),
        )
        .orderBy("nprobe")
    )


def _probe_cost_oracle(
    n_anchors: int = SWEEP_ANCHORS,
    depths: tuple[int, ...] = PROBE_DEPTH_LADDER,
    num_centroids: int = IVF_CENTROIDS,
    dim: int | None = None,
) -> str:
    """DuckDB twin: trained chain, per-anchor probe rank (the sweep
    oracle's prk CTE), NULL-safe assignment sizes, conditional sums
    over the A x K (rank, size) table."""
    dim = EMB_DIM if dim is None else dim
    probe_cos = (
        f"{_duck_dot('c.cv', 'q.qv', dim)} / nullif({_duck_norm('c.cv', dim)}"
        f" * {_duck_norm('q.qv', dim)}, 0.0)"
    )
    csums = ",\n           ".join(
        f"CAST(COALESCE(SUM(CASE WHEN probe_rank <= {d} THEN sz END), 0) "
        f"AS BIGINT) AS c{d}"
        for d in depths
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({d} AS BIGINT) AS nprobe,
           (SELECT COUNT(*) FROM q) AS n_anchors,
           c{d} AS total_candidates,
           CAST(c{d} // (SELECT COUNT(*) FROM q) AS BIGINT)
             AS avg_candidates,
           CAST(COALESCE((10000 * c{d}) // NULLIF(
             (SELECT COUNT(*) FROM q) * (SELECT n_assigned FROM tot), 0),
             0) AS BIGINT) AS scanned_bp
    FROM agg WHERE EXISTS (SELECT 1 FROM q)"""
        for d in depths
    )
    return f"""
    WITH {_trained_c_cte(num_centroids=num_centroids, dim=dim)},
    q AS (
      SELECT vec_id AS a_id, embedding AS qv FROM embeddings
      WHERE vec_id < {n_anchors} AND embedding IS NOT NULL
    ), prk AS (
      SELECT q.a_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY q.a_id
                                ORDER BY {probe_cos} DESC, c.cid ASC)
               AS probe_rank
      FROM c CROSS JOIN q
    ), assign AS (
      SELECT vec_id, CASE WHEN cs IS NULL THEN NULL ELSE cid END AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               {_duck_cos4("e.embedding", "c.cv", dim)} AS cs
        FROM embeddings e CROSS JOIN c
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid ASC) = 1
    ), sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS sz
      FROM assign WHERE cid IS NOT NULL GROUP BY cid
    ), tot AS (
      SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_assigned FROM sizes
    ), j AS (
      SELECT p.a_id, p.probe_rank, COALESCE(s.sz, 0) AS sz
      FROM prk p LEFT JOIN sizes s ON s.cid = p.cid
    ), agg AS (
      SELECT {csums}
      FROM j
    )
{rows}
    ORDER BY nprobe
    """


@register(
    "ivf_probe_cost_profile",
    oracle=_probe_cost_oracle(),
    description="candidates touched per probe depth under the trained "
    "quantizer (total / per-anchor avg / scanned share in bp) — the "
    "cost axis paired with ann_probe_depth_sweep's recall axis; one "
    "E-step scan reduced to K list sizes, depth ladder as conditional "
    "sums over the A x K rank table",
    covers=("N-sim",),
)
def ivf_probe_cost_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ivf_probe_cost_profile(spark, sf_dir)
