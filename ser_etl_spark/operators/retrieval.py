"""Hybrid retrieval operators: rank fusion, diversified reranking, and
kNN-graph QA.

The reference's query surface stops at single-ranking relevance
(``bm25_search``) and single-ranking vector search (the ANN family);
production retrieval for LLM data pipelines composes them. This module
adds the three standard composition operators, each Spark-first:

* :func:`rrf_fusion` — reciprocal-rank fusion of the lexical (BM25) and
  semantic (cosine) top-k lists. Both arms are distributed top-k jobs
  (``TakeOrderedAndProject``); the fusion itself touches 2·k rows.
* :func:`mmr_rerank` — maximal-marginal-relevance diversification over a
  distributed candidate pool: candidate generation is a corpus-sized
  Spark job, the O(k²) rerank runs on the collected pool (20 rows — the
  same bounded-collect discipline as the IVF quantizer anchors).
* :func:`knn_graph_degree_audit` — block-bounded k-nearest-neighbor
  graph reciprocity per label block: the graph-quality readout SemDeDup /
  graph-based dedup pipelines publish next to their edge lists.

Cross-engine determinism follows the established disciplines: raw
cosines are left-to-right IEEE chains (``_dot_cols_sql`` on Spark,
folded ``list_reduce`` in DuckDB — bit-identical), presentation is the
tie-safe floor form, ranks and counts are exact integers, and every
tie-break is pinned by id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table, spread_small_input
from ser_etl_spark.operators.similarity import (
    EMB_DIM,
    _dim,
    _dot_cols_sql,
    _dot_lit_sql,
    _duck_cos4,
    _duck_dot,
    _duck_f,
    _duck_norm,
    _norm_sql,
    _present_round,
    _pynorm,
    _query_vector,
    _NULL_QUERY,
    _ann_exact_oracle,
)
from ser_etl_spark.operators.text import bm25_search, _bm25_oracle

#: RRF dampening constant (the standard k=60 from the original
#: Cormack/Clarke/Buettcher formulation).
RRF_K = 60
#: depth of each arm's ranking fed into the fusion / the MMR pool.
FUSION_DEPTH = 20
#: MMR picks and trade-off (lambda = 1/2 — an exact binary fraction, so
#: `0.5*sim - 0.5*maxsel` is the same IEEE expression on every engine).
MMR_SELECT = 5


def _duck_cos_raw(a: str, b: str, dim: int) -> str:
    """Unpresented cosine (the raw double) — oracle twin of the Spark
    ``dot / nullif(norm*norm, 0)`` expression."""
    return (
        f"{_duck_dot(a, b, dim)} / nullif({_duck_norm(a, dim)}"
        f" * {_duck_norm(b, dim)}, 0.0)"
    )


# ---------------------------------------------------------------------------
# reciprocal-rank fusion
# ---------------------------------------------------------------------------


def rrf_fusion(
    spark: SparkSession, sf_dir: str, k: int = 10, depth: int = FUSION_DEPTH
) -> DataFrame:
    """Fuse the BM25 top-``depth`` and the cosine top-``depth`` into one
    ranking by reciprocal-rank fusion: ``score(d) = Σ_arms 1/(60 + rank)``
    (a missing arm contributes 0.0; the lexical term is added first, so
    the two-term sum is a fixed-order chain).

    Scale shape: each arm is an independent distributed top-k (per-
    partition heaps, no global sort); the fusion joins two ``depth``-row
    DataFrames. The doc/vec id spaces are aligned by the corpus contract
    (documents.doc_id == embeddings.vec_id).

    Ranks are dense positions over each arm's presented scores with the
    id tie-break — integers, so both engines agree exactly; 1/(60+r) is
    one double division per arm. Absent ranks surface as the 0 sentinel
    (never NULL: a NULL-able integer column would float through the
    driver's pandas canonicalization).
    """
    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_search(docs, k=depth).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    vec = _query_vector(spark, sf_dir)
    if vec is None or vec is _NULL_QUERY:
        # no usable query point: the semantic arm is empty (its oracle
        # CTE filters the all-NULL scores), fusion degrades to lexical
        sem = spark.createDataFrame([], "vec_id bigint, sem_rank int")
    else:
        from ser_etl_spark.operators.similarity import cosine_topk

        # the query row itself (vec_id=0) is excluded — self-similarity
        # would pin sem rank 1 to the query document; mmr_rerank already
        # excludes it, and fusion follows the same retrieval semantics
        # (r11 ADVICE)
        sem = (
            cosine_topk(
                load_table(spark, sf_dir, "embeddings").filter(
                    F.col("vec_id") != 0
                ),
                vec,
                k=depth,
            )
            .filter(F.col("cos_sim").isNotNull())
            .select(
                "vec_id",
                F.row_number()
                .over(
                    Window.orderBy(
                        F.col("cos_sim").desc(), F.col("vec_id").asc()
                    )
                )
                .alias("sem_rank"),
            )
        )
    fused = lex.join(sem, lex["doc_id"] == sem["vec_id"], "full_outer")
    lex_term = F.when(F.col("lex_rank").isNull(), F.lit(0.0)).otherwise(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")).cast("double")
    )
    sem_term = F.when(F.col("sem_rank").isNull(), F.lit(0.0)).otherwise(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")).cast("double")
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.coalesce(F.col("lex_rank"), F.lit(0))
            .cast("bigint")
            .alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0))
            .cast("bigint")
            .alias("sem_rank"),
            (lex_term + sem_term).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _rrf_oracle(k: int = 10, depth: int = FUSION_DEPTH) -> str:
    return f"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
      FROM ({_bm25_oracle(depth)}) b
    ), sem0 AS ({_ann_exact_oracle(k=depth, exclude_query=True)}
    ), sem AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC)
               AS sem_rank
      FROM sem0 WHERE cos_sim IS NOT NULL
    )
    SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
           CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(s.sem_rank, 0) AS BIGINT) AS sem_rank,
           (CASE WHEN l.lex_rank IS NULL THEN 0.0
                 ELSE 1.0 / CAST({RRF_K} + l.lex_rank AS DOUBLE) END
            + CASE WHEN s.sem_rank IS NULL THEN 0.0
                   ELSE 1.0 / CAST({RRF_K} + s.sem_rank AS DOUBLE) END)
             AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {k}
    """


@register(
    "rrf_fusion",
    oracle=_rrf_oracle(),
    description="hybrid retrieval: reciprocal-rank fusion (k=60) of the "
    "BM25 top-20 and the exact-cosine top-20 (query row vec_id=0 "
    "excluded, matching mmr_rerank) over the aligned doc/vec id "
    "space — each arm an independent distributed top-k, fusion on 2x20 "
    "rows; integer ranks + one double division per arm keep both engines "
    "bit-identical; missing arm = rank sentinel 0, score term 0.0",
    covers=("N-sim", "N-text"),
)
def rrf_fusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_fusion(spark, sf_dir)


# ---------------------------------------------------------------------------
# maximal-marginal-relevance rerank
# ---------------------------------------------------------------------------


def _py_cos_raw(a, b, dim: int = EMB_DIM):
    """Driver-side raw cosine with the engines' exact operation order:
    left-to-right product chain (python floats are IEEE doubles), one
    division, zero-norm -> None (the SQL ``nullif`` twin)."""
    dot = None
    for i in range(dim):
        t = float(a[i]) * float(b[i])
        dot = t if dot is None else dot + t
    den = _pynorm(a[:dim]) * _pynorm(b[:dim])
    if den == 0.0:
        return None
    return dot / den


def _py_present(x: float, d: int = 4) -> float:
    """Driver-side twin of ``_present_round`` / ``_duck_f``."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return math.floor(x * 10.0**d + 0.5) / 10.0**d


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    pool_k: int = FUSION_DEPTH,
    select_k: int = MMR_SELECT,
) -> DataFrame:
    """Diversified top-``select_k`` via maximal marginal relevance over
    the cosine top-``pool_k`` candidate pool (λ = 1/2):

        ``pick_t = argmax_i  0.5·sim(q, i) − 0.5·max_{s∈selected} sim(i, s)``

    with pick 1 = plain argmax of query similarity and every argmax
    tie-broken by ascending vec_id.

    Scale shape: candidate generation is the corpus-sized distributed
    job (one scan, per-partition top-k heaps); the O(k²·dim) selection
    runs on the collected 20-row pool — the bounded-collect pattern the
    quantizer anchors established (``similarity.py``), and exactly how a
    production reranker treats its candidate window. The oracle replays
    the ENTIRE selection loop as chained CTEs, so the differential gate
    verifies the algorithm end-to-end, not just the pool.

    Degenerate rows never enter the pool: NULL cosine (zero-norm or
    NULL/short vector) and NaN cosine (NaN component) are filtered on
    both engines — NaN would poison the driver-side comparisons (python
    NaN compares false where SQL's total order sorts it first). The
    query row itself (vec_id=0) is excluded.
    """
    vec = _query_vector(spark, sf_dir)
    out_schema = (
        "pick_order int, vec_id bigint, sim_q double, mmr double"
    )
    if vec is None or vec is _NULL_QUERY:
        return spark.createDataFrame([], out_schema)
    q = [float(v) for v in vec]
    emb = load_table(spark, sf_dir, "embeddings")
    sim = F.expr(
        f"{_dot_lit_sql('embedding', q)}"
        f" / nullif(({_norm_sql('embedding', len(q))})"
        f" * ({_pynorm(q)!r}), 0.0D)"
    )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    pool_rows = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", (sim + barrier).alias("_rcs"))
        .filter(F.col("_rcs").isNotNull() & ~F.isnan(F.col("_rcs")))
        .orderBy(F.col("_rcs").desc(), F.col("vec_id").asc())
        .limit(pool_k)
        .collect()
    )
    cand = {
        int(r["vec_id"]): (float(r["_rcs"]), list(r["embedding"]))
        for r in pool_rows
    }
    picked: list[tuple[int, int, float, float]] = []
    sel_embs: list[list[float]] = []
    while len(picked) < select_k and cand:
        best = None  # (mmr, vid, sim_q)
        for vid in sorted(cand):  # ascending id => lowest id wins ties
            simq, e = cand[vid]
            if not sel_embs:
                mmr = simq
            else:
                ms = None
                for se in sel_embs:
                    s = _py_cos_raw(e, se)
                    if ms is None or (s is not None and s > ms):
                        ms = s
                mmr = 0.5 * simq - 0.5 * ms
            if best is None or mmr > best[0]:
                best = (mmr, vid, simq)
        mmr, vid, simq = best
        picked.append((len(picked) + 1, vid, simq, mmr))
        sel_embs.append(cand.pop(vid)[1])
    rows = [
        (order, vid, _py_present(simq), _py_present(mmr))
        for order, vid, simq, mmr in picked
    ]
    return spark.createDataFrame(rows, out_schema)


def _mmr_oracle(
    pool_k: int = FUSION_DEPTH,
    select_k: int = MMR_SELECT,
    dim: int = EMB_DIM,
) -> str:
    raw_q = _duck_cos_raw("e.embedding", "q.qv", dim)
    raw_pair = _duck_cos_raw("p.embedding", "s.embedding", dim)
    blocks = [
        f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT * FROM (
        SELECT e.vec_id, e.embedding, {raw_q} AS cs
        FROM embeddings e, q WHERE e.vec_id <> 0) t
      WHERE cs IS NOT NULL AND NOT isnan(cs)
      ORDER BY cs DESC, vec_id ASC LIMIT {pool_k}
    ),
    sel1 AS (
      SELECT vec_id, 1 AS pick_order, cs, cs AS mmr
      FROM pool ORDER BY cs DESC, vec_id ASC LIMIT 1
    )"""
    ]
    for t in range(2, select_k + 1):
        p = t - 1
        blocks.append(f"""cand{t} AS (
      SELECT p.vec_id, p.cs, MAX({raw_pair}) AS ms
      FROM pool p, pool s
      WHERE s.vec_id IN (SELECT vec_id FROM sel{p})
        AND p.vec_id NOT IN (SELECT vec_id FROM sel{p})
      GROUP BY p.vec_id, p.cs
    )""")
        blocks.append(f"""sel{t} AS (
      SELECT * FROM sel{p}
      UNION ALL
      SELECT * FROM (
        SELECT vec_id, {t} AS pick_order, cs, 0.5*cs - 0.5*ms AS mmr
        FROM cand{t}
        ORDER BY (0.5*cs - 0.5*ms) DESC, vec_id ASC LIMIT 1) pick{t}
    )""")
    chain = ",\n    ".join(blocks)
    return f"""
    WITH {chain}
    SELECT CAST(pick_order AS INTEGER) AS pick_order, vec_id,
           {_duck_f("cs", 4)} AS sim_q,
           {_duck_f("mmr", 4)} AS mmr
    FROM sel{select_k}
    ORDER BY pick_order
    """


@register(
    "mmr_rerank_topk",
    oracle=_mmr_oracle(),
    description="maximal-marginal-relevance diversified top-5 (lambda=1/2) "
    "over the distributed cosine top-20 pool — candidate gen is a one-scan "
    "top-k job, the O(k^2) selection runs on the bounded collected pool "
    "(quantizer-anchor discipline); the oracle replays the whole greedy "
    "loop as chained CTEs, tie-broken by vec_id, raw-double arithmetic "
    "identical on both engines, floor-form presentation",
    covers=("N-sim",),
)
def mmr_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mmr_rerank(spark, sf_dir)


# ---------------------------------------------------------------------------
# kNN-graph reciprocity audit
# ---------------------------------------------------------------------------


def knn_graph_degree_audit(
    vectors: DataFrame, k: int = 5, dim: int | None = None
) -> DataFrame:
    """Per-label kNN-graph reciprocity: build each node's directed top-k
    neighbor edges inside its label block, then report per label the
    node count, directed edge count, mutual (reciprocal) pair count and
    the reciprocity share in integer basis points
    (``10000·2·mutual // edges``).

    The QA readout for graph-based dedup/SemDeDup: low reciprocity means
    the similarity graph is dominated by hub nodes and a mutual-kNN
    clustering will shatter. Scale shape: label blocks bound the pair
    space exactly like :func:`embedding_neardup_pairs`; mutuality is ONE
    hash aggregate on the unordered pair key (least/greatest) — no
    edge-list self-join. Degenerate scores (NULL / NaN cosine) never
    become edges; NULL labels are out of scope on both engines.
    """
    d = _dim(vectors, "embedding") if dim is None else dim
    base = vectors.filter(F.col("label").isNotNull())
    nodes = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    if d is None:
        return nodes.select(
            "label",
            "n_nodes",
            F.lit(0).cast("bigint").alias("n_edges"),
            F.lit(0).cast("bigint").alias("n_mutual_pairs"),
            F.lit(0).cast("bigint").alias("reciprocity_bp"),
        ).orderBy("label")
    p = base.select(
        "label", "vec_id", "embedding",
        F.expr(_norm_sql("embedding", d)).alias("_nv"),
    )
    lhs = spread_small_input(
        p.select(
            F.col("label").alias("blk"),
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("va"),
            F.col("_nv").alias("na"),
        )
    )
    rhs = p.select(
        F.col("label").alias("blk_b"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("vb"),
        F.col("_nv").alias("nb"),
    )
    sim = F.expr(
        f"{_dot_cols_sql('va', 'vb', d)} / nullif(na * nb, 0.0D)"
    )
    barrier = F.monotonically_increasing_id() * F.lit(0)
    pairs = (
        lhs.join(
            rhs,
            (F.col("blk") == F.col("blk_b"))
            & (F.col("src") != F.col("dst")),
        )
        .select(
            F.col("blk").alias("label"), "src", "dst",
            (sim + barrier).alias("_rcs"),
        )
        .select(
            "label", "src", "dst",
            _present_round(F.col("_rcs"), 4).alias("cs"),
        )
        .filter(F.col("cs").isNotNull() & ~F.isnan(F.col("cs")))
    )
    w = Window.partitionBy("label", "src").orderBy(
        F.col("cs").desc(), F.col("dst").asc()
    )
    edges = (
        pairs.select("label", "src", "dst", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    und = edges.groupBy(
        "label",
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per = und.groupBy("label").agg(
        F.sum("c").cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mutual_pairs"),
    )
    return (
        nodes.join(per, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("bigint")
            .alias("n_edges"),
            F.coalesce(F.col("n_mutual_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_mutual_pairs"),
            F.when(F.coalesce(F.col("n_edges"), F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.expr("(10000 * 2 * n_mutual_pairs) div n_edges")
            )
            .cast("bigint")
            .alias("reciprocity_bp"),
        )
        .orderBy("label")
    )


def _knn_graph_oracle(k: int = 5, dim: int = EMB_DIM) -> str:
    raw = _duck_cos_raw("a.embedding", "b.embedding", dim)
    return f"""
    WITH pairs AS (
      SELECT * FROM (
        SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
               {_duck_f(raw, 4)} AS cs
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.label IS NOT NULL) t
      WHERE cs IS NOT NULL AND NOT isnan(cs)
    ), edges AS (
      SELECT label, src, dst FROM (
        SELECT label, src, dst,
               row_number() OVER (PARTITION BY label, src
                                  ORDER BY cs DESC, dst ASC) AS rn
        FROM pairs) t
      WHERE rn <= {k}
    ), und AS (
      SELECT label, least(src, dst) AS u, greatest(src, dst) AS v,
             COUNT(*) AS c
      FROM edges GROUP BY label, least(src, dst), greatest(src, dst)
    ), per AS (
      SELECT label, SUM(c) AS n_edges,
             SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n_mutual
      FROM und GROUP BY label
    ), nodes AS (
      SELECT label, COUNT(*) AS n_nodes FROM embeddings
      WHERE label IS NOT NULL GROUP BY label
    )
    SELECT n.label, CAST(n.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(p.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(COALESCE(p.n_mutual, 0) AS BIGINT) AS n_mutual_pairs,
           CAST(CASE WHEN COALESCE(p.n_edges, 0) = 0 THEN 0
                ELSE (10000 * 2 * p.n_mutual) // p.n_edges END AS BIGINT)
             AS reciprocity_bp
    FROM nodes n LEFT JOIN per p USING (label)
    ORDER BY n.label
    """


@register(
    "knn_graph_degree_audit",
    oracle=_knn_graph_oracle(),
    description="label-blocked kNN-graph (k=5) reciprocity audit: per "
    "label the node/edge/mutual-pair counts and reciprocity in basis "
    "points — mutuality via ONE unordered-pair hash aggregate "
    "(least/greatest key), no edge self-join; the graph-quality readout "
    "for SemDeDup-style mutual-kNN clustering",
    covers=("N-sim", "N-dedup"),
)
def knn_graph_degree_audit_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return knn_graph_degree_audit(load_table(spark, sf_dir, "embeddings"))
