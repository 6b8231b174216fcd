"""Corpus-curation operators for large-scale training-data pipelines.

The reference stops at serving analytics over synced tables
(``/root/reference/api-service/src/query_engine.py``); a training-data
engine additionally needs the preparation passes between raw documents
and a tokenizer-ready corpus. This module adds the four standard ones
that precede tokenization, plus the epoch-ordering pass that follows it:

- :func:`chunk_documents` — fixed-width overlapping character chunks
  (context-window packing precursor);
- :func:`repetition_stats` — Gopher-style repetition quality signals
  (type-token ratio, top-bigram mass);
- :func:`benchmark_contamination` — n-gram-overlap decontamination of
  the train split against a held-out benchmark set;
- :func:`source_temperature_sample` — temperature-based source
  rebalancing (sqrt weighting, deterministic keep-hash);
- :func:`training_order` — deterministic sharded epoch shuffle.

Everything is built-in-function Spark (JVM, whole-stage codegen): chunk
and n-gram generation explode *index sequences* and assemble strings as
flat projections (no higher-order lambdas — those are CodegenFallback,
see ``dedup.shingle_rows``), hashes/orderings use the engine-independent
Knuth hash from ``operators/sampling.py``, and the only float math is
IEEE-exact (sqrt, integer-derived divisions) so every operator here is
bit-reproducible on DuckDB and carries a full value-hash oracle.

Scale notes per operator are in the docstrings; none of them collects to
the driver, and the only shuffles are keyed aggregations/joins on
(doc_id) or (doc_id, ngram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ser_etl_spark.operators.dedup import shingle_rows
from ser_etl_spark.operators.sampling import hash_u32, sql_hash_u32
from ser_etl_spark.functions.numeric import fround
from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table

#: Default chunk geometry: 200-char windows advancing by 150 (50 overlap).
CHUNK_CHARS = 200
CHUNK_OVERLAP = 50

#: Benchmark-membership rule for the contamination demo: every 50th doc
#: stands in for a held-out eval set (deterministic, engine-independent).
BENCH_MOD = 50

#: n-gram width for decontamination (13 is the LM-eval convention; the
#: synthetic docs are ~30 tokens, so 5 keeps the check meaningful here).
CONTAMINATION_N = 5

#: Shard count for the epoch shuffle.
ORDER_SHARDS = 16


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = CHUNK_CHARS,
    overlap: int = CHUNK_OVERLAP,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-width overlapping character chunks.

    Chunk ``i`` covers ``[i*stride, i*stride + chunk_chars)`` with
    ``stride = chunk_chars - overlap``; the last chunk may be short.
    This is the standard pre-tokenization windowing for context-length
    training data (overlap preserves cross-boundary n-grams).

    Scale: a narrow per-row generate (explode of an index sequence) and
    a flat ``substr`` projection — no shuffle, no state; output is
    ~``len/stride`` rows per doc and partitions inherit the scan's.
    """
    if not 0 <= overlap < chunk_chars:
        raise ValueError(f"need 0 <= overlap < chunk_chars, got {overlap}/{chunk_chars}")
    stride = chunk_chars - overlap
    text = F.col(text_col)
    base = docs.select(
        F.col(id_col), text.alias("_txt"), F.length(text).alias("_len")
    ).filter(F.col("_len") > 0)
    idx = base.select(
        id_col,
        "_txt",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("_len") - 1) / stride))
        ).alias("chunk_id"),
    )
    chunk = F.col("_txt").substr(
        (F.col("chunk_id") * stride + 1).cast("int"), F.lit(chunk_chars)
    )
    return idx.select(
        id_col,
        "chunk_id",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_chars"),
    )


# ---------------------------------------------------------------------------
# repetition / quality signals
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals for quality filtering.

    - ``type_token_ratio``: distinct / total whitespace tokens — low TTR
      flags boilerplate and degenerate repetition;
    - ``top_bigram_frac``: share of all bigram slots taken by the most
      frequent bigram (the Gopher "top n-gram mass" filter, n=2).

    Scale: TTR is a flat per-row projection. The bigram pass explodes
    (doc_id, bigram) rows and hash-aggregates twice — counts collapse
    map-side (partial agg) before the (doc_id, sh) shuffle, then a
    per-doc max/sum on the doc_id-partitioned result; no global state.
    Docs with fewer than 2 tokens get a NULL ``top_bigram_frac``.
    """
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "type_token_ratio"
        ),
    )
    bigrams = shingle_rows_counted(docs, n=2)
    per_doc = (
        bigrams.groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("_mx"), F.sum("c").alias("_tot"))
        .select(
            "doc_id",
            (F.col("_mx").cast("double") / F.col("_tot")).alias("top_bigram_frac"),
        )
    )
    return base.join(per_doc, "doc_id", "left")


def shingle_rows_counted(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Non-distinct ``(doc_id, sh)`` n-gram rows (multiset form).

    Same codegen-friendly index-explode construction as
    ``dedup.shingle_rows`` but WITHOUT the distinct — repetition metrics
    need multiplicities, dedup joins need sets.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), " +").alias("_t"),
    ).filter(F.size("_t") >= n)
    t = F.col("_t")
    idx = toks.select(
        id_col,
        "_t",
        F.explode(F.sequence(F.lit(1), F.size(t) - (n - 1))).alias("_i"),
    )
    i = F.col("_i")
    sh = F.concat_ws(
        " ",
        F.element_at(t, i),
        *[F.element_at(t, i + k) for k in range(1, n)],
    )
    return idx.select(id_col, sh.alias("sh"))


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def benchmark_contamination(
    docs: DataFrame, n: int = CONTAMINATION_N, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Train documents sharing ≥1 word n-gram with the benchmark set.

    The held-out benchmark is the ``doc_id % bench_mod == 0`` slice (a
    deterministic stand-in for an external eval suite); every other doc
    is train. Returns per-contaminated-doc overlap counts and the
    contamination fraction ``hit_ngrams / total_ngrams`` — the standard
    n-gram-overlap decontamination pass run before training. Counts are
    over DISTINCT shingles per doc (``dedup.shingle_rows`` dedupes at
    the source): a doc repeating a contaminated n-gram counts it once —
    the same basis :func:`bloom_contamination` uses, so the two are
    row-comparable.

    Scale: benchmark n-grams are tiny relative to the corpus and are
    broadcast, so the train side never shuffles for the hit join. Totals
    are computed only for docs that hit (broadcast semi-join first), so
    the expensive full-corpus n-gram aggregation is avoided entirely —
    contaminated docs are a sliver of the corpus at 100 TB.
    """
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    bench_sh = (
        shingle_rows(docs.filter(is_bench), n=n).select("sh").distinct()
    )
    train_sh = shingle_rows(docs.filter(~is_bench), n=n)
    hits = (
        train_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hit_ngrams"))
    )
    totals = (
        train_sh.join(F.broadcast(hits.select("doc_id")), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("total_ngrams"))
    )
    return totals.join(hits, "doc_id").select(
        "doc_id",
        "total_ngrams",
        "hit_ngrams",
        (F.col("hit_ngrams").cast("double") / F.col("total_ngrams")).alias(
            "contamination_frac"
        ),
    )


def bloom_contamination(
    docs: DataFrame,
    n: int = CONTAMINATION_N,
    bench_mod: int = BENCH_MOD,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter form of :func:`benchmark_contamination` — the scale
    path when the benchmark n-gram set is too large to broadcast as raw
    strings.

    Instead of shipping benchmark n-grams (~50 B each), broadcast their
    Bloom BIT POSITIONS: each benchmark shingle sets ``k`` positions
    ``xxhash64(sh, seed) mod m`` — at most ``k × |bench|`` dedupable
    8-byte values, capped by ``m``. A train shingle is bloom-positive
    iff ALL ``k`` of its positions are present (per-seed position
    equality joins + a count-distinct-seeds == k gate) — a guaranteed
    SUPERSET of the exact string-join hits (no false negatives; false
    positives bounded by the classic ``(1-e^{-kn/m})^k``). The exact
    pass then needs to run only on the bloom-positive sliver.

    Output: per-train-doc bloom-positive n-gram counts — the same shape
    as the exact operator's ``hit_ngrams``, superset row-wise. COUNTING
    BASIS: both operators count DISTINCT shingles per doc —
    ``dedup.shingle_rows`` dedupes (doc, shingle) at the source for the
    exact operator, and the ``groupBy(doc_id, sh)`` k-of-k gate here
    yields one row per distinct positive shingle. A doc repeating a
    contaminated n-gram counts it once on BOTH sides, so the superset
    invariant (bloom ≥ exact per doc, zero false negatives) holds for
    repeats too — pinned by a regression test. xxhash64 is
    engine-specific, so this registers rows-only; tests assert the
    superset property and the false-positive bound against the exact
    operator.
    """
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    seeds = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("seed")
    pos = F.pmod(F.xxhash64(F.col("sh"), F.col("seed")), F.lit(m_bits)).alias(
        "pos"
    )
    bench_pos = (
        shingle_rows(docs.filter(is_bench), n=n)
        .select("sh")
        .distinct()
        .select("sh", seeds)
        .select("seed", pos)
        .distinct()
    )
    train_probe = (
        shingle_rows(docs.filter(~is_bench), n=n)
        .select("doc_id", "sh", seeds)
        .select("doc_id", "sh", "seed", pos)
    )
    positive = (
        train_probe.join(F.broadcast(bench_pos), ["seed", "pos"])
        .groupBy("doc_id", "sh")
        .agg(F.count_distinct("seed").alias("_ns"))
        .filter(F.col("_ns") == k)
    )
    return (
        positive.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("bloom_hit_ngrams"))
        .orderBy("doc_id")
    )


def _bloom_contamination_oracle(m_bits: int = 1 << 20, k: int = 3) -> str:
    """DuckDB twin of ``bloom_contamination``: the k hashed bit
    positions per shingle are ``pmod(xxhash64(sh, seed), m_bits)`` —
    emulated exactly with the staged XXH64 chains (distinct shingles
    hashed once), with the unsigned ``& (m_bits-1)`` equal to Spark's
    pmod because m_bits is a power of two. The k-of-k position gate and
    per-doc counts then replay verbatim."""
    assert m_bits & (m_bits - 1) == 0
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_int_rehash_stage_cols,
        xxh64_str_stage_cols,
    )

    n = CONTAMINATION_N
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace(
        "t[i+0]", "t[i]"
    )
    # Spark's multi-arg xxhash64(sh, seed) folds left: the string hash
    # of `sh` (seed 42) directly SEEDS the 4-byte hashInt over `seed` —
    # no intermediate hashLong (that layer belongs only to MinHash's
    # explicit two-call xxhash64(xxhash64(sh), k) form; the Count-Min
    # oracle note has the full story, and tests pin the positions
    # against Spark).
    str_ctes, str_fin = stages_to_ctes(
        "dsh", xxh64_str_stage_cols("sh", "_bb", pfx="_bxs"), "_bsa"
    )
    seed_ctes, seed_fin = stages_to_ctes(
        str_fin,
        xxh64_int_rehash_stage_cols(
            "_bb", list(range(k)), out_fmt="_bs{k}", pfx="_bp", signed=False
        ),
        "_bsc",
    )
    pos_rows = "\n      UNION ALL ".join(
        f"SELECT sh, {s} AS seed, CAST(_bs{s} & {m_bits - 1} AS BIGINT) AS pos "
        f"FROM {seed_fin}"
        for s in range(k)
    )
    # (the module-level _SQL_TOKS constant is defined further down)
    toks_sql = "string_split_regex(trim(lower(text)), ' +')"
    return f"""
    WITH toks AS (SELECT doc_id, {toks_sql} AS t FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM toks WHERE len(t) >= {n})),
    dsh AS (SELECT DISTINCT sh FROM sh5
    ){str_ctes}{seed_ctes}, pos AS (
      {pos_rows}
    ), bench_pos AS (
      SELECT DISTINCT p.seed, p.pos
      FROM sh5 JOIN pos p USING (sh)
      WHERE sh5.doc_id % {BENCH_MOD} = 0
    ), positive AS (
      SELECT t.doc_id, t.sh
      FROM sh5 t
      JOIN pos p USING (sh)
      JOIN bench_pos b ON b.seed = p.seed AND b.pos = p.pos
      WHERE t.doc_id % {BENCH_MOD} <> 0
      GROUP BY t.doc_id, t.sh
      HAVING COUNT(DISTINCT p.seed) = {k}
    )
    SELECT doc_id, COUNT(*) AS bloom_hit_ngrams
    FROM positive GROUP BY doc_id
    """


@register(
    "decontamination_bloom",
    oracle=_bloom_contamination_oracle(),
    description="Bloom-position decontamination: benchmark n-grams "
    "broadcast as k hashed bit positions (8 B each, dedupable) instead "
    "of raw strings — the 100 TB path for large benchmarks; guaranteed "
    "superset of the exact string-join hits, FP-bounded. Oracle-backed "
    "since r5: the xxhash64 positions replay exactly via the staged "
    "emulation; superset-of-exact + FP bound also pinned in tests",
    covers=("N-text", "N-dedup"),
)
def decontamination_bloom_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_contamination(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# temperature-based source mixing
# ---------------------------------------------------------------------------


def source_temperature_sample(docs: DataFrame) -> DataFrame:
    """Deterministic temperature-0.5 source rebalancing.

    Per-source weight ``w_s = sqrt(char_volume_s)`` (temperature 0.5 —
    the multilingual-corpus convention for flattening source skew);
    every source keeps ``w_s / max_s w_s`` of its docs, chosen by the
    engine-independent Knuth keep-hash, so the largest source keeps all
    rows and smaller sources are *relatively* upweighted. sqrt is
    IEEE-754 correctly-rounded, so keep decisions are bit-identical on
    any engine — the sample is reproducible forever.

    Scale: one tiny per-source aggregate (|sources| rows, broadcast
    back), then a stateless per-row filter; no fact-table shuffle.
    """
    stats = docs.groupBy("source").agg(F.sum("n_chars").alias("_c"))
    w = stats.select("source", F.sqrt(F.col("_c")).alias("_w"))
    mx = w.agg(F.max("_w").alias("_mw"))
    fracs = w.crossJoin(F.broadcast(mx)).select(
        "source", (F.col("_w") / F.col("_mw")).alias("keep_frac")
    )
    kept = docs.join(F.broadcast(fracs), "source").filter(
        hash_u32("doc_id") < F.col("keep_frac") * F.lit(2.0**32)
    )
    return kept.select("doc_id", "source", "keep_frac")


def source_cap_sample(docs: DataFrame, cap: int = 10) -> DataFrame:
    """Keep at most ``cap`` documents per source, chosen deterministically.

    The per-domain cap is the standard guard against a single crawl
    domain flooding the corpus. Selection order is the Knuth hash of the
    stable id (then id as tie-break), so the kept subset is a uniform,
    reproducible, engine-independent sample — a deterministic
    reservoir-sample analog with none of ``rand()``'s replay problems.

    Scale: one window partitioned BY SOURCE — independent per-group
    top-``cap`` selections; no global sort, no driver state. A skewed
    mega-source is one partition's top-k, and since only ranks <= cap
    survive, AQE's skew splitting plus the rank filter keep it bounded.
    """
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        docs.select("doc_id", "source", hash_u32("doc_id").alias("_h"))
        .select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= cap)
    )


# ---------------------------------------------------------------------------
# epoch ordering
# ---------------------------------------------------------------------------


def training_order(docs: DataFrame, n_shards: int = ORDER_SHARDS) -> DataFrame:
    """Deterministic sharded epoch shuffle: (shard_id, shard_pos) per doc.

    Training pipelines consume data as S shards read round-robin, each
    shard internally pseudo-randomly ordered. Shard assignment and
    intra-shard order both derive from the Knuth hash of the stable id,
    so the epoch order is reproducible on any engine and independent of
    input partitioning — ``rand()`` or engine hashes would not be.

    Scale: the window is partitioned BY SHARD — S independent sorts of
    ~1/S of the data each, not a single global order-by; shards map to
    output files one-to-one. For multi-epoch training, salt the id with
    the epoch number upstream.
    """
    h = hash_u32("doc_id")
    w = Window.partitionBy("shard_id").orderBy("_h", "doc_id")
    return (
        docs.select(
            "doc_id",
            h.alias("_h"),
            F.pmod(h, F.lit(n_shards)).alias("shard_id"),
        )
        .select(
            "doc_id",
            "shard_id",
            F.row_number().over(w).alias("shard_pos"),
        )
    )


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------

_STRIDE = CHUNK_CHARS - CHUNK_OVERLAP

_SQL_TOKS = "string_split_regex(trim(lower(text)), ' +')"


@register(
    "doc_chunks",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             unnest(generate_series(0, (length(text)-1)//{_STRIDE})) AS chunk_id
      FROM documents WHERE length(text) > 0)
    SELECT doc_id, chunk_id,
           substring(text, CAST(chunk_id*{_STRIDE}+1 AS INT), {CHUNK_CHARS}) AS chunk_text,
           length(substring(text, CAST(chunk_id*{_STRIDE}+1 AS INT), {CHUNK_CHARS})) AS chunk_chars
    FROM base
    """,
    description="fixed-width overlapping character chunking "
    f"({CHUNK_CHARS}-char windows, {CHUNK_OVERLAP} overlap) — "
    "context-window precursor, narrow generate + substr, no shuffle",
    covers=("N-text",),
)
def doc_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))


@register(
    "doc_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    base AS (
      SELECT doc_id, len(t) AS n_tokens,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS type_token_ratio
      FROM toks),
    idx AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
      FROM toks WHERE len(t) >= 2),
    cnt AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS sh, COUNT(*) AS c
      FROM idx GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id,
             CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
      FROM cnt GROUP BY 1)
    SELECT b.doc_id, b.n_tokens, b.type_token_ratio, p.top_bigram_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    description="Gopher-style repetition quality signals: type-token "
    "ratio + top-bigram mass fraction (partial-agg bigram counts)",
    covers=("N-text",),
)
def doc_repetition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def _contamination_oracle() -> str:
    k = CONTAMINATION_N
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(k)).replace("t[i+0]", "t[i]")
    return f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{k - 1})) AS i
            FROM toks WHERE len(t) >= {k})),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    hits AS (
      SELECT doc_id, COUNT(*) AS hit_ngrams
      FROM train JOIN bench USING (sh) GROUP BY 1),
    totals AS (
      SELECT doc_id, COUNT(*) AS total_ngrams
      FROM train WHERE doc_id IN (SELECT doc_id FROM hits) GROUP BY 1)
    SELECT t.doc_id, t.total_ngrams, h.hit_ngrams,
           CAST(h.hit_ngrams AS DOUBLE) / t.total_ngrams AS contamination_frac
    FROM totals t JOIN hits h USING (doc_id)
    """


@register(
    "decontamination",
    oracle=_contamination_oracle(),
    description="benchmark decontamination: train docs sharing word "
    f"{CONTAMINATION_N}-grams with the held-out benchmark slice "
    "(broadcast n-gram join, totals only for hit docs)",
    covers=("N-text", "N-dedup"),
)
def decontamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return benchmark_contamination(load_table(spark, sf_dir, "documents"))


@register(
    "source_mixture",
    oracle=f"""
    WITH s AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS c
               FROM documents GROUP BY 1),
    w AS (SELECT source, sqrt(c) AS w FROM s),
    m AS (SELECT MAX(w) AS mw FROM w),
    f AS (SELECT source, w / mw AS keep_frac FROM w, m)
    SELECT d.doc_id, d.source, f.keep_frac
    FROM documents d JOIN f USING (source)
    WHERE {sql_hash_u32("d.doc_id")} < f.keep_frac * 4294967296.0
    """,
    description="temperature-0.5 source rebalancing: sqrt-char-volume "
    "weights, deterministic Knuth keep-hash (broadcast fractions, "
    "stateless per-row filter)",
    covers=("X-sample",),
)
def source_mixture_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_temperature_sample(load_table(spark, sf_dir, "documents"))


@register(
    "source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {sql_hash_u32("doc_id")}, doc_id) AS INT) AS sample_rank
      FROM documents)
    SELECT doc_id, source, sample_rank FROM ranked WHERE sample_rank <= 10
    """,
    description="per-source document cap: keep <= 10 docs per source by "
    "Knuth-hash order (deterministic reservoir-sample analog; "
    "independent per-group top-k, no global sort)",
    covers=("X-sample", "X-window"),
)
def source_cap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_cap_sample(load_table(spark, sf_dir, "documents"))


@register(
    "training_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {sql_hash_u32("doc_id")} AS _h,
             {sql_hash_u32("doc_id")} % {ORDER_SHARDS} AS shard_id
      FROM documents)
    SELECT doc_id, shard_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY _h, doc_id)
                AS INT) AS shard_pos
    FROM h
    """,
    description=f"deterministic epoch shuffle: {ORDER_SHARDS} hash "
    "shards, Knuth-hash intra-shard order (per-shard sorts, no global "
    "order-by)",
    covers=("X-sample", "X-window"),
)
def training_order_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_order(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cross-source overlap matrix: corpus-level contamination audit
# ---------------------------------------------------------------------------

#: Shingle width and the boilerplate guard for the source-overlap audit.
OVERLAP_N = 3
OVERLAP_MAX_SOURCES = 10


def source_overlap_matrix(
    docs: DataFrame,
    n: int = OVERLAP_N,
    max_sources: int = OVERLAP_MAX_SOURCES,
) -> DataFrame:
    """Pairwise n-gram overlap between SOURCES: for every source pair
    sharing at least one word ``n``-gram, the distinct-shingle overlap
    count and the set Jaccard. The corpus-level contamination audit a
    pipeline runs when mixing crawls/dumps — two "independent" sources
    with high Jaccard are mirrors of each other, and training weights
    that count them twice are wrong (the source-granular companion to
    the doc-granular ``ngram_jaccard_guarded``).

    Shingling runs directly at source granularity
    (``shingle_rows(id_col="source")``): token n-grams dedupe straight
    into (source, shingle) rows — no doc-id join anywhere. ONE
    aggregate on the shingle key then collects each shingle's (sorted)
    source list; shingles in more than ``max_sources`` sources are
    dropped right there — the guard that bounds the pair fan-out — and
    the surviving per-shingle lists expand to at most
    C(max_sources, 2) ordered pairs by an in-row array transform
    (bounded: <= 45 structs over a <= 10-element list, never a
    self-join). Both downstream aggregates (pair counts, per-source
    sizes) hang off that one vocabulary-sized frame — the exchange is
    shared, and an earlier inverted-index self-join formulation that
    re-derived the shingle pipeline per consumer (8 corpus scans in the
    plan) is exactly what this shape replaces. Nothing document-sized
    shuffles after the first distinct.
    """
    from ser_etl_spark.operators.dedup import shingle_rows

    src_sh = shingle_rows(docs, n=n, id_col="source")
    grp = (
        src_sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("source")).alias("srcs"))
        .filter(F.size("srcs") <= max_sources)
    )
    # all ordered pairs within the sorted source list: i < j => a < b
    pair_expr = (
        "flatten(transform(srcs, (a, i) -> "
        "  transform(slice(srcs, i + 2, size(srcs)), b -> "
        "    named_struct('src_a', a, 'src_b', b))))"
    )
    common = (
        grp.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = (
        grp.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n_sh").alias("n_b"))
    # fround: counts ratio — tie-reachable at the 5th decimal (r10
    # round-half-tie audit).
    jac = fround(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        4,
    )
    return (
        common.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select("src_a", "src_b", "n_common", "n_a", "n_b", jac.alias("jaccard"))
        .orderBy("src_a", "src_b")
    )


def _source_overlap_oracle(
    n: int = OVERLAP_N, max_sources: int = OVERLAP_MAX_SOURCES
) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace(
        "t[i+0]", "t[i]"
    )
    return f"""
    WITH toks AS (SELECT source, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT source, {gram} AS sh
      FROM (SELECT source, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM toks WHERE len(t) >= {n})),
    guarded AS (
      SELECT source, sh FROM sh
      WHERE sh NOT IN (SELECT sh FROM sh GROUP BY sh
                       HAVING COUNT(*) > {max_sources})),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM guarded GROUP BY 1),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM guarded a JOIN guarded b
        ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2)
    SELECT c.src_a, c.src_b, c.n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           (CAST(floor((CAST(c.n_common AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE))
                 * 1e4 + 0.5) AS DOUBLE) / 1e4)
             AS jaccard
    FROM common c
    JOIN sizes sa ON c.src_a = sa.source
    JOIN sizes sb ON c.src_b = sb.source
    ORDER BY src_a, src_b
    """


@register(
    "source_overlap_matrix",
    oracle=_source_overlap_oracle(),
    description="pairwise cross-source n-gram contamination audit: "
    "distinct (source, 3-gram) rows shingled directly at source "
    "granularity (no doc join), boilerplate shingles in >10 sources "
    "dropped via broadcast anti-join (bounds pair fan-out to "
    "C(10,2) per shingle), inverted-index self-join, per-pair overlap "
    "count and set Jaccard — the mirror-detection pass run before "
    "trusting source mixing weights",
    covers=("N-dedup", "N-text"),
)
def source_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap_matrix(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# boilerplate scoring: template/near-template document detection
# ---------------------------------------------------------------------------

#: A shingle in at least this many documents counts as boilerplate.
BOILERPLATE_DF = 5


def boilerplate_scores(docs: DataFrame, n: int = OVERLAP_N,
                       min_df: int = BOILERPLATE_DF) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's DISTINCT
    word ``n``-grams that are corpus-common (document frequency >=
    ``min_df``). High scores mark templated pages (navigation chrome,
    license headers, generated listings) — the public-pipeline
    boilerplate-removal signal (C4/RefinedWeb-class filters), scored
    here at the document level so curation can threshold or downweight.

    Plan: one shingle pass (distinct (doc_id, sh)), ONE exchange on the
    shingle key where a partition-count window computes each shingle's
    document frequency in place (no df-table join, no second corpus
    scan — the agg+join formulation re-ran the shingle pipeline per
    consumer), then a per-doc hash aggregate. Docs with fewer than
    ``n`` tokens have no shingle set and no score (dropped by the same
    length filter on both engines). Nothing wider than the shingle
    table ever moves.
    """
    from ser_etl_spark.operators.dedup import shingle_rows

    sh = shingle_rows(docs, n=n)
    w_sh = Window.partitionBy("sh")
    per_doc = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_sh))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= min_df).cast("bigint")).alias("n_common"),
        )
    )
    # fround: counts ratio — tie-reachable at the 5th decimal (r10
    # round-half-tie audit).
    score = fround(
        F.col("n_common").cast("double") / F.col("n_shingles").cast("double"),
        4,
    )
    return per_doc.select(
        "doc_id", "n_shingles", "n_common", score.alias("boilerplate_score")
    ).orderBy("doc_id")


def _boilerplate_oracle(n: int = OVERLAP_N, min_df: int = BOILERPLATE_DF) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace(
        "t[i+0]", "t[i]"
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM toks WHERE len(t) >= {n})),
    d AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1),
    p AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CAST(df >= {min_df} AS BIGINT)) AS BIGINT) AS n_common
      FROM sh JOIN d USING (sh) GROUP BY 1)
    SELECT doc_id, n_shingles, n_common,
           (CAST(floor((CAST(n_common AS DOUBLE)
                 / CAST(n_shingles AS DOUBLE)) * 1e4 + 0.5)
                 AS DOUBLE) / 1e4)
             AS boilerplate_score
    FROM p ORDER BY doc_id
    """


@register(
    "boilerplate_score",
    oracle=_boilerplate_oracle(),
    description="per-document boilerplate fraction: share of the doc's "
    "distinct word 3-grams whose corpus document frequency is >= 5 — "
    "one shingle pass, vocabulary-sized df aggregate, shingle-key join "
    "reusing the aggregate's exchange, per-doc hash aggregate; the "
    "template-detection signal of public web-pipeline filters",
    covers=("N-text", "N-quality"),
)
def boilerplate_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Bloom false-positive-rate evaluation: sketch QA for the decontam filter
# ---------------------------------------------------------------------------

#: Deliberately small filter for the FPR eval: the production 2^20-bit
#: filter's FPR at fixture scale is ~0 (nothing to measure); 2^12 bits
#: over the fixture's ~440 benchmark shingles yields a ~2% empirical
#: rate — enough mass to compare against the analytic bound.
_FPR_M_BITS = 1 << 12


def bloom_fpr_eval(
    docs: DataFrame,
    n: int = CONTAMINATION_N,
    bench_mod: int = BENCH_MOD,
    m_bits: int = _FPR_M_BITS,
    k: int = 3,
) -> DataFrame:
    """Empirical false-positive rate of the Bloom decontamination
    filter — the sketch-accuracy QA twin of ``minhash_error_eval``: run
    the EXACT membership join and the Bloom k-of-k gate over the same
    distinct train shingles and report how many bloom-positives are not
    true contaminations. Bloom positivity is a property of the SHINGLE
    alone, so the whole eval runs at distinct-shingle grain: the probe
    side never re-touches documents, and the verdict counts are exact
    BIGINTs (the single double is the presentation rate, round 6).

    Scale shape: two shingle aggregates (train / bench distinct sets),
    the k-position expansion only on the DISTINCT shingles, broadcast
    of the (seed, pos) bench set and of the raw bench shingles (both
    bounded by the benchmark, not the corpus), one keyed self-join on
    sh for the flag merge. Superset invariant (bloom >= exact, no false
    negatives) is structural — the same positions are set and probed —
    so ``n_false_pos = n_bloom_pos - n_exact_pos`` is exact.
    """
    from ser_etl_spark.operators.dedup import shingle_rows

    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    bench_sh = (
        shingle_rows(docs.filter(is_bench), n=n).select("sh").distinct()
    )
    train_sh = (
        shingle_rows(docs.filter(~is_bench), n=n).select("sh").distinct()
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("seed")
    pos = F.pmod(F.xxhash64(F.col("sh"), F.col("seed")), F.lit(m_bits)).alias(
        "pos"
    )
    bench_pos = bench_sh.select("sh", seeds).select("seed", pos).distinct()
    bloom_sh = (
        train_sh.select("sh", seeds)
        .select("sh", "seed", pos)
        .join(F.broadcast(bench_pos), ["seed", "pos"])
        .groupBy("sh")
        .agg(F.count_distinct("seed").alias("_ns"))
        .filter(F.col("_ns") == k)
        .select("sh", F.lit(1).alias("bl"))
    )
    flagged = train_sh.join(bloom_sh, "sh", "left").join(
        F.broadcast(bench_sh.select("sh", F.lit(1).alias("ex"))), "sh", "left"
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        # empty probe set: SUM over zero rows is NULL — pin the counts
        # to 0 so the BIGINT columns never carry NULL (the driver's
        # pandas path floats a NULL-bearing int column)
        F.coalesce(
            F.sum(F.coalesce(F.col("bl"), F.lit(0))), F.lit(0)
        ).alias("n_bloom_pos"),
        F.coalesce(
            F.sum(F.coalesce(F.col("ex"), F.lit(0))), F.lit(0)
        ).alias("n_exact_pos"),
    )
    fp = F.col("n_bloom_pos") - F.col("n_exact_pos")
    clean = F.col("n_probed") - F.col("n_exact_pos")
    return agg.select(
        "n_probed",
        "n_bloom_pos",
        "n_exact_pos",
        fp.alias("n_false_pos"),
        # fround: counts ratio — tie-reachable at the 7th decimal
        # (r10 round-half-tie audit).
        fround(
            fp.cast("double")
            / F.when(clean != F.lit(0), clean.cast("double")),
            6,
        ).alias("fpr"),
    )


def _bloom_fpr_oracle(m_bits: int = _FPR_M_BITS, k: int = 3) -> str:
    """DuckDB twin of ``bloom_fpr_eval`` — the ``decontamination_bloom``
    staged-XXH64 replay at distinct-shingle grain plus the exact
    membership flag."""
    assert m_bits & (m_bits - 1) == 0
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_int_rehash_stage_cols,
        xxh64_str_stage_cols,
    )

    n = CONTAMINATION_N
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace(
        "t[i+0]", "t[i]"
    )
    str_ctes, str_fin = stages_to_ctes(
        "dsh", xxh64_str_stage_cols("sh", "_bb", pfx="_bxs"), "_bsa"
    )
    seed_ctes, seed_fin = stages_to_ctes(
        str_fin,
        xxh64_int_rehash_stage_cols(
            "_bb", list(range(k)), out_fmt="_bs{k}", pfx="_bp", signed=False
        ),
        "_bsc",
    )
    pos_rows = "\n      UNION ALL ".join(
        f"SELECT sh, {s} AS seed, CAST(_bs{s} & {m_bits - 1} AS BIGINT) AS pos "
        f"FROM {seed_fin}"
        for s in range(k)
    )
    toks_sql = "string_split_regex(trim(lower(text)), ' +')"
    return f"""
    WITH toks AS (SELECT doc_id, {toks_sql} AS t FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{n - 1})) AS i
            FROM toks WHERE len(t) >= {n})),
    dsh AS (SELECT DISTINCT sh FROM sh5
    ){str_ctes}{seed_ctes}, pos AS (
      {pos_rows}
    ), bench_sh AS (
      SELECT DISTINCT sh FROM sh5 WHERE doc_id % {BENCH_MOD} = 0
    ), train_sh AS (
      SELECT DISTINCT sh FROM sh5 WHERE doc_id % {BENCH_MOD} <> 0
    ), bench_pos AS (
      SELECT DISTINCT p.seed, p.pos FROM bench_sh JOIN pos p USING (sh)
    ), bloom_sh AS (
      SELECT t.sh FROM train_sh t
      JOIN pos p USING (sh)
      JOIN bench_pos b ON b.seed = p.seed AND b.pos = p.pos
      GROUP BY t.sh HAVING COUNT(DISTINCT p.seed) = {k}
    ), flagged AS (
      SELECT t.sh,
             CASE WHEN bl.sh IS NOT NULL THEN 1 ELSE 0 END AS bl,
             CASE WHEN ex.sh IS NOT NULL THEN 1 ELSE 0 END AS ex
      FROM train_sh t
      LEFT JOIN bloom_sh bl ON bl.sh = t.sh
      LEFT JOIN bench_sh ex ON ex.sh = t.sh
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(COALESCE(SUM(bl), 0) AS BIGINT) AS n_bloom_pos,
           CAST(COALESCE(SUM(ex), 0) AS BIGINT) AS n_exact_pos,
           CAST(COALESCE(SUM(bl) - SUM(ex), 0) AS BIGINT) AS n_false_pos,
           (CAST(floor((CAST(COALESCE(SUM(bl) - SUM(ex), 0) AS DOUBLE)
                 / nullif(CAST(COUNT(*) - COALESCE(SUM(ex), 0) AS DOUBLE),
                          0.0)) * 1e6 + 0.5) AS DOUBLE) / 1e6)
             AS fpr
    FROM flagged
    """


@register(
    "bloom_fpr_eval",
    oracle=_bloom_fpr_oracle(),
    description="sketch-accuracy QA: empirical false-positive rate of "
    "the Bloom decontamination gate vs the exact membership join over "
    "the same distinct train shingles (deliberately small 2^12-bit "
    "filter so the fixture has measurable FP mass) — verdict counts "
    "exact BIGINT, one presentation division; probe work bounded by "
    "DISTINCT shingles, bench side broadcast",
    covers=("N-dedup", "N-text"),
)
def bloom_fpr_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_fpr_eval(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# contamination span profile: HOW MUCH of a doc is the benchmark (r9)
# ---------------------------------------------------------------------------


def contamination_span_profile(
    docs: DataFrame, n: int = CONTAMINATION_N, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Per contaminated train doc, the STRUCTURE of its benchmark
    overlap: total hit n-grams, the number of contiguous contaminated
    runs, and the longest run in tokens — the readout that separates
    "shares one idiom with the eval set" (keep) from "contains a whole
    eval passage verbatim" (drop). :func:`benchmark_contamination`
    answers WHETHER; this answers HOW MUCH, contiguously.

    Plan: positional n-grams of train docs (one explode, the
    ``substring_dedup_spans`` anchor convention), broadcast-joined to
    the benchmark's distinct gram set, then gaps-and-islands over the
    matched POSITIONS per doc (``pos - row_number()`` groups each
    maximal run; a run of R consecutive matched n-gram starts spans
    ``R + n - 1`` tokens). The window moves matched grams only — at
    100 TB that's the contamination sliver, not the corpus."""
    from pyspark.sql.window import Window

    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("_t"),
    ).filter(F.size("_t") >= n)
    t = F.col("_t")
    idx = toks.select(
        "doc_id",
        "_t",
        F.explode(F.sequence(F.lit(1), F.size(t) - (n - 1))).alias("pos"),
    )
    i = F.col("pos")
    gram = F.concat_ws(
        " ",
        F.element_at(t, i),
        *[F.element_at(t, i + j) for j in range(1, n)],
    )
    anch = idx.select("doc_id", "pos", gram.alias("g"))
    bench = (
        anch.filter(is_bench).select("g").distinct()
    )
    hits = anch.filter(~is_bench).join(F.broadcast(bench), "g").select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    per_run = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return (
        per_run.groupBy("doc_id")
        .agg(
            F.sum("_len").cast("bigint").alias("hit_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            (F.max("_len") + F.lit(n - 1)).cast("bigint").alias(
                "longest_run_tokens"
            ),
        )
        .orderBy(
            F.col("longest_run_tokens").desc(),
            F.col("hit_ngrams").desc(),
            F.col("doc_id").asc(),
        )
    )


def _span_profile_oracle(
    n: int = CONTAMINATION_N, bench_mod: int = BENCH_MOD
) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), gl AS (
      SELECT doc_id, [{gram} for i in range(1, len(t) - {n - 2})] AS gs
      FROM toks WHERE len(t) >= {n}
    ), anch AS (
      SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS g
      FROM gl
    ), bench AS (
      SELECT DISTINCT g FROM anch WHERE doc_id % {bench_mod} = 0
    ), hits AS (
      SELECT a.doc_id, a.pos
      FROM anch a JOIN bench USING (g)
      WHERE a.doc_id % {bench_mod} <> 0
    ), runs AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    ), per_run AS (
      SELECT doc_id, grp, COUNT(*) AS _len FROM runs GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(SUM(_len) AS BIGINT) AS hit_ngrams,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(_len) + {n - 1} AS BIGINT) AS longest_run_tokens
    FROM per_run GROUP BY doc_id
    ORDER BY longest_run_tokens DESC, hit_ngrams DESC, doc_id ASC
    """


@register(
    "contamination_span_profile",
    oracle=_span_profile_oracle(),
    description="contamination STRUCTURE per train doc: contiguous "
    "benchmark-overlap runs via gaps-and-islands over matched "
    f"{CONTAMINATION_N}-gram positions (longest run, span count, hit "
    "total) — separates shared idioms from verbatim eval passages; "
    "broadcast benchmark grams, window over the hit sliver only",
    covers=("N-text", "N-dedup", "X-window"),
)
def contamination_span_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return contamination_span_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# context-window fit histogram (r9)
# ---------------------------------------------------------------------------

#: context lengths probed (tokens). Fixture-scale stand-ins for the
#: 2k/8k/128k production windows — docs here are ~30-80 tokens.
CONTEXT_WINDOWS = (32, 64, 128)


def context_fit_histogram(
    docs: DataFrame, windows: tuple[int, ...] = CONTEXT_WINDOWS
) -> DataFrame:
    """Per (context window, source): how many documents fit whole, how
    many would truncate, and the share of tokens lost to truncation
    (integer basis points) — the sizing readout that decides a training
    run's sequence length before any packing job runs.

    One corpus scan computes each doc's token count; the window
    dimension is a constant 3-element explode (rows = |sources| x
    |windows|, never data-sized); all arithmetic is exact integers.
    NULL-text docs have no token count and are excluded up front (a
    NULL ntok would NULL-poison every BIGINT sum — the empty-aggregate
    pandas-float seam)."""
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), " +"))
    base = docs.filter(F.col("text").isNotNull()).select(
        "source", n_tok.alias("ntok")
    )
    wins = F.explode(
        F.array(*[F.lit(w) for w in windows])
    ).alias("window_tokens")
    crossed = base.select("source", "ntok", wins)
    lost = F.greatest(F.col("ntok") - F.col("window_tokens"), F.lit(0))
    return (
        crossed.groupBy("window_tokens", "source")
        .agg(
            F.sum((F.col("ntok") <= F.col("window_tokens")).cast("bigint"))
            .alias("n_fit"),
            F.sum((F.col("ntok") > F.col("window_tokens")).cast("bigint"))
            .alias("n_truncated"),
            F.sum(lost).cast("bigint").alias("tokens_lost"),
            F.sum("ntok").cast("bigint").alias("tokens_total"),
        )
        .select(
            F.col("window_tokens").cast("int").alias("window_tokens"),
            "source",
            "n_fit",
            "n_truncated",
            "tokens_lost",
            F.expr("(tokens_lost * 10000) div tokens_total")
            .cast("bigint")
            .alias("lost_bp"),
        )
        .orderBy("window_tokens", "source")
    )


@register(
    "context_fit_histogram",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(string_split_regex(trim(lower(text)), ' +')) AS ntok
      FROM documents WHERE text IS NOT NULL
    ), w AS (
      SELECT unnest({list(CONTEXT_WINDOWS)}) AS window_tokens
    )
    SELECT CAST(window_tokens AS INT) AS window_tokens, source,
           CAST(SUM(CAST(ntok <= window_tokens AS BIGINT)) AS BIGINT)
             AS n_fit,
           CAST(SUM(CAST(ntok > window_tokens AS BIGINT)) AS BIGINT)
             AS n_truncated,
           CAST(SUM(greatest(ntok - window_tokens, 0)) AS BIGINT)
             AS tokens_lost,
           CAST((SUM(greatest(ntok - window_tokens, 0)) * 10000)
                // SUM(ntok) AS BIGINT) AS lost_bp
    FROM d, w
    GROUP BY window_tokens, source
    ORDER BY window_tokens, source
    """,
    description="context-window sizing readout: per (window, source) "
    "docs that fit vs truncate and integer-bp token loss — one scan, "
    "constant window explode, exact integer arithmetic",
    covers=("N-curation", "B5"),
)
def context_fit_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return context_fit_histogram(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# token-budget selection: greedy pick under a per-source budget (r9)
# ---------------------------------------------------------------------------

#: per-source token budget (fixture-scale)
SOURCE_TOKEN_BUDGET = 500


def token_budget_selection(
    docs: DataFrame, budget: int = SOURCE_TOKEN_BUDGET
) -> DataFrame:
    """Greedy per-source document selection under a token budget,
    highest lexical-diversity-per-token first — the "fill each domain's
    quota with its best material" step between scoring and packing in a
    curation pipeline.

    Priority is an exact integer: ``(distinct_tokens * 10000) div
    total_tokens`` (the repetition-penalizing density proxy; ties break
    on doc_id). Selection = running token total over the per-source
    priority order, kept while the PREVIOUS total still fit (standard
    greedy prefix under budget — the first overflowing doc is cut, not
    split). Output: per-source selected counts, tokens used, and
    utilization basis points. One scan + one window over per-source
    ranked docs.

    Skew (r9 verdict -> r10 VERDICT #8, implemented r11): the running
    total is an inherently sequential prefix over each source's
    priority order, and a single per-source window serializes a
    DOMINANT source (90% of a 100 TB corpus in one source) through one
    task. This uses the two-level exact prefix sum proven in
    ``shard_manifest`` instead, exploiting that the priority is a
    BOUNDED integer in [0, 10000]: (1) hash-aggregate token totals per
    (source, priority) band, (2) cumulate the tiny per-source band
    series (<= 10001 rows per source) in priority-DESC order, (3)
    broadcast the band offsets back and run the within-band cumsum
    partitioned by (source, priority) with the doc_id tie-break —
    identical ordering, identical BIGINT sums, so the selection
    semantics are bit-for-bit the single-window form's. The residual
    serial unit is one (source, priority) equivalence class — the
    theoretical floor for this greedy order, since ties inside it are
    broken by doc_id. The dominant-source seam is pinned by
    ``tests/test_llm_ops.py::test_token_budget_dominant_source_seam``
    (90%-one-source corpus, engine vs serial greedy model)."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    # NULL and empty/whitespace-only texts carry no tokens and are not
    # selectable; without the nullif guard split('') yields [''] (ntok
    # 1, distinct 1, priority 10000) and content-free junk would jump
    # to the HEAD of every source's greedy order, consuming budget
    # ahead of all real documents (r9 ADVICE). Excluding them up front
    # also keeps the priority ordering NULL-free (engines disagree on
    # NULL placement under DESC).
    base = docs.filter(
        F.expr("nullif(trim(text), '') IS NOT NULL")
    ).select(
        "doc_id",
        "source",
        F.size(toks).alias("ntok"),
        (F.size(F.array_distinct(toks)) * F.lit(10000)).alias("_d10k"),
    ).select(
        "doc_id", "source", "ntok",
        # coalesce never fires (ntok >= 1 after the nullif guard, both
        # operands non-null) — it exists to mark the column NON-NULLABLE
        # so the band join below infers no isnotnull(priority) on its
        # stream side only, which would de-canonicalize the two shared
        # exchange subtrees and block the runtime ReusedExchange
        F.expr("coalesce(_d10k div ntok, -1)").alias("priority"),
    )
    # Within-band cumsum FIRST (parallel window per (source, priority)
    # band), so the band totals fall out of the SAME window output as
    # its running maximum — both consumers then share one identical
    # exchange(source, priority) subtree, which AQE's ReusedExchange
    # collapses to a single tokenizing scan at runtime (the static plan
    # shows 2; the runtime gate in tests/test_plans.py pins the reuse).
    wd = (
        Window.partitionBy("source", "priority")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_band = base.withColumn("in_band_cum", F.sum("ntok").over(wd))
    totals = in_band.groupBy("source", "priority").agg(
        F.max("in_band_cum").alias("band_tokens")
    )
    wb = (
        Window.partitionBy("source")
        .orderBy(F.col("priority").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "priority",
        F.coalesce(F.sum("band_tokens").over(wb), F.lit(0)).alias(
            "band_offset"
        ),
    )
    ranked = in_band.join(
        F.broadcast(offsets), ["source", "priority"]
    ).withColumn(
        "cum_tokens", F.col("band_offset") + F.col("in_band_cum")
    )
    picked = ranked.filter(
        F.col("cum_tokens") - F.col("ntok") < F.lit(budget)
    ).filter(F.col("cum_tokens") <= F.lit(budget))
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("ntok").cast("bigint").alias("tokens_used"),
        )
        .select(
            "source",
            "n_selected",
            "tokens_used",
            F.expr(f"(tokens_used * 10000) div {budget}")
            .cast("bigint")
            .alias("utilization_bp"),
        )
        .orderBy("source")
    )


@register(
    "token_budget_selection",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(lower(text)), ' +')) AS ntok,
             (len(list_distinct(string_split_regex(trim(lower(text)),
              ' +'))) * 10000)
               // len(string_split_regex(trim(lower(text)), ' +'))
               AS priority
      FROM documents WHERE nullif(trim(text), '') IS NOT NULL
    ), totals AS (
      SELECT source, priority, SUM(ntok) AS band_tokens
      FROM b GROUP BY 1, 2
    ), offsets AS (
      SELECT source, priority,
             COALESCE(SUM(band_tokens) OVER (
               PARTITION BY source ORDER BY priority DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS band_offset
      FROM totals
    ), r AS (
      SELECT b.*, o.band_offset + SUM(b.ntok) OVER (
               PARTITION BY b.source, b.priority
               ORDER BY b.doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM b JOIN offsets o USING (source, priority)
    ), p AS (
      SELECT * FROM r
      WHERE cum_tokens - ntok < {SOURCE_TOKEN_BUDGET}
        AND cum_tokens <= {SOURCE_TOKEN_BUDGET}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(ntok) AS BIGINT) AS tokens_used,
           CAST((SUM(ntok) * 10000) // {SOURCE_TOKEN_BUDGET} AS BIGINT)
             AS utilization_bp
    FROM p GROUP BY source ORDER BY source
    """,
    description="greedy per-source selection under a token budget, "
    "highest integer diversity-per-token first: the per-source cumsum "
    "runs as a two-level exact prefix sum over bounded priority bands "
    "(band totals -> tiny offset window -> parallel within-band "
    "windows, the shard_manifest pattern) so a dominant source no "
    "longer serializes; keep the non-overflowing prefix; per-source "
    "selected counts / tokens / utilization bp",
    covers=("N-curation", "X-window"),
)
def token_budget_selection_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return token_budget_selection(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# curriculum stage histogram (r10): volume per difficulty stage
# ---------------------------------------------------------------------------


def curriculum_stage_histogram(docs: DataFrame) -> DataFrame:
    """Document/token volume per curriculum stage: bucket every doc by
    its lexical-diversity-density score (``distinct_tokens * 10000 div
    total_tokens`` — the exact integer priority ``token_budget_selection``
    ranks by) into 10 FIXED-DOMAIN stages, and report per stage the doc
    count, token volume and score span — the schedule readout a
    curriculum-training job uses to size its easy-to-hard phases.

    Stage = ``(score * 10) div 10001``: the score domain is [0, 10000]
    BY CONSTRUCTION, so bucketing needs no max-score normalizer — no
    second scan, no whole-frame window, no join; one text scan into a
    10-row aggregate, the cheapest possible shape at any corpus size
    (contrast rank-based deciles, which need a global ranking the
    distinct-value trick can't save once ties are broken by id).
    Empty/whitespace texts are excluded by the same nullif guard as
    token_budget_selection (junk would land in the top stage)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    base = docs.filter(
        F.expr("nullif(trim(text), '') IS NOT NULL")
    ).select(
        F.size(toks).alias("ntok"),
        F.size(F.array_distinct(toks)).alias("ndis"),
    )
    scored = base.select(
        "ntok",
        F.expr("(ndis * 10000) div ntok").alias("score"),
    )
    return (
        scored.groupBy(
            F.expr("(score * 10) div 10001").cast("int").alias("stage")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("ntok"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
        )
        .orderBy("stage")
    )


@register(
    "curriculum_stage_histogram",
    oracle="""
    WITH base AS (
      SELECT len(string_split_regex(trim(lower(text)), ' +')) AS ntok,
             len(list_distinct(string_split_regex(trim(lower(text)),
                 ' +'))) AS ndis
      FROM documents WHERE nullif(trim(text), '') IS NOT NULL
    ), scored AS (
      SELECT ntok, (ndis * 10000) // ntok AS score FROM base
    )
    SELECT CAST((score * 10) // 10001 AS INT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM scored GROUP BY 1 ORDER BY stage
    """,
    description="curriculum schedule readout: docs/tokens per 10 "
    "fixed-domain difficulty stages of the exact integer "
    "diversity-density score (domain [0,10000] by construction — no "
    "max normalizer, no window, no join; one scan into a 10-row "
    "aggregate)",
    covers=("N-quality", "N-text", "B5"),
)
def curriculum_stage_histogram_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return curriculum_stage_histogram(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# snapshot diff audit: the CDC readout between two corpus versions (r9)
# ---------------------------------------------------------------------------


def snapshot_diff(curr: DataFrame, prev: DataFrame) -> DataFrame:
    """General CDC diff between two corpus snapshots, summarized per
    source: ADDED (key only in curr), REMOVED (key only in prev),
    CHANGED (same key, different normalized-content fingerprint) and
    UNCHANGED — the audit a sync pipeline publishes with every snapshot
    publish (A11/A12's operational complement).

    Shape: a single key-co-partitioned FULL OUTER join comparing md5
    fingerprints (null-safe, so two NULL texts compare equal) — FULL
    OUTER, not LEFT, because deletions must be reported, not silently
    dropped. Each side is scanned once with its fingerprint computed
    inline; the join shuffles both sides once on the key (at 100 TB
    both snapshots are already bucketed by id, making this co-located);
    the output is |sources|-sized. REMOVED rows take their source from
    the prev side."""
    fp = F.md5(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    )
    c = curr.select(
        "doc_id",
        F.col("source").alias("_src_c"),
        fp.alias("fp_curr"),
        F.lit(1).alias("_in_c"),
    )
    # explicit presence markers: a NULL fingerprint alone is ambiguous
    # between "row absent from this side" and "row present with NULL
    # text" — the null-safe fingerprint compare handles the latter
    p = prev.select(
        "doc_id",
        F.col("source").alias("_src_p"),
        fp.alias("fp_prev"),
        F.lit(1).alias("_in_p"),
    )
    j = c.join(p, "doc_id", "full_outer")
    status = (
        F.when(F.col("_in_p").isNull(), F.lit("added"))
        .when(F.col("_in_c").isNull(), F.lit("removed"))
        .when(F.col("fp_curr").eqNullSafe(F.col("fp_prev")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return _diff_rollup(
        j.select(
            F.coalesce(F.col("_src_c"), F.col("_src_p")).alias("source"),
            status.alias("st"),
        )
    )


def _diff_rollup(tagged: DataFrame) -> DataFrame:
    """(source, st) rows -> per-source added/removed/changed/unchanged
    counts, source-ordered."""
    return (
        tagged.groupBy("source")
        .agg(
            F.coalesce(
                F.sum((F.col("st") == "added").cast("bigint")), F.lit(0)
            ).alias("n_added"),
            F.coalesce(
                F.sum((F.col("st") == "removed").cast("bigint")), F.lit(0)
            ).alias("n_removed"),
            F.coalesce(
                F.sum((F.col("st") == "changed").cast("bigint")), F.lit(0)
            ).alias("n_changed"),
            F.coalesce(
                F.sum((F.col("st") == "unchanged").cast("bigint")), F.lit(0)
            ).alias("n_unchanged"),
        )
        .orderBy("source")
    )


def snapshot_diff_audit(docs: DataFrame) -> DataFrame:
    """The registered CDC-diff readout over the fixture corpus, same
    schema as :func:`snapshot_diff` (added/removed/changed/unchanged
    per source).

    The "previous" version is derived DETERMINISTICALLY FROM THE SAME
    ROWS so both engines replay it: the sync-delta slice
    (``doc_id % 4 == 3``, the incremental-dedup convention) is absent
    from prev (=> ADDED), and every ``doc_id % 10 == 7`` doc's text is
    suffix-mutated in prev (=> CHANGED); nothing is ever REMOVED
    (prev's keys are a subset by construction, so ``n_removed`` is
    structurally 0). Because prev is a pure function of the curr row,
    the FULL OUTER join of :func:`snapshot_diff` degenerates — every
    row matches itself — so the status is computed INLINE in ONE scan
    with no join at all (the r9 verdict flagged the join form here as a
    same-table double scan; plan-gated single-scan now). Real
    deployments diffing two snapshot directories use
    :func:`snapshot_diff`, which scans each side once — the minimum."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    prev_text = F.when(
        F.pmod(F.col("doc_id"), F.lit(10)) == 7,
        F.concat(F.col("text"), F.lit(" v1")),
    ).otherwise(F.col("text"))
    prev_norm = F.regexp_replace(F.lower(prev_text), r"[^a-z0-9]+", " ")
    status = (
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 3, F.lit("added"))
        # md5 equality on the same engine IS normalized-text equality;
        # null-safe compare keeps two NULL texts "unchanged" like the
        # join form
        .when(norm.eqNullSafe(prev_norm), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return _diff_rollup(docs.select("source", status.alias("st")))


@register(
    "snapshot_diff_audit",
    oracle="""
    WITH j AS (
      SELECT source,
             CASE WHEN doc_id % 4 = 3 THEN 'added'
                  WHEN regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')
                       IS NOT DISTINCT FROM
                       regexp_replace(lower(
                         CASE WHEN doc_id % 10 = 7 THEN text || ' v1'
                              ELSE text END
                       ), '[^a-z0-9]+', ' ', 'g')
                    THEN 'unchanged'
                  ELSE 'changed' END AS st
      FROM documents
    )
    SELECT source,
           CAST(COALESCE(SUM(CAST(st = 'added' AS BIGINT)), 0) AS BIGINT)
             AS n_added,
           CAST(COALESCE(SUM(CAST(st = 'removed' AS BIGINT)), 0) AS BIGINT)
             AS n_removed,
           CAST(COALESCE(SUM(CAST(st = 'changed' AS BIGINT)), 0) AS BIGINT)
             AS n_changed,
           CAST(COALESCE(SUM(CAST(st = 'unchanged' AS BIGINT)), 0)
             AS BIGINT) AS n_unchanged
    FROM j GROUP BY source ORDER BY source
    """,
    description="CDC diff between corpus versions per source "
    "(added/removed/changed/unchanged; prev derived deterministically "
    "from the same rows — delta slice absent, doc_id%10==7 mutated — so "
    "the status computes inline in ONE scan; real two-directory diffs "
    "use the FULL OUTER snapshot_diff form, which also reports "
    "removals); the operational complement of versioned snapshot "
    "publishes",
    covers=("A12", "N-dedup", "B11"),
)
def snapshot_diff_audit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snapshot_diff_audit(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cross-source quantile normalization of quality scores
# ---------------------------------------------------------------------------


def quality_quantile_normalize(docs: DataFrame, k: int = 50) -> DataFrame:
    """Quantile-normalize per-source quality scores onto the GLOBAL
    quality distribution, reporting the ``k`` documents whose score
    moves the most.

    Heuristic quality scores are not comparable across sources (a
    boilerplate-heavy crawl scores systematically lower than curated
    text), so mixing thresholds computed per-source is the standard fix:
    map each doc's within-source rank ``r`` of ``n_s`` to the global
    order statistic at position ``ceil((2r-1)·N / (2·n_s))`` (the
    midpoint plotting position — a single doc maps to the global
    median). All rank arithmetic is exact BIGINT; the (2r-1)·N product
    bounds this op at ~2e9 scored docs per run, past which the position
    math needs a decimal widen (the ``bm25_search`` overflow-note
    discipline).

    Scale shape: the global rank is NOT a single ORDER BY window — it is
    the two-level pattern proven by ``shard_manifest``, keyed on the
    value domain (score bucket ``floor(quality·64)``): per-bucket
    row_number + cumulative bucket offsets (|buckets| <= 65 rows,
    broadcast). The within-source rank is a per-source window (the
    mega-source caveat and its range-partitioned escape hatch are
    ``token_budget_selection``'s, documented there). The quantile lookup
    is an equi-join on the target position. The oracle computes the
    global rank as one naive ORDER BY window — the differential gate
    thereby PROVES the two-level decomposition equals the serial form.

    NULL-quality docs (empty text) are unrankable and excluded on both
    engines.

    The scored+globally-ranked table is ``localCheckpoint``-materialized
    once (the dedup label-propagation discipline): three downstream
    consumers (per-source ranks, the quantile lookup side, the total)
    would otherwise each replay the regex-heavy scoring scan — the
    runtime plan audit showed 9 corpus scans before the checkpoint, 2
    after (recorded as an off-plan driver pass in the scan budget).
    """
    from ser_etl_spark.operators.text import quality_cols

    _, _, score = quality_cols()
    base = (
        docs.select("doc_id", "source", score.alias("quality"))
        .filter(F.col("quality").isNotNull())
        .withColumn("_b", F.floor(F.col("quality") * F.lit(64.0)).cast("long"))
    )
    counts = base.groupBy("_b").agg(F.count(F.lit(1)).alias("_bc"))
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_bc").over(wb), F.lit(0)).alias("_off")
    )
    wg = Window.partitionBy("_b").orderBy("quality", "doc_id")
    ranked = (
        base.join(F.broadcast(offsets), "_b")
        .withColumn("_g", F.col("_off") + F.row_number().over(wg))
        .localCheckpoint()
    )
    totals = ranked.agg(F.count(F.lit(1)).alias("_N"))
    ws = Window.partitionBy("source").orderBy("quality", "doc_id")
    wsz = Window.partitionBy("source")
    src = (
        ranked.withColumn("_r", F.row_number().over(ws).cast("long"))
        .withColumn("_ns", F.count(F.lit(1)).over(wsz).cast("long"))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_p", F.expr("((2*_r - 1) * _N + 2*_ns - 1) div (2*_ns)")
        )
    )
    lut = ranked.select(
        F.col("_g").alias("_p"), F.col("quality").alias("norm_quality")
    )
    return (
        src.join(lut, "_p")
        .select(
            "doc_id",
            "source",
            "quality",
            "norm_quality",
            (F.col("norm_quality") - F.col("quality")).alias("shift"),
        )
        .orderBy(F.abs(F.col("shift")).desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _quantile_normalize_oracle(k: int = 50) -> str:
    from ser_etl_spark.operators.text import QUALITY_ORACLE_SQL

    return f"""
    WITH q0 AS ({QUALITY_ORACLE_SQL}),
    base AS (
      SELECT d.doc_id, d.source, q0.quality
      FROM documents d JOIN q0 USING (doc_id)
      WHERE q0.quality IS NOT NULL
    ), ranked AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS _g,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS _r,
             COUNT(*) OVER (PARTITION BY source) AS _ns,
             COUNT(*) OVER () AS _N
      FROM base
    ), tgt AS (
      SELECT *, ((2*_r - 1) * _N + 2*_ns - 1) // (2*_ns) AS _p FROM ranked
    )
    SELECT t.doc_id, t.source, t.quality,
           l.quality AS norm_quality,
           l.quality - t.quality AS shift
    FROM tgt t JOIN ranked l ON l._g = t._p
    ORDER BY abs(l.quality - t.quality) DESC, t.doc_id ASC
    LIMIT {k}
    """


@register(
    "quality_quantile_normalize",
    oracle=_quantile_normalize_oracle(),
    description="cross-source quantile normalization of quality scores: "
    "within-source rank r of n_s maps to the global order statistic at "
    "ceil((2r-1)N/(2n_s)) — exact integer positions; global rank via the "
    "two-level bucket decomposition (shard_manifest pattern; the oracle's "
    "naive ORDER BY window proves the decomposition); top-50 largest "
    "shifts reported",
    covers=("N-quality", "X-window"),
)
def quality_quantile_normalize_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quality_quantile_normalize(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# quality vs duplication correlation (r13)
# ---------------------------------------------------------------------------


def quality_vs_dup_correlation(docs: DataFrame) -> DataFrame:
    """Does duplication correlate with low quality? Documents bucketed
    by their normalized-fingerprint copy count (unique / dup_pair /
    dup_3plus) with per-bucket volume and exact mean quality — the
    evidence behind "dedup removes boilerplate" claims: if the
    dup_3plus bucket's mean quality sits far below unique's, dedup is
    also a quality filter; if not, it is only a volume cut.

    One corpus projection computes BOTH the fingerprint and the
    quality score; the copy count is a fingerprint hash aggregate
    joined back on fp (fp-partitioned both sides — the self-join
    class, same shape as ``dup_source_matrix``); the bucket rollup is
    3 rows. Mean quality folds as the quantized micro-sum
    (``round(quality*1e6)`` BIGINT — both engines fold identical
    integers, order-free). NULL-text docs are out of scope on both
    engines (their fingerprint is the NULL-key class the fp equi-join
    would drop anyway); zero-scored buckets yield NULL means (DOUBLE,
    the driver-canonicalization type rule).
    """
    from ser_etl_spark.operators.text import quality_cols

    _, _, score = quality_cols()
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
            )
        ).alias("fp"),
        score.alias("_q"),
    )
    copies = base.groupBy("fp").agg(F.count(F.lit(1)).alias("copies"))
    joined = base.join(copies, "fp")
    bucket = (
        F.when(F.col("copies") == 1, F.lit("unique"))
        .when(F.col("copies") == 2, F.lit("dup_pair"))
        .otherwise(F.lit("dup_3plus"))
    )
    return (
        joined.groupBy(bucket.alias("dup_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("_q").cast("bigint").alias("n_scored"),
            F.sum(F.round(F.col("_q") * F.lit(1.0e6), 0).cast("long")).alias(
                "_sq"
            ),
        )
        .select(
            "dup_bucket",
            "n_docs",
            "n_scored",
            F.when(
                F.col("n_scored") > 0, F.expr("_sq div n_scored")
            )
            .cast("double")
            .alias("mean_quality_micro"),
        )
        .orderBy("dup_bucket")
    )


def _quality_dup_oracle() -> str:
    from ser_etl_spark.operators.text import QUALITY_ORACLE_SQL

    return f"""
    WITH q AS ({QUALITY_ORACLE_SQL}),
    fps AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp
      FROM documents WHERE text IS NOT NULL
    ), c AS (
      SELECT fp, COUNT(*) AS copies FROM fps GROUP BY 1
    ), j AS (
      SELECT f.doc_id, c.copies, q.quality
      FROM fps f JOIN c USING (fp) JOIN q USING (doc_id)
    )
    SELECT CASE WHEN copies = 1 THEN 'unique'
                WHEN copies = 2 THEN 'dup_pair'
                ELSE 'dup_3plus' END AS dup_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(quality) AS BIGINT) AS n_scored,
           CAST(CASE WHEN COUNT(quality) > 0
                     THEN SUM(CAST(round(quality * 1e6) AS BIGINT))
                          // COUNT(quality) END AS DOUBLE)
             AS mean_quality_micro
    FROM j GROUP BY 1 ORDER BY 1
    """


@register(
    "quality_vs_dup_correlation",
    oracle=_quality_dup_oracle(),
    description="quality-vs-duplication evidence: docs bucketed by "
    "fingerprint copy count (unique/pair/3+) with exact micro-quantized "
    "mean quality per bucket — fp self-join class, 3-row rollup; says "
    "whether dedup doubles as a quality filter",
    covers=("N-dedup", "N-quality", "N-curation"),
)
def quality_vs_dup_correlation_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quality_vs_dup_correlation(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# benchmark leakage by split (r13) — where does contamination land?
# ---------------------------------------------------------------------------


def benchmark_leakage_by_split(
    docs: DataFrame, n: int = CONTAMINATION_N, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Benchmark contamination broken down by train/val/test split —
    the question decontamination reports must answer before a release:
    contamination in TRAIN inflates eval scores silently, while the
    same mass in a discarded split is harmless. Per split: the train-
    universe doc count, how many carry ≥1 benchmark n-gram, and the
    contamination rate in basis points.

    Composition, not recomputation: the contaminated doc set comes
    from :func:`benchmark_contamination` (benchmark n-grams broadcast,
    totals only for hit docs — the sliver), the split is the pure
    doc_id hash (stateless projection), and the per-split rollup joins
    the sliver-sized contaminated set BROADCAST against the thin
    (doc_id, split) projection. 3-row output, exact integers.
    """
    from ser_etl_spark.operators.sampling import DEFAULT_SPLITS, split_bucket

    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    bucket = split_bucket("doc_id")
    split_expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(DEFAULT_SPLITS):
        split_expr = F.when(
            (bucket >= lo) & (bucket < hi), name
        ).otherwise(split_expr)
    universe = docs.filter(~is_bench).select(
        "doc_id", split_expr.alias("split")
    )
    contaminated = (
        benchmark_contamination(docs, n, bench_mod)
        .select("doc_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        universe.join(F.broadcast(contaminated), "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "split",
            "n_train_docs",
            "n_contaminated",
            F.expr("(10000 * n_contaminated) div n_train_docs")
            .cast("bigint")
            .alias("contamination_bp"),
        )
        .orderBy("split")
    )


def _leakage_by_split_oracle() -> str:
    from ser_etl_spark.operators.sampling import sql_split_bucket

    k = CONTAMINATION_N
    gram = " || ' ' || ".join(
        f"t[i+{j}]" for j in range(k)
    ).replace("t[i+0]", "t[i]")
    split_case = (
        f"CASE WHEN {sql_split_bucket('doc_id')} < 80 THEN 'train' "
        f"WHEN {sql_split_bucket('doc_id')} < 90 THEN 'val' "
        f"ELSE 'test' END"
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{k - 1})) AS i
            FROM toks WHERE len(t) >= {k})),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
      SELECT DISTINCT doc_id
      FROM sh JOIN bench USING (sh)
      WHERE doc_id % {BENCH_MOD} <> 0),
    universe AS (
      SELECT doc_id, {split_case} AS split
      FROM documents WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT u.split,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
           CAST((10000 * COUNT(h.doc_id)) // COUNT(*) AS BIGINT)
             AS contamination_bp
    FROM universe u LEFT JOIN hits h USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """


@register(
    "benchmark_leakage_by_split",
    oracle=_leakage_by_split_oracle(),
    description="contamination-by-split report: benchmark n-gram hits "
    "per train/val/test bucket with bp rates — the contaminated sliver "
    "broadcast against the thin (doc_id, split-hash) projection, 3-row "
    "output; says whether leakage lands where it hurts (train) or "
    "where it doesn't",
    covers=("N-curation", "N-text", "X-sample"),
)
def benchmark_leakage_by_split_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return benchmark_leakage_by_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# leakage-safe split assignment (r13) — the FIX the audits call for
# ---------------------------------------------------------------------------


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Cluster-keyed split assignment vs the naive per-document hash —
    the remediation for what :func:`cross_split_neardup_leakage`
    measures: hashing each ``doc_id`` into train/val/test lets an
    exact-duplicate cluster straddle splits (its copies land in
    different buckets), while keying every member on the cluster's
    CANONICAL id (``min(doc_id)`` per content fingerprint — the
    :func:`~ser_etl_spark.operators.dedup.dedup_canonical` policy)
    pins whole clusters to one split by construction. Two policy rows
    compare them: cluster count, multi-doc clusters, clusters that
    straddle ≥2 splits (with the rate over multi-doc clusters in bp),
    and the documents the safe policy re-assigns relative to naive.

    One corpus scan; the canonical id rides a window over the fp
    partition, straddling is detected with MIN≠MAX over the per-doc
    split name (never a COUNT DISTINCT expand), the fp-grouped
    aggregate reuses the window's partitioning, and the 2-policy
    unpivot is a ``stack`` over the final single-row rollup. The safe
    policy's straddle count is MEASURED (and must come out 0), not
    asserted.
    """
    from pyspark.sql import Window

    from ser_etl_spark.operators.sampling import DEFAULT_SPLITS, split_bucket

    def name_of(bucket):
        expr = F.lit(None).cast("string")
        for name, lo, hi in reversed(DEFAULT_SPLITS):
            expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(
                expr
            )
        return expr

    base = docs.select(
        "doc_id",
        F.coalesce(
            F.md5(
                F.trim(
                    F.regexp_replace(
                        F.lower(F.col("text")), r"[^a-z0-9]+", " "
                    )
                )
            ),
            F.lit(""),
        ).alias("fp"),
    )
    wfp = Window.partitionBy("fp")
    per_doc = base.withColumn("_min_id", F.min("doc_id").over(wfp)).select(
        "fp",
        name_of(split_bucket("doc_id")).alias("_naive"),
        name_of(split_bucket("_min_id")).alias("_safe"),
    )
    per_fp = per_doc.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("_naive") != F.max("_naive")).alias("_str_naive"),
        (F.min("_safe") != F.max("_safe")).alias("_str_safe"),
        F.sum((F.col("_naive") != F.col("_safe")).cast("bigint")).alias(
            "_moved"
        ),
    )
    # every SUM coalesces to 0: a global aggregate over an EMPTY corpus
    # yields one row of NULL sums, and NULLs in BIGINT outputs float the
    # whole column through the driver's pandas path (the r12 seam)
    row = per_fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("nc"),
        F.coalesce(F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("multi"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") >= 2) & F.col("_str_naive"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("str_naive"),
        F.coalesce(
            F.sum(
                F.when((F.col("n") >= 2) & F.col("_str_safe"), 1).otherwise(
                    0
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("str_safe"),
        F.coalesce(F.sum("_moved"), F.lit(0)).cast("bigint").alias("moved"),
    )
    return (
        row.select(
            F.expr(
                "stack(2, 'doc_hash', nc, multi, str_naive, 0L, "
                "'fp_hash', nc, multi, str_safe, moved) AS "
                "(policy, n_clusters, multi_doc_clusters, "
                "straddling_clusters, docs_reassigned)"
            )
        )
        .select(
            "policy",
            "n_clusters",
            "multi_doc_clusters",
            "straddling_clusters",
            # -1 sentinel (not NULL) when there are no multi-doc
            # clusters: NULL would float the BIGINT column driver-side
            F.when(
                F.col("multi_doc_clusters") > 0,
                F.expr("(10000 * straddling_clusters) div multi_doc_clusters"),
            )
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("straddle_bp"),
            "docs_reassigned",
        )
        .orderBy("policy")
    )


def _leakage_safe_split_oracle() -> str:
    from ser_etl_spark.operators.sampling import sql_split_bucket

    def split_case(expr: str) -> str:
        return (
            f"CASE WHEN {sql_split_bucket(expr)} < 80 THEN 'train' "
            f"WHEN {sql_split_bucket(expr)} < 90 THEN 'val' "
            f"ELSE 'test' END"
        )

    return f"""
    WITH base AS (
      SELECT doc_id,
             COALESCE(md5(trim(regexp_replace(lower(text),
                                              '[^a-z0-9]+', ' ', 'g'))),
                      '') AS fp
      FROM documents
    ), per_doc AS (
      SELECT fp,
             {split_case('doc_id')} AS naive,
             {split_case('MIN(doc_id) OVER (PARTITION BY fp)')} AS safe
      FROM base
    ), per_fp AS (
      SELECT fp, COUNT(*) AS n,
             MIN(naive) <> MAX(naive) AS str_naive,
             MIN(safe) <> MAX(safe) AS str_safe,
             SUM(CASE WHEN naive <> safe THEN 1 ELSE 0 END) AS moved
      FROM per_doc GROUP BY fp
    ), row1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN 1 END), 0) AS BIGINT)
               AS multi,
             CAST(COALESCE(SUM(CASE WHEN n >= 2 AND str_naive
                                    THEN 1 END), 0) AS BIGINT)
               AS str_naive,
             CAST(COALESCE(SUM(CASE WHEN n >= 2 AND str_safe
                                    THEN 1 END), 0) AS BIGINT) AS str_safe,
             CAST(COALESCE(SUM(moved), 0) AS BIGINT) AS moved
      FROM per_fp
    ), pol AS (
      SELECT 'doc_hash' AS policy, nc, multi, str_naive AS straddling,
             CAST(0 AS BIGINT) AS docs_reassigned FROM row1
      UNION ALL
      SELECT 'fp_hash', nc, multi, str_safe, moved FROM row1
    )
    SELECT policy,
           nc AS n_clusters,
           multi AS multi_doc_clusters,
           straddling AS straddling_clusters,
           CASE WHEN multi > 0
                THEN CAST((10000 * straddling) // multi AS BIGINT)
                ELSE CAST(-1 AS BIGINT)
           END AS straddle_bp,
           docs_reassigned
    FROM pol ORDER BY policy
    """


@register(
    "leakage_safe_split",
    oracle=_leakage_safe_split_oracle(),
    description="cluster-keyed vs naive split assignment: hashing each "
    "doc_id lets exact-dup clusters straddle train/val/test; keying "
    "members on the cluster's canonical min(doc_id) pins whole clusters "
    "to one split — per policy the straddling-cluster count (MIN<>MAX "
    "over split names, no distinct expand; the safe policy measures 0) "
    "and the re-assignment churn; one scan, fp window + fp aggregate on "
    "the same partitioning",
    covers=("N-curation", "N-dedup", "X-sample"),
)
def leakage_safe_split_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return leakage_safe_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup survivorship quality shift (r13) — what does dedup do to the mix?
# ---------------------------------------------------------------------------


def dedup_quality_shift(docs: DataFrame) -> DataFrame:
    """Before/after comparison of the corpus under keep-first canonical
    dedup: the ``kept`` cohort (each fingerprint's ``min(doc_id)``),
    the ``dropped`` cohort (everyone else), and the ``corpus`` total —
    each with volume, exact micro-quantized mean quality and mean
    length. The release-notes table for a dedup pass: it says not just
    how much volume dedup cuts, but whether the SURVIVING corpus is
    measurably better (or worse — canonical selection can bias toward
    whatever the keep rule favors) than what went in.

    One corpus projection computes fingerprint, quality and length;
    the canonical flag rides a ``min(doc_id)`` window over the fp
    partition (no join back); the cohort rollup is 2 rows and the
    corpus total is their metadata-sized re-aggregate unioned in —
    never a second scan. Mean quality folds as the quantized micro-sum
    (order-free BIGINT); mean length is an exact integer div.
    NULL-text docs are out of scope on both engines (the
    :func:`quality_vs_dup_correlation` convention).
    """
    from pyspark.sql import Window

    from ser_etl_spark.operators.text import quality_cols

    _, _, score = quality_cols()
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
            )
        ).alias("fp"),
        score.alias("_q"),
        F.length("text").cast("bigint").alias("_len"),
    )
    wfp = Window.partitionBy("fp")
    flagged = base.withColumn(
        "cohort",
        F.when(
            F.col("doc_id") == F.min("doc_id").over(wfp), "kept"
        ).otherwise("dropped"),
    )
    cohorts = flagged.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("_q").cast("bigint").alias("n_scored"),
        F.coalesce(
            F.sum(F.round(F.col("_q") * F.lit(1.0e6), 0).cast("long")),
            F.lit(0),
        ).alias("_sq"),
        F.coalesce(F.sum("_len"), F.lit(0)).alias("_sl"),
    )
    # the corpus row comes from the SAME subtree: each cohort row
    # explodes into itself + a 'corpus' copy and the tiny 4-row frame
    # re-aggregates — a union of cohorts with its own re-aggregate
    # would make Catalyst recompute the whole scan (no common-subplan
    # sharing), which is the double-scan class the scan budget pins
    expanded = cohorts.select(
        F.explode(F.array(F.col("cohort"), F.lit("corpus"))).alias(
            "cohort2"
        ),
        "n_docs",
        "n_scored",
        "_sq",
        "_sl",
    )
    final = expanded.groupBy(F.col("cohort2").alias("cohort")).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_scored").cast("bigint").alias("n_scored"),
        F.sum("_sq").alias("_sq"),
        F.sum("_sl").alias("_sl"),
    )
    return (
        final
        .select(
            "cohort",
            "n_docs",
            "n_scored",
            F.when(F.col("n_scored") > 0, F.expr("_sq div n_scored"))
            .cast("double")
            .alias("mean_quality_micro"),
            F.when(F.col("n_docs") > 0, F.expr("_sl div n_docs"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("mean_chars"),
        )
        .orderBy("cohort")
    )


def _quality_shift_oracle() -> str:
    from ser_etl_spark.operators.text import QUALITY_ORACLE_SQL

    return f"""
    WITH q AS ({QUALITY_ORACLE_SQL}),
    base AS (
      SELECT d.doc_id,
             md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ',
                                     'g'))) AS fp,
             q.quality,
             CAST(len(d.text) AS BIGINT) AS _len
      FROM documents d JOIN q ON q.doc_id = d.doc_id
      WHERE d.text IS NOT NULL
    ), flagged AS (
      SELECT *,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                  THEN 'kept' ELSE 'dropped' END AS cohort
      FROM base
    ), cohorts AS (
      SELECT cohort,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(quality) AS BIGINT) AS n_scored,
             COALESCE(SUM(CAST(round(quality * 1e6) AS BIGINT)), 0) AS sq,
             COALESCE(SUM(_len), 0) AS sl
      FROM flagged GROUP BY 1
    ), allrows AS (
      SELECT * FROM cohorts
      UNION ALL
      -- grouped by the constant so an EMPTY cohort table contributes
      -- ZERO corpus rows (Spark's grouped re-aggregate semantics),
      -- not an ungrouped all-zero row
      SELECT 'corpus' AS cohort,
             CAST(COALESCE(SUM(n_docs), 0) AS BIGINT),
             CAST(COALESCE(SUM(n_scored), 0) AS BIGINT),
             COALESCE(SUM(sq), 0), COALESCE(SUM(sl), 0)
      FROM cohorts GROUP BY 1
    )
    SELECT cohort, n_docs, n_scored,
           CAST(CASE WHEN n_scored > 0 THEN sq // n_scored END AS DOUBLE)
             AS mean_quality_micro,
           CAST(CASE WHEN n_docs > 0 THEN sl // n_docs ELSE -1 END
                AS BIGINT) AS mean_chars
    FROM allrows ORDER BY cohort
    """


@register(
    "dedup_quality_shift",
    oracle=_quality_shift_oracle(),
    description="dedup survivorship report: kept vs dropped vs corpus "
    "cohorts under keep-first canonical dedup, each with volume, exact "
    "micro-quantized mean quality and mean length — says whether the "
    "surviving corpus is measurably better than what went in; one "
    "scan, fp window for the canonical flag, corpus row re-aggregated "
    "from the 2-row cohort table",
    covers=("N-dedup", "N-quality", "N-curation"),
)
def dedup_quality_shift_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup_quality_shift(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# contamination by source (r13) — which feed is contaminated?
# ---------------------------------------------------------------------------


def contamination_by_source(
    docs: DataFrame, n: int = CONTAMINATION_N, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """Benchmark contamination broken down by SOURCE — the
    actionability twin of :func:`benchmark_leakage_by_split`: the split
    view says whether leakage hurts, this view says which FEED to fix
    (drop, re-scrape, or decontaminate at ingest) — per source the
    train-universe volume, docs carrying ≥1 benchmark n-gram, and the
    contamination rate in basis points.

    Same composition: the contaminated doc set comes from
    :func:`benchmark_contamination` (the sliver — only hit docs),
    BROADCAST against the thin (doc_id, source) projection; |sources|-
    row output, exact integers.
    """
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    universe = docs.filter(~is_bench).select("doc_id", "source")
    contaminated = (
        benchmark_contamination(docs, n, bench_mod)
        .select("doc_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        universe.join(F.broadcast(contaminated), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "source",
            "n_train_docs",
            "n_contaminated",
            F.expr("(10000 * n_contaminated) div n_train_docs")
            .cast("bigint")
            .alias("contamination_bp"),
        )
        .orderBy("source")
    )


def _contamination_by_source_oracle() -> str:
    k = CONTAMINATION_N
    gram = " || ' ' || ".join(
        f"t[i+{j}]" for j in range(k)
    ).replace("t[i+0]", "t[i]")
    return f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {gram} AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-{k - 1})) AS i
            FROM toks WHERE len(t) >= {k})),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
      SELECT DISTINCT doc_id
      FROM sh JOIN bench USING (sh)
      WHERE doc_id % {BENCH_MOD} <> 0),
    universe AS (
      SELECT doc_id, source
      FROM documents WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT u.source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
           CAST((10000 * COUNT(h.doc_id)) // COUNT(*) AS BIGINT)
             AS contamination_bp
    FROM universe u LEFT JOIN hits h USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """


@register(
    "contamination_by_source",
    oracle=_contamination_by_source_oracle(),
    description="contamination-by-feed report: benchmark n-gram hits "
    "per source with bp rates — the actionability twin of the by-split "
    "view (which FEED to fix); the contaminated sliver broadcast "
    "against the thin (doc_id, source) projection, |sources|-row "
    "output, exact integers",
    covers=("N-curation", "N-text", "N-quality"),
)
def contamination_by_source_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return contamination_by_source(load_table(spark, sf_dir, "documents"))
