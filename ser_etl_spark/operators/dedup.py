"""Deduplication operators: exact, normalized, n-gram Jaccard,
MinHash+LSH, and SimHash.

Training-data pipeline dedup (BASELINE.json north star), each designed as
a shuffle-conscious distributed plan:

- **exact / normalized**: one hash-aggregate on the text (or its
  normalized fingerprint) — the canonical groupBy dedup; at 100 TB group
  on a fixed-width digest rather than the raw text so shuffle rows stay
  small.
- **n-gram Jaccard**: exact similarity join via an inverted shingle
  index — explode distinct shingles, self-join on shingle, count shared
  per pair, Jaccard from set sizes. Only pairs sharing >= 1 shingle are
  ever materialized, which is what makes this feasible at scale (plus a
  document-frequency cap dropping ubiquitous shingles, the standard
  bound on candidate blowup).
- **MinHash+LSH**: 64-permutation signatures (xxhash64, JVM codegen) ->
  banded LSH bucketing -> candidate pairs from bucket joins -> exact
  Jaccard verification. Sub-quadratic: cost scales with bucket
  collisions, not n^2.
- **SimHash**: 64-bit weighted-vote fingerprints; near-dup = small
  Hamming distance, candidates blocked on 16-bit chunks (any pair at
  Hamming distance <= 3 shares an identical chunk by pigeonhole).

Everything is built-in Spark functions — higher-order array ops, no
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ser_etl_spark.operators.text import fingerprint
from ser_etl_spark.functions.numeric import fround
from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table, spread_small_input

# ---------------------------------------------------------------------------
# exact + normalized dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, key: Column | str = "text") -> DataFrame:
    """Group identical texts: survivor (min doc_id) + copy count."""
    return docs.groupBy(key).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("copies"),
    ).select("doc_id", "copies")


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep one row per identical text (lowest doc_id wins) — the
    distributed ``dropDuplicates`` with a deterministic survivor."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------


def shingle_sets(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, s)`` where ``s`` is the distinct word n-gram shingle set.

    Tokens are materialized as a projected column *before* the
    higher-order transform: referencing the raw ``split(...)`` expression
    inside the lambda would splice the whole split subtree into the lambda
    body and re-run the regex split once per shingle index (quadratic —
    HOF lambdas get no common-subexpression elimination).
    """
    rows = shingle_rows(docs, n, text_col, id_col)
    return rows.groupBy(id_col).agg(F.collect_set("sh").alias("s"))


def shingle_rows(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct ``(doc_id, sh)`` shingle rows — the scalable flat form.

    Built without array-valued expressions in the hot path: explode the
    *index* sequence (a cheap generator), then assemble each shingle as a
    flat per-row projection that whole-stage codegen compiles. Array
    higher-order transforms execute interpreted and get spliced (and
    re-evaluated) into downstream generators/filters by projection
    collapse — measured ~20x slower. ``distinct`` is one shuffle on
    (doc_id, sh), which the downstream inverted-index join needs
    partitioned that way regardless.
    """
    rows = _shingle_projection(docs, n, text_col, id_col)
    return rows.distinct()


def _shingle_projection(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Raw (NOT deduplicated) ``(id, sh)`` shingle rows: the shared
    narrow projection under :func:`shingle_rows` (which dedupes via
    ``distinct``) and :func:`sized_shingle_rows` (which dedupes inside a
    per-doc ``collect_set``)."""
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


def sized_shingle_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct ``(doc_id, nsh, sh)`` shingle rows carrying each doc's
    distinct-shingle-set size in-row — ONE doc_id shuffle.

    The (r14) shared base of the inverted-index similarity joins. Two
    structural wins over rebuilding :func:`shingle_rows` per consumer:

    - ``nsh`` rides every row, so Jaccard/containment denominators need
      NO size join-back after pair aggregation (two sort-merge joins +
      two corpus-sized size aggregates gone; ``min(nsh)`` per pair
      group is exact — nsh is functionally dependent on the doc id);
    - every consumer (the DF guard aggregate and both self-join sides)
      derives the IDENTICAL subtree ending in this one doc_id exchange,
      so AQE's runtime ReusedExchange computes it once — one corpus
      scan at runtime where the before-plan ran 12 (pinned by
      ``tests/test_plans.py::test_runtime_exchange_reuse_...``). An
      eager ``localCheckpoint`` here was measured SLOWER (+0.3-0.9 s/
      query at sf0.1: materialization I/O without a second job to
      amortize it) and blinds the static plan; runtime reuse gives the
      same single scan for free.

    The per-doc ``collect_set`` row is the doc's own shingle set —
    bounded by document length (the :func:`shingle_sets` shape), never
    corpus-sized; dedup within ``collect_set`` replaces
    :func:`shingle_rows`'s ``distinct`` shuffle, so sizing costs no
    extra pass.
    """
    rows = _shingle_projection(docs, n)
    return (
        rows.groupBy("doc_id")
        .agg(F.collect_set("sh").alias("_ss"))
        .select(
            "doc_id",
            F.size("_ss").alias("nsh"),
            F.explode("_ss").alias("sh"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Jaccard similarity join over word n-gram shingle sets.

    Inverted-index plan: explode distinct shingles, self-join on the
    shingle (only co-shingled pairs appear), aggregate shared counts,
    then Jaccard = shared / (|a| + |b| - shared). ``max_shingle_df``
    drops shingles appearing in more than that many docs before pairing
    — the guard that keeps the self-join sub-quadratic when one
    stop-word shingle appears in millions of docs, and therefore the
    PRODUCTION default. Pass ``None`` only for exact-Jaccard oracle
    parity on bounded corpora (candidate fan-out is then unbounded).

    r14 shape: rides :func:`sized_shingle_rows` — ONE corpus scan + ONE
    doc_id shuffle at runtime (AQE ReusedExchange across the guard
    aggregate and both self-join sides); set sizes travel in-row through
    the self-join, so there is no size join-back (``min(nsh)`` per pair
    group is exact: nsh is functionally dependent on the doc id). The
    denominators remain the PRE-guard set sizes, identically to the
    oracle's ``len(s)``.
    """
    exploded = sized_shingle_rows(docs, n)
    if max_shingle_df is not None:
        # Drop OVER-frequent shingles via a broadcast ANTI-join: the
        # frequent set is the heavy-hitter tail (tiny by definition), so
        # broadcasting it spares the full shingle-table re-shuffle an
        # inner join against the rare set would cost (~30% of the query
        # at sf0.1). If a pathological corpus ever produced a frequent
        # set too big to broadcast, flip to the rare-side inner join —
        # semantics are identical.
        frequent = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        exploded = exploded.join(F.broadcast(frequent), "sh", "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("a.nsh").alias("na"),
            F.min("b.nsh").alias("nb"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return shared.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_perm: int = 64, n: int = 3
) -> DataFrame:
    """64-permutation MinHash signatures over word n-gram shingles.

    Each "permutation" is the min over shingles of
    ``xxhash64(xxhash64(shingle), k)``. Computed by exploding shingles
    and taking ``num_perm`` hash columns through a grouped MIN — flat
    columns stay inside whole-stage codegen, an order of magnitude
    faster than per-row higher-order array transforms (which execute
    interpreted), at the cost of one doc_id shuffle with map-side
    partial MINs. The variable-length shingle string is hashed ONCE to a
    long; the per-permutation re-keying then hashes two fixed 8-byte
    longs — measured ~2x cheaper than the round-1 form that built and
    hashed 64 ``concat(sh, "#k")`` strings per shingle row.
    """
    exploded = shingle_rows(docs, n)
    base = exploded.select("doc_id", F.xxhash64("sh").alias("_b"))
    # ONE generated SQL string, not num_perm Column objects: composing
    # ~200 Column nodes in Python costs a py4j round-trip per node
    # (measured ~1 s of driver time PER CALL at any data size — it
    # dominated the per-micro-batch cost of the streaming delta-dedup
    # replay), while string assembly is free and the server parses it in
    # one call (the module-level discipline similarity.py documents).
    # Identical expressions: xxhash64(_b, k) with an INT literal, MIN
    # per permutation (partial aggregation intact), array-packed.
    sig = "array(" + ", ".join(
        f"min(xxhash64(_b, {k}))" for k in range(num_perm)
    ) + ")"
    return base.groupBy("doc_id").agg(F.expr(sig).alias("sig"))


def minhash_band_entries(
    docs: DataFrame, num_perm: int = 64, bands: int = 16, n: int = 3
) -> DataFrame:
    """LSH band keys ``(doc_id, band, bucket)``: each band's signature
    rows compressed through one xxhash64 so the candidate join keys on a
    single long. The shared blocking stage of the MinHash dedup family —
    in an incremental deployment the CORPUS side of this table is the
    persisted artifact (built once at snapshot time, appended per sync,
    the ANN-index discipline) and only new documents pay the signature
    cost."""
    rows_per_band = num_perm // bands
    with_sig = minhash_signatures(docs, num_perm, n)
    # One generated explode(array(named_struct(...))) string — same
    # py4j-chatter discipline as the signature aggregate above; the
    # bucket stays Spark's multi-argument xxhash64 over the band's
    # signature values (element_at is 1-based in both forms).
    structs = ", ".join(
        "named_struct('band', {i}, 'bucket', xxhash64({elems}))".format(
            i=i,
            elems=", ".join(
                f"element_at(sig, {i * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for i in range(bands)
    )
    return with_sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact verification.

    ``bands`` bands of ``num_perm/bands`` rows: pairs agreeing on any
    full band become candidates (S-curve threshold ~= (1/b)^(1/r) ~ 0.5
    for 16x4); candidates are then verified with *exact* Jaccard on the
    shingle sets, so false positives are eliminated and the output is a
    subset of the exact similarity join — recall, not precision, is the
    LSH trade-off.
    """
    band_entries = minhash_band_entries(docs, num_perm, bands, n)
    a, b = band_entries.alias("a"), band_entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = shingle_sets(docs, n)
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    return (
        candidates.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            "doc_b",
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def _propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: every node takes the min of its
    own and its neighbors' labels.

    Exactly one edge-contribution join plus one min-aggregate — the
    per-round data cost of :func:`duplicate_clusters`. Its physical plan
    carries THREE Exchange nodes (edges side + labels side feeding the
    join, then the aggregate's hashpartitioning on node), i.e. two
    logical shuffles of the data per round; the r4 form paid a second
    join (labels-vs-updated) per round for the convergence flag. Pinned
    by tests/test_plans.py so a rewrite can't silently reintroduce it.
    """
    contrib = edges.join(labels, edges.src == labels.node).select(
        F.col("dst").alias("node"), "label"
    )
    return (
        labels.select("node", "label")
        .union(contrib)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over ``(doc_a, doc_b)`` duplicate pairs:
    ``(doc_id, cluster_id, is_survivor)`` with ``cluster_id`` = the
    component's minimum doc_id and the survivor = that minimum doc.

    Pairwise dedup output is not actionable until transitive closure
    groups a~b, b~c into one cluster with one survivor — this operator
    is that step, as iterative min-label propagation:

    - each node starts labeled with itself;
    - each round every node takes the min of its own and its neighbors'
      labels (one join + one aggregate — all shuffles on the node key);
    - stop when a round changes nothing.

    Rounds needed = component diameter; duplicate clusters are shallow
    (near-cliques), so a handful of rounds suffices at any corpus size.
    ``localCheckpoint`` truncates the lineage each round so plans stay
    flat; the driver loop is control flow only — per-round data never
    leaves the executors.

    Per-round cost is TWO shuffles (the edge-contribution join and the
    min-aggregate — the round-4 form paid a third to join updated labels
    back against old ones for the convergence flag): each round unions
    every node's own label with its neighbors' and takes the per-node
    MIN. Convergence for NUMERIC ids is detected from the label-sum —
    labels only ever decrease, so the exact decimal SUM of labels is
    strictly decreasing until the fixpoint, and an unchanged sum IS
    convergence (decimal accumulation: a wrapped 64-bit sum could alias
    two distinct label states at corpus scale; a NULL sum — which would
    make ``None == None`` declare false convergence — is rejected
    loudly). Non-numeric ids (content-hash strings) cannot use a sum,
    so they keep the exact, type-agnostic changed-count join and pay
    the third shuffle.
    """
    from pyspark.sql.types import NumericType

    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)

    def label_sum(df: DataFrame) -> object:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
        ).first()
        if row["n"] > 0 and row["s"] is None:
            raise RuntimeError(
                "duplicate_clusters: label sum is NULL on a non-empty "
                "numeric label set — convergence cannot be detected"
            )
        return row["s"]

    prev_sum = label_sum(labels) if numeric_ids else None
    changed = -1
    for _ in range(max_iter):
        updated = _propagation_round(edges, labels).localCheckpoint()
        if numeric_ids:
            new_sum = label_sum(updated)
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
        else:
            changed = (
                updated.alias("u")
                .join(
                    labels.alias("o"),
                    F.col("u.node") == F.col("o.node"),
                )
                .filter(F.col("u.label") != F.col("o.label"))
                .count()
            )
        labels = updated
        if changed == 0:
            break
    if changed != 0:
        # Returning silently would hand back WRONG (partially propagated)
        # cluster labels; a component with diameter > max_iter is the only
        # way here, which real near-dup graphs (shallow near-cliques)
        # never produce — so treat it as the caller's bug/misuse.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            f"(label sum still decreasing); a duplicate graph this deep "
            f"is pathological — raise max_iter or pre-split the input"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprints from unigram token hashes.

    Per token, xxhash64 supplies the bit pattern; each bit position
    votes +1/-1 across the document's tokens; the sign vector is the
    fingerprint. Expressed as an aggregate over exploded tokens — one
    shuffle on doc_id with map-side partial aggregation.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), " +"))
        ).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    # Sum the raw bit (0/1) per position plus one count; bit i of the
    # fingerprint is then "ones strictly beat zeros": 2*ones_i > n —
    # identical to the +1/-1 vote sign (ties -> 0) without evaluating a
    # conditional per token per bit position. Both stages are ONE
    # generated SQL string each (not 64 Column objects): composing
    # hundreds of Column nodes costs a py4j round-trip per node —
    # measured ~1.2 s of pure driver time per simhash call before this
    # (the minhash_signatures discipline).
    votes_sql = "array(" + ", ".join(
        f"sum(shiftright(h, {i}) & 1)" for i in range(bits)
    ) + ")"
    votes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"), F.expr(votes_sql).alias("_v")
    )
    fp_sql = " ^ ".join(
        f"shiftleft(CAST(element_at(_v, {i + 1}) * 2 > _n AS LONG), {i})"
        for i in range(bits)
    )
    return votes.select("doc_id", F.expr(fp_sql).alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 64, chunks: int = 4
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance <= ``max_hamming``.

    Blocking: by pigeonhole, any pair within distance ``chunks - 1``
    agrees exactly on at least one ``bits/chunks``-bit chunk, so
    candidates come from equality joins on chunks — never a cross join.
    Raise ``chunks`` to widen the guaranteed radius (at the cost of more
    candidate collisions per block).
    """
    width = bits // chunks
    mask = (1 << width) - 1
    fps = simhash(docs, bits)
    keyed = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a, b = keyed.alias("a"), keyed.alias("b")
    # A pair agreeing on m chunks comes out of the block join m times;
    # keep the copy from the LOWEST agreeing chunk instead of a
    # DISTINCT over the whole candidate set (r15, VERDICT r14 #7) —
    # chunk c agrees iff chunk c of the fingerprint XOR is zero, so the
    # canonical copy is decidable per row from columns already on it,
    # and the pairs-sized dedup exchange disappears. The join predicate
    # guarantees at least one agreeing chunk, so the when-chain is
    # total over emitted rows.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    first_agree = F.coalesce(
        *[
            F.when(
                F.shiftright(xor, c * width).bitwiseAND(F.lit(mask))
                == 0,
                F.lit(c),
            )
            for c in range(chunks)
        ]
    )
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.chunk") == first_agree)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS copies
    FROM documents GROUP BY text
    """,
    description="exact dedup: hash-aggregate on text, deterministic survivor",
    covers=("N-dedup",),
)
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS copies
    FROM documents GROUP BY 1
    """,
    description="normalized dedup: group on md5 content fingerprint "
    "(fixed-width shuffle keys at scale)",
    covers=("N-dedup",),
)
def dedup_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        fingerprint(docs)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("copies"))
        .select("fp", "doc_id", "copies")
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
    FROM shared
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = doc_a
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    """,
    description="exact n-gram Jaccard similarity join via inverted "
    "shingle index (co-shingled pairs only — no cross join); exact "
    "variant (no shingle-DF guard) kept for oracle parity — production "
    "path is ngram_jaccard_guarded",
    covers=("N-dedup",),
)
def ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.5, max_shingle_df=None
    )


@register(
    "ngram_jaccard_guarded",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), rare AS (
      SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 50
    ), exg AS (
      SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
    FROM shared
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = doc_a
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    """,
    description="PRODUCTION n-gram Jaccard join: shingles appearing in "
    "> 50 docs are dropped from the inverted index before pairing "
    "(bounds per-shingle candidate fan-out, so the self-join stays "
    "sub-quadratic at any corpus size); denominators still use full "
    "shingle-set sizes. Trade-off: a pair whose overlap is ONLY "
    "ubiquitous shingles is missed — by construction such pairs are "
    "boilerplate, not duplicates. Oracle mirrors the guard exactly.",
    covers=("N-dedup",),
)
def ngram_jaccard_guarded_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.5, max_shingle_df=50
    )


#: Shared oracle prefix: guarded Jaccard pairs (shingle-DF cap 50) +
#: recursive reachability — everything through the ``reach`` relation.
#: ``dedup_clusters`` selects the per-node labels from it;
#: ``dedup_canonical`` selects the surviving corpus.
_GUARDED_REACH_CTE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), rare AS (
      SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 50
    ), exg AS (
      SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = doc_a
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.node
    )
"""


@register(
    "dedup_clusters",
    oracle=_GUARDED_REACH_CTE
    + """
    SELECT node AS doc_id, MIN(r) AS cluster_id,
           CAST(node = MIN(r) AS BOOLEAN) AS is_survivor
    FROM reach GROUP BY node
    """,
    description="transitive closure of the GUARDED Jaccard near-dup "
    "pairs (shingle-DF cap 50, the production pair path): iterative "
    "min-label propagation (per-round join+agg on the node key, lineage "
    "truncated per round) vs a recursive-CTE reachability oracle — one "
    "survivor per duplicate cluster",
    covers=("N-dedup",),
)
def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.5, max_shingle_df=50
    )
    return duplicate_clusters(pairs)


def canonical_corpus(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The deduplicated corpus: every doc except non-survivor cluster
    members (cluster survivor = min doc_id; docs in no cluster pass
    through untouched).

    This is the terminal step of the dedup family — pairs → clusters →
    the corpus you actually train on. Scale: the anti-join's right side
    is only the duplicate LOSERS (a sliver of the corpus even at high
    dup rates), and the join key is the stable id, so AQE picks a
    broadcast anti-join whenever losers fit.
    """
    losers = duplicate_clusters(pairs).filter(~F.col("is_survivor")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


@register(
    "dedup_canonical",
    oracle=_GUARDED_REACH_CTE
    + f"""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT node FROM reach GROUP BY node HAVING node <> MIN(r)
    )
    """,
    description="the deduplicated corpus itself: guarded near-dup pairs "
    "-> clusters -> drop non-survivors via a stable-id anti-join (the "
    "terminal dedup-family step; right side is only the dup losers)",
    covers=("N-dedup",),
)
def dedup_canonical_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, 0.5, max_shingle_df=50)
    return canonical_corpus(docs, pairs)


# ---------------------------------------------------------------------------
# quality-aware canonical selection (r10): keep the BEST copy, not the
# oldest — the survivor rule production dedup actually wants
# ---------------------------------------------------------------------------


def quality_canonical_dedup(docs: DataFrame) -> DataFrame:
    """Per normalized-fingerprint duplicate cluster, keep the copy a
    curation pipeline would keep: admitted-by-the-quality-funnel first,
    then longest (n_chars), then lowest doc_id — instead of
    ``dedup_fingerprint``'s pure MIN(doc_id) survivor, which can crown
    a truncated or junk copy just because it was crawled first.
    Summarized per source: docs, clusters led (canonical copies), docs
    dropped, and how often quality OVERRODE recency (the canonical is
    not the cluster's lowest id — the rows where this operator and the
    naive rule disagree).

    One corpus scan computes the fingerprint and the shared admission
    flag inline (the same ``funnel_stage_flags()[-1]`` the funnel /
    streaming gate / quality_by_lang apply — one definition, four
    surfaces); one window per fingerprint cluster ranks copies
    (clusters are duplicate-group-sized, never source-sized, so the
    partitioning is skew-safe at 100 TB); one |sources| aggregate.
    NULL seams pinned: n_chars orders through ``coalesce(-1)`` (engines
    disagree on NULL placement under DESC), NULL texts share the NULL
    fingerprint group like dedup_fingerprint."""
    from pyspark.sql.window import Window

    from ser_etl_spark.operators.text import funnel_stage_flags

    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.lower(F.col("text")), r"[^a-z0-9]+", " "
            )
        )
    )
    admitted = F.when(funnel_stage_flags()[-1], F.lit(1)).otherwise(F.lit(0))
    base = docs.select(
        "doc_id",
        "source",
        fp.alias("fp"),
        admitted.alias("adm"),
        F.coalesce(F.col("n_chars"), F.lit(-1)).alias("nc"),
    )
    w = Window.partitionBy("fp").orderBy(
        F.col("adm").desc(), F.col("nc").desc(), F.col("doc_id").asc()
    )
    ranked = base.select(
        "source",
        "doc_id",
        (F.row_number().over(w) == 1).cast("int").alias("is_canon"),
        F.min("doc_id").over(Window.partitionBy("fp")).alias("min_id"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("is_canon"), F.lit(0))
            .cast("bigint")
            .alias("n_canonical"),
            F.coalesce(
                F.sum(F.lit(1) - F.col("is_canon")), F.lit(0)
            ).cast("bigint").alias("n_dropped"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("is_canon") == 1)
                        & (F.col("doc_id") != F.col("min_id")),
                        F.lit(1),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_quality_overrides"),
        )
        .orderBy("source")
    )


def _quality_canonical_oracle() -> str:
    from ser_etl_spark.operators.text import (
        FUNNEL_DISTINCT_X10,
        FUNNEL_MIN_TOKENS,
        FUNNEL_WLEN_HI,
        FUNNEL_WLEN_LO,
        _STOPWORDS,
    )

    stop_list = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
    return f"""
    WITH d AS (
      SELECT doc_id, source, n_chars, text,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp,
             regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm
      FROM documents
    ), m AS (
      SELECT doc_id, source, n_chars, text, fp,
             string_split(norm, ' ') AS t,
             length(norm) AS n_chr
      FROM d
    ), fl AS (
      SELECT doc_id, source, fp,
             COALESCE(n_chars, -1) AS nc,
             CASE WHEN
               COALESCE(text IS NOT NULL AND trim(text) <> '', FALSE)
               AND COALESCE(len(t) >= {FUNNEL_MIN_TOKENS}, FALSE)
               AND COALESCE(n_chr - len(t) + 1 BETWEEN
                   len(t) * {FUNNEL_WLEN_LO} AND len(t) * {FUNNEL_WLEN_HI},
                   FALSE)
               AND COALESCE(len(list_distinct(t)) * 10 >=
                   len(t) * {FUNNEL_DISTINCT_X10}, FALSE)
               AND COALESCE(len(list_filter(t,
                   x -> list_contains({stop_list}, x))) >= 1, FALSE)
             THEN 1 ELSE 0 END AS adm
      FROM m
    ), ranked AS (
      SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY fp
               ORDER BY adm DESC, nc DESC, doc_id ASC) = 1 AS INT)
               AS is_canon,
             MIN(doc_id) OVER (PARTITION BY fp) AS min_id
      FROM fl
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(is_canon), 0) AS BIGINT) AS n_canonical,
           CAST(COALESCE(SUM(1 - is_canon), 0) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(CASE WHEN is_canon = 1 AND doc_id <> min_id
                                  THEN 1 END), 0) AS BIGINT)
             AS n_quality_overrides
    FROM ranked GROUP BY source ORDER BY source
    """


@register(
    "quality_canonical_dedup",
    oracle=_quality_canonical_oracle(),
    description="quality-aware dedup survivor rule: per fingerprint "
    "cluster keep admitted-first/longest/lowest-id (not MIN(doc_id)); "
    "per source the canonical/dropped counts and how often quality "
    "overrode recency — one scan, one cluster-sized window, shared "
    "admission flag",
    covers=("N-dedup", "N-quality"),
)
def quality_canonical_dedup_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quality_canonical_dedup(load_table(spark, sf_dir, "documents"))


#: Shingle CTEs shared by the MinHash oracle (same token/3-gram pipeline
#: the green ngram_jaccard oracles use).
_SHINGLE_CTES = """
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    )
"""


def _minhash_perm_stages(h1_col: str, num_perm: int, pfx: str = "_mp"):
    """Stages computing Spark's ``xxhash64(base, lit(k))`` for k in
    0..num_perm-1 from the already-hashed ``h1 = hashLong(base, 42)``
    column — the shared int-literal rehash generator with the MinHash
    column naming."""
    from ser_etl_spark.oracle_hash import xxh64_int_rehash_stage_cols

    return xxh64_int_rehash_stage_cols(
        h1_col, list(range(num_perm)), out_fmt=pfx + "s{k}", pfx=pfx
    )


def _minhash_lsh_oracle(
    threshold: float = 0.5, num_perm: int = 64, bands: int = 16
) -> str:
    """DuckDB twin of ``minhash_lsh_pairs``: the whole pipeline —
    shingles, the string xxhash64 base, 64 per-permutation rehashes,
    per-doc signed MINs, 16-band blocking, candidate distinct, exact
    Jaccard verify — reproduced in SQL.

    The two xxhash64 layers come from :mod:`ser_etl_spark.oracle_hash`
    staged CTE chains (bit-equal to Spark, pinned in
    tests/test_oracle_hash.py). Band buckets differ in ONE way: Spark
    compresses each band's 4 signature values through one more xxhash64
    before the equality join; the oracle joins on the 4-tuple directly.
    The two are equal unless distinct 4-tuples collide under xxhash64 —
    a 2^-64-per-pair-band event that would only surface if the colliding
    pair ALSO passed exact-Jaccard verification; parity tests pin the
    equality on the fixtures.
    """
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_long_stage_cols,
        xxh64_str_stage_cols,
    )

    rows_per_band = num_perm // bands
    # The hash chain depends only on the shingle STRING, so run it over
    # DISTINCT shingles and join back — ~40% fewer HUGEINT rows on the
    # fixtures, and the right shape at any corpus size.
    str_ctes, str_fin = stages_to_ctes(
        "dg", xxh64_str_stage_cols("g", "_mb", pfx="_mxs"), "_msa"
    )
    long_ctes, long_fin = stages_to_ctes(
        str_fin, xxh64_long_stage_cols("_mb", "_mh1", pfx="_mxl"), "_msb"
    )
    perm_ctes, perm_fin = stages_to_ctes(
        long_fin, _minhash_perm_stages("_mh1", num_perm), "_msc"
    )
    perm_cols = ", ".join(f"p._mps{k}" for k in range(num_perm))
    mins = ", ".join(f"MIN(_mps{k}) AS m{k}" for k in range(num_perm))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(
            f"m{i * rows_per_band + r} AS w{r}" for r in range(rows_per_band)
        )
        + " FROM sig"
        for i in range(bands)
    )
    band_eq = " AND ".join(f"a.w{r} = b.w{r}" for r in range(rows_per_band))
    return f"""
    WITH {_SHINGLE_CTES}, dg AS (
      SELECT DISTINCT g FROM ex
    ){str_ctes}{long_ctes}{perm_ctes}, sigsrc AS (
      SELECT e.doc_id, {perm_cols}
      FROM ex e JOIN {perm_fin} p USING (g)
    ), sig AS (
      SELECT doc_id, {mins} FROM sigsrc GROUP BY doc_id
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           CAST(s2.shared AS DOUBLE) / (sa.n + sb.n - s2.shared) AS jaccard
    FROM cand c
    JOIN shared s2 ON s2.doc_a = c.doc_a AND s2.doc_b = c.doc_b
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = c.doc_a
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = c.doc_b
    WHERE CAST(s2.shared AS DOUBLE) / (sa.n + sb.n - s2.shared) >= {threshold}
    """


@register(
    "minhash_lsh_pairs",
    oracle=_minhash_lsh_oracle(),
    description="MinHash(64)+LSH(16x4) near-dup candidates with exact "
    "Jaccard verification — sub-quadratic dedup at scale. Oracle-backed "
    "since r5: both xxhash64 layers (string base + per-permutation "
    "rehash) emulated bit-exactly in staged DuckDB HUGEINT SQL; also "
    "recall-tested vs the exact Jaccard join",
    covers=("N-dedup",),
)
def minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), 0.5)


def _simhash_oracle(max_hamming: int = 3, bits: int = 64, chunks: int = 4) -> str:
    """DuckDB twin of ``simhash_pairs``: per-token string xxhash64 (the
    staged oracle_hash chain), per-doc bit votes, majority fingerprint,
    pigeonhole 16-bit chunk blocking, Hamming filter — all in SQL."""
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        tosigned_sql,
        xxh64_str_stage_cols,
    )

    width = bits // chunks
    # Hash DISTINCT tokens only (the fixture vocabulary is tiny; at any
    # scale the distinct-token table is far smaller than the token
    # stream), then join the unsigned hash back onto the per-doc rows.
    str_ctes, str_fin = stages_to_ctes(
        "dt", xxh64_str_stage_cols("tok", "_su", pfx="_sxs"), "_ssa"
    )
    votes = ", ".join(
        f"SUM(CAST((_su >> {i}) & 1 AS BIGINT)) AS v{i}"
        for i in range(bits)
    )
    fp_sum = " + ".join(
        f"(CASE WHEN 2*v{i} > nn THEN CAST({1 << i} AS HUGEINT) "
        f"ELSE CAST(0 AS HUGEINT) END)"
        for i in range(bits)
    )
    chunk_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, fp_s, {c} AS chunk, "
        f"CAST((ufp >> {c * width}) & {(1 << width) - 1} AS BIGINT) AS key "
        f"FROM fps"
        for c in range(chunks)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(lower(text)), ' +')))
               AS tok
      FROM documents
    ), dt AS (
      SELECT DISTINCT tok FROM tk
    ){str_ctes}, votes AS (
      SELECT t.doc_id, COUNT(*) AS nn, {votes}
      FROM tk t JOIN {str_fin} h USING (tok) GROUP BY t.doc_id
    ), fpu AS (
      SELECT doc_id, ({fp_sum}) AS ufp FROM votes
    ), fps AS (
      SELECT doc_id, ufp, {tosigned_sql('ufp')} AS fp_s FROM fpu
    ), keyed AS (
      {chunk_rows}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp_s, b.fp_s)) AS INTEGER) AS hamming
    FROM keyed a JOIN keyed b
      ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp_s, b.fp_s)) <= {max_hamming}
    """


@register(
    "simhash_pairs",
    oracle=_simhash_oracle(),
    description="SimHash(64) near-dup pairs at Hamming distance <= 3 "
    "with pigeonhole chunk blocking. Oracle-backed since r5: the token "
    "xxhash64 is emulated bit-exactly in staged DuckDB HUGEINT SQL, the "
    "bit votes / majority fingerprint / chunk keys replayed in SQL",
    covers=("N-dedup",),
)
def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"), 3)


# ---------------------------------------------------------------------------
# Edit-distance near-duplicates (short strings, prefix blocking)
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_prefix_len: int,
    max_distance: int = 1,
) -> DataFrame:
    """Near-duplicate short strings by Levenshtein distance, with prefix
    blocking: only pairs sharing the first ``block_prefix_len`` chars are
    compared, so candidate growth is quadratic per block, not per corpus
    — size the prefix so blocks stay bounded as the table grows (the same
    guard discipline as the shingle-DF cap). Levenshtein is identically
    defined in every engine, so results are oracle-exact.

    Right fit: identifier-ish columns (names, SKUs, codes). For document
    text use the shingle/MinHash family instead — edit distance on long
    strings is O(len^2) per pair.
    """
    # spread the probe side BEFORE the join: a small-file input arrives
    # as one partition and a broadcast join inherits the probe side's
    # parallelism, serializing every per-pair levenshtein into a single
    # task (measured 2.9 s -> the blocked join itself is sub-second on 32
    # slots). No-op on a well-partitioned input — the same discipline as
    # embedding_neardup_pairs.
    a = spread_small_input(
        df.select(
            F.col(id_col).alias("id_a"),
            F.col(name_col).alias("name_a"),
            F.substring(F.col(name_col), 1, block_prefix_len).alias("_blk"),
        )
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
        F.substring(F.col(name_col), 1, block_prefix_len).alias("_blk"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


@register(
    "name_edit_neardup",
    oracle="""
    WITH blocked AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             levenshtein(a.c_name, b.c_name) AS distance
      FROM customer a
      JOIN customer b
        ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
       AND a.c_custkey < b.c_custkey
    )
    SELECT distance, COUNT(*) AS n_pairs
    FROM blocked WHERE distance <= 1
    GROUP BY distance ORDER BY distance
    """,
    description="edit-distance near-dup join on an identifier column: "
    "16-char prefix blocking bounds each block (quadratic per block, not "
    "per corpus), Levenshtein <= 1 within blocks, pair counts per "
    "distance — the short-string member of the dedup family (shingle/"
    "MinHash cover document text)",
    covers=("N-dedup",),
)
def name_edit_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pairs = edit_distance_pairs(cust, "c_custkey", "c_name", 16, 1)
    return (
        pairs.groupBy("distance")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("distance")
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus, one-sided candidates
# ---------------------------------------------------------------------------


def delta_dedup_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate matches of a NEW document batch against an
    EXISTING corpus: ``(corpus_doc, delta_doc, jaccard)`` for every
    delta document whose MinHash bands collide with a corpus document
    and whose exact shingle Jaccard clears ``threshold``.

    The A2/A16 incremental story applied to dedup (the reason crawl
    pipelines don't re-dedup the world per batch): the candidate join is
    ONE-SIDED — delta bands against corpus bands — so the pair space is
    bounded by |delta| x band collisions and the corpus is never paired
    against itself. ``corpus_bands`` is the PERSISTED band artifact
    (:func:`build_minhash_bands` at snapshot time,
    :func:`upsert_minhash_bands` per sync, resolved via
    :func:`ensure_minhash_bands` — the registered query reads it), so a
    batch pays only its own signatures plus the blocked join; passing
    None computes corpus bands inline (the first-build path).
    Verification is exact Jaccard over shingle sets computed ONLY for
    candidate-matched docs (semi-join first): the corpus text is
    re-read just for the rows the bands flagged, never re-shingled
    wholesale. Output is a subset of the exact cross join — the
    minhash_lsh_pairs guarantee, one-sided.

    The candidate pair set — a sliver by construction (|delta| x band
    collisions) — is ``localCheckpoint``'d once (r15): it has THREE
    consumers (both semi-join prunes and the final pair join), and
    without the checkpoint each re-derived the delta signatures + band
    join (the exchanges can't reuse — the three consumers project
    different keys). Measured 3.53 -> 2.19 s min-of-3 at sf0.1 on the
    full delta. Computed from the parquet inputs inside every
    invocation (the bpe_merge_steps discipline, never cross-run). The
    checkpoint runs as a build-time SQL execution: the scan-budget gate
    reads its plan from Spark and pins the execution count and every
    table scan inside it, so a hidden extra pass — or this job silently
    growing — fails loudly (ADVICE r14 #1).
    """
    cb = (
        corpus_bands
        if corpus_bands is not None
        else minhash_band_entries(corpus, num_perm, bands, n)
    )
    db = minhash_band_entries(delta, num_perm, bands, n)
    candidates = (
        db.alias("d")
        .join(
            cb.alias("c"),
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("c.doc_id").alias("corpus_doc"),
            F.col("d.doc_id").alias("delta_doc"),
        )
        .distinct()
    )
    candidates = candidates.localCheckpoint(eager=True)
    corpus_hit = corpus.join(
        candidates.select(F.col("corpus_doc").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    delta_hit = delta.join(
        candidates.select(F.col("delta_doc").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    cs = shingle_sets(corpus_hit, n).select(
        F.col("doc_id").alias("corpus_doc"), F.col("s").alias("sa")
    )
    ds = shingle_sets(delta_hit, n).select(
        F.col("doc_id").alias("delta_doc"), F.col("s").alias("sb")
    )
    jac = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    )
    return (
        candidates.join(cs, "corpus_doc")
        .join(ds, "delta_doc")
        .select("corpus_doc", "delta_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("delta_doc", "corpus_doc")
    )


#: bump to invalidate previously materialized band directories
MINHASH_BANDS_VERSION = 1


def _bands_usable(path: str) -> bool:
    """True when ``path`` holds a complete band artifact: committed
    (_SUCCESS), band-partitioned, and carrying the expected data columns
    (one parquet-footer read — the `_index_usable` discipline)."""
    import glob
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    parts = glob.glob(os.path.join(path, "band=*", "*.parquet"))
    if not parts:
        return False
    try:
        import pyarrow.parquet as pq

        names = set(pq.read_schema(parts[0]).names)
    except Exception:
        return False
    return {"doc_id", "bucket"}.issubset(names)


def build_minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
) -> str:
    """Materialize the documents table's MinHash band entries — the
    write-time artifact :func:`delta_dedup_pairs` joins new batches
    against (the ANN-index discipline applied to dedup: pay the
    signature pass once at snapshot build, serve every subsequent batch
    from the persisted bands). ``partitionBy("band")`` so each band's
    entries are a contiguous directory; per-doc rows are independent, so
    the artifact appends per sync (:func:`upsert_minhash_bands`) and
    any doc_id predicate pushes into the scan."""
    from ser_etl_spark.artifacts import write_manifest
    from ser_etl_spark.sources.parquet import table_path

    ents = minhash_band_entries(
        load_table(spark, sf_dir, "documents"), num_perm, bands, n
    )
    ents.write.mode("overwrite").partitionBy("band").parquet(out_dir)
    # freshness manifest (ADVICE r8): record the source state these
    # bands reflect, so published-first resolution refuses a stale copy
    write_manifest(
        out_dir, table_path(sf_dir, "documents"), MINHASH_BANDS_VERSION
    )
    return out_dir


def upsert_minhash_bands(
    spark: SparkSession, bands_dir: str, new_docs: DataFrame,
    num_perm: int = 64, bands: int = 16, n: int = 3,
    source_path: str | None = None,
) -> None:
    """Append a new batch's band entries into the persisted artifact —
    per-doc rows are independent (no frozen state to respect, unlike the
    ANN quantizer), so append IS rebuild for the grown corpus.
    ``source_path`` = the documents table as grown by this batch: an
    incremental sync passes it so the freshness manifest keeps matching
    the rewritten table (the ``upsert_ann_index`` contract)."""
    (
        minhash_band_entries(new_docs, num_perm, bands, n)
        .write.mode("append").partitionBy("band").parquet(bands_dir)
    )
    if source_path is not None:
        from ser_etl_spark.artifacts import write_manifest

        write_manifest(bands_dir, source_path, MINHASH_BANDS_VERSION)


def ensure_minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
) -> str:
    """Resolve the materialized band artifact for ``sf_dir``: prefer the
    PUBLISHED ``documents_minhash_bands`` directory (written by
    ``build_snapshot`` with ``TableLayout(minhash_bands=True)``), else a
    per-user tmp cache keyed by a recursive source fingerprint — the
    same published-first resolution ``ensure_ann_index`` uses,
    including the r8 freshness gate: the published copy is served only
    while its ``_manifest.json`` digest still matches the live
    documents table (a corpus rewritten without a matching
    ``upsert_minhash_bands`` must not silently miss matches)."""
    import os

    from ser_etl_spark.artifacts import resolve_artifact
    from ser_etl_spark.sources.parquet import table_path

    src = table_path(sf_dir, "documents")
    return resolve_artifact(
        published=os.path.join(sf_dir, "documents_minhash_bands"),
        source_path=src,
        version=MINHASH_BANDS_VERSION,
        family="minhash_bands",
        key_extra=f":{num_perm}:{bands}:{n}",
        # the snapshot only ever publishes the default geometry
        usable=lambda p: (
            (num_perm, bands, n) == (64, 16, 3) and _bands_usable(p)
        ),
        build_fn=lambda tmp: build_minhash_bands(
            spark, sf_dir, tmp, num_perm, bands, n
        ),
    )


#: modulo split simulating a sync batch: doc_id % 4 == 3 is the newly
#: arrived quarter, the rest is the standing corpus.
_DELTA_MOD, _DELTA_REM = 4, 3


def _delta_dedup_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin: the proven full MinHash-LSH pipeline restricted to
    CROSS-side pairs (exactly the candidate set the one-sided join
    generates — a one-sided band join yields the cross subset of the
    full band join), re-labeled to (corpus_doc, delta_doc)."""
    full = _minhash_lsh_oracle(threshold)
    m, r = _DELTA_MOD, _DELTA_REM
    return f"""
    SELECT CASE WHEN doc_a % {m} = {r} THEN doc_b ELSE doc_a END AS corpus_doc,
           CASE WHEN doc_a % {m} = {r} THEN doc_a ELSE doc_b END AS delta_doc,
           jaccard
    FROM ({full}) q
    WHERE (doc_a % {m} = {r}) <> (doc_b % {m} = {r})
    ORDER BY delta_doc, corpus_doc
    """


@register(
    "incremental_dedup",
    oracle=_delta_dedup_oracle(),
    description="incremental dedup: the newly-arrived batch (doc_id % 4 "
    "== 3, a simulated sync delta) near-dup-matched against the standing "
    "corpus via a ONE-SIDED MinHash band join + exact Jaccard verify — "
    "the corpus is never paired against itself, and the corpus side "
    "READS the materialized band artifact (build/ensure_minhash_bands, "
    "published-first resolution like the ANN index) so each batch pays "
    "only its own signatures, the blocked join, and candidate-"
    "restricted verification (the A2 incremental story applied to dedup)",
    covers=("N-dedup", "A2"),
)
def incremental_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if docs.first() is None:  # empty corpus: no bands artifact, no pairs
        return spark.createDataFrame(
            [], "corpus_doc bigint, delta_doc bigint, jaccard double"
        )
    is_delta = (F.col("doc_id") % _DELTA_MOD) == _DELTA_REM
    bands_dir = ensure_minhash_bands(spark, sf_dir)
    corpus_bands = spark.read.parquet(bands_dir).filter(~is_delta)
    return delta_dedup_pairs(
        docs.filter(~is_delta),
        docs.filter(is_delta),
        corpus_bands=corpus_bands,
    )


# ---------------------------------------------------------------------------
# substring-level exact dedup: duplicated token SPANS across documents
# ---------------------------------------------------------------------------


def substring_dedup_spans(
    docs: DataFrame,
    k: int = 8,
    min_tokens: int = 20,
    max_anchor_df: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated token SPANS: for every ordered doc pair,
    each maximal run of >= ``min_tokens`` consecutive IDENTICAL tokens
    shared between the two texts, as ``(doc_a, doc_b, a_start, b_start,
    span_tokens)`` with 1-based token offsets.

    The "exact substring dedup" of the public LLM-dedup literature
    (boilerplate, licenses, templated headers duplicated verbatim across
    crawls — removed span-wise, not doc-wise), re-expressed as pure
    equi-joins instead of a suffix array:

    1. **anchor k-grams** — every k-token window of every doc as
       ``(doc_id, pos, gram)`` (the :func:`shingle_rows` token
       convention, positions kept);
    2. **inverted-index candidate join** — anchors equi-joined on the
       gram STRING (exact — no hash collisions), ``doc_a < doc_b``;
    3. **diagonal run verification** — a common run of ``R`` tokens is
       exactly ``R - k + 1`` consecutive anchor matches on one diagonal
       (``diag = ib - ia``): gaps-and-islands per (pair, diag) —
       ``ia - row_number()`` groups each maximal run — then
       ``span_tokens = run_length + k - 1``. Anchor-gram equality at
       every consecutive offset implies token-wise equality of the whole
       span (tokens are whitespace-free, so the space-joined gram is
       unambiguous), making the result EXACT, not probabilistic.

    Scale: anchors are one row per token position (the shingle pipeline's
    cost class); the join is a shuffle on the gram; the window moves only
    MATCHED anchors. ``max_anchor_df`` drops grams appearing in more than
    that many docs before pairing — the :func:`ngram_jaccard_pairs`
    sub-quadratic guard; a true span whose every k-gram is that common is
    boilerplate beyond the cap's df and is the one recall trade
    (``None`` = exact, bounded corpora only).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), " +").alias("_t"),
    ).filter(F.size("_t") >= k)
    t = F.col("_t")
    idx = toks.select(
        id_col,
        "_t",
        F.explode(F.sequence(F.lit(1), F.size(t) - (k - 1))).alias("pos"),
    )
    i = F.col("pos")
    gram = F.concat_ws(
        " ",
        F.element_at(t, i),
        *[F.element_at(t, i + j) for j in range(1, k)],
    )
    anch = idx.select(id_col, "pos", gram.alias("g"))
    if max_anchor_df is not None:
        freq = (
            anch.groupBy("g")
            .agg(F.count_distinct(F.col(id_col)).alias("_df"))
            .filter(F.col("_df") > max_anchor_df)
            .select("g")
        )
        anch = anch.join(freq, "g", "left_anti")
    pairs = (
        anch.alias("a")
        .join(
            anch.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.pos").alias("ia"),
            (F.col("b.pos") - F.col("a.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = pairs.withColumn("grp", F.col("ia") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("ia").cast("long").alias("a_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") + F.col("diag")).cast("long").alias("b_start"),
            "span_tokens",
        )
        .orderBy("doc_a", "doc_b", "a_start", "b_start")
    )


def _substring_dedup_oracle(
    k: int = 8, min_tokens: int = 20, max_anchor_df: int = 100
) -> str:
    """DuckDB twin: identical anchor grams (1-based list comprehension +
    generate_subscripts for positions), the same df guard, candidate
    join, and diagonal gaps-and-islands run aggregation."""
    gram = " || ' ' || ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(k)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), gl AS (
      SELECT doc_id, [{gram} for i in range(1, len(t) - {k - 2})] AS gs
      FROM toks WHERE len(t) >= {k}
    ), anch AS (
      SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS g
      FROM gl
    ), fr AS (
      SELECT g FROM anch GROUP BY g
      HAVING COUNT(DISTINCT doc_id) > {max_anchor_df}
    ), a2 AS (
      SELECT * FROM anch ANTI JOIN fr USING (g)
    ), pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS ia,
             b.pos - a.pos AS diag
      FROM a2 a JOIN a2 b ON a.g = b.g AND a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, diag, ia,
             ia - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp
      FROM pr
    )
    SELECT doc_a, doc_b,
           CAST(MIN(ia) AS BIGINT) AS a_start,
           CAST(MIN(ia) + diag AS BIGINT) AS b_start,
           CAST(COUNT(*) + {k - 1} AS BIGINT) AS span_tokens
    FROM runs GROUP BY doc_a, doc_b, diag, grp
    HAVING COUNT(*) + {k - 1} >= {min_tokens}
    ORDER BY doc_a, doc_b, a_start, b_start
    """


@register(
    "substring_dedup",
    oracle=_substring_dedup_oracle(),
    description="substring-level exact dedup: maximal duplicated token "
    "spans (>= 20 tokens) across document pairs via an anchor-k-gram "
    "inverted index + diagonal run verification — a common R-token run "
    "is exactly R-k+1 consecutive anchor matches on one (pair, diagonal), "
    "so gaps-and-islands over matched anchors recovers every span "
    "EXACTLY with equi-joins only (the suffix-array dedup of the public "
    "literature, Spark-shaped); df-capped anchors keep the self-join "
    "sub-quadratic",
    covers=("N-dedup",),
)
def substring_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup_spans(
        spread_small_input(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# containment join: near-superset detection (quotes, wrapped copies)
# ---------------------------------------------------------------------------


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Containment similarity join: ``(doc_a, doc_b, containment)``
    where containment = |shingles(a) ∩ shingles(b)| / |shingles(a)| —
    the ASYMMETRIC near-dup relation Jaccard misses: a short document
    quoted or wrapped inside a much longer one has low Jaccard (the
    union is dominated by the long doc) but containment ~= 1. The
    public dedup literature uses exactly this for quote/boilerplate
    copy detection between differently-sized documents.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (one
    shingle equi-join over the shared :func:`sized_shingle_rows`
    subtree — one runtime corpus scan via AQE ReusedExchange — shared
    counts, set sizes carried in-row, no size join-back; the
    ``max_shingle_df`` guard bounds candidate fan-out) — only the
    denominator differs, so BOTH directed pairs are emitted from the
    one undirected join: (a contained-in b) and (b contained-in a) each
    test against their own size.
    """
    exploded = sized_shingle_rows(docs, n)
    if max_shingle_df is not None:
        frequent = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        exploded = exploded.join(F.broadcast(frequent), "sh", "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    joined = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min("a.nsh").alias("na"),
            F.min("b.nsh").alias("nb"),
        )
    )
    # Both directed pairs from ONE pass over the undirected join: an
    # in-row 2-struct explode, not a union of two projections — the
    # union form re-evaluated the whole inverted-index DAG per branch
    # (12 corpus scans in the plan; this halves it).
    both = joined.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a"),
                    F.col("doc_b"),
                    (F.col("shared").cast("double") / F.col("na")).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    (F.col("shared").cast("double") / F.col("nb")).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.containment")
    return (
        both.filter(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ngram_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), rare AS (
      SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 50
    ), exg AS (
      SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT s2.doc_a, s2.doc_b, s2.shared, sa.n AS na, sb.n AS nb
      FROM shared s2
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = s2.doc_a
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = s2.doc_b
    ), directed AS (
      SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / na AS containment
      FROM sized
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b,
             CAST(shared AS DOUBLE) / nb AS containment
      FROM sized
    )
    SELECT doc_a, doc_b, containment FROM directed
    WHERE containment >= 0.8
    ORDER BY doc_a, doc_b
    """,
    description="containment similarity join (|A∩B|/|A| over word "
    "3-gram shingle sets): the asymmetric near-dup relation that "
    "catches a short doc quoted/wrapped inside a long one (low Jaccard, "
    "containment ~1); same guarded inverted-index plan as the Jaccard "
    "join — one undirected shingle equi-join emits both directed pairs",
    covers=("N-dedup",),
)
def ngram_containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), 0.8, max_shingle_df=50
    )


# ---------------------------------------------------------------------------
# span removal: the substring-dedup family's terminal step
# ---------------------------------------------------------------------------


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_tokens: int = 20,
    max_anchor_df: int | None = 100,
) -> DataFrame:
    """Span-cleaned corpus rows: for every document that duplicates
    >= ``min_tokens``-token spans of an EARLIER document
    (:func:`substring_dedup_spans`; removal policy = the higher doc_id
    loses the span, mirroring the min-id-survives convention of
    ``canonical_corpus``), the document's normalized token stream with
    those spans cut out — ``(doc_id, kept_tokens, removed_tokens,
    cleaned_text)``.

    This is what the public exact-substring dedup actually SHIPS:
    span-wise removal, not doc-wise dropping (the span is boilerplate;
    the rest of the doc is unique signal worth keeping). Shape: spans
    explode to their covered positions (data volume = total duplicated
    tokens, a sliver of the corpus), the token stream of AFFECTED docs
    only (semi-join first) anti-joins the removal set on (doc, pos),
    and per-doc reassembly is one sort-free aggregate (collect + sort
    the bounded per-doc list). Docs with nothing removed pass through
    untouched and are NOT re-emitted — the output is the delta to
    apply, which at 100 TB is the only shippable form (rewriting every
    row to change 1% of them is the anti-pattern).

    ``cleaned_text`` is the NORMALIZED form (lowered, space-joined) —
    the same token domain the spans were found in; cutting byte ranges
    from raw text would require raw-offset anchors instead.
    """
    spans = substring_dedup_spans(docs, k, min_tokens, max_anchor_df)
    # localCheckpoint (the duplicate_clusters discipline): `removed` is
    # output-sized (the duplicated-token sliver) but feeds THREE
    # consumers below — without truncation each re-evaluates the whole
    # span-finding DAG (13 corpus scans in the plan; this cuts it to
    # one span pass + one token pass).
    removed = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("span_tokens") - F.lit(1),
                )
            ).alias("pos"),
        )
        .distinct()
        .localCheckpoint()
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    affected = removed.select("doc_id").distinct()
    kept = toks.join(affected, "doc_id", "left_semi").join(
        removed, ["doc_id", "pos"], "left_anti"
    )
    ka = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(pos, tok))), s -> s.tok), ' ')"
            ).alias("cleaned_text"),
        )
    )
    rc = removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("removed_tokens")
    )
    return (
        rc.join(ka, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
            "removed_tokens",
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
        .orderBy("doc_id")
    )


def _span_removal_oracle(
    k: int = 8, min_tokens: int = 20, max_anchor_df: int = 100
) -> str:
    inner = _substring_dedup_oracle(k, min_tokens, max_anchor_df)
    return f"""
    WITH sp AS (
      SELECT * FROM ({inner}) q
    ), rem AS (
      SELECT DISTINCT doc_b AS doc_id,
             unnest([p for p in range(b_start, b_start + span_tokens)])
               AS pos
      FROM sp
    ), toks2 AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
            FROM documents)
    ), kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM toks2 tk
      JOIN (SELECT DISTINCT doc_id FROM rem) af USING (doc_id)
      ANTI JOIN rem ON rem.doc_id = tk.doc_id AND rem.pos = tk.pos
    ), rc AS (
      SELECT doc_id, COUNT(*) AS removed_tokens FROM rem GROUP BY 1
    ), ka AS (
      SELECT doc_id, COUNT(*) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY 1
    )
    SELECT rc.doc_id,
           CAST(COALESCE(ka.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(rc.removed_tokens AS BIGINT) AS removed_tokens,
           COALESCE(ka.cleaned_text, '') AS cleaned_text
    FROM rc LEFT JOIN ka USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "span_removal",
    oracle=_span_removal_oracle(),
    description="the substring-dedup family's terminal step: documents "
    "duplicating >= 20-token spans of an earlier doc get those spans "
    "CUT (higher doc_id loses, the canonical-corpus convention) — "
    "span-wise removal over the normalized token stream, emitted as a "
    "delta of affected docs only (positions explode to the duplicated "
    "sliver, affected-doc semi-join before any reassembly); what "
    "public exact-substring dedup actually ships, vs dropping whole "
    "docs",
    covers=("N-dedup",),
)
def span_removal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_duplicated_spans(
        spread_small_input(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# MinHash accuracy evaluation: the sketch-QA harness
# ---------------------------------------------------------------------------


def minhash_error_eval(
    docs: DataFrame, num_perm: int = 64, bands: int = 16, n: int = 3
) -> DataFrame:
    """Per-candidate-pair MinHash estimation error: for every banded
    candidate pair, the signature-position agreement estimate
    ``est_matches / num_perm`` next to the EXACT shingle-set Jaccard
    and their absolute error — the sketch-QA companion to
    ``ann_recall_eval`` (recall gates the ANN index; this gates the
    MinHash family's accuracy before a dedup threshold is trusted).
    The evaluation population is exactly the pairs the bands surface —
    the pairs a production run would act on.

    Plan: ONE combined per-doc aggregate (signature mins AND the sorted
    shingle set in the same groupBy), band keys exploded FROM the
    signature array (never a shingle re-derive), the banded equi-join
    for candidates, then two joins back to the per-doc frame for
    signatures + sets. All joins key on doc ids or band buckets;
    est_matches is one generated 64-term comparison sum; divisions are
    by the power-of-two ``num_perm`` (exact) and the int-ratio Jaccard
    (correctly rounded identically on both engines).
    """
    exploded = shingle_rows(docs, n)
    base = exploded.select("doc_id", "sh", F.xxhash64("sh").alias("_b"))
    sig = "array(" + ", ".join(
        f"min(xxhash64(_b, {k}))" for k in range(num_perm)
    ) + ")"
    perdoc = base.groupBy("doc_id").agg(
        F.expr(sig).alias("sig"),
        F.sort_array(F.collect_set("sh")).alias("s"),
    )
    rows_per_band = num_perm // bands
    structs = ", ".join(
        "named_struct('band', {i}, 'bucket', xxhash64({elems}))".format(
            i=i,
            elems=", ".join(
                f"element_at(sig, {i * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            ),
        )
        for i in range(bands)
    )
    entries = perdoc.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = entries.alias("a"), entries.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    paired = candidates.join(
        perdoc.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sig").alias("siga"),
            F.col("s").alias("sa"),
        ),
        "doc_a",
    ).join(
        perdoc.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sig").alias("sigb"),
            F.col("s").alias("sb"),
        ),
        "doc_b",
    )
    match_sum = "CAST(" + " + ".join(
        f"CAST(element_at(siga, {k + 1}) = element_at(sigb, {k + 1}) AS INT)"
        for k in range(num_perm)
    ) + " AS BIGINT)"
    est = F.col("est_matches").cast("double") / F.lit(float(num_perm))
    exact = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size(
        F.array_union("sa", "sb")
    ).cast("double")
    return (
        paired.withColumn("est_matches", F.expr(match_sum))
        .withColumn("_exact", exact)
        .select(
            "doc_a",
            "doc_b",
            "est_matches",
            # fround x3: matches/num_perm and shingle-count ratios
            # terminate in decimal (2^a*5^b denominators: 2/64 =
            # 0.03125 is a live 5th-place half) — the r10
            # round-half-tie audit.
            fround(est, 4).alias("est_jaccard"),
            fround(F.col("_exact"), 4).alias("jaccard_exact"),
            fround(F.abs(est - F.col("_exact")), 4).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_error_oracle(num_perm: int = 64, bands: int = 16) -> str:
    """DuckDB twin: the proven signature/band CTE chain of
    ``_minhash_lsh_oracle`` (bit-equal staged xxhash64), extended with
    the per-position agreement sum and the exact-Jaccard join."""
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_long_stage_cols,
        xxh64_str_stage_cols,
    )

    rows_per_band = num_perm // bands
    str_ctes, str_fin = stages_to_ctes(
        "dg", xxh64_str_stage_cols("g", "_mb", pfx="_mxs"), "_msa"
    )
    long_ctes, long_fin = stages_to_ctes(
        str_fin, xxh64_long_stage_cols("_mb", "_mh1", pfx="_mxl"), "_msb"
    )
    perm_ctes, perm_fin = stages_to_ctes(
        long_fin, _minhash_perm_stages("_mh1", num_perm), "_msc"
    )
    perm_cols = ", ".join(f"p._mps{k}" for k in range(num_perm))
    mins = ", ".join(f"MIN(_mps{k}) AS m{k}" for k in range(num_perm))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(
            f"m{i * rows_per_band + r} AS w{r}" for r in range(rows_per_band)
        )
        + " FROM sig"
        for i in range(bands)
    )
    band_eq = " AND ".join(f"a.w{r} = b.w{r}" for r in range(rows_per_band))
    match_sum = "CAST(" + " + ".join(
        f"CAST(x.m{k} = y.m{k} AS INT)" for k in range(num_perm)
    ) + " AS BIGINT)"
    return f"""
    WITH {_SHINGLE_CTES}, dg AS (
      SELECT DISTINCT g FROM ex
    ){str_ctes}{long_ctes}{perm_ctes}, sigsrc AS (
      SELECT e.doc_id, {perm_cols}
      FROM ex e JOIN {perm_fin} p USING (g)
    ), sig AS (
      SELECT doc_id, {mins} FROM sigsrc GROUP BY doc_id
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           {match_sum} AS est_matches,
           (CAST(floor((CAST({match_sum} AS DOUBLE)
                 / {float(num_perm)!r}) * 1e4 + 0.5) AS DOUBLE) / 1e4)
             AS est_jaccard,
           (CAST(floor((CAST(coalesce(s2.shared, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(s2.shared, 0)))
                 * 1e4 + 0.5) AS DOUBLE) / 1e4)
             AS jaccard_exact,
           (CAST(floor((abs(CAST({match_sum} AS DOUBLE) / {float(num_perm)!r}
                     - CAST(coalesce(s2.shared, 0) AS DOUBLE)
                       / (sa.n + sb.n - coalesce(s2.shared, 0))))
                 * 1e4 + 0.5) AS DOUBLE) / 1e4)
             AS abs_err
    FROM cand c
    JOIN sig x ON x.doc_id = c.doc_a
    JOIN sig y ON y.doc_id = c.doc_b
    LEFT JOIN shared s2 ON s2.doc_a = c.doc_a AND s2.doc_b = c.doc_b
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = c.doc_a
    JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = c.doc_b
    ORDER BY 1, 2
    """


@register(
    "minhash_error_eval",
    oracle=_minhash_error_oracle(),
    description="MinHash sketch-accuracy QA over the banded candidate "
    "pairs: per pair, the 64-position signature agreement estimate next "
    "to the exact shingle-set Jaccard and their absolute error — one "
    "combined per-doc aggregate (signatures + sorted shingle set), band "
    "keys exploded from the signature array, banded equi-join, two "
    "id-keyed joins back; the accuracy gate run before trusting a "
    "MinHash dedup threshold (the sketch-family twin of "
    "ann_recall_eval)",
    covers=("N-dedup", "N-quality"),
)
def minhash_error_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_error_eval(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_cluster_sizes",
    oracle=_GUARDED_REACH_CTE
    + """
    , lab AS (
      SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1 ORDER BY 1
    """,
    description="duplicate-cluster size histogram over the transitive "
    "closure of the guarded Jaccard pairs: (cluster_size, n_clusters, "
    "n_docs) — the dedup observability number a curation report leads "
    "with (how much of the corpus is duplicated, and in what clump "
    "sizes: many tiny cliques vs one boilerplate giant need different "
    "responses); aggregates are cluster-count-sized, nothing "
    "corpus-sized moves past the clustering step",
    covers=("N-dedup", "B5"),
)
def dedup_cluster_sizes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.5, max_shingle_df=50
    )
    sizes = (
        duplicate_clusters(pairs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# dedup-rate readout: duplicate share per source
# ---------------------------------------------------------------------------


def dedup_rate_by_source(docs: DataFrame) -> DataFrame:
    """Duplicate share per source — the dedup-QA readout a crawl
    pipeline publishes per ingest feed: what fraction of each source's
    documents share a normalized content fingerprint with ANY other
    document in the corpus (cross-source duplicates count for both
    sides; that is the point — the readout says how much of a feed is
    redundant against everything already held).

    A NULL/empty-normalized text has no fingerprint and is never a
    duplicate: the normalized form is nullif'd against '' BEFORE
    hashing (md5('') is a non-NULL constant, so without the nullif
    every empty- or punctuation-only document would cluster into one
    phantom dup group and inflate n_dups — r9 ADVICE), and md5(NULL)
    is NULL on both engines while the flag requires a non-NULL fp.
    Shares are integer basis points. Shape: one shuffle on the
    fingerprint for the per-fp copy-count window, one |sources|-sized
    aggregate — no join back, no second text scan.
    """
    from pyspark.sql import Window

    normalized = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    )
    base = docs.select(
        "source", F.md5(F.nullif(normalized, F.lit(""))).alias("fp")
    )
    wf = Window.partitionBy("fp")
    flagged = base.select(
        "source",
        (
            F.col("fp").isNotNull()
            & (F.count(F.lit(1)).over(wf) > 1)
        ).cast("bigint").alias("is_dup"),
    )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_dups"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_dups",
        F.when(
            F.col("n_docs") > 0, F.expr("(n_dups * 10000) div n_docs")
        ).cast("long").alias("dup_bp"),
    ).orderBy("source")


@register(
    "dedup_rate_by_source",
    oracle="""
    WITH base AS (
      SELECT source,
             md5(nullif(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ''))
               AS fp
      FROM documents
    ), flagged AS (
      SELECT source,
             CAST(fp IS NOT NULL
                  AND COUNT(*) OVER (PARTITION BY fp) > 1 AS BIGINT)
               AS is_dup
      FROM base
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST((SUM(is_dup) * 10000) // nullif(COUNT(*), 0) AS BIGINT)
             AS dup_bp
    FROM flagged GROUP BY source ORDER BY source
    """,
    description="dedup-QA per ingest feed: share of each source's docs "
    "whose normalized md5 fingerprint repeats anywhere in the corpus "
    "(NULL-text rows never phantom-cluster), integer basis points; one "
    "fp shuffle + one |sources| aggregate, no join back",
    covers=("N-dedup", "N-quality"),
)
def dedup_rate_by_source_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_rate_by_source(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LSH candidate-budget estimator: banding-cost QA (r9)
# ---------------------------------------------------------------------------


def lsh_candidate_budget(
    docs: DataFrame, num_perm: int = 64, bands: int = 16, n: int = 3
) -> DataFrame:
    """Per-band candidate-pair budget of the MinHash banding — the
    capacity-planning readout for the LSH join: each bucket of size c
    contributes ``c*(c-1)/2`` candidate pairs, so this table says
    exactly what the banded self-join will cost BEFORE running it (and
    flags a degenerate band whose giant bucket would dominate the
    shuffle — the skew the df-caps and salting exist for).

    One pass over the band entries (the same persisted-artifact shape
    ``ensure_minhash_bands`` serves), a (band, bucket) count, a
    16-row rollup. Integer arithmetic throughout."""
    entries = minhash_band_entries(docs, num_perm, bands, n)
    buckets = entries.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.coalesce(
                F.sum((F.col("c") >= 2).cast("bigint")), F.lit(0)
            ).cast("bigint").alias("n_collision_buckets"),
            F.max("c").cast("bigint").alias("max_bucket"),
            F.coalesce(
                F.sum(F.expr("(c * (c - 1)) div 2")), F.lit(0)
            ).cast("bigint").alias("est_pairs"),
        )
        .select(
            F.col("band").cast("int").alias("band"),
            "n_buckets",
            "n_collision_buckets",
            "max_bucket",
            "est_pairs",
        )
        .orderBy("band")
    )


def _lsh_budget_oracle(num_perm: int = 64, bands: int = 16) -> str:
    """DuckDB twin: identical signature pipeline to
    :func:`_minhash_lsh_oracle`, but buckets group on each band's raw
    4-tuple instead of Spark's xxhash64 compression of it — equal
    grouping unless distinct 4-tuples collide under xxhash64 (the same
    documented 2^-64 caveat as the pair join)."""
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_long_stage_cols,
        xxh64_str_stage_cols,
    )

    rows_per_band = num_perm // bands
    str_ctes, str_fin = stages_to_ctes(
        "dg", xxh64_str_stage_cols("g", "_mb", pfx="_mxs"), "_msa"
    )
    long_ctes, long_fin = stages_to_ctes(
        str_fin, xxh64_long_stage_cols("_mb", "_mh1", pfx="_mxl"), "_msb"
    )
    perm_ctes, perm_fin = stages_to_ctes(
        long_fin, _minhash_perm_stages("_mh1", num_perm), "_msc"
    )
    perm_cols = ", ".join(f"p._mps{k}" for k in range(num_perm))
    mins = ", ".join(f"MIN(_mps{k}) AS m{k}" for k in range(num_perm))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(
            f"m{i * rows_per_band + r} AS w{r}" for r in range(rows_per_band)
        )
        + " FROM sig"
        for i in range(bands)
    )
    tuple_cols = ", ".join(f"w{r}" for r in range(rows_per_band))
    return f"""
    WITH {_SHINGLE_CTES}, dg AS (
      SELECT DISTINCT g FROM ex
    ){str_ctes}{long_ctes}{perm_ctes}, sigsrc AS (
      SELECT e.doc_id, {perm_cols}
      FROM ex e JOIN {perm_fin} p USING (g)
    ), sig AS (
      SELECT doc_id, {mins} FROM sigsrc GROUP BY doc_id
    ), bnd AS (
      {band_rows}
    ), buckets AS (
      SELECT band, COUNT(*) AS c
      FROM bnd GROUP BY band, {tuple_cols}
    )
    SELECT CAST(band AS INT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COALESCE(SUM(CAST(c >= 2 AS BIGINT)), 0) AS BIGINT)
             AS n_collision_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(COALESCE(SUM((c * (c - 1)) // 2), 0) AS BIGINT)
             AS est_pairs
    FROM buckets GROUP BY band ORDER BY band
    """


@register(
    "lsh_candidate_budget",
    oracle=_lsh_budget_oracle(),
    description="LSH banding cost estimator: per band the bucket count, "
    "collision buckets, max bucket size and sum of c*(c-1)/2 candidate "
    "pairs — what the banded self-join will cost before running it, and "
    "the skew flag for degenerate bands; one (band,bucket) count over "
    "the persisted band-entry shape, 16-row rollup",
    covers=("N-dedup", "B5"),
)
def lsh_candidate_budget_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_budget(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cross-source duplication matrix (r9)
# ---------------------------------------------------------------------------


def dup_source_matrix(docs: DataFrame) -> DataFrame:
    """Which ingest feeds copy from each other: for every source pair,
    how many normalized content fingerprints appear in BOTH — the
    cross-feed companion of ``dedup_rate_by_source`` (that one says how
    much of a feed is redundant; this one says against WHOM).

    Plan: fingerprint scan -> distinct (source, fp) -> self-join on fp
    with source_a < source_b (fp groups are duplicate-clique-sized, so
    the join output is the duplication volume itself, never a cross
    product) -> pair counts. Empty/NULL texts carry no fingerprint
    (nullif before md5, the dedup_rate convention)."""
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    )
    fp = docs.select(
        "source", F.md5(F.nullif(normalized, F.lit(""))).alias("fp")
    ).filter(F.col("fp").isNotNull()).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
        .orderBy(
            F.col("n_shared_fps").desc(),
            F.col("source_a").asc(),
            F.col("source_b").asc(),
        )
    )


@register(
    "dup_source_matrix",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(nullif(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '')) AS fp
      FROM documents
    ), f AS (SELECT source, fp FROM fp WHERE fp IS NOT NULL)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fps
    FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY n_shared_fps DESC, source_a ASC, source_b ASC
    """,
    description="cross-feed duplication matrix: per source pair the "
    "count of shared normalized content fingerprints (who copies from "
    "whom — the counterpart of dedup_rate_by_source's per-feed rate); "
    "distinct (source,fp) self-join on the fingerprint, output sized by "
    "actual duplication",
    covers=("N-dedup", "B11"),
)
def dup_source_matrix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_source_matrix(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# shingle-size sensitivity profile
# ---------------------------------------------------------------------------


def _shingle_k_oracle(ks: tuple[int, ...] = (3, 5, 7)) -> str:
    per_k = []
    for k in ks:
        joins = "x" + "".join(
            f" || ' ' || toks[i+{j}]" for j in range(1, k)
        )
        per_k.append(f"""
      SELECT DISTINCT doc_id, {k} AS k,
             unnest(list_transform(toks[1:len(toks)-{k - 1}],
                                   (x, i) -> {joins})) AS sh
      FROM t WHERE len(toks) >= {k}""")
    union = "\n      UNION ALL".join(per_k)
    return f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
      FROM documents
    ), s AS ({union}
    ), df AS (
      SELECT k, sh, COUNT(*) AS df FROM s GROUP BY k, sh
    )
    SELECT k,
           CAST(SUM(df) AS BIGINT) AS total_doc_shingles,
           CAST(COUNT(*) AS BIGINT) AS distinct_shingles,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_doc_shingles,
           CAST(SUM((df * (df - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM df GROUP BY k ORDER BY k
    """


def shingle_size_sensitivity(
    docs: DataFrame, ks: tuple[int, ...] = (3, 5, 7)
) -> DataFrame:
    """How the shingle size ``k`` moves the fuzzy-dedup candidate space:
    per k, the number of (doc, shingle) set rows, distinct shingles,
    shingles shared across >=2 docs, and the exact LSH candidate-pair
    mass ``Σ_sh C(df_sh, 2)`` — the number the banding planner
    (``lsh_candidate_budget``) bounds, here measured exactly per k.

    The tuning readout before committing a MinHash config: too-small k
    floods the inverted index with cross-doc shingles (quadratic
    candidate blowup), too-large k misses near-dups. Scale shape: one
    narrow shingling pass per k (``shingle_rows`` — index-explode, no
    lambdas, no shuffle) unioned, then ONE (k, shingle) hash aggregate
    and a 3-row rollup; |ks| narrow scans beat one scan + a
    token-stream-sized window shuffle at corpus scale. df·(df−1)
    overflows BIGINT past ~3e9 docs sharing one shingle — past any sane
    ``max_shingle_df`` guard (the ``bm25_search`` overflow-note
    discipline).
    """
    tagged = None
    for k in ks:
        part = shingle_rows(docs, n=k).select(
            F.lit(k).alias("k"), F.col("doc_id"), F.col("sh")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    dfreq = tagged.groupBy("k", "sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        dfreq.groupBy("k")
        .agg(
            F.sum("df").cast("bigint").alias("total_doc_shingles"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("cross_doc_shingles"),
            F.sum(F.expr("(df * (df - 1)) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .orderBy("k")
    )


@register(
    "shingle_size_sensitivity",
    oracle=_shingle_k_oracle(),
    description="fuzzy-dedup tuning readout: per shingle size k in "
    "{3,5,7} the doc-shingle set rows, distinct/cross-doc shingle counts "
    "and the exact LSH candidate-pair mass sum(C(df,2)) — |ks| narrow "
    "index-explode shingling passes + one (k,shingle) aggregate; "
    "all-integer outputs",
    covers=("N-dedup",),
)
def shingle_size_sensitivity_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return shingle_size_sensitivity(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Jaccard threshold sweep (r12)
# ---------------------------------------------------------------------------

#: thresholds swept, in integer basis points (0.5 / 0.7 / 0.8 / 0.9)
DEDUP_SWEEP_THRESHOLDS: tuple[int, ...] = (5000, 7000, 8000, 9000)


def dedup_threshold_sweep(docs: DataFrame) -> DataFrame:
    """Near-dup pair mass per Jaccard THRESHOLD — the threshold-axis
    tuning readout next to :func:`shingle_size_sensitivity`'s shingle-k
    axis: before committing a dedup cut, a pipeline asks how many pairs
    (and how strong) each candidate threshold would fire on.

    The guarded pair space (``max_shingle_df=50`` inverted index, the
    production plan) is computed ONCE at threshold 0; each sweep
    threshold is then a filter over that bounded pair table. Guard
    boundary (pinned by
    ``tests/test_edge_corpus_parity.py::test_sweep_guard_boundary_parity``):
    a shingle shared by EXACTLY 50 docs is kept (contributes C(50,2)
    pairs), by 51 is dropped before pairing; Jaccard denominators stay
    PRE-guard set sizes on both engines. Pairs flow at
    |thresholds| × pairs rows through one explode, NO re-pairing. The
    per-threshold mean Jaccard folds as an exact BIGINT micro-Jaccard
    sum (round(j*1e6) — the quantized-sum discipline), so both engines
    agree bit-for-bit; float threshold compares are safe because the
    raw Jaccard is the identical one-division double on both engines.
    Thresholds with zero qualifying pairs still appear (zero row).
    """
    spark = docs.sparkSession
    pairs = ngram_jaccard_pairs(docs, threshold=0.0, max_shingle_df=50)
    ts = F.array(*[F.lit(t) for t in DEDUP_SWEEP_THRESHOLDS])
    sweep = (
        pairs.select(
            F.explode(ts).alias("threshold_bp"), "jaccard"
        )
        .filter(
            F.col("jaccard")
            >= F.col("threshold_bp").cast("double") / F.lit(10000.0)
        )
        .groupBy("threshold_bp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.round(F.col("jaccard") * F.lit(1.0e6), 0).cast("long")
            ).alias("_sj"),
        )
    )
    universe = spark.range(1).select(
        F.explode(ts).alias("threshold_bp")
    )
    return (
        universe.join(F.broadcast(sweep), "threshold_bp", "left")
        .select(
            F.col("threshold_bp").cast("bigint").alias("threshold_bp"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce(
                F.expr("_sj div n_pairs"), F.lit(0)
            )
            .cast("bigint")
            .alias("mean_jaccard_micro"),
        )
        .orderBy("threshold_bp")
    )


def _sweep_oracle() -> str:
    ts = list(DEDUP_SWEEP_THRESHOLDS)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in range(1, len(t) - 1)]) AS s
      FROM toks WHERE len(t) >= 3
    ), ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh
    ), freq AS (
      SELECT g FROM ex GROUP BY g HAVING COUNT(*) > 50
    ), exg AS (
      SELECT ex.doc_id, ex.g FROM ex ANTI JOIN freq USING (g)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
      FROM shared
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = doc_a
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = doc_b
    ), sweep AS (
      SELECT t.threshold_bp,
             COUNT(*) AS n_pairs,
             SUM(CAST(round(jaccard * 1e6) AS BIGINT)) AS _sj
      FROM pairs, (SELECT unnest({ts}) AS threshold_bp) t
      WHERE jaccard >= CAST(t.threshold_bp AS DOUBLE) / 10000.0
      GROUP BY t.threshold_bp
    )
    SELECT CAST(u.threshold_bp AS BIGINT) AS threshold_bp,
           CAST(COALESCE(s.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(s._sj // s.n_pairs, 0) AS BIGINT)
             AS mean_jaccard_micro
    FROM (SELECT unnest({ts}) AS threshold_bp) u
    LEFT JOIN sweep s USING (threshold_bp)
    ORDER BY threshold_bp
    """


@register(
    "dedup_threshold_sweep",
    oracle=_sweep_oracle(),
    description="dedup-threshold tuning readout: qualifying near-dup "
    "pair counts + exact micro-Jaccard means at thresholds 0.5/0.7/0.8/"
    "0.9 — the guarded inverted-index pair space computed ONCE, each "
    "threshold a filter over the bounded pair table (one explode, no "
    "re-pairing); zero-pair thresholds surface as zero rows",
    covers=("N-dedup",),
)
def dedup_threshold_sweep_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup_threshold_sweep(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# domain-level dedup profile (r13 — VERDICT r12 #7: provenance readout)
# ---------------------------------------------------------------------------


def domain_dedup_profile(docs: DataFrame) -> DataFrame:
    """Per-domain duplication profile — the URL/domain-level dup-mass
    readout every public web-corpus pipeline runs BEFORE document-level
    passes (the ``source`` column plays the host/prefix role in this
    corpus). Per source: document volume, distinct content
    fingerprints, intra-source dup mass, fingerprints shared with other
    sources (cross-source leakage), and the share of documents this
    source would KEEP under a global keep-first canonical dedup
    (``min(doc_id)`` per fingerprint, the :func:`dedup_canonical`
    policy) — i.e. which domains survive dedup and which are boilerplate
    mirrors.

    ONE corpus scan projects (source, doc_id, fp); a (source, fp) hash
    aggregate (map-side partials — dup skew collapses before the
    shuffle) bounds everything after it by DISTINCT content per
    source; the per-fp global rollup is a WINDOW over that reduced
    table, not a join back to a second scan — safe because an fp
    partition holds at most |sources| rows (the table is already
    (source, fp)-distinct), unlike a per-doc fp window; the final
    per-source rollup is |sources|-sized. All outputs exact BIGINTs
    (basis points via integer div). NULL text fingerprints coalesce to
    '' on BOTH engines so NULL-text docs stay counted through the fp
    grouping; a NULL source groups as its own domain.
    """
    from pyspark.sql import Window
    # the fingerprint expression inline (same normalization as
    # operators.text.fingerprint) so source rides the SAME projection —
    # reusing the helper would force a doc_id self-join to re-attach it
    base = docs.select(
        "source",
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
    sf = base.groupBy("source", "fp").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("doc_id").alias("min_doc"),
    )
    wfp = Window.partitionBy("fp")
    joined = sf.withColumn(
        "n_sources", F.count(F.lit(1)).over(wfp)
    ).withColumn("global_min", F.min("min_doc").over(wfp))
    return (
        joined.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique_fps"),
            (F.sum("cnt") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("intra_dup_docs"),
            F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("cross_source_fps"),
            F.sum(
                F.when(F.col("min_doc") == F.col("global_min"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("kept_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique_fps",
            "intra_dup_docs",
            F.expr("(10000 * intra_dup_docs) div n_docs")
            .cast("bigint")
            .alias("intra_dup_bp"),
            "cross_source_fps",
            "kept_docs",
            F.expr("(10000 * kept_docs) div n_docs")
            .cast("bigint")
            .alias("kept_bp"),
        )
        .orderBy("source")
    )


@register(
    "domain_dedup_profile",
    oracle="""
    WITH base AS (
      SELECT source, doc_id,
             COALESCE(md5(trim(regexp_replace(lower(text),
                                              '[^a-z0-9]+', ' ', 'g'))),
                      '') AS fp
      FROM documents
    ), sf AS (
      SELECT source, fp, COUNT(*) AS cnt, MIN(doc_id) AS min_doc
      FROM base GROUP BY 1, 2
    ), fpg AS (
      SELECT fp, COUNT(*) AS n_sources, MIN(min_doc) AS global_min
      FROM sf GROUP BY 1
    )
    SELECT sf.source,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique_fps,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS intra_dup_docs,
           CAST((10000 * (SUM(cnt) - COUNT(*))) // SUM(cnt) AS BIGINT)
             AS intra_dup_bp,
           CAST(SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_source_fps,
           CAST(SUM(CASE WHEN min_doc = global_min THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST((10000 * SUM(CASE WHEN min_doc = global_min
                                  THEN 1 ELSE 0 END)) // SUM(cnt)
                AS BIGINT) AS kept_bp
    FROM sf JOIN fpg USING (fp)
    GROUP BY 1 ORDER BY 1
    """,
    description="domain-level dup-mass profile: per source the doc "
    "volume, distinct fingerprints, intra-source dup mass, cross-source "
    "fingerprint leakage and the kept share under global keep-first "
    "canonical dedup — one corpus scan, (source, fp)-bounded "
    "aggregates, exact bp integers",
    covers=("N-dedup", "N-curation", "B5"),
)
def domain_dedup_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return domain_dedup_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# MinHash-LSH precision/recall evaluation (r13) — the banding QA harness
# ---------------------------------------------------------------------------


def minhash_pr_eval(
    docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Precision/recall of the LSH CANDIDATE stage against the guarded
    exact-Jaccard join — the banding QA number next to
    :func:`minhash_error_eval`'s per-pair estimate error: error_eval
    says how well the signature approximates Jaccard ON candidates; this
    says how much of the true pair mass the 16x4 banding SURFACES at
    all (recall — the quantity LSH actually trades away; the verify
    step already guarantees output precision) and how much verify work
    the band join buys per true pair (candidate precision).

    Truth side = the PRODUCTION exact baseline
    (:func:`ngram_jaccard_pairs` with the ``max_shingle_df=50`` guard),
    so both sides stay sub-quadratic at any corpus size — this harness
    is runnable on the full corpus, not just fixtures. One full-outer
    join of two bounded pair tables folds to a single row of exact
    counts; precision/recall are DOUBLEs (NULL on empty sides, the
    driver-canonicalization rule).
    """
    band_entries = minhash_band_entries(docs, num_perm, bands, n)
    a, b = band_entries.alias("a"), band_entries.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    exact = (
        ngram_jaccard_pairs(docs, threshold, n, max_shingle_df=50)
        .select("doc_a", "doc_b")
        .withColumn("_e", F.lit(1))
    )
    merged = cand.join(exact, ["doc_a", "doc_b"], "full_outer")
    one = merged.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias(
            "n_candidates"
        ),
        F.coalesce(F.sum(F.col("_e") * F.col("_c")), F.lit(0))
        .cast("bigint")
        .alias("tp"),
    )
    return one.select(
        F.lit(int(threshold * 10000)).cast("bigint").alias("threshold_bp"),
        "n_exact",
        "n_candidates",
        "tp",
        (F.col("n_candidates") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_exact") - F.col("tp")).cast("bigint").alias("fn"),
        F.when(
            F.col("n_candidates") > 0,
            F.expr("(10000 * tp) div n_candidates"),
        )
        .cast("double")
        .alias("precision_bp"),
        F.when(F.col("n_exact") > 0, F.expr("(10000 * tp) div n_exact"))
        .cast("double")
        .alias("recall_bp"),
    )


def _minhash_pr_oracle(
    threshold: float = 0.5, num_perm: int = 64, bands: int = 16
) -> str:
    """DuckDB twin: the minhash_lsh_pairs candidate CTE chain (staged
    xxhash64 emulation, 4-tuple band equality — same documented 2^-64
    bucket-collision caveat) next to the GUARDED exact pair chain, one
    full-outer fold."""
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_long_stage_cols,
        xxh64_str_stage_cols,
    )

    rows_per_band = num_perm // bands
    str_ctes, str_fin = stages_to_ctes(
        "dg", xxh64_str_stage_cols("g", "_mb", pfx="_mxs"), "_msa"
    )
    long_ctes, long_fin = stages_to_ctes(
        str_fin, xxh64_long_stage_cols("_mb", "_mh1", pfx="_mxl"), "_msb"
    )
    perm_ctes, perm_fin = stages_to_ctes(
        long_fin, _minhash_perm_stages("_mh1", num_perm), "_msc"
    )
    perm_cols = ", ".join(f"p._mps{k}" for k in range(num_perm))
    mins = ", ".join(f"MIN(_mps{k}) AS m{k}" for k in range(num_perm))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(
            f"m{i * rows_per_band + r} AS w{r}" for r in range(rows_per_band)
        )
        + " FROM sig"
        for i in range(bands)
    )
    band_eq = " AND ".join(f"a.w{r} = b.w{r}" for r in range(rows_per_band))
    return f"""
    WITH {_SHINGLE_CTES}, dg AS (
      SELECT DISTINCT g FROM ex
    ){str_ctes}{long_ctes}{perm_ctes}, sigsrc AS (
      SELECT e.doc_id, {perm_cols}
      FROM ex e JOIN {perm_fin} p USING (g)
    ), sig AS (
      SELECT doc_id, {mins} FROM sigsrc GROUP BY doc_id
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
    ), freq AS (
      SELECT g FROM ex GROUP BY g HAVING COUNT(*) > 50
    ), exg AS (
      SELECT ex.doc_id, ex.g FROM ex ANTI JOIN freq USING (g)
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact AS (
      SELECT doc_a, doc_b
      FROM shared
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = doc_a
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
            >= {threshold}
    ), merged AS (
      SELECT COALESCE(c.doc_a, e.doc_a) AS doc_a,
             (c.doc_a IS NOT NULL)::INT AS _c,
             (e.doc_a IS NOT NULL)::INT AS _e
      FROM cand c
      FULL OUTER JOIN exact e
        ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    ), agg AS (
      SELECT CAST(COALESCE(SUM(_e), 0) AS BIGINT) AS n_exact,
             CAST(COALESCE(SUM(_c), 0) AS BIGINT) AS n_candidates,
             CAST(COALESCE(SUM(_e * _c), 0) AS BIGINT) AS tp
      FROM merged
    )
    SELECT CAST({int(threshold * 10000)} AS BIGINT) AS threshold_bp,
           n_exact, n_candidates, tp,
           CAST(n_candidates - tp AS BIGINT) AS fp,
           CAST(n_exact - tp AS BIGINT) AS fn,
           CAST(CASE WHEN n_candidates > 0
                     THEN (10000 * tp) // n_candidates END AS DOUBLE)
             AS precision_bp,
           CAST(CASE WHEN n_exact > 0
                     THEN (10000 * tp) // n_exact END AS DOUBLE)
             AS recall_bp
    FROM agg
    """


@register(
    "minhash_pr_eval",
    oracle=_minhash_pr_oracle(),
    description="LSH banding precision/recall QA: the 16x4 candidate "
    "stage vs the guarded exact-Jaccard join at threshold 0.5 — tp/fp/"
    "fn exact counts + bp precision (verify work per true pair) and "
    "recall (the mass banding actually surfaces); both sides "
    "sub-quadratic, one full-outer fold to a single row",
    covers=("N-dedup",),
)
def minhash_pr_eval_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pr_eval(load_table(spark, sf_dir, "documents"), 0.5)


# ---------------------------------------------------------------------------
# cross-split near-dup leakage (r13) — the eval-integrity audit
# ---------------------------------------------------------------------------


def cross_split_neardup_leakage(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Near-duplicate pairs that STRADDLE train/val/test splits — the
    eval-integrity audit every public pipeline runs before trusting
    held-out numbers: an exact-dedup pass can't catch a test document
    whose near-copy sits in train, so the verified MinHash-LSH pair
    table is re-keyed by each endpoint's split and cross-split mass is
    surfaced per (split, split) cell with leak share in basis points.

    Zero extra joins: the split is a PURE FUNCTION of doc_id (the
    :func:`~ser_etl_spark.operators.sampling.split_bucket` Knuth hash),
    so both endpoints' splits are stateless projections ON the pair
    table; the rollup is a ≤ 6-row aggregate and the share rides a
    window over it. Pair direction is normalized lexicographically
    (LEAST/GREATEST on the split names) so (train, test) and
    (test, train) fold into one cell on both engines.
    """
    from pyspark.sql import Window

    from ser_etl_spark.operators.sampling import DEFAULT_SPLITS, split_bucket

    def split_of(col: str):
        bucket = split_bucket(col)
        expr = F.lit(None).cast("string")
        for name, lo, hi in reversed(DEFAULT_SPLITS):
            expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(
                expr
            )
        return expr

    pairs = minhash_lsh_pairs(docs, threshold)
    sa, sb = split_of("doc_a"), split_of("doc_b")
    cells = (
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    w = Window.partitionBy()
    return (
        cells.withColumn("_tot", F.sum("n_pairs").over(w))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi"))
            .cast("bigint")
            .alias("cross_split"),
            F.expr("(10000 * n_pairs) div _tot")
            .cast("bigint")
            .alias("share_bp"),
        )
        .orderBy("split_lo", "split_hi")
    )


def _cross_split_oracle(
    threshold: float = 0.5, num_perm: int = 64, bands: int = 16
) -> str:
    """DuckDB twin: the verified MinHash pair chain (staged xxhash64
    emulation, same 2^-64 band-bucket caveat) + the split CASE on both
    endpoints + the 6-cell rollup."""
    from ser_etl_spark.operators.sampling import sql_split_bucket
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        xxh64_long_stage_cols,
        xxh64_str_stage_cols,
    )

    rows_per_band = num_perm // bands
    str_ctes, str_fin = stages_to_ctes(
        "dg", xxh64_str_stage_cols("g", "_mb", pfx="_mxs"), "_msa"
    )
    long_ctes, long_fin = stages_to_ctes(
        str_fin, xxh64_long_stage_cols("_mb", "_mh1", pfx="_mxl"), "_msb"
    )
    perm_ctes, perm_fin = stages_to_ctes(
        long_fin, _minhash_perm_stages("_mh1", num_perm), "_msc"
    )
    perm_cols = ", ".join(f"p._mps{k}" for k in range(num_perm))
    mins = ", ".join(f"MIN(_mps{k}) AS m{k}" for k in range(num_perm))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        + ", ".join(
            f"m{i * rows_per_band + r} AS w{r}" for r in range(rows_per_band)
        )
        + " FROM sig"
        for i in range(bands)
    )
    band_eq = " AND ".join(f"a.w{r} = b.w{r}" for r in range(rows_per_band))

    def split_case(col: str) -> str:
        return (
            f"CASE WHEN {sql_split_bucket(col)} < 80 THEN 'train' "
            f"WHEN {sql_split_bucket(col)} < 90 THEN 'val' "
            f"ELSE 'test' END"
        )

    return f"""
    WITH {_SHINGLE_CTES}, dg AS (
      SELECT DISTINCT g FROM ex
    ){str_ctes}{long_ctes}{perm_ctes}, sigsrc AS (
      SELECT e.doc_id, {perm_cols}
      FROM ex e JOIN {perm_fin} p USING (g)
    ), sig AS (
      SELECT doc_id, {mins} FROM sigsrc GROUP BY doc_id
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shared s2 ON s2.doc_a = c.doc_a AND s2.doc_b = c.doc_b
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = c.doc_a
      JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = c.doc_b
      WHERE CAST(s2.shared AS DOUBLE) / (sa.n + sb.n - s2.shared)
            >= {threshold}
    ), cells AS (
      SELECT LEAST({split_case('doc_a')}, {split_case('doc_b')})
               AS split_lo,
             GREATEST({split_case('doc_a')}, {split_case('doc_b')})
               AS split_hi,
             COUNT(*) AS n_pairs
      FROM verified GROUP BY 1, 2
    )
    SELECT split_lo, split_hi,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(split_lo <> split_hi AS BIGINT) AS cross_split,
           CAST((10000 * n_pairs) // (SELECT SUM(n_pairs) FROM cells)
                AS BIGINT) AS share_bp
    FROM cells
    ORDER BY split_lo, split_hi
    """


@register(
    "cross_split_neardup_leakage",
    oracle=_cross_split_oracle(),
    description="eval-integrity audit: verified MinHash near-dup pairs "
    "re-keyed by each endpoint's train/val/test split (the split is a "
    "pure hash of doc_id — zero extra joins), cross-split leak mass "
    "per normalized (split, split) cell with bp shares over a 6-row "
    "window",
    covers=("N-dedup", "N-curation", "X-sample"),
)
def cross_split_neardup_leakage_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cross_split_neardup_leakage(
        load_table(spark, sf_dir, "documents"), 0.5
    )


# ---------------------------------------------------------------------------
# segment-level boilerplate dedup (r13) — sub-document repeated chunks
# ---------------------------------------------------------------------------

#: segment width in tokens — wide enough that a repeat is boilerplate,
#: not chance phrase reuse
SEGMENT_TOKENS = 16


def segment_dedup_profile(
    docs: DataFrame, seg: int = SEGMENT_TOKENS
) -> DataFrame:
    """Sub-document boilerplate profile: consecutive ``seg``-token
    segments hashed and counted across the corpus — the segment-level
    pass (headers, footers, license blocks, navigation chrome) that
    document-level fingerprints CANNOT see because the surrounding text
    differs. Per source: total segments, segment occurrences whose
    content repeats anywhere in the corpus (the removable boilerplate
    mass, in bp), and distinct segments this source shares with at
    least one OTHER source (template leakage).

    One corpus scan; the segment explosion is position-driven (explode
    of ``transform(sequence(0, n_segs-1), i -> slice(...))`` — a
    higher-order lambda, but ``transform``/``slice`` are codegen'd
    array expressions and the registry-wide codegen gate pins that this
    plan compiles clean) and reduces immediately to
    (source, seg_hash) counts with map-side partials, so the shuffle
    carries 8-byte hashes, never text. The global per-segment rollup is
    a WINDOW over that reduced table (≤ |sources| rows per hash
    partition), the domain-profile pattern — no join back, no second
    scan. Docs shorter than ``seg`` tokens contribute no segments;
    sources with zero segments are absent on both engines.

    Grouping by ``xxhash64`` of the segment text (the oracle groups by
    the text itself) carries the standard 2^-64 per-pair collision
    caveat shared with the MinHash band buckets.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col("text"))), " +")
    base = docs.select("source", toks.alias("_t")).select(
        "source",
        "_t",
        F.expr(f"size(_t) div {seg}").alias("_nseg"),
    )
    exploded = (
        base.filter(F.col("_nseg") >= 1)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, _nseg - 1), "
                    f"i -> slice(_t, i * {seg} + 1, {seg}))"
                )
            ).alias("_seg"),
        )
        .select(
            "source",
            F.xxhash64(F.concat_ws(" ", "_seg")).alias("chash"),
        )
    )
    sf = exploded.groupBy("source", "chash").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wch = Window.partitionBy("chash")
    marked = sf.withColumn("g", F.sum("cnt").over(wch)).withColumn(
        "n_sources", F.count(F.lit(1)).over(wch)
    )
    return (
        marked.groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_segments"),
            F.sum(F.when(F.col("g") >= 2, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("dup_segments"),
            F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("cross_source_segs"),
        )
        .select(
            "source",
            "n_segments",
            "dup_segments",
            F.expr("(10000 * dup_segments) div n_segments")
            .cast("bigint")
            .alias("dup_bp"),
            "cross_source_segs",
        )
        .orderBy("source")
    )


def _segment_dedup_oracle(seg: int = SEGMENT_TOKENS) -> str:
    return f"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), segs AS (
      SELECT source,
             array_to_string(
               t[(i - 1) * {seg} + 1 : (i - 1) * {seg} + {seg}], ' ')
               AS seg
      FROM (SELECT source, t,
                   unnest(generate_series(1, len(t) // {seg})) AS i
            FROM toks WHERE len(t) >= {seg})
    ), sf AS (
      SELECT source, seg, COUNT(*) AS cnt FROM segs GROUP BY 1, 2
    ), g AS (
      SELECT seg, SUM(cnt) AS g, COUNT(*) AS n_sources
      FROM sf GROUP BY 1
    )
    SELECT sf.source,
           CAST(SUM(cnt) AS BIGINT) AS n_segments,
           CAST(COALESCE(SUM(CASE WHEN g >= 2 THEN cnt END), 0) AS BIGINT)
             AS dup_segments,
           CAST((10000 * COALESCE(SUM(CASE WHEN g >= 2 THEN cnt END), 0))
                // SUM(cnt) AS BIGINT) AS dup_bp,
           CAST(COALESCE(SUM(CASE WHEN n_sources >= 2 THEN 1 END), 0)
                AS BIGINT) AS cross_source_segs
    FROM sf JOIN g USING (seg)
    GROUP BY 1 ORDER BY 1
    """


@register(
    "segment_dedup_profile",
    oracle=_segment_dedup_oracle(),
    description="sub-document boilerplate profile: 16-token segment "
    "hashes counted corpus-wide — per source the segment total, the "
    "repeated-segment occurrence mass (removable boilerplate, bp) and "
    "cross-source shared segments; position-driven explode (no "
    "lambdas in the hot path beyond an array slice), 8-byte hashes "
    "through the shuffle, per-hash rollup as a window over the "
    "(source, hash)-reduced table",
    covers=("N-dedup", "N-text", "N-quality"),
)
def segment_dedup_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return segment_dedup_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# cluster source purity (r14)
# ---------------------------------------------------------------------------


def cluster_source_purity(docs: DataFrame) -> DataFrame:
    """Exact-duplicate clusters banded by size and split by source
    purity: how much of the dup mass is same-source re-crawl (pure —
    usually dropped wholesale) vs cross-source syndication (mixed —
    the canonical-choice policy matters there, and it is also the
    template-leakage signal the split audits care about).

    Per normalized-fingerprint cluster: doc count and distinct-source
    count, reduced FIRST to (fp, source) counts (map-side partials;
    the shuffle carries one row per (cluster, source), never per doc),
    then one row per cluster, then a |bands|x2-row rollup. Size bands
    are powers-of-two-ish (1, 2-3, 4-7, 8+) — fixed labels so the
    output schema is scale-independent.

    The fingerprint is ``text.fingerprint``'s normalized-md5 expression
    INLINED (one scan, stateless projection) — joining the fingerprint
    back by doc_id would be a corpus-sized sort-merge join for a
    column derivable in place.
    """
    fp_expr = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "))
    )
    pairs = (
        docs.select("source", fp_expr.alias("fp"))
        .groupBy("fp", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_fp = pairs.groupBy("fp").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    band = (
        F.when(F.col("n_docs") == 1, "1")
        .when(F.col("n_docs") <= 3, "2-3")
        .when(F.col("n_docs") <= 7, "4-7")
        .otherwise("8+")
    )
    return (
        per_fp.select(
            band.alias("size_band"),
            "n_docs",
            (F.col("n_sources") == 1).cast("int").alias("pure"),
        )
        .groupBy("size_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("pure"), F.lit(0))
            .cast("bigint")
            .alias("pure_clusters"),
        )
        .select(
            "size_band",
            "n_clusters",
            "n_docs",
            "pure_clusters",
            (F.col("n_clusters") - F.col("pure_clusters"))
            .cast("bigint")
            .alias("mixed_clusters"),
            F.expr("(10000 * (n_clusters - pure_clusters)) div n_clusters")
            .cast("bigint")
            .alias("mixed_bp"),
        )
        .orderBy("size_band")
    )


@register(
    "cluster_source_purity",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp
      FROM documents
    ), pairs AS (
      SELECT fp, source, COUNT(*) AS cnt FROM fp GROUP BY 1, 2
    ), per_fp AS (
      SELECT fp, CAST(SUM(cnt) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM pairs GROUP BY fp
    ), banded AS (
      SELECT CASE WHEN n_docs = 1 THEN '1'
                  WHEN n_docs <= 3 THEN '2-3'
                  WHEN n_docs <= 7 THEN '4-7'
                  ELSE '8+' END AS size_band,
             n_docs,
             CASE WHEN n_sources = 1 THEN 1 ELSE 0 END AS pure
      FROM per_fp
    )
    SELECT size_band,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(pure), 0) AS BIGINT) AS pure_clusters,
           CAST(COUNT(*) - COALESCE(SUM(pure), 0) AS BIGINT)
             AS mixed_clusters,
           CAST((10000 * (COUNT(*) - COALESCE(SUM(pure), 0))) // COUNT(*)
             AS BIGINT) AS mixed_bp
    FROM banded GROUP BY size_band ORDER BY size_band
    """,
    description="dup-cluster size-band x source-purity rollup (same-"
    "source re-crawl vs cross-source syndication): (fp, source) "
    "reduction -> per-cluster row -> fixed-band rollup; shuffle "
    "carries one row per (cluster, source), never per doc",
    covers=("N-dedup",),
)
def cluster_source_purity_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return cluster_source_purity(load_table(spark, sf_dir, "documents"))
