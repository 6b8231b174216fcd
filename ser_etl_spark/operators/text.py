"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language
identification, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table. Everything
here is built-in-function Spark (JVM, whole-stage codegen) — no Python
in the hot path — and aggregates/derives per row, so it parallelizes
embarrassingly at any scale.

Each operator has an exactly-equivalent DuckDB oracle; expressions are
written with identical operation order on both sides so results are
bit-deterministic (integer-derived double divisions, md5 hex digests,
regex token counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ser_etl_spark.functions.numeric import fround
from ser_etl_spark.registry import register
from ser_etl_spark.sources.parquet import load_table

#: BPE-ish tokenizer: word runs or single non-space punctuation — the
#: standard pre-tokenization regex shape used before byte-pair merges.
TOKEN_REGEX = r"\w+|[^\w\s]"

#: Tiny multilingual stopword table for the language-ID heuristic.
_LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "is")),
    ("es", ("el", "la", "los", "que")),
    ("de", ("der", "die", "und", "nicht")),
    ("fr", ("le", "les", "et", "est")),
)

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _ws_tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (split on space runs)."""
    return F.split(F.trim(col), " +")


def _space_doubled(col: Column) -> Column:
    """Lower/trim text, double every space run, pad with one space.

    Every whitespace token ends up flanked by its own spaces, so a
    pattern ``" (w1|w2) "`` matches a token exactly once with no
    overlap between adjacent tokens — letting ``regexp_count`` replace
    an interpreted higher-order ``filter(tokens, isin)`` (lambda
    functions are CodegenFallback and ~40x slower here; the regex stays
    inside whole-stage codegen).
    """
    return F.concat(
        F.lit(" "), F.regexp_replace(F.lower(F.trim(col)), " +", "  "), F.lit(" ")
    )


def _marker_count(col: Column, markers: tuple[str, ...]) -> Column:
    """Number of whitespace tokens of ``col`` equal to any marker word."""
    return F.regexp_count(_space_doubled(col), F.lit(" (" + "|".join(markers) + ") "))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document counting stats: chars, whitespace tokens, BPE-ish
    tokens, punctuation chars, mean token length."""
    text = F.col("text")
    toks = _ws_tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_chars.alias("chars"),
        n_tokens.alias("ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).alias("bpe_tokens"),
        F.length(F.regexp_replace(text, r"[\w\s]", "")).alias("punct_chars"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword language-ID heuristic (deterministic CASE chain).

    Counts per-language marker stopwords among the whitespace tokens and
    picks the first language (in fixed order) with the strictly highest
    count; ``und`` (undetermined) when no marker appears.

    The argmax is a single ``array_max`` over ``struct(count, -index,
    lang)`` entries plus an ``(0, 1, 'und')`` sentinel: highest count
    wins, ties go to the earliest language, all-zero goes to the
    sentinel — and each per-language count expression is evaluated
    exactly once per row (a ``greatest`` + CASE chain re-evaluates every
    count ~3x).
    """
    text = F.col("text")
    entries = [
        F.struct(
            _marker_count(text, markers).alias("cnt"),
            F.lit(-idx).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for idx, (lang, markers) in enumerate(_LANG_MARKERS)
    ]
    entries.append(
        F.struct(F.lit(0).alias("cnt"), F.lit(1).alias("prio"), F.lit("und").alias("lang"))
    )
    best = F.array_max(F.array(*entries))
    return docs.select("doc_id", best.getField("lang").alias("lang_guess"))


def quality_cols() -> tuple[Column, Column, Column]:
    """The (punct_ratio, stop_ratio, quality) column expressions of
    :func:`quality_score`, exposed so downstream operators
    (``curation.quality_quantile_normalize``) score with the SAME
    arithmetic instead of a drifting copy."""
    text = F.col("text")
    toks = _ws_tokens(F.lower(text))
    n_chars = F.nullif(F.length(text).cast("double"), F.lit(0.0))
    n_tokens = F.size(toks).cast("double")
    n_stop = _marker_count(text, _STOPWORDS).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[\w\s]", "")).cast("double")
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tokens
    length_term = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    score = (
        F.lit(0.4) * length_term
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
    )
    return punct_ratio, stop_ratio, score


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality in [0,1]: favors mid-length docs with
    low punctuation density and a sane stopword ratio (the classic
    pre-training corpus filters, each a cheap columnar expression).

    A zero-length text has no punctuation DENSITY — the ratio (and the
    score built on it) is NULL, matching DuckDB's NULL-on-div-by-zero
    double semantics instead of throwing under Spark's ANSI default
    (found by the r9 empty-string-corpus seam suite). The token ratio
    needs no guard: a split always yields at least one element."""
    punct_ratio, stop_ratio, score = quality_cols()
    return docs.select(
        "doc_id",
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality"),
    )


#: DuckDB twin of :func:`quality_score` — a module constant so downstream
#: oracles (quality_quantile_normalize in curation.py) can splice the
#: SAME text as a subquery instead of duplicating the expression. The
#: string is byte-identical to the pre-r11 inline literal, so the
#: registered quality_score hash is unchanged.
QUALITY_ORACLE_SQL = """
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(len(list_filter(string_split_regex(trim(lower(text)), ' +'),
                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
             / CAST(len(string_split_regex(trim(lower(text)), ' +')) AS DOUBLE) AS stop_ratio,
           0.4 * least(CAST(len(string_split_regex(trim(lower(text)), ' +')) AS DOUBLE) / 64.0, 1.0)
           + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
           + 0.3 * least(CAST(len(list_filter(string_split_regex(trim(lower(text)), ' +'),
                t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
             / CAST(len(string_split_regex(trim(lower(text)), ' +')) AS DOUBLE) * 4.0, 1.0) AS quality
    FROM documents
    """


def fingerprint(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of case/punctuation-normalized text.

    The normalized form (lowercase, non-alphanumeric runs collapsed to
    single spaces) makes the fingerprint stable under formatting-only
    edits — the key for normalized exact-dedup.
    """
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")
    )
    return docs.select("doc_id", F.md5(normalized).alias("fp"))


# ---------------------------------------------------------------------------
# registry entries (documents table)
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS chars,
           len(string_split_regex(trim(text), ' +')) AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS bpe_tokens,
           length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS punct_chars,
           CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), ' +')) AS avg_token_len
    FROM documents
    """,
    description="token counting / char stats (north-star text analysis)",
    covers=("N-text",),
)
def text_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


def _lang_oracle() -> str:
    count_exprs = {
        lang: (
            "len(list_filter(string_split_regex(trim(lower(text)), ' +'), "
            f"t -> list_contains({list(markers)}, t)))"
        )
        for lang, markers in _LANG_MARKERS
    }
    best = "greatest(" + ", ".join(count_exprs.values()) + ")"
    case = "'und'"
    for lang, _ in reversed(_LANG_MARKERS):
        case = (
            f"CASE WHEN {count_exprs[lang]} = best AND best > 0 "
            f"THEN '{lang}' ELSE {case} END"
        )
    return f"""
    WITH scored AS (SELECT doc_id, text, {best} AS best FROM documents)
    SELECT doc_id, {case} AS lang_guess FROM scored
    """


@register(
    "lang_id",
    oracle=_lang_oracle(),
    description="stopword-marker language identification heuristic",
    covers=("N-text",),
)
def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "quality_score",
    oracle=QUALITY_ORACLE_SQL,
    description="pre-training quality filter heuristic (length, punct "
    "density, stopword ratio)",
    covers=("N-text",),
)
def quality_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents
    """,
    description="normalized md5 content fingerprint",
    covers=("N-text",),
)
def fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


def token_frequencies(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k corpus token frequencies — the vocabulary-building pass.

    Explode whitespace tokens, hash-aggregate counts, take the global
    top-k via ORDER BY + LIMIT (``TakeOrderedAndProject`` — partial
    top-k per partition, no global sort). One shuffle on the token;
    at 100 TB the partial map-side counts collapse the long tail before
    it ever crosses the network, and skewed stop-tokens stay single-key
    cheap because the payload is just a count.
    """
    toks = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok").asc())
        .limit(k)
    )


@register(
    "token_frequencies",
    oracle="""
    SELECT tok, COUNT(*) AS freq
    FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY freq DESC, tok ASC
    LIMIT 100
    """,
    description="corpus vocabulary statistics: global top-100 token "
    "frequencies (explode -> hash agg -> top-k, no global sort)",
    covers=("N-text",),
)
def token_frequencies_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_frequencies(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

#: Dialect-portable PII patterns: every construct here (classes, +, {m,n},
#: alternation) parses identically under Java regex (Spark) and RE2-style
#: (DuckDB) — no backrefs, no lookaround, so both engines match the same
#: spans. Email stays deliberately simple (the training-data scrub goal is
#: recall on obvious PII, not RFC 5322).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Detect and redact obvious PII (emails, phone-shaped numbers).

    Adds per-doc match counts and a ``clean_text`` column with matches
    replaced by type tags — the standard pre-training scrub pass. All
    regexp work is JVM-side columnar (regexp_count / regexp_replace);
    no Python per row, stateless, so it composes with any partitioning
    at any corpus size.
    """
    t = F.col(text_col)
    cleaned = F.regexp_replace(
        F.regexp_replace(t, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.length(cleaned).alias("clean_chars"),
        F.md5(cleaned).alias("clean_fp"),
    )


@register(
    "pii_scrub",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
           length(regexp_replace(regexp_replace(text, '{PII_EMAIL}',
                  '<EMAIL>', 'g'), '{PII_PHONE}', '<PHONE>', 'g'))
             AS clean_chars,
           md5(regexp_replace(regexp_replace(text, '{PII_EMAIL}',
               '<EMAIL>', 'g'), '{PII_PHONE}', '<PHONE>', 'g')) AS clean_fp
    FROM documents
    """,
    description="training-pipeline op: PII detection + redaction (emails, "
    "phone shapes) with per-doc counts and a fingerprint of the redacted "
    "text proving both engines produce byte-identical scrubbed output; "
    "dialect-portable regexes, all JVM-side columnar",
    covers=("N-text",),
)
def pii_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TF-IDF term salience
# ---------------------------------------------------------------------------


def top_terms(docs: DataFrame, min_token_len: int = 4) -> DataFrame:
    """Most salient term per document by a TF-IDF-style score.

    Score = tf / (df + 1): term frequency within the doc, discounted by
    corpus document frequency. The classic ``tf * ln(N/df)`` is avoided
    deliberately — ``ln`` is libm-dependent and not correctly-rounded,
    so cross-engine results could differ in the last ulp and flip
    rankings; the rational surrogate is exact integer arithmetic until
    one final division, bit-identical everywhere, and induces the same
    ordering for fixed N. Short tokens (< ``min_token_len`` chars) are
    dropped as stopword-ish noise.

    Scale: explode -> two hash aggregates (per-doc-term tf, per-term df)
    -> broadcast-friendly df join -> per-doc top-1 via ROW_NUMBER. The
    df table is vocabulary-sized (zipf-bounded), far smaller than the
    corpus; the window partitions by doc_id — no global sort.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    ).filter(F.length("tok") >= min_token_len)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(df, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "df",
        (F.col("tf").cast("double") / (F.col("df") + F.lit(1))).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "tf", "df", "score")
    )


@register(
    "top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), toks4 AS (
      SELECT doc_id, tok FROM toks WHERE length(tok) >= 4
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks4 GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM toks4) GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) / (df.df + 1) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) / (df.df + 1) DESC, tf.tok ASC
             ) AS rn
      FROM tf JOIN df USING (tok)
    )
    SELECT doc_id, tok AS top_term, tf, df, score
    FROM scored WHERE rn = 1
    """,
    description="TF-IDF-style term salience: most distinctive term per "
    "document via tf/(df+1) — a deterministic rational idf surrogate "
    "(ln is libm-dependent across engines); explode -> tf/df aggregates "
    "-> vocabulary join -> per-doc top-1 window",
    covers=("N-text",),
)
def top_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_terms(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BM25 relevance search
# ---------------------------------------------------------------------------

#: Fixed multi-term search query for the registered BM25 ranking — four
#: mid-frequency corpus terms, so tf/dl variation (not presence) drives
#: the ranking.
BM25_TERMS: tuple[str, ...] = ("hash", "join", "merge", "sort")


def _bm25_term_sql(i: int, term: str) -> str:
    """One query term's BM25 contribution as dialect-portable SQL.

    Same integer-exact shape as the Spark builder (see
    :func:`bm25_search`): a single double division per term, so both
    engines produce bit-identical scores.
    """
    return (
        f"COALESCE(CAST(44 * tf_{i} * t_toks * (2 * n_docs - 2 * df_{i} + 1)"
        f" AS DOUBLE) / CAST((20 * tf_{i} * t_toks + 6 * t_toks"
        f" + 18 * dl * n_docs) * (2 * df_{i} + 1)"
        f" AS DOUBLE), 0.0)"
    )


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_TERMS,
    k: int = 20,
) -> DataFrame:
    """Top-k documents for a multi-term query, ranked by BM25.

    The text-side sibling of the embedding ANN operators: lexical
    relevance search over the corpus (Robertson-Sparck Jones BM25 with
    the standard k1=1.2, b=0.75). Cross-engine determinism dictates the
    arithmetic shape: ``ln``-idf is libm-dependent, so the rational idf
    surrogate ``(N - df + 0.5) / (df + 0.5)`` is used (same monotone
    ranking for fixed N), and each term's score

        ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``

    is algebraically cleared to ONE double division of two exact BIGINT
    products (k1=6/5, b=3/4, avgdl=t_toks/n_docs; multiply through by
    ``20*t_toks``), then the per-term scores are added in the fixed
    written order — no libm, no FP reassociation, both engines
    bit-identical. Overflow bound: the numerator is
    ``44*tf*t_toks*(2*n_docs - 2*df + 1)``; with realistic doc lengths
    (n_docs ~ t_toks/1000) it crosses 2^63 around ~1e10 corpus tokens,
    past which Spark LongType would wrap silently while DuckDB BIGINT
    raises. Beyond that scale, cast the two factors to DOUBLE — the
    ranking is unchanged within double precision.

    Scale shape: explode -> two hash aggregates (dl per doc, tf per
    doc x query-term) -> a |terms|-row df aggregate and a 1-row totals
    aggregate, both broadcast -> per-doc pivot to fixed columns ->
    global top-k (``TakeOrderedAndProject``, no global sort). The only
    data-sized shuffles key on doc_id.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("t_toks")
    )
    tf = (
        toks.filter(F.col("tok").isin(*query_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    piv = (
        tf.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id")
        .agg(
            *[
                F.max(F.when(F.col("tok") == t, F.col(c))).alias(f"{c}_{i}")
                for i, t in enumerate(query_terms)
                for c in ("tf", "df")
            ]
        )
    )
    scored = piv.join(dl, "doc_id").crossJoin(F.broadcast(totals))

    def term_score(i: int) -> Column:
        tfc, dfc = F.col(f"tf_{i}"), F.col(f"df_{i}")
        num = (
            44 * tfc * F.col("t_toks")
            * (2 * F.col("n_docs") - 2 * dfc + 1)
        )
        den = (
            20 * tfc * F.col("t_toks")
            + 6 * F.col("t_toks")
            + 18 * F.col("dl") * F.col("n_docs")
        ) * (2 * dfc + 1)
        return F.coalesce(
            num.cast("double") / den.cast("double"), F.lit(0.0)
        )

    score = term_score(0)
    for i in range(1, len(query_terms)):
        score = score + term_score(i)
    n_hit = F.lit(0)
    for i in range(len(query_terms)):
        n_hit = n_hit + F.when(F.col(f"tf_{i}").isNotNull(), 1).otherwise(0)
    return (
        scored.select(
            "doc_id",
            "dl",
            n_hit.cast("bigint").alias("n_hit_terms"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _bm25_oracle(limit: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    piv_cols = ",\n           ".join(
        f"MAX(CASE WHEN tok = '{t}' THEN {c} END) AS {c}_{i}"
        for i, t in enumerate(BM25_TERMS)
        for c in ("tf", "df")
    )
    score = "\n         + ".join(
        _bm25_term_sql(i, t) for i, t in enumerate(BM25_TERMS)
    )
    n_hit = " + ".join(
        f"(CASE WHEN tf_{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), totals AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS t_toks FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ({terms})
      GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), piv AS (
      SELECT doc_id,
           {piv_cols}
      FROM tf JOIN dfreq USING (tok) GROUP BY doc_id
    )
    SELECT piv.doc_id, dl.dl,
           CAST({n_hit} AS BIGINT) AS n_hit_terms,
           {score} AS score
    FROM piv JOIN dl USING (doc_id) CROSS JOIN totals
    ORDER BY score DESC, doc_id ASC
    LIMIT {limit}
    """


@register(
    "bm25_search",
    oracle=_bm25_oracle(),
    description="lexical relevance search: top-20 documents for a fixed "
    "4-term query ranked by BM25 (k1=1.2, b=0.75) — rational idf "
    "surrogate and one exact-integer double division per term, so both "
    "engines produce bit-identical scores; broadcast df/totals, "
    "TakeOrderedAndProject top-k",
    covers=("N-text", "N-sim"),
)
def bm25_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_search(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Bigram language-model quality proxy
# ---------------------------------------------------------------------------

#: A document bigram is "rare" when the whole corpus contains it at most
#: this many times — the KenLM-style fluency cut, made deterministic
#: (production pipelines pick the threshold from a held-out percentile).
BIGRAM_RARE_THRESHOLD = 5


def bigram_rare_ratio(
    docs: DataFrame, threshold: int = BIGRAM_RARE_THRESHOLD
) -> DataFrame:
    """Per-document rare-bigram ratio — an LM-free perplexity proxy.

    CCNet/KenLM-style quality filtering scores each document by how
    improbable its token transitions are under a corpus language model;
    the deterministic analog counts the document's bigrams whose CORPUS
    frequency is <= ``threshold``. Machine-generated or shuffled text
    shows a high ``rare_ratio`` (many transitions nobody else makes);
    fluent text repeats common transitions. All arithmetic is integer
    counts plus one final division, so both engines agree bitwise.

    Scale shape: bigrams are built inside the row via
    ``transform(slice(ts, ...))`` over the token array — NO window, no
    per-doc shuffle, embarrassingly parallel — then one hash aggregate
    keyed on the bigram (vocabulary-bounded output) and one join back
    keyed on the bigram feed a per-doc aggregate. Skewed stop-bigrams
    carry only a count payload.
    """
    arr = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("ts"),
    )
    big = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, size(ts) - 1), "
                "(x, i) -> concat(x, ' ', ts[i + 1]))"
            )
        ).alias("bigram"),
    )
    counts = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        big.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c") <= threshold, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rare"),
            F.min("c").alias("min_bigram_freq"),
        )
        .withColumn(
            "rare_ratio",
            F.col("n_rare").cast("double") / F.col("n_bigrams"),
        )
        .orderBy("doc_id")
    )


@register(
    "bigram_rare_ratio",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS ts
      FROM documents
    ), big AS (
      -- list_transform's lambda index i is 1-based: x = ts[i], so
      -- ts[i + 1] is the next token (Spark's transform index is 0-based
      -- with 0-based [], landing on the same pair)
      SELECT doc_id,
             unnest(list_transform(ts[1:len(ts) - 1],
                    (x, i) -> x || ' ' || ts[i + 1])) AS bigram
      FROM arr
    ), counts AS (
      SELECT bigram, COUNT(*) AS c FROM big GROUP BY bigram
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN c <= {BIGRAM_RARE_THRESHOLD} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rare,
           MIN(c) AS min_bigram_freq,
           CAST(SUM(CASE WHEN c <= {BIGRAM_RARE_THRESHOLD} THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*) AS rare_ratio
    FROM big JOIN counts USING (bigram)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    description="LM-free perplexity proxy for quality filtering: per-doc "
    "ratio of bigrams whose corpus frequency <= 5 (CCNet/KenLM fluency "
    "cut made deterministic); bigrams built in-row via transform(slice) "
    "— no window — then vocabulary-bounded hash agg + join back",
    covers=("N-text",),
)
def bigram_rare_ratio_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_rare_ratio(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# token co-occurrence lift: association mining over the top vocabulary
# ---------------------------------------------------------------------------


def token_cooccurrence(
    docs: DataFrame, top_n: int = 40, min_pairs: int = 5
) -> DataFrame:
    """Document-level co-occurrence lift for the top-``top_n`` vocabulary:
    ``(tok_a, tok_b, n_ab, lift)`` where ``lift = P(a,b)/(P(a)P(b))``
    over document presence — the association-mining signal (topic
    clumps, templated boilerplate, collocations) a corpus-analysis pass
    feeds curation with.

    All-pairs token co-occurrence is quadratic in vocabulary; the
    standard bound is to mine only the head: the top-N tokens by
    document frequency (one hash-agg + TakeOrdered, broadcast back), so
    the within-document self-join fans out at most C(N,2) pairs per doc
    — a constant. Counts stay exact integers end to end; lift is ONE
    double division of exact BIGINT products (``n_ab * n_docs`` over
    ``n_a * n_b``), rounded to 6 — bit-deterministic cross-engine, no
    log/exp.
    """
    presence = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    ).distinct()
    # n_docs rides in the plan as a broadcast 1-row aggregate (the
    # synth_partsupp trick) instead of a driver-side count: no separate
    # job, and all three presence subtrees stay in ONE plan so the
    # distinct's Exchange is reused (ReusedExchange) rather than the
    # token stream being re-deduped per branch.
    nd = presence.agg(F.count_distinct("doc_id").alias("_nd"))
    head = (
        presence.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .orderBy(F.col("n_tok").desc(), F.col("tok").asc())
        .limit(top_n)
    )
    p = presence.join(F.broadcast(head), "tok").select(
        "doc_id", "tok", "n_tok"
    )
    pairs = (
        p.alias("a")
        .join(
            p.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            F.col("a.n_tok").alias("n_a"),
            F.col("b.n_tok").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    # fround: integer counts ratio — tie-reachable at the 7th decimal
    # (r10 round-half-tie audit).
    lift = fround(
        (F.col("n_ab") * F.col("_nd")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double"),
        6,
    )
    return (
        pairs.crossJoin(F.broadcast(nd))
        .select("tok_a", "tok_b", "n_ab", lift.alias("lift"))
        .orderBy("tok_a", "tok_b")
    )


@register(
    "token_cooccurrence",
    oracle="""
    WITH pres AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM pres),
    head AS (
      SELECT tok, COUNT(*) AS n_tok FROM pres GROUP BY tok
      ORDER BY n_tok DESC, tok ASC LIMIT 40
    ), p AS (
      SELECT pres.doc_id, pres.tok, head.n_tok
      FROM pres JOIN head USING (tok)
    ), pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, a.n_tok AS n_a,
             b.n_tok AS n_b, COUNT(*) AS n_ab
      FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) >= 5
    )
    SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
           (CAST(floor((CAST(n_ab * nd.n AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE)) * 1e6 + 0.5)
                 AS DOUBLE) / 1e6) AS lift
    FROM pairs, nd
    ORDER BY tok_a, tok_b
    """,
    description="association mining over the vocabulary head: document-"
    "level co-occurrence lift for the top-40 tokens (head by df, "
    "broadcast; within-doc self-join bounded at C(40,2) pairs per doc; "
    "lift = one double division of exact BIGINT products, no log)",
    covers=("N-text",),
)
def token_cooccurrence_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_cooccurrence(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# persisted inverted index (postings) + indexed BM25
# ---------------------------------------------------------------------------

#: token-hash partition count for the postings layout: a query's terms
#: prune to |terms| of these directories
TOK_BUCKETS = 64

#: bump to invalidate previously materialized postings directories
TEXT_POSTINGS_VERSION = 1


def _tok_bucket_py(term: str) -> int:
    """Driver-side twin of the layout's ``pmod(xxhash64(tok), 64)`` —
    the engine-exact xxhash64 from oracle_hash, so a probe always lands
    on the directory the writer chose."""
    from ser_etl_spark.oracle_hash import to_signed, xxh64_bytes

    return to_signed(xxh64_bytes(term.encode())) % TOK_BUCKETS


def postings_frame(docs: DataFrame) -> DataFrame:
    """The inverted index as a DataFrame: one row per (tok, doc_id) with
    term frequency and the doc's length denormalized in (``dl`` rides
    on every posting so scoring needs NO doc-length join at query
    time), plus the ``tok_bucket`` partition column. Repartitioned by
    bucket so each partition directory is written by one task."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.join(dl, "doc_id")
        .withColumn(
            "tok_bucket", F.pmod(F.xxhash64("tok"), F.lit(TOK_BUCKETS))
        )
        .repartition(F.col("tok_bucket"))
    )


def _postings_totals(docs: DataFrame) -> tuple[int, int]:
    """Exact corpus totals (n_docs, total_tokens) — the scalars BM25
    needs globally; mergeable across upserts by plain addition.

    ``n_docs`` counts docs that CONTRIBUTE TOKENS (``count("_n")``, not
    ``count(*)``): scan-time ``bm25_search`` derives its totals from
    the token stream, where a NULL-text doc produces no rows — counting
    it here would inflate N and break the indexed form's bit-equality
    with the scan/oracle (r8 review finding)."""
    row = (
        docs.select(
            F.size(
                F.split(F.trim(F.lower(F.col("text"))), " +")
            ).alias("_n")
        )
        .agg(F.count(F.col("_n")).alias("d"), F.sum("_n").alias("t"))
        .first()
    )
    return int(row["d"] or 0), int(row["t"] or 0)


def build_text_postings(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """Materialize the documents table's inverted index — the lexical
    twin of the ANN index / MinHash band artifacts: pay the tokenize +
    count pass once at snapshot build, then every BM25 query reads only
    its terms' ``tok_bucket=...`` directories (partition pruning) with
    doc lengths already denormalized in. Corpus totals ride in the
    freshness manifest as exact integers (merged per upsert), so query
    time needs no corpus-wide aggregate at all."""
    from ser_etl_spark.artifacts import write_manifest
    from ser_etl_spark.sources.parquet import table_path

    docs = load_table(spark, sf_dir, "documents")
    (
        postings_frame(docs)
        .write.mode("overwrite")
        .partitionBy("tok_bucket")
        .parquet(out_dir)
    )
    n_docs, t_toks = _postings_totals(docs)
    write_manifest(
        out_dir,
        table_path(sf_dir, "documents"),
        TEXT_POSTINGS_VERSION,
        extra={"n_docs": n_docs, "t_toks": t_toks},
    )
    return out_dir


def upsert_text_postings(
    spark: SparkSession,
    postings_dir: str,
    new_docs: DataFrame,
    source_path: str | None = None,
) -> None:
    """Append a new batch's postings — per-(doc, tok) rows are
    independent, so append IS rebuild for the grown corpus (the band
    artifact's property), and the manifest's exact corpus totals merge
    by addition. ``source_path`` = the documents table as grown by this
    batch (the ``upsert_ann_index`` contract); without it the digest is
    not refreshed and published-first resolution will correctly refuse
    the copy until a rebuild."""
    from ser_etl_spark.artifacts import read_manifest, write_manifest

    (
        postings_frame(new_docs)
        .write.mode("append")
        .partitionBy("tok_bucket")
        .parquet(postings_dir)
    )
    if source_path is not None:
        prior = read_manifest(postings_dir)
        d, t = _postings_totals(new_docs)
        write_manifest(
            postings_dir,
            source_path,
            TEXT_POSTINGS_VERSION,
            extra={
                "n_docs": int(prior.get("n_docs", 0)) + d,
                "t_toks": int(prior.get("t_toks", 0)) + t,
            },
        )


def _postings_usable(path: str) -> bool:
    """Structural check (the ``_index_usable`` discipline): committed,
    bucket-partitioned, carrying the scoring columns, and with the
    exact totals present in the manifest."""
    import glob
    import os

    from ser_etl_spark.artifacts import read_manifest

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    parts = glob.glob(os.path.join(path, "tok_bucket=*", "*.parquet"))
    if not parts:
        return False
    try:
        import pyarrow.parquet as pq

        names = set(pq.read_schema(parts[0]).names)
    except Exception:
        return False
    if not {"doc_id", "tok", "tf", "dl"}.issubset(names):
        return False
    m = read_manifest(path)
    return "n_docs" in m and "t_toks" in m


def ensure_text_postings(spark: SparkSession, sf_dir: str) -> str:
    """Resolve the postings artifact for ``sf_dir``: prefer the
    PUBLISHED ``documents_text_postings`` directory when structurally
    usable AND fresh (manifest digest matches the live documents
    table), else a per-user tmp cache keyed by the recursive source
    fingerprint — the ``ensure_ann_index`` resolution, third artifact."""
    import os

    from ser_etl_spark.artifacts import resolve_artifact
    from ser_etl_spark.sources.parquet import table_path

    src = table_path(sf_dir, "documents")
    return resolve_artifact(
        published=os.path.join(sf_dir, "documents_text_postings"),
        source_path=src,
        version=TEXT_POSTINGS_VERSION,
        family="text_postings",
        key_extra="",
        usable=_postings_usable,
        build_fn=lambda tmp: build_text_postings(spark, sf_dir, tmp),
    )


def bm25_search_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_terms: tuple[str, ...] = BM25_TERMS,
    k: int = 20,
) -> DataFrame:
    """BM25 over the PERSISTED postings index: the probe reads only the
    query terms' ``tok_bucket`` directories (PartitionFilters — at 64
    buckets a 4-term query touches <= 4/64 of the index), doc lengths
    are already on the posting rows, and the corpus totals come from
    the manifest as exact integer literals — zero corpus-wide work per
    query. Bit-identical to the scan-time :func:`bm25_search`: same
    tf/df/dl/totals values through the same one-division-per-term
    arithmetic."""
    from ser_etl_spark.artifacts import read_manifest

    idx = ensure_text_postings(spark, sf_dir)
    if not _postings_usable(idx):
        # a corpus with rows but no tokenizable text (every text NULL)
        # builds a ZERO-part-file artifact — spark.read.parquet on it
        # throws schema-inference errors; scan-time bm25 and the oracle
        # return no hits for the same corpus (r8 review finding)
        return spark.createDataFrame(
            [], "doc_id bigint, dl bigint, n_hit_terms bigint, score double"
        )
    m = read_manifest(idx)
    n_docs, t_toks = int(m["n_docs"]), int(m["t_toks"])
    buckets = sorted({_tok_bucket_py(t) for t in query_terms})
    tf = (
        spark.read.parquet(idx)
        .filter(
            F.col("tok_bucket").isin(buckets)
            & F.col("tok").isin(*query_terms)
        )
        .select("doc_id", "tok", "tf", "dl")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    piv = (
        tf.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id", "dl")
        .agg(
            *[
                F.max(F.when(F.col("tok") == t, F.col(c))).alias(f"{c}_{i}")
                for i, t in enumerate(query_terms)
                for c in ("tf", "df")
            ]
        )
    )

    def term_score(i: int) -> Column:
        tfc, dfc = F.col(f"tf_{i}"), F.col(f"df_{i}")
        num = 44 * tfc * F.lit(t_toks) * (2 * F.lit(n_docs) - 2 * dfc + 1)
        den = (
            20 * tfc * F.lit(t_toks)
            + 6 * F.lit(t_toks)
            + 18 * F.col("dl") * F.lit(n_docs)
        ) * (2 * dfc + 1)
        return F.coalesce(
            num.cast("double") / den.cast("double"), F.lit(0.0)
        )

    score = term_score(0)
    for i in range(1, len(query_terms)):
        score = score + term_score(i)
    n_hit = F.lit(0)
    for i in range(len(query_terms)):
        n_hit = n_hit + F.when(F.col(f"tf_{i}").isNotNull(), 1).otherwise(0)
    return (
        piv.select(
            "doc_id",
            "dl",
            n_hit.cast("bigint").alias("n_hit_terms"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


@register(
    "bm25_search_indexed",
    oracle=_bm25_oracle(),
    description="BM25 over the PERSISTED inverted index: postings "
    "partitioned by token-hash bucket (a 4-term query prunes to <= 4/64 "
    "of the index — PartitionFilters), doc lengths denormalized onto "
    "posting rows, exact corpus totals served from the artifact "
    "manifest (merged per upsert) — zero corpus-wide work per query; "
    "bit-identical to scan-time bm25_search, same oracle; the lexical "
    "member of the write-time artifact family (ANN index, band table), "
    "published-first resolution with the freshness gate",
    covers=("N-text", "A9"),
)
def bm25_search_indexed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if docs.first() is None:  # empty corpus: no index, typed empty result
        return spark.createDataFrame(
            [], "doc_id bigint, dl bigint, n_hit_terms bigint, score double"
        )
    return bm25_search_indexed(spark, sf_dir)


def _postings_layout_oracle() -> str:
    """DuckDB twin of the persisted postings layout: the same tf/dl
    aggregation plus the staged xxhash64-of-string emulation
    (oracle_hash) for the bucket assignment — the index BUILD, not just
    probes over it, faces the oracle (the ann_index_layout
    discipline)."""
    from ser_etl_spark.oracle_hash import (
        stages_to_ctes,
        tosigned_sql,
        xxh64_str_stage_cols,
    )

    ctes, fin = stages_to_ctes(
        "dt", xxh64_str_stage_cols("tok", "_ph", pfx="_pxs"), "_ps"
    )
    signed = tosigned_sql("_ph")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(t) AS tok FROM toks
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY doc_id
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY doc_id, tok
    ), dt AS (
      SELECT DISTINCT tok FROM tf
    ){ctes}
    SELECT tf.doc_id, tf.tok, CAST(tf.tf AS BIGINT) AS tf,
           CAST(dl.dl AS BIGINT) AS dl,
           CAST(((({signed}) % {TOK_BUCKETS}) + {TOK_BUCKETS})
                % {TOK_BUCKETS} AS INT) AS tok_bucket
    FROM tf JOIN dl USING (doc_id) JOIN {fin} h USING (tok)
    ORDER BY doc_id, tok
    """


@register(
    "postings_layout",
    oracle=_postings_layout_oracle(),
    description="the persisted inverted-index layout itself as a "
    "relation: every (doc, token) posting's tf, denormalized doc "
    "length, and xxhash64 bucket assignment, read back from the "
    "materialized artifact and checked against staged-hash SQL — the "
    "postings build (not just BM25 probes over it) faces the oracle",
    covers=("N-text", "A9"),
)
def postings_layout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    empty = spark.createDataFrame(
        [], "doc_id bigint, tok string, tf bigint, dl bigint, "
        "tok_bucket int"
    )
    if docs.first() is None:  # empty corpus: no artifact to read back
        return empty
    idx = ensure_text_postings(spark, sf_dir)
    if not _postings_usable(idx):  # tokenless corpus: zero-file artifact
        return empty
    return (
        spark.read.parquet(idx)
        .select(
            "doc_id",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            F.col("tok_bucket").cast("int").alias("tok_bucket"),
        )
        .orderBy("doc_id", "tok")
    )


# ---------------------------------------------------------------------------
# lexical diversity: per-doc type-token ratio (repetitiveness filter)
# ---------------------------------------------------------------------------


def lexical_diversity(docs: DataFrame, k: int = 20) -> DataFrame:
    """The ``k`` most REPETITIVE documents by type-token ratio — the
    lexical-diversity quality filter (low TTR = few distinct tokens
    repeated many times: keyword stuffing, template spam, generation
    loops) that complements ``doc_repetition``'s positional n-gram view
    with a bag-of-words one.

    Exactness: TTR is reported in integer basis points
    (``n_types * 10000 div n_tokens``) so selection and ordering never
    touch a float; ties break on doc_id. Shape: one (doc, token)
    aggregate (map-side partials collapse repeats early), one per-doc
    aggregate, then TakeOrderedAndProject for the top-k — no global
    sort, no second scan of the text.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("tf").alias("n_tokens"),
    )
    ttr_bp = F.expr("(n_types * 10000) div n_tokens")
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            "n_types",
            ttr_bp.cast("long").alias("ttr_bp"),
        )
        .orderBy(F.col("ttr_bp").asc(), F.col("doc_id").asc())
        .limit(k)
    )


@register(
    "lexical_diversity",
    oracle="""
    WITH per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(tf) AS BIGINT) AS n_tokens
      FROM per_tok GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           CAST((n_types * 10000) // n_tokens AS BIGINT) AS ttr_bp
    FROM per_doc
    ORDER BY ttr_bp ASC, doc_id ASC
    LIMIT 20
    """,
    description="lexical-diversity quality filter: top-20 most "
    "repetitive docs by integer-basis-point type-token ratio "
    "(n_types*10000 div n_tokens — no float in selection, doc_id "
    "tiebreak); (doc,token) agg -> doc agg -> TakeOrderedAndProject",
    covers=("N-text", "N-quality", "B8"),
)
def lexical_diversity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lexical_diversity(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# vocabulary growth: Heaps-law readout over stable corpus order
# ---------------------------------------------------------------------------


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Vocabulary-growth curve (the Heaps-law readout): cumulative
    distinct 5-gram count as the corpus is consumed in stable doc_id
    order, reported at ten id-range checkpoints (5-gram shingles, not
    unigrams — the fixture's word vocabulary saturates instantly, while
    the phrase vocabulary keeps growing like real corpora do) — the corpus-health
    signal that separates organic text (vocabulary keeps growing) from
    template/boilerplate floods (curve flattens instantly).

    No ordered scan is needed: a shingle first appears at ``MIN(doc_id)``
    over its postings, so one (shingle → first_doc) aggregate plus a
    decile bucket on the id domain gives new-tokens-per-decile, and the
    cumulative sum runs over TEN aggregated rows. Integer decile math
    ``(first_doc * 10) div (max_doc + 1)`` (safe for ids < ~9e17); the
    1-row max-id aggregate broadcasts.

    Scan economics (the r9 double-scan audit): the bounds row is a
    SECOND scan of documents, but a doc_id-ONLY one — column pruning
    reaches the parquet reader (plan-gated: its ReadSchema is exactly
    ``struct<doc_id:bigint>``), so at 100 TB it reads one thin int64
    column (~0.1% of the table bytes) while the text explode pays the
    full corpus. Folding it into the shingle aggregate was tried and
    rejected: recovering max(doc_id) from the (sh → min,max) aggregate
    needs ReuseExchange to dedupe the two consumers, but their pruned
    partial aggregates differ, so Spark plans TWO full text explodes —
    strictly worse than one explode plus a thin-column scan. The explode
    feeds the (sh → MIN) aggregate DIRECTLY (map-side partial, one
    shuffle) — shingle_rows' per-doc DISTINCT shuffle is skipped because
    MIN doesn't care about duplicate postings.
    """
    from pyspark.sql import Window

    n = 5
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), " +").alias("_t"),
    ).filter(F.size("_t") >= n)
    t = F.col("_t")
    idx = toks.select(
        "doc_id",
        "_t",
        F.explode(F.sequence(F.lit(1), F.size(t) - (n - 1))).alias("_i"),
    )
    i = F.col("_i")
    sh = F.concat_ws(
        " ",
        F.element_at(t, i),
        *[F.element_at(t, i + k) for k in range(1, n)],
    )
    first = (
        idx.select("doc_id", sh.alias("sh"))
        .groupBy("sh")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bounds = docs.agg(F.max("doc_id").alias("max_doc"))
    per = (
        first.crossJoin(F.broadcast(bounds))
        .groupBy(
            # nullif: a corpus whose max id is exactly -1 would divide
            # by zero (ANSI throw on one engine, error on the other);
            # NULL decile groups identically instead
            F.expr(
                "(first_doc * 10) div nullif(max_doc + 1, 0)"
            ).alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.select(
            F.col("decile").cast("long").alias("decile"),
            "new_tokens",
            F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
        )
        .orderBy("decile")
    )


@register(
    "vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh5 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] AS sh
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-4)) AS i
            FROM toks WHERE len(t) >= 5)
    ), first AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM sh5 GROUP BY sh
    ), b AS (
      SELECT MAX(doc_id) AS max_doc FROM documents
    ), per AS (
      SELECT (first_doc * 10) // nullif(max_doc + 1, 0) AS decile,
             COUNT(*) AS new_tokens
      FROM first, b GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(new_tokens AS BIGINT) AS new_tokens,
           CAST(SUM(new_tokens) OVER (
             ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS vocab_size
    FROM per ORDER BY decile
    """,
    description="Heaps-law vocabulary-growth curve: first-appearance "
    "decile per 5-gram via ONE (shingle, MIN(doc_id)) aggregate "
    "(explode feeds the partial agg directly — no per-doc DISTINCT "
    "shuffle) + integer decile math against the broadcast max-id row "
    "(a doc_id-only column-pruned scan, plan-gated thin); cumulative "
    "sum over ten aggregated rows only — no ordered corpus scan",
    covers=("N-text", "X-window"),
)
def vocab_growth_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_growth(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# character-class composition: script/noise profile per language
# ---------------------------------------------------------------------------


def charclass_profile(docs: DataFrame) -> DataFrame:
    """Per-language character-class composition — letters, digits and
    spaces as integer basis points of all characters: the cheap script/
    noise profile that catches encoding corruption, number floods and
    markup residue before tokenization (complement of
    ``quality_score``'s token-level ratios).

    Every class count is an exact BIGINT (length of the class-filtered
    string — the regexes use only portable character classes, identical
    under Java and RE2 dialects); shares are integer ``x*10000 div
    total`` basis points guarded against empty groups. One scan, one
    |langs|-sized hash aggregate with map-side partials.
    """
    t = F.lower(F.col("text"))
    base = docs.select(
        "lang",
        F.length(t).alias("chars"),
        F.length(F.regexp_replace(t, "[^a-z]", "")).alias("letters"),
        F.length(F.regexp_replace(t, "[^0-9]", "")).alias("digits"),
        F.length(F.regexp_replace(t, "[^ ]", "")).alias("spaces"),
    ).filter(F.col("chars").isNotNull())
    agg = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("total_chars"),
        F.sum("letters").alias("s_l"),
        F.sum("digits").alias("s_d"),
        F.sum("spaces").alias("s_s"),
    )
    def bp(col: str):
        return F.when(
            F.col("total_chars") > 0,
            F.expr(f"({col} * 10000) div total_chars"),
        ).cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        bp("s_l").alias("letter_bp"),
        bp("s_d").alias("digit_bp"),
        bp("s_s").alias("space_bp"),
    ).orderBy("lang")


@register(
    "charclass_profile",
    oracle="""
    WITH base AS (
      SELECT lang,
             length(lower(text)) AS chars,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
               AS letters,
             length(regexp_replace(lower(text), '[^0-9]', '', 'g'))
               AS digits,
             length(regexp_replace(lower(text), '[^ ]', '', 'g')) AS spaces
      FROM documents WHERE text IS NOT NULL
    ), agg AS (
      SELECT lang, COUNT(*) AS n_docs,
             SUM(chars) AS total_chars, SUM(letters) AS s_l,
             SUM(digits) AS s_d, SUM(spaces) AS s_s
      FROM base GROUP BY lang
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST((s_l * 10000) // nullif(total_chars, 0) AS BIGINT)
             AS letter_bp,
           CAST((s_d * 10000) // nullif(total_chars, 0) AS BIGINT)
             AS digit_bp,
           CAST((s_s * 10000) // nullif(total_chars, 0) AS BIGINT)
             AS space_bp
    FROM agg ORDER BY lang
    """,
    description="per-language character-class composition in integer "
    "basis points (letters/digits/spaces via portable class regexes, "
    "exact BIGINT counts, div-guarded shares) — encoding/noise QA in "
    "one scan + one |langs| aggregate",
    covers=("N-text", "N-quality", "B5"),
)
def charclass_profile_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return charclass_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# language-ID confusion matrix: classifier vs labels
# ---------------------------------------------------------------------------


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the marker-stopword language classifier
    against the corpus's labeled ``lang`` column — the QA table that
    says where the cheap classifier can be trusted before it gates
    ingest (precision per label, and which confusions dominate).

    The classifier is the same single-evaluation argmax as
    :func:`language_id`, restated inline so the verified ``lang_id``
    helper stays untouched (the shared-helper holdout rule); the label
    rides through the one scan, so there is NO self-join. Counts are
    exact; the per-label share is integer basis points over a window on
    the aggregated (|langs|²-bounded) rows.
    """
    from pyspark.sql import Window

    text = F.col("text")
    entries = [
        F.struct(
            _marker_count(text, markers).alias("cnt"),
            F.lit(-idx).alias("prio"),
            F.lit(lang).alias("lang"),
        )
        for idx, (lang, markers) in enumerate(_LANG_MARKERS)
    ]
    entries.append(
        F.struct(
            F.lit(0).alias("cnt"), F.lit(1).alias("prio"),
            F.lit("und").alias("lang"),
        )
    )
    best = F.array_max(F.array(*entries))
    counts = (
        docs.select("lang", best.getField("lang").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    wl = Window.partitionBy("lang")
    return (
        counts.select(
            "lang",
            "lang_guess",
            "n_docs",
            F.expr("(n_docs * 10000)")
            .cast("long")
            .alias("_scaled"),
            F.sum("n_docs").over(wl).alias("_tot"),
        )
        .select(
            "lang",
            "lang_guess",
            "n_docs",
            F.expr("_scaled div _tot").cast("long").alias("share_bp"),
        )
        .orderBy("lang", "lang_guess")
    )


def _langid_confusion_oracle() -> str:
    count_exprs = {
        lang: (
            "len(list_filter(string_split_regex(trim(lower(text)), ' +'), "
            f"t -> list_contains({list(markers)}, t)))"
        )
        for lang, markers in _LANG_MARKERS
    }
    best = "greatest(" + ", ".join(count_exprs.values()) + ")"
    case = "'und'"
    for lang, _ in reversed(_LANG_MARKERS):
        case = (
            f"CASE WHEN {count_exprs[lang]} = best AND best > 0 "
            f"THEN '{lang}' ELSE {case} END"
        )
    return f"""
    WITH scored AS (SELECT lang, text, {best} AS best FROM documents),
    counts AS (
      SELECT lang, {case} AS lang_guess, COUNT(*) AS n_docs
      FROM scored GROUP BY 1, 2
    )
    SELECT lang, lang_guess, n_docs,
           CAST((n_docs * 10000)
                // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
             AS share_bp
    FROM counts ORDER BY lang, lang_guess
    """


@register(
    "langid_confusion",
    oracle=_langid_confusion_oracle(),
    description="language-classifier QA: confusion matrix of the "
    "marker-stopword argmax vs the labeled lang column (label rides "
    "the single scan — no self-join); exact counts, integer-bp shares "
    "via a window over the |langs|^2-bounded aggregate",
    covers=("N-text", "N-quality"),
)
def langid_confusion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return langid_confusion(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# source signature terms: contrastive keywords per ingest feed
# ---------------------------------------------------------------------------


def source_signature_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """The ``k`` most DISTINCTIVE tokens per source — contrastive
    keyword extraction (what does this feed talk about that the rest of
    the corpus doesn't?), the qualitative companion to
    ``dominant_lang_share`` when an ingest feed drifts.

    The salience score is pure integer ppm contrast:
    ``tf_src·10⁶ div toks_src − tf_all·10⁶ div toks_all`` — a token
    over-represented in the source scores high, corpus-common tokens
    cancel out; no logs, no floats, deterministic (score DESC, token
    ASC tiebreak). Shape: one (source, token) aggregate over the
    exploded stream, token-keyed and source-keyed window sums over the
    AGGREGATED rows, the 1-row corpus total broadcast, and a per-source
    rank window — raw text is scanned once.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf_s"))
    ws = Window.partitionBy("source")
    wt = Window.partitionBy("tok")
    totals = tf.agg(F.sum("tf_s").alias("n_all"))
    staged = (
        tf.select(
            "source",
            "tok",
            "tf_s",
            F.sum("tf_s").over(ws).alias("n_s"),
            F.sum("tf_s").over(wt).alias("tf_all"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            "tok",
            "tf_s",
            F.expr(
                "(tf_s * 1000000) div n_s - (tf_all * 1000000) div n_all"
            ).cast("long").alias("score_ppm"),
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.col("score_ppm").desc(), F.col("tok").asc()
    )
    return (
        staged.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("source", "rnk", "tok", "tf_s", "score_ppm")
        .orderBy("source", "rnk")
    )


@register(
    "source_signature_terms",
    oracle="""
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS tf_s
      FROM (
        SELECT source,
               unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        FROM documents)
      GROUP BY 1, 2
    ), staged AS (
      SELECT source, tok, tf_s,
             (tf_s * 1000000)
               // SUM(tf_s) OVER (PARTITION BY source)
             - (SUM(tf_s) OVER (PARTITION BY tok) * 1000000)
               // SUM(tf_s) OVER ()
               AS score_ppm
      FROM tf
    )
    SELECT source, rnk, tok, tf_s, CAST(score_ppm AS BIGINT) AS score_ppm
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY score_ppm DESC, tok ASC) AS BIGINT) AS rnk
      FROM staged)
    WHERE rnk <= 3
    ORDER BY source, rnk
    """,
    description="contrastive keywords per source: integer ppm contrast "
    "score (in-source rate minus corpus rate, div-exact, no logs), "
    "per-source top-3 with token tiebreak; one text scan, windows only "
    "over the (source, token) aggregate",
    covers=("N-text", "X-window", "N-quality"),
)
def source_signature_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_signature_terms(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# quality filter funnel: staged drop accounting (r9)
# ---------------------------------------------------------------------------

#: funnel thresholds (fixture-scale; production corpora use the Gopher
#: bands — 50..100k words, mean word length 3..10 — the SHAPE is what
#: matters: every rule is one columnar integer comparison)
FUNNEL_MIN_TOKENS = 10
FUNNEL_WLEN_LO = 2
FUNNEL_WLEN_HI = 12
FUNNEL_DISTINCT_X10 = 3  # distinct-token ratio >= 0.3


def funnel_stage_flags() -> list[Column]:
    """CUMULATIVE per-doc pass flags for the 5 funnel stages, as column
    expressions over a ``text`` column (NULL-safe: a NULL verdict is a
    fail). ``flags[-1]`` is the all-stages admission flag — shared by
    the batch funnel and the streaming quality gate so both report the
    same filter."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), " +", " ")
    toks = F.split(norm, " ")
    n_tok = F.size(toks)
    n_chr = F.length(norm)
    n_dis = F.size(F.array_distinct(toks))
    n_stop = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    f1 = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    f2 = n_tok >= F.lit(FUNNEL_MIN_TOKENS)
    # mean word length = (n_chr - n_tok + 1) / n_tok, compared integer-side
    wl = n_chr - n_tok + F.lit(1)
    f3 = (wl >= n_tok * F.lit(FUNNEL_WLEN_LO)) & (
        wl <= n_tok * F.lit(FUNNEL_WLEN_HI)
    )
    f4 = n_dis * F.lit(10) >= n_tok * F.lit(FUNNEL_DISTINCT_X10)
    f5 = n_stop >= F.lit(1)
    cum, cums = F.lit(True), []
    for f in (f1, f2, f3, f4, f5):
        cum = cum & F.coalesce(f, F.lit(False))
        cums.append(cum)
    return cums


def quality_filter_funnel(docs: DataFrame) -> DataFrame:
    """Staged quality-filter FUNNEL over the corpus: for each filter, in
    order, how many documents entered, were dropped by it, and
    survived — the accounting readout every pre-training corpus
    pipeline publishes next to its filters (``quality_score`` ranks;
    this explains where volume went).

    Stages (each one whole-stage-codegen integer arithmetic — ratios
    are compared as cross-multiplied integers, never divided):

    1. ``nonempty``       — text present and not whitespace-only
    2. ``min_tokens``     — >= FUNNEL_MIN_TOKENS whitespace tokens
    3. ``word_length``    — mean token length within [2, 12] chars
    4. ``distinct_ratio`` — >= 30% of tokens distinct (repetition gate)
    5. ``has_stopword``   — at least one stopword token (gibberish gate)

    One corpus scan computes every per-doc flag; one tiny aggregate
    yields cumulative survivor counts; the 5-row funnel is a constant
    unpivot of that single row. Drop accounting is CUMULATIVE (a doc
    failing stages 2 and 4 is charged to stage 2 only), matching how a
    sequential filter pipeline actually discards."""
    cums = funnel_stage_flags()
    # COALESCE: on an empty corpus SUM is NULL and would float the
    # BIGINT funnel columns through the driver's pandas path
    agg = docs.agg(
        F.count(F.lit(1)).alias("c0"),
        *[
            F.coalesce(F.sum(c.cast("bigint")), F.lit(0)).alias(f"c{i + 1}")
            for i, c in enumerate(cums)
        ],
    )
    names = ("nonempty", "min_tokens", "word_length", "distinct_ratio",
             "has_stopword")
    stack = ", ".join(
        f"{i + 1}, '{nm}', c{i}, c{i + 1}" for i, nm in enumerate(names)
    )
    return (
        agg.selectExpr(
            f"stack({len(names)}, {stack}) AS "
            "(stage_no, stage, docs_in, docs_out)"
        )
        .select(
            F.col("stage_no").cast("int").alias("stage_no"),
            "stage",
            F.col("docs_in").cast("bigint").alias("docs_in"),
            (F.col("docs_in") - F.col("docs_out"))
            .cast("bigint")
            .alias("docs_dropped"),
            F.col("docs_out").cast("bigint").alias("docs_out"),
        )
        .orderBy("stage_no")
    )


def _funnel_oracle() -> str:
    stop_list = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
    return f"""
    WITH d AS (
      SELECT text,
             regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm
      FROM documents
    ), m AS (
      SELECT text,
             string_split(norm, ' ') AS t,
             length(norm) AS n_chr
      FROM d
    ), fl AS (
      SELECT
        COALESCE(text IS NOT NULL AND trim(text) <> '', FALSE) AS f1,
        COALESCE(len(t) >= {FUNNEL_MIN_TOKENS}, FALSE) AS f2,
        COALESCE(n_chr - len(t) + 1 BETWEEN
                 len(t) * {FUNNEL_WLEN_LO} AND len(t) * {FUNNEL_WLEN_HI},
                 FALSE) AS f3,
        COALESCE(len(list_distinct(t)) * 10 >=
                 len(t) * {FUNNEL_DISTINCT_X10}, FALSE) AS f4,
        COALESCE(len(list_filter(t,
                 x -> list_contains({stop_list}, x))) >= 1, FALSE) AS f5
      FROM m
    ), c AS (
      SELECT COUNT(*) AS c0,
             CAST(COALESCE(SUM(CAST(f1 AS BIGINT)), 0) AS BIGINT) AS c1,
             CAST(COALESCE(SUM(CAST(f1 AND f2 AS BIGINT)), 0) AS BIGINT)
               AS c2,
             CAST(COALESCE(SUM(CAST(f1 AND f2 AND f3 AS BIGINT)), 0)
               AS BIGINT) AS c3,
             CAST(COALESCE(SUM(CAST(f1 AND f2 AND f3 AND f4 AS BIGINT)), 0)
               AS BIGINT) AS c4,
             CAST(COALESCE(SUM(CAST(f1 AND f2 AND f3 AND f4 AND f5
               AS BIGINT)), 0) AS BIGINT) AS c5
      FROM fl
    )
    SELECT stage_no, stage, docs_in, docs_in - docs_out AS docs_dropped,
           docs_out
    FROM (
      SELECT 1 AS stage_no, 'nonempty' AS stage, c0 AS docs_in,
             c1 AS docs_out FROM c
      UNION ALL SELECT 2, 'min_tokens', c1, c2 FROM c
      UNION ALL SELECT 3, 'word_length', c2, c3 FROM c
      UNION ALL SELECT 4, 'distinct_ratio', c3, c4 FROM c
      UNION ALL SELECT 5, 'has_stopword', c4, c5 FROM c
    )
    ORDER BY stage_no
    """


@register(
    "quality_filter_funnel",
    oracle=_funnel_oracle(),
    description="staged quality-filter funnel: per filter (nonempty, "
    "min-tokens, mean-word-length band, distinct-token ratio, stopword "
    "presence) the docs in/dropped/out under sequential application — "
    "one corpus scan of integer flag arithmetic, one scalar aggregate, "
    "constant 5-row unpivot",
    covers=("N-quality", "N-text"),
)
def quality_filter_funnel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_filter_funnel(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# document rarity (surprisal proxy) top-k (r9)
# ---------------------------------------------------------------------------

#: integer surprisal scale: score(token) = RARITY_SCALE div corpus_freq
RARITY_SCALE = 1_000_000_000


def doc_rarity_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """The ``k`` most SURPRISING documents under a unigram corpus model —
    the perplexity-filter stand-in that needs no logarithm (ln/exp are
    libm-dependent and would break cross-engine determinism): each
    token occurrence scores ``RARITY_SCALE div corpus_frequency`` (an
    exact integer — rare tokens score big), a document's surprisal is
    the exact integer SUM, and the rarity is the integer
    per-token mean. High rarity = the gibberish/OCR-noise tail a
    perplexity filter would flag; everything is associative integer
    arithmetic, deterministic under any partitioning.

    Plan: ONE token explode into a (doc_id, tok) count aggregate; both
    the vocabulary frequencies (a second-level sum over that frame) and
    the per-doc scores (broadcast join back by token) derive from the
    SAME shuffled aggregate, so the corpus explode-scan runs once —
    Spark's ReuseExchange dedupes the shared hash-partitioning(doc_id,
    tok) subtree (the r9 verdict flagged the old toks-used-twice form as
    a double corpus scan; plan-gated single-scan now). Vocabularies are
    tiny relative to corpora, so freq broadcasts; per-doc aggregate,
    TakeOrdered top-k."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("tok"),
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    freq = dt.groupBy("tok").agg(F.sum("c").alias("tf"))
    scored = (
        dt.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            # per-occurrence score * occurrences: identical algebra to
            # summing RARITY_SCALE div tf once per occurrence
            F.sum(F.expr(f"c * ({RARITY_SCALE} div tf)")).alias("surprisal"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("surprisal").cast("bigint").alias("surprisal"),
            F.expr("surprisal div n_tokens").cast("bigint").alias(
                "rarity_per_token"
            ),
        )
        .orderBy(F.col("rarity_per_token").desc(), F.col("doc_id").asc())
        .limit(k)
    )


@register(
    "doc_rarity_topk",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
      FROM documents
    ), f AS (
      SELECT tok, COUNT(*) AS tf FROM tk GROUP BY tok
    ), s AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM({RARITY_SCALE} // tf) AS BIGINT) AS surprisal
      FROM tk JOIN f USING (tok) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, surprisal,
           CAST(surprisal // n_tokens AS BIGINT) AS rarity_per_token
    FROM s
    ORDER BY rarity_per_token DESC, doc_id ASC
    LIMIT 20
    """,
    description="top-20 most surprising docs under a unigram corpus "
    "model: integer surprisal (RARITY_SCALE div corpus token frequency, "
    "summed exactly — the log-free perplexity-filter proxy), per-token "
    "integer mean, TakeOrdered; one explode + vocab-sized broadcast "
    "join, no doubles anywhere",
    covers=("N-quality", "N-text", "B8"),
)
def doc_rarity_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_rarity_topk(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# per-source length quartiles: exact grouped order statistics (r9)
# ---------------------------------------------------------------------------


def source_length_quartiles(docs: DataFrame) -> DataFrame:
    """Exact n_chars quartiles (min/p25/p50/p75/max) per source via
    ORDER STATISTICS, not interpolation: the p-quantile is the value at
    rank ``ceil(p*n)`` under the (n_chars, doc_id) total order — pure
    integer arithmetic, so the result is engine-exact where
    percentile_cont's interpolated doubles are not (and the discrete
    value is what a length-cap policy actually applies).

    Scale (the spend_gini/lorenz distinct-value discipline, hardened r10
    for the dominant-source seam): the window ranks VALUE RUNS — one
    hash aggregate collapses rows to distinct (source, n_chars) pairs
    with counts, and the per-source window walks those runs. A window
    over raw rows would serialize a mega-source (90% of a 100 TB corpus
    in one source = one task); the run window's partition size is
    bounded by the number of DISTINCT lengths in that source (≤ max doc
    length, thousands), independent of its row count. The rank-t order
    statistic is the first run whose cumulative count reaches t — the
    same value the row-ranked form picks, tie-insensitively (every copy
    of a value is inside its run)."""
    from pyspark.sql.window import Window

    runs = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc())
    staged = runs.select(
        "source",
        "n_chars",
        "cnt",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )

    def pick2(p_pct: int, name: str):
        # ceil(p*n) in pure integers: (p_pct*n + 99) div 100; the run
        # containing that rank is the one where the cumulative count
        # first reaches it
        target = F.expr(f"(({p_pct} * n) + 99) div 100")
        return F.max(
            F.when(
                (F.col("cum") - F.col("cnt") < target)
                & (target <= F.col("cum")),
                F.col("n_chars"),
            )
        ).alias(name)

    return (
        staged.groupBy("source")
        .agg(
            F.min("n_chars").cast("bigint").alias("min_chars"),
            pick2(25, "p25_chars"),
            pick2(50, "p50_chars"),
            pick2(75, "p75_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.max("n").cast("bigint").alias("n_docs"),
        )
        .select(
            "source", "n_docs", "min_chars",
            F.col("p25_chars").cast("bigint").alias("p25_chars"),
            F.col("p50_chars").cast("bigint").alias("p50_chars"),
            F.col("p75_chars").cast("bigint").alias("p75_chars"),
            "max_chars",
        )
        .orderBy("source")
    )


@register(
    "source_length_quartiles",
    oracle="""
    WITH runs AS (
      SELECT source, n_chars, COUNT(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY source, n_chars
    ), staged AS (
      SELECT source, n_chars, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM runs
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(CASE WHEN cum - cnt < ((25 * n) + 99) // 100
                          AND ((25 * n) + 99) // 100 <= cum
                         THEN n_chars END) AS BIGINT) AS p25_chars,
           CAST(MAX(CASE WHEN cum - cnt < ((50 * n) + 99) // 100
                          AND ((50 * n) + 99) // 100 <= cum
                         THEN n_chars END) AS BIGINT) AS p50_chars,
           CAST(MAX(CASE WHEN cum - cnt < ((75 * n) + 99) // 100
                          AND ((75 * n) + 99) // 100 <= cum
                         THEN n_chars END) AS BIGINT) AS p75_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM staged GROUP BY source ORDER BY source
    """,
    description="exact per-source n_chars quartiles as ORDER STATISTICS "
    "(value at rank ceil(p*n), pure integer rank arithmetic — the "
    "discrete value a length policy applies, engine-exact unlike "
    "interpolated percentile_cont); the window ranks distinct-value "
    "RUNS (partition size = distinct lengths per source, mega-source "
    "safe), conditional-aggregate picks, no arrays",
    covers=("N-text", "X-window", "B4"),
)
def source_length_quartiles_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return source_length_quartiles(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# robust (median/MAD) length-outlier screen per source (r10)
# ---------------------------------------------------------------------------


def _run_order_stat(
    staged: DataFrame, val: str, rank_expr: str, out: str
) -> DataFrame:
    """Attach the order statistic at integer rank ``rank_expr`` (over a
    per-source value-RUN frame carrying ``cnt``/``cum``/``n``) as column
    ``out`` on every row of the source's partition — a second window
    over the SAME per-source run partitioning, so no extra shuffle and
    no join back. The statistic is the run containing the target rank
    (cum-cnt < t <= cum)."""
    from pyspark.sql.window import Window

    whole = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.expr(rank_expr)
    return staged.withColumn(
        out,
        F.max(
            F.when(
                (F.col("cum") - F.col("cnt") < t) & (t <= F.col("cum")),
                F.col(val),
            )
        ).over(whole),
    )


def mad_length_outliers(docs: DataFrame, k_mad: int = 3) -> DataFrame:
    """Robust per-source length-outlier screen: median ``n_chars``, the
    MAD (median absolute deviation), and how many docs sit more than
    ``k_mad`` MADs from the median — the outlier gate a curation
    pipeline prefers over mean/stddev because one 100 MB page doesn't
    drag the threshold (breakdown point 50% vs 0%).

    Everything is EXACT INTEGER order statistics (median at rank
    ceil(n/2) is a data value, deviations are |int - int|, the MAD is a
    data value again), so both engines agree bit-for-bit with no float
    in sight. Scale is the distinct-value-run discipline
    (``source_length_quartiles``): ONE corpus scan collapses to
    (source, n_chars) runs; the median rides a whole-partition window
    over RUNS (bounded by distinct lengths, mega-source safe); the
    deviation frame is a second RUN-LEVEL aggregate of the same rows
    (no corpus rescan — deviations group many lengths together); the
    MAD rides the same window trick; the outlier count is one final
    conditional sum over deviation runs."""
    from pyspark.sql.window import Window

    runs = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc())
    whole = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = runs.select(
        "source",
        "n_chars",
        "cnt",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(whole).alias("n"),
    )
    med = _run_order_stat(staged, "n_chars", "(n + 1) div 2", "med")
    dev_runs = (
        med.groupBy("source", F.abs(F.col("n_chars") - F.col("med")).alias("dev"))
        .agg(F.sum("cnt").alias("cnt"), F.max("med").alias("med"))
    )
    wd = Window.partitionBy("source").orderBy(F.col("dev").asc())
    dev_staged = dev_runs.select(
        "source",
        "dev",
        "cnt",
        "med",
        F.sum("cnt").over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(whole).alias("n"),
    )
    mad = _run_order_stat(dev_staged, "dev", "(n + 1) div 2", "mad")
    return (
        mad.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.max("med").cast("bigint").alias("median_chars"),
            F.max("mad").cast("bigint").alias("mad_chars"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("dev") > F.lit(k_mad) * F.col("mad"),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_outliers"),
        )
        .orderBy("source")
    )


@register(
    "mad_length_outliers",
    oracle="""
    WITH runs AS (
      SELECT source, n_chars, COUNT(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY source, n_chars
    ), staged AS (
      SELECT source, n_chars, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM runs
    ), med AS (
      SELECT *,
             MAX(CASE WHEN cum - cnt < (n + 1) // 2
                       AND (n + 1) // 2 <= cum THEN n_chars END)
               OVER (PARTITION BY source) AS med
      FROM staged
    ), dev_runs AS (
      SELECT source, abs(n_chars - med) AS dev,
             SUM(cnt) AS cnt, MAX(med) AS med
      FROM med GROUP BY source, abs(n_chars - med)
    ), dev_staged AS (
      SELECT source, dev, cnt, med,
             SUM(cnt) OVER (PARTITION BY source ORDER BY dev ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM dev_runs
    ), mad AS (
      SELECT *,
             MAX(CASE WHEN cum - cnt < (n + 1) // 2
                       AND (n + 1) // 2 <= cum THEN dev END)
               OVER (PARTITION BY source) AS mad
      FROM dev_staged
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(med) AS BIGINT) AS median_chars,
           CAST(MAX(mad) AS BIGINT) AS mad_chars,
           CAST(COALESCE(SUM(CASE WHEN dev > 3 * mad THEN cnt END), 0)
                AS BIGINT) AS n_outliers
    FROM mad GROUP BY source ORDER BY source
    """,
    description="robust per-source length-outlier screen: exact integer "
    "median/MAD as order statistics over distinct-value RUNS (one corpus "
    "scan, run-bounded windows — mega-source safe), outliers = docs "
    "beyond 3 MADs; the curation gate a single giant page cannot drag",
    covers=("N-text", "N-quality", "X-window"),
)
def mad_length_outliers_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_length_outliers(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# quality pass rates by (lang, source): the filter-bias matrix (r9)
# ---------------------------------------------------------------------------


def quality_by_lang(docs: DataFrame) -> DataFrame:
    """Funnel pass rates cross-tabulated by (lang, source) — the
    FAIRNESS readout for a quality filter: a gate tuned on one language
    silently starves another, and this matrix is how that shows up
    before training does. Reuses the exact admission flag the batch
    funnel and streaming gate apply (one shared definition, three
    surfaces). One scan, one (lang, source) aggregate."""
    passed = funnel_stage_flags()[-1]
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(passed.cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias("n_pass"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_pass",
            F.expr("(n_pass * 10000) div n_docs").cast("bigint").alias(
                "pass_bp"
            ),
        )
        .orderBy("lang", "source")
    )


def _quality_by_lang_oracle() -> str:
    stop_list = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
    return f"""
    WITH m AS (
      SELECT lang, source, text,
             string_split(regexp_replace(trim(lower(text)),
               ' +', ' ', 'g'), ' ') AS t,
             length(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
               AS n_chr
      FROM documents
    ), fl AS (
      SELECT lang, source,
             COALESCE(text IS NOT NULL AND trim(text) <> '', FALSE)
             AND COALESCE(len(t) >= {FUNNEL_MIN_TOKENS}, FALSE)
             AND COALESCE(n_chr - len(t) + 1 BETWEEN
                 len(t) * {FUNNEL_WLEN_LO} AND len(t) * {FUNNEL_WLEN_HI},
                 FALSE)
             AND COALESCE(len(list_distinct(t)) * 10 >=
                 len(t) * {FUNNEL_DISTINCT_X10}, FALSE)
             AND COALESCE(len(list_filter(t,
                 x -> list_contains({stop_list}, x))) >= 1, FALSE)
               AS passed
      FROM m
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CAST(passed AS BIGINT)), 0) AS BIGINT)
             AS n_pass,
           CAST((COALESCE(SUM(CAST(passed AS BIGINT)), 0) * 10000)
                // COUNT(*) AS BIGINT) AS pass_bp
    FROM fl GROUP BY lang, source ORDER BY lang, source
    """


@register(
    "quality_by_lang",
    oracle=_quality_by_lang_oracle(),
    description="quality-filter fairness matrix: funnel pass rates per "
    "(lang, source) in integer basis points — the same admission flag "
    "as the batch funnel and streaming gate, cross-tabulated; one scan, "
    "one keyed aggregate",
    covers=("N-quality", "B5"),
)
def quality_by_lang_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_by_lang(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# shingle document-frequency histogram: the df-cap design readout (r9)
# ---------------------------------------------------------------------------

#: power-of-2 df band edges (CASE chain — no log2, which is libm)
_DF_BANDS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)


def shingle_df_histogram(docs: DataFrame, n: int = 3) -> DataFrame:
    """Document-frequency histogram of word n-grams in power-of-2
    bands — the design readout behind every ``max_shingle_df`` /
    ``max_anchor_df`` guard in the dedup family: it says exactly how
    many shingles (and what share of index mass) a given df cap drops.

    The band is a CASE chain over integer df (log2 is libm and would
    break cross-engine determinism). Scale: the shingle aggregate is
    the dedup family's standard (doc_id, sh) shuffle; the histogram
    itself is |bands|-sized."""
    from ser_etl_spark.operators.dedup import shingle_rows

    df_tbl = shingle_rows(docs, n).groupBy("sh").agg(
        F.count(F.lit(1)).alias("df")
    )
    band = F.lit(len(_DF_BANDS))
    for i, edge in reversed(list(enumerate(_DF_BANDS))):
        band = F.when(F.col("df") <= F.lit(edge), F.lit(i)).otherwise(band)
    return (
        df_tbl.select(band.alias("band_no"), "df")
        .groupBy("band_no")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("postings_mass"),
        )
        .select(
            F.col("band_no").cast("int").alias("band_no"),
            "n_shingles",
            "postings_mass",
        )
        .orderBy("band_no")
    )


def _df_hist_oracle(n: int = 3) -> str:
    case = "CASE "
    for i, edge in enumerate(_DF_BANDS):
        case += f"WHEN df <= {edge} THEN {i} "
    case += f"ELSE {len(_DF_BANDS)} END"
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, unnest(
        [{gram} for i in range(1, len(t) - {n - 2})]) AS sh
      FROM toks WHERE len(t) >= {n}
    ), dfs AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    )
    SELECT CAST({case} AS INT) AS band_no,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS postings_mass
    FROM dfs GROUP BY 1 ORDER BY 1
    """


@register(
    "shingle_df_histogram",
    oracle=_df_hist_oracle(),
    description="shingle document-frequency histogram in power-of-2 "
    "bands (CASE chain, no libm log2): how many n-grams and how much "
    "postings mass each dedup df-cap choice would drop; one (doc_id,sh) "
    "aggregate + a |bands|-sized rollup",
    covers=("N-dedup", "B5"),
)
def shingle_df_histogram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_df_histogram(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# code-switching share: mixed-language QA per source (r9)
# ---------------------------------------------------------------------------


def code_switch_share(docs: DataFrame) -> DataFrame:
    """Share of each source's documents carrying marker words from TWO
    OR MORE languages — the mixed-language/code-switching readout a
    language-filter pipeline publishes next to its language-ID pass
    (a doc the classifier calls 'en' but that is half Spanish trains
    differently than a clean one). Counts ride the same marker
    expressions as lang_id, so the two QA surfaces can't drift apart.
    One scan, one source aggregate, exact integers."""
    text = F.col("text")
    lang_hits = None
    for _lang, markers in _LANG_MARKERS:
        hit = (_marker_count(text, markers) > 0).cast("int")
        lang_hits = hit if lang_hits is None else lang_hits + hit
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(
                F.sum((lang_hits >= 2).cast("bigint")), F.lit(0)
            ).cast("bigint").alias("n_mixed"),
        )
        .select(
            "source",
            "n_docs",
            "n_mixed",
            F.expr("(n_mixed * 10000) div n_docs").cast("bigint").alias(
                "mixed_bp"
            ),
        )
        .orderBy("source")
    )


def _code_switch_oracle() -> str:
    hits = " + ".join(
        "CAST(len(list_filter(string_split_regex(trim(lower(text)), ' +'),"
        f" t -> list_contains({list(markers)}, t))) > 0 AS INT)"
        for _lang, markers in _LANG_MARKERS
    )
    return f"""
    WITH d AS (
      SELECT source, ({hits}) AS lang_hits FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CAST(lang_hits >= 2 AS BIGINT)), 0) AS BIGINT)
             AS n_mixed,
           CAST((COALESCE(SUM(CAST(lang_hits >= 2 AS BIGINT)), 0) * 10000)
                // COUNT(*) AS BIGINT) AS mixed_bp
    FROM d GROUP BY source ORDER BY source
    """


@register(
    "code_switch_share",
    oracle=_code_switch_oracle(),
    description="mixed-language QA: share of each source's docs with "
    "marker words from >= 2 languages (the code-switching readout next "
    "to lang_id, same marker expressions); one scan, one source "
    "aggregate, integer basis points",
    covers=("N-text", "N-quality"),
)
def code_switch_share_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return code_switch_share(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tokenizer compression ratio
# ---------------------------------------------------------------------------


def tokenizer_compression_ratio(docs: DataFrame) -> DataFrame:
    """Per-source tokenizer compression profile: how many characters one
    BPE-ish token carries (``chars/token``, integer basis points), with
    the whitespace-token baseline alongside.

    The fertility readout a tokenizer-selection pass publishes per
    source: low chars-per-token means the tokenizer fragments that
    source (e.g. non-Latin scripts on a Latin-heavy vocab), which
    inflates its effective training cost; the ws-token column separates
    tokenizer fragmentation from genuinely short words. One scan, one
    |sources| hash aggregate (map-side partials), all-integer outputs —
    ``10000*chars div tokens`` — so both engines agree exactly; a
    source with zero tokens reports 0 (cannot happen for non-empty
    text, pinned for the empty-corpus seam).
    """
    text = F.col("text")
    return (
        docs.select(
            "source",
            F.length(text).alias("_c"),
            F.size(_ws_tokens(text)).alias("_w"),
            F.size(
                F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)
            ).alias("_b"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_c").cast("bigint").alias("total_chars"),
            F.sum("_w").cast("bigint").alias("ws_tokens"),
            F.sum("_b").cast("bigint").alias("bpe_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "ws_tokens",
            "bpe_tokens",
            F.when(F.col("bpe_tokens") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * total_chars) div bpe_tokens"))
            .cast("bigint")
            .alias("chars_per_bpe_bp"),
            F.when(F.col("ws_tokens") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * total_chars) div ws_tokens"))
            .cast("bigint")
            .alias("chars_per_ws_bp"),
        )
        .orderBy("source")
    )


@register(
    "tokenizer_compression",
    oracle=f"""
    WITH s AS (
      SELECT source, length(text) AS _c,
             len(string_split_regex(trim(text), ' +')) AS _w,
             len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS _b
      FROM documents
    ), agg AS (
      SELECT source, COUNT(*) AS n_docs, SUM(_c) AS total_chars,
             SUM(_w) AS ws_tokens, SUM(_b) AS bpe_tokens
      FROM s GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(ws_tokens AS BIGINT) AS ws_tokens,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(CASE WHEN bpe_tokens = 0 THEN 0
                ELSE (10000 * total_chars) // bpe_tokens END AS BIGINT)
             AS chars_per_bpe_bp,
           CAST(CASE WHEN ws_tokens = 0 THEN 0
                ELSE (10000 * total_chars) // ws_tokens END AS BIGINT)
             AS chars_per_ws_bp
    FROM agg ORDER BY source
    """,
    description="per-source tokenizer fertility: chars per BPE-ish token "
    "and per whitespace token in integer basis points — the compression "
    "readout a tokenizer-selection pass publishes; one scan, one "
    "|sources| aggregate, all-integer math",
    covers=("N-text",),
)
def tokenizer_compression_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenizer_compression_ratio(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# corpus composition rollup
# ---------------------------------------------------------------------------


def corpus_rollup(docs: DataFrame) -> DataFrame:
    """ROLLUP hierarchy over the corpus composition: per (lang, source),
    per lang, and grand total — docs, characters, and whitespace tokens
    in one pass. The OLAP composition dashboard of the training corpus,
    and the text-domain sibling of ``sales_rollup``: Catalyst expands
    the grouping sets with a single shuffle, partial aggregation intact;
    all-integer outputs."""
    text = F.col("text")
    return (
        docs.select(
            "lang",
            "source",
            F.length(text).alias("_c"),
            F.size(_ws_tokens(text)).alias("_w"),
        )
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("chars"),
            F.coalesce(F.sum("_w"), F.lit(0)).cast("bigint").alias("ws_tokens"),
        )
    )


@register(
    "corpus_rollup",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS chars,
           CAST(COALESCE(SUM(len(string_split_regex(trim(text), ' +'))), 0)
                AS BIGINT) AS ws_tokens
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
    description="corpus composition ROLLUP: docs/chars/ws-tokens per "
    "(lang, source), per lang, and grand total in one pass — single "
    "grouping-sets shuffle with map-side partials, all-integer outputs; "
    "the text-domain sibling of sales_rollup",
    covers=("B5", "N-text"),
)
def corpus_rollup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_rollup(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII scan (r12)
# ---------------------------------------------------------------------------

#: PII detectors as (name, regex) — portable across Java (Spark) and
#: RE2 (DuckDB) dialects: character classes + bounded repetition only,
#: no lookaround, no backreferences. The digit-run catches phone/SSN/
#: account-number shapes; precision is a policy knob, recall is what a
#: redaction pass audits.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}"),
    ("digit_run", r"[0-9]{7,}"),
)


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-source PII exposure audit: documents flagged by any detector
    (email address, IPv4, long digit run) plus per-detector hit totals
    and the flagged share in integer basis points — the redaction-pass
    readout a training-data pipeline publishes before release.

    Scale: stateless per-row ``regexp_count`` (whole-stage codegen, no
    Python), ONE corpus scan into a |sources|-row hash aggregate with
    map-side partials. NULL text carries no matches (counts coalesce
    to 0 and the doc is unflagged) on both engines.
    """
    cols = [
        F.coalesce(
            F.regexp_count(F.col("text"), F.lit(pat)), F.lit(0)
        ).alias(f"_n_{name}")
        for name, pat in PII_PATTERNS
    ]
    flagged = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"_n_{name}") > 0
        flagged = c if flagged is None else (flagged | c)
    per_doc = docs.select("source", *cols).withColumn(
        "_flagged", flagged.cast("int")
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_flagged").cast("bigint").alias("docs_flagged"),
        *[
            F.sum(f"_n_{name}").cast("bigint").alias(f"n_{name}")
            for name, _ in PII_PATTERNS
        ],
    )
    return agg.select(
        "source",
        "n_docs",
        "docs_flagged",
        *[f"n_{name}" for name, _ in PII_PATTERNS],
        F.expr("(10000 * docs_flagged) div n_docs")
        .cast("bigint")
        .alias("flagged_bp"),
    ).orderBy("source")


def _pii_oracle() -> str:
    counts = ",\n             ".join(
        f"COALESCE(len(regexp_extract_all(text, '{pat}')), 0) AS _n_{name}"
        for name, pat in PII_PATTERNS
    )
    any_flag = " OR ".join(f"_n_{name} > 0" for name, _ in PII_PATTERNS)
    sums = ",\n           ".join(
        f"CAST(SUM(_n_{name}) AS BIGINT) AS n_{name}"
        for name, _ in PII_PATTERNS
    )
    names = ", ".join(f"n_{name}" for name, _ in PII_PATTERNS)
    return f"""
    WITH d AS (
      SELECT source,
             {counts}
      FROM documents
    ), f AS (
      SELECT source,
             CASE WHEN {any_flag} THEN 1 ELSE 0 END AS _flagged,
             d.* EXCLUDE (source)
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(_flagged) AS BIGINT) AS docs_flagged,
           {sums},
           CAST((10000 * SUM(_flagged)) // COUNT(*) AS BIGINT) AS flagged_bp
    FROM f GROUP BY source ORDER BY source
    """


@register(
    "pii_scan",
    oracle=_pii_oracle(),
    description="PII exposure audit per source: docs flagged by any "
    "detector (email / IPv4 / 7+ digit run) + per-detector hit totals "
    "and flagged share in basis points — stateless regexp_count per "
    "row (codegen, portable Java/RE2 patterns), one scan into a "
    "|sources|-row aggregate",
    covers=("N-quality", "N-text"),
)
def pii_scan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# intra-document repetition (r12)
# ---------------------------------------------------------------------------


def intra_doc_repetition(docs: DataFrame) -> DataFrame:
    """Per-source intra-document repetition profile: adjacent duplicate
    tokens (the "word word word" degeneration every repetition filter
    targets) as exact counts — docs affected, total adjacent repeats,
    and the repeat share of all token ADJACENCIES in basis points.

    The adjacent-pair comparison is a ``zip_with`` over the token list
    and its shift — array-local, no explode, no shuffle beyond the
    |sources|-row aggregate. Both engines compare the same (i, i+1)
    pairs: Spark zips ``slice(t, 1, n-1)`` with ``slice(t, 2, n-1)``;
    DuckDB's indexed lambda is 1-based so ``t[i + 1]`` addresses the
    same neighbor. Empty/NULL text contributes zero pairs.
    """
    toks = _ws_tokens(F.lower(F.col("text")))
    n = F.size(toks)
    reps = F.when(
        F.col("text").isNull() | (n < 2), F.lit(0)
    ).otherwise(
        F.aggregate(
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    pairs = F.when(F.col("text").isNull() | (n < 2), F.lit(0)).otherwise(
        n - 1
    )
    per_doc = docs.select(
        "source", reps.alias("_reps"), pairs.alias("_pairs")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_reps") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_repeats"),
            F.sum("_reps").cast("bigint").alias("n_repeats"),
            F.sum("_pairs").cast("bigint").alias("n_adjacencies"),
        )
        .select(
            "source",
            "n_docs",
            "docs_with_repeats",
            "n_repeats",
            "n_adjacencies",
            F.when(F.col("n_adjacencies") == 0, F.lit(0))
            .otherwise(F.expr("(10000 * n_repeats) div n_adjacencies"))
            .cast("bigint")
            .alias("repeat_bp"),
        )
        .orderBy("source")
    )


@register(
    "intra_doc_repetition",
    oracle="""
    WITH d AS (
      SELECT source,
             CASE WHEN text IS NULL
                       OR len(string_split_regex(trim(lower(text)), ' +')) < 2
                  THEN 0
                  ELSE list_sum(list_transform(
                         string_split_regex(trim(lower(text)), ' +'),
                         (x, i) -> CASE WHEN i < len(string_split_regex(
                                             trim(lower(text)), ' +'))
                                         AND x = string_split_regex(
                                             trim(lower(text)), ' +')[i + 1]
                                        THEN 1 ELSE 0 END))
             END AS _reps,
             CASE WHEN text IS NULL
                       OR len(string_split_regex(trim(lower(text)), ' +')) < 2
                  THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), ' +')) - 1
             END AS _pairs
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN _reps > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_repeats,
           CAST(SUM(_reps) AS BIGINT) AS n_repeats,
           CAST(SUM(_pairs) AS BIGINT) AS n_adjacencies,
           CAST(CASE WHEN SUM(_pairs) = 0 THEN 0
                ELSE (10000 * SUM(_reps)) // SUM(_pairs) END AS BIGINT)
             AS repeat_bp
    FROM d GROUP BY source ORDER BY source
    """,
    description="repetition-filter readout per source: adjacent "
    "duplicate tokens (docs affected, repeat count, repeat share of "
    "token adjacencies in bp) — array-local zip_with against the "
    "shifted token list, no explode, one scan + |sources|-row aggregate",
    covers=("N-quality", "N-text"),
)
def intra_doc_repetition_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return intra_doc_repetition(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII redaction preview (r12)
# ---------------------------------------------------------------------------

#: replacement tokens per detector, applied IN :data:`PII_PATTERNS`
#: order (emails first — their local parts may contain digit runs that
#: must not double-count for the later detectors).
PII_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("email", "[EMAIL]"),
    ("ipv4", "[IP]"),
    ("digit_run", "[NUM]"),
)


def pii_redact(docs: DataFrame) -> DataFrame:
    """Redaction preview: flagged documents with their redacted text and
    the per-detector replacement counts — the transform twin of
    :func:`pii_scan` (the audit says how much; this is what the kept
    corpus would actually look like).

    Each detector counts matches against the text AS ALREADY REDACTED
    by the previous detectors, then replaces them — so an email's digits
    never double-count as a digit run, identically on both engines
    (sequential ``regexp_count`` + ``regexp_replace`` chain, fixed
    order). Stateless per row (codegen, no Python); only flagged rows
    survive, so the result is redaction-sized, not corpus-sized.
    """
    pats = dict(PII_PATTERNS)
    cur = F.col("text")
    counts = []
    for name, rep in PII_REPLACEMENTS:
        pat = pats[name]
        counts.append(
            F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, rep)
    out = docs.select(
        "doc_id", *counts, cur.alias("redacted_text")
    )
    total = None
    for name, _ in PII_REPLACEMENTS:
        c = F.col(f"n_{name}")
        total = c if total is None else (total + c)
    return (
        out.withColumn("n_redactions", total.cast("bigint"))
        .filter(F.col("n_redactions") > 0)
        .select(
            "doc_id",
            "n_email",
            "n_ipv4",
            "n_digit_run",
            "n_redactions",
            "redacted_text",
        )
        .orderBy("doc_id")
    )


def _pii_redact_oracle() -> str:
    pats = dict(PII_PATTERNS)
    cur = "text"
    count_cols = []
    for name, rep in PII_REPLACEMENTS:
        pat = pats[name]
        count_cols.append(
            f"CAST(COALESCE(len(regexp_extract_all({cur}, '{pat}')), 0)"
            f" AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{rep}', 'g')"
    counts = ",\n             ".join(count_cols)
    total = " + ".join(f"n_{name}" for name, _ in PII_REPLACEMENTS)
    return f"""
    WITH d AS (
      SELECT doc_id,
             {counts},
             {cur} AS redacted_text
      FROM documents
    )
    SELECT doc_id, n_email, n_ipv4, n_digit_run,
           CAST({total} AS BIGINT) AS n_redactions,
           redacted_text
    FROM d
    WHERE {total} > 0
    ORDER BY doc_id
    """


@register(
    "pii_redact",
    oracle=_pii_redact_oracle(),
    description="redaction preview (transform twin of pii_scan): flagged "
    "docs with redacted text + per-detector replacement counts — "
    "sequential count-then-replace chain so earlier detectors' matches "
    "never double-count for later ones; stateless per-row codegen, "
    "redaction-sized output",
    covers=("N-quality", "N-text"),
)
def pii_redact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# boilerplate prefix mining (r13)
# ---------------------------------------------------------------------------


def doc_prefix_cluster_profile(
    docs: DataFrame, k_tokens: int = 5, topk: int = 20
) -> DataFrame:
    """Shared document-prefix clusters — the boilerplate/header
    detection readout a web-corpus pipeline runs before dedup: pages
    from the same template open with the same first tokens, so the
    hottest ``k_tokens``-token prefixes ARE the template inventory
    (and their source spread says whether a template is one site's or
    a syndication network's).

    One corpus scan projects the prefix key (first ``k_tokens``
    whitespace tokens — short docs contribute their whole token list);
    a prefix hash aggregate counts docs and distinct sources; the
    top-``topk`` ride a TakeOrderedAndProject (per-partition heaps,
    never a global sort — a full sort on the prefix table is
    corpus-sized at 100 TB). The corpus share denominator comes from a
    thin doc-count aggregate (column-pruned second scan, the
    ``vocab_growth`` normalizer discipline) broadcast to the 20-row
    top table. Ties at the cut are pinned by the (n_docs DESC, prefix
    ASC) total order on both engines; NULL/empty texts are out of
    scope on both.
    """
    eligible = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
    )
    toks = F.split(F.trim(F.col("text")), " +")
    grouped = (
        eligible.select(
            F.array_join(F.slice(toks, 1, k_tokens), " ").alias("prefix"),
            "source",
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
    )
    top = grouped.orderBy(F.desc("n_docs"), F.asc("prefix")).limit(topk)
    total = eligible.select(F.count(F.lit(1)).cast("bigint").alias("_tot"))
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "prefix",
            "n_docs",
            "n_sources",
            F.expr("(10000 * n_docs) div _tot")
            .cast("bigint")
            .alias("share_bp"),
        )
        .orderBy(F.desc("n_docs"), F.asc("prefix"))
    )


@register(
    "doc_prefix_cluster_profile",
    oracle="""
    WITH eligible AS (
      SELECT source, string_split_regex(trim(text), ' +') AS t
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0
    ), g AS (
      SELECT array_to_string(t[1:5], ' ') AS prefix,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources
      FROM eligible GROUP BY 1
    ), top AS (
      SELECT * FROM g ORDER BY n_docs DESC, prefix ASC LIMIT 20
    )
    SELECT prefix,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST((10000 * n_docs) // (SELECT COUNT(*) FROM eligible)
                AS BIGINT) AS share_bp
    FROM top ORDER BY n_docs DESC, prefix ASC
    """,
    description="boilerplate prefix mining: hottest 5-token document "
    "prefixes with doc counts, source spread and corpus share — prefix "
    "hash aggregate + per-partition top-k heaps (TakeOrdered, no "
    "global sort), thin broadcast doc-count normalizer",
    covers=("N-text", "N-dedup", "B8"),
)
def doc_prefix_cluster_profile_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return doc_prefix_cluster_profile(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII detector co-occurrence (r13)
# ---------------------------------------------------------------------------


def pii_cooccurrence_matrix(docs: DataFrame) -> DataFrame:
    """Which PII detectors fire TOGETHER: for every unordered detector
    pair (diagonal included) the count of documents where both fire
    and the conditional share — of the docs det_a flags, how many det_b
    also flags, in integer basis points. The compliance readout behind
    redaction-policy design: an email+phone co-fire is a contact
    record, a lone digit run is usually an id; the matrix says which.

    One corpus scan computes |D| per-doc 0/1 flags (stateless
    ``regexp_count`` codegen, no Python); ONE global aggregate folds
    all |D|·(|D|+1)/2 pair products with map-side partials; the
    constant-width one-row result unpivots via ``stack`` into the
    |pairs|-row matrix — nothing wider than the flag vector moves, no
    join, no window. Zero-docs-flagged denominators yield NULL
    cond_bp on both engines.
    """
    names = [name for name, _ in PII_PATTERNS]
    flags = [
        (
            F.coalesce(F.regexp_count(F.col("text"), F.lit(pat)), F.lit(0))
            > 0
        )
        .cast("bigint")
        .alias(f"_f_{name}")
        for name, pat in PII_PATTERNS
    ]
    pairs = [
        (a, b) for i, a in enumerate(sorted(names))
        for b in sorted(names)[i:]
    ]
    aggs = [
        F.sum(F.col(f"_f_{a}") * F.col(f"_f_{b}")).alias(f"_n_{a}__{b}")
        for a, b in pairs
    ]
    aggs += [F.sum(F.col(f"_f_{n}")).alias(f"_n_{n}") for n in sorted(names)]
    one = docs.select(*flags).agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', _n_{a}__{b}, _n_{a}" for a, b in pairs
    )
    return (
        one.selectExpr(
            f"stack({len(pairs)}, {stack_args}) AS (det_a, det_b, _both, _na)"
        )
        .select(
            "det_a",
            "det_b",
            F.coalesce(F.col("_both"), F.lit(0))
            .cast("bigint")
            .alias("n_both"),
            # DOUBLE, not BIGINT: a zero-flagged detector's share is
            # NULL, and a NULL-bearing BIGINT floats through the
            # driver's pandas canonicalization (the oracle-TYPE gate)
            F.when(
                F.coalesce(F.col("_na"), F.lit(0)) > 0,
                F.expr("(10000 * _both) div _na"),
            )
            .cast("double")
            .alias("cond_bp"),
        )
        .orderBy("det_a", "det_b")
    )


def _pii_cooc_oracle() -> str:
    names = sorted(name for name, _ in PII_PATTERNS)
    pats = dict(PII_PATTERNS)
    flags = ",\n             ".join(
        f"CASE WHEN COALESCE(len(regexp_extract_all(text, '{pats[n]}')), 0)"
        f" > 0 THEN 1 ELSE 0 END AS _f_{n}"
        for n in names
    )
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i:]]
    rows = ",\n      ".join(
        f"('{a}', '{b}', SUM(_f_{a} * _f_{b}), SUM(_f_{a}))"
        for a, b in pairs
    )
    return f"""
    WITH d AS (
      SELECT {flags}
      FROM documents
    ), agg AS (
      SELECT * FROM (
        SELECT unnest([
          {', '.join(f"{{'det_a': '{a}', 'det_b': '{b}', 'n_both': SUM(_f_{a} * _f_{b}), 'na': SUM(_f_{a})}}" for a, b in pairs)}
        ], recursive := true)
        FROM d
      )
    )
    SELECT det_a, det_b,
           CAST(COALESCE(n_both, 0) AS BIGINT) AS n_both,
           CAST(CASE WHEN COALESCE(na, 0) > 0
                     THEN (10000 * n_both) // na END AS DOUBLE) AS cond_bp
    FROM agg
    ORDER BY det_a, det_b
    """


@register(
    "pii_cooccurrence_matrix",
    oracle=_pii_cooc_oracle(),
    description="PII detector co-occurrence matrix: per unordered "
    "detector pair (diagonal included) the docs where both fire and "
    "the conditional co-fire share in bp — one scan of stateless "
    "regexp flags into one global aggregate, constant-width unpivot, "
    "no join/window",
    covers=("N-quality", "B4"),
)
def pii_cooccurrence_matrix_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return pii_cooccurrence_matrix(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII by split (r13) — the privacy-release gate
# ---------------------------------------------------------------------------


def pii_by_split(docs: DataFrame) -> DataFrame:
    """PII exposure broken down by train/val/test split — the privacy
    twin of the contamination-by-split report: a privacy review asks
    WHERE the flagged documents land, because PII in a released or
    externally-evaluated split carries different obligations than PII
    in train. Per split: doc volume, docs flagged by any detector,
    per-detector hit totals, and the flagged share in basis points.

    Pure composition of stateless projections: the detector flags are
    per-row ``regexp_count`` (codegen), the split is the pure doc_id
    Knuth hash — ONE corpus scan into a 3-row hash aggregate with
    map-side partials; no joins anywhere.
    """
    from ser_etl_spark.operators.sampling import DEFAULT_SPLITS, split_bucket

    bucket = split_bucket("doc_id")
    split_expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(DEFAULT_SPLITS):
        split_expr = F.when((bucket >= lo) & (bucket < hi), name).otherwise(
            split_expr
        )
    cols = [
        F.coalesce(
            F.regexp_count(F.col("text"), F.lit(pat)), F.lit(0)
        ).alias(f"_n_{name}")
        for name, pat in PII_PATTERNS
    ]
    flagged = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"_n_{name}") > 0
        flagged = c if flagged is None else (flagged | c)
    per_doc = docs.select(split_expr.alias("split"), *cols).withColumn(
        "_flagged", flagged.cast("int")
    )
    agg = per_doc.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_flagged").cast("bigint").alias("docs_flagged"),
        *[
            F.sum(f"_n_{name}").cast("bigint").alias(f"n_{name}")
            for name, _ in PII_PATTERNS
        ],
    )
    return agg.select(
        "split",
        "n_docs",
        "docs_flagged",
        *[f"n_{name}" for name, _ in PII_PATTERNS],
        F.expr("(10000 * docs_flagged) div n_docs")
        .cast("bigint")
        .alias("flagged_bp"),
    ).orderBy("split")


def _pii_by_split_oracle() -> str:
    from ser_etl_spark.operators.sampling import sql_split_bucket

    split_case = (
        f"CASE WHEN {sql_split_bucket('doc_id')} < 80 THEN 'train' "
        f"WHEN {sql_split_bucket('doc_id')} < 90 THEN 'val' "
        f"ELSE 'test' END"
    )
    counts = ",\n             ".join(
        f"COALESCE(len(regexp_extract_all(text, '{pat}')), 0) AS _n_{name}"
        for name, pat in PII_PATTERNS
    )
    any_flag = " OR ".join(f"_n_{name} > 0" for name, _ in PII_PATTERNS)
    sums = ",\n           ".join(
        f"CAST(SUM(_n_{name}) AS BIGINT) AS n_{name}"
        for name, _ in PII_PATTERNS
    )
    return f"""
    WITH d AS (
      SELECT {split_case} AS split,
             {counts}
      FROM documents
    ), f AS (
      SELECT split,
             CASE WHEN {any_flag} THEN 1 ELSE 0 END AS _flagged,
             d.* EXCLUDE (split)
      FROM d
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(_flagged) AS BIGINT) AS docs_flagged,
           {sums},
           CAST((10000 * SUM(_flagged)) // COUNT(*) AS BIGINT) AS flagged_bp
    FROM f GROUP BY split ORDER BY split
    """


@register(
    "pii_by_split",
    oracle=_pii_by_split_oracle(),
    description="privacy-release gate: PII exposure per train/val/test "
    "split (where do the flagged docs land?) — stateless regexp_count "
    "flags x the pure doc_id split hash, one scan into a 3-row "
    "aggregate with map-side partials, no joins",
    covers=("N-quality", "N-text", "X-sample"),
)
def pii_by_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_by_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BPE merge training (r14, VERDICT r13 #7) — the tokenizer-induction step
# ---------------------------------------------------------------------------

#: merge iterations for the registered readout. Each is one vocab-sized
#: grouped aggregate + a top-1 collect — the kmeans_train pattern.
BPE_ITERS = 3


def _bpe_rep0_expr() -> str:
    """SQL expr: word -> space-joined character symbols ('hello' ->
    'h e l l o'). transform(sequence(...)) rather than split(word, '')
    so the expression shape has no empty-regex edge semantics."""
    return (
        "concat_ws(' ', transform(sequence(1, length(word)), "
        "i -> substr(word, i, 1)))"
    )


def _bpe_fold_expr(prev: str, a: str, b: str) -> str:
    """SQL expr: greedy left-to-right merge of adjacent symbol pair
    (a, b) in the space-joined representation ``prev``.

    The fold carries the partially merged string; a symbol x merges
    when the accumulator's LAST complete token equals ``a`` (exactly,
    or preceded by a space) and x equals ``b``. Greedy non-overlap is
    free: after a merge the last token is ``ab`` != ``a``, so 'a a a'
    under pair (a, a) yields 'aa a' — the classic BPE scan order.
    Pair literals are [a-z]+ only (the word filter), so inlining is
    injection-safe.
    """
    la = len(a)
    return (
        f"aggregate(split({prev}, ' '), '', (acc, x) -> "
        f"CASE WHEN acc = '' THEN x "
        f"WHEN (acc = '{a}' OR right(acc, {la + 1}) = ' {a}') "
        f"AND x = '{b}' "
        f"THEN CASE WHEN acc = '{a}' THEN '{a}{b}' "
        f"ELSE substr(acc, 1, length(acc) - {la}) || '{a}{b}' END "
        f"ELSE acc || ' ' || x END)"
    )


def bpe_word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt) over lowercase alphabetic whitespace tokens — the
    vocab-sized table every BPE iteration rides (the classic trainer
    never re-touches the corpus after this aggregate)."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), " +")
            ).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def bpe_merge_steps(docs: DataFrame, iters: int = BPE_ITERS) -> DataFrame:
    """``iters`` iterations of the classic BPE pair-merge trainer, one
    readout row per iteration: the merged pair, its weighted adjacent-
    pair count, and the corpus symbol totals before/after the merge.

    Shape per iteration (the ``kmeans_train_readout`` pattern —
    bounded driver loop, distributed everything):
    - adjacent-pair counts over the CURRENT symbolization of the
      (word, cnt) vocab table — explode of an index sequence, grouped
      aggregate with map-side partials, weighted by word count;
    - top-1 merge pair via weight-DESC limit 1 (TakeOrdered, ties
      broken lexicographically so the answer is engine-exact);
    - O(1) driver state: ONE collected row per iteration;
    - the next symbolization is an array-local fold expression
      (:func:`_bpe_fold_expr`) composed onto the vocab lineage — no
      shuffle, no UDF, stays in codegen.

    Scale: the corpus is touched ONCE — the (word, cnt) aggregate plus
    the initial symbolization are materialized via ``localCheckpoint``
    (vocab-sized, the duplicate_clusters discipline) before the merge
    loop, so every iteration's pair-count job and the final stats pass
    ride the bounded vocab table, never the corpus — the reason BPE
    trainers run on word-count tables. (r14 optimization: the previous
    form re-derived the word counts from the corpus lineage in every
    iteration's job — iters+1 corpus scans and shuffles for a table
    that never changes.) Early-stops when no adjacent pair remains (the
    oracle's per-iteration CTE chain goes empty at the same point).
    """
    words = bpe_word_counts(docs)
    vocab = words.select(
        "cnt", F.expr(_bpe_rep0_expr()).alias("rep0")
    ).localCheckpoint(eager=True)
    rep = "rep0"
    reps = [rep]
    merges: list[tuple[str, str, int]] = []
    for _ in range(iters):
        s = f"split({rep}, ' ')"
        pairs = (
            vocab.select(
                "cnt",
                F.expr(s).alias("_s"),
            )
            .filter(F.size("_s") >= 2)
            .select(
                "cnt",
                "_s",
                F.explode(
                    F.sequence(F.lit(1), F.size("_s") - 1)
                ).alias("_j"),
            )
            .select(
                F.element_at("_s", F.col("_j")).alias("pair_a"),
                F.element_at("_s", F.col("_j") + 1).alias("pair_b"),
                "cnt",
            )
            .groupBy("pair_a", "pair_b")
            .agg(F.sum("cnt").cast("bigint").alias("weight"))
            .orderBy(F.desc("weight"), "pair_a", "pair_b")
            .limit(1)
        )
        top = pairs.collect()
        if not top:
            break
        a, b, weight = top[0]["pair_a"], top[0]["pair_b"], top[0]["weight"]
        merges.append((a, b, int(weight)))
        rep = _bpe_fold_expr(rep, a, b)
        reps.append(rep)
    if not merges:  # empty vocab: 0 rows, stable schema
        return docs.sparkSession.createDataFrame(
            [],
            "iteration int, pair_a string, pair_b string, "
            "merge_weight bigint, symbols_before bigint, "
            "symbols_after bigint",
        )
    # ONE stats pass for every iteration: all |merges|+1 symbol totals
    # are conditional sums over the same CHECKPOINTED vocab (no corpus
    # scan at all in the returned plan; the per-iteration pair-count
    # jobs above remain the only other passes, pinned by the query's
    # build-time row in the scan budget).
    sums = [
        F.coalesce(
            F.sum(F.col("cnt") * F.expr(f"size(split({r}, ' '))")),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"s{i}")
        for i, r in enumerate(reps)
    ]
    stack = ", ".join(
        f"{i + 1}, '{a}', '{b}', {w}L, s{i}, s{i + 1}"
        for i, (a, b, w) in enumerate(merges)
    )
    return (
        vocab.agg(*sums)
        .selectExpr(
            f"stack({len(merges)}, {stack}) AS (iteration, pair_a, "
            "pair_b, merge_weight, symbols_before, symbols_after)"
        )
        .orderBy("iteration")
    )


def _bpe_oracle(iters: int = BPE_ITERS) -> str:
    toks = "string_split_regex(trim(lower(text)), ' +')"
    parts = [
        f"""
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({toks}) AS word FROM documents)
      WHERE regexp_full_match(word, '[a-z]+')
      GROUP BY word
    ), r0 AS (
      SELECT cnt,
             array_to_string(string_split_regex(word, ''), ' ') AS rep
      FROM w
    )"""
    ]
    selects = []
    for i in range(1, iters + 1):
        parts.append(f"""
    , p{i} AS (
      SELECT s[j] AS a, s[j+1] AS b, CAST(SUM(cnt) AS BIGINT) AS weight
      FROM (SELECT cnt, s, unnest(generate_series(1, len(s)-1)) AS j
            FROM (SELECT cnt, string_split(rep, ' ') AS s FROM r{i - 1})
            WHERE len(s) >= 2)
      GROUP BY 1, 2
    ), t{i} AS (
      SELECT a, b, weight FROM p{i} ORDER BY weight DESC, a, b LIMIT 1
    ), r{i} AS (
      SELECT r.cnt,
             list_reduce(string_split(r.rep, ' '), (acc, x) ->
               CASE WHEN (acc = t.a
                          OR right(acc, length(t.a) + 1) = ' ' || t.a)
                         AND x = t.b
                    THEN CASE WHEN acc = t.a THEN t.a || t.b
                         ELSE substr(acc, 1, length(acc) - length(t.a))
                              || t.a || t.b END
                    ELSE acc || ' ' || x END) AS rep
      FROM r{i - 1} r CROSS JOIN t{i} t
    )""")
        selects.append(f"""
    SELECT {i} AS iteration, t.a AS pair_a, t.b AS pair_b,
           t.weight AS merge_weight,
           (SELECT CAST(COALESCE(SUM(cnt * len(string_split(rep, ' '))), 0)
                   AS BIGINT) FROM r{i - 1}) AS symbols_before,
           (SELECT CAST(COALESCE(SUM(cnt * len(string_split(rep, ' '))), 0)
                   AS BIGINT) FROM r{i}) AS symbols_after
    FROM t{i} t""")
    return (
        "".join(parts)
        + "\n    UNION ALL".join(selects)
        + "\n    ORDER BY iteration"
    )


@register(
    "bpe_merge_step",
    oracle=_bpe_oracle(),
    description=f"{BPE_ITERS} iterations of the classic BPE pair-merge "
    "trainer over the (word, cnt) vocab table: weighted adjacent-pair "
    "counts -> deterministic top merge -> array-local re-symbolization; "
    "one vocab aggregate + one O(1) collect per iteration "
    "(kmeans_train pattern)",
    covers=("N-text",),
)
def bpe_merge_step_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_steps(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# tokenizer fertility by language (r14)
# ---------------------------------------------------------------------------


def token_fertility_by_lang(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility: BPE-ish tokens per whitespace
    word and characters per token — the numbers a tokenizer review
    publishes per language (high fertility = the vocab under-serves
    that language, inflating sequence lengths and training cost).

    One corpus scan into a |langs|-row aggregate with map-side
    partials; all counts exact BIGINT, each ratio ONE double division
    of exact integers (IEEE-identical cross-engine), NULL when the
    denominator is zero on both engines via nullif.
    """
    text = F.col("text")
    ws = F.size(F.split(F.trim(text), " +")).cast("bigint")
    bpe = F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast(
        "bigint"
    )
    chars = F.length(text).cast("bigint")
    agg = docs.select(
        "lang", ws.alias("_ws"), bpe.alias("_bpe"), chars.alias("_chars")
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ws").cast("bigint").alias("ws_tokens"),
        F.sum("_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("_chars").cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        (
            F.col("bpe_tokens").cast("double")
            / F.nullif(F.col("ws_tokens").cast("double"), F.lit(0.0))
        ).alias("fertility"),
        (
            F.col("n_chars").cast("double")
            / F.nullif(F.col("bpe_tokens").cast("double"), F.lit(0.0))
        ).alias("chars_per_token"),
    ).orderBy("lang")


@register(
    "token_fertility_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
               AS ws,
             CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}'))
               AS BIGINT) AS bpe,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(chars) AS BIGINT) AS n_chars,
           CAST(SUM(bpe) AS DOUBLE)
             / NULLIF(CAST(SUM(ws) AS DOUBLE), 0.0) AS fertility,
           CAST(SUM(chars) AS DOUBLE)
             / NULLIF(CAST(SUM(bpe) AS DOUBLE), 0.0) AS chars_per_token
    FROM d GROUP BY lang ORDER BY lang
    """,
    description="per-language tokenizer fertility (BPE-ish tokens per "
    "whitespace word, chars per token) — one scan, |langs|-row "
    "aggregate, exact-int sums with one double division per ratio",
    covers=("N-text",),
)
def token_fertility_by_lang_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return token_fertility_by_lang(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PII redaction impact (r14)
# ---------------------------------------------------------------------------


def pii_redaction_impact(docs: DataFrame) -> DataFrame:
    """Per-source accounting of what redaction would REMOVE: matched
    span characters per detector and the total removed share in basis
    points — the cost side of the `pii_scan` exposure readout (how much
    text the release loses to scrubbing, and from which sources).

    Per-detector span chars are independent counts; a span matched by
    two detectors (an IPv4 inside a digit run) is counted under each —
    `removed_chars` sums detectors and is therefore an upper bound on
    the actual loss. Stateless per-row expressions (regexp_extract_all
    + a fold over match lengths, both codegen'd), one corpus scan into
    a |sources|-row aggregate with map-side partials.
    """
    span_cols = []
    for name, pat in PII_PATTERNS:
        span_cols.append(
            F.coalesce(
                F.aggregate(
                    F.regexp_extract_all(F.col("text"), F.lit(pat), 0),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + F.length(x).cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
            ).alias(f"_c_{name}")
        )
    per_doc = docs.select(
        "source",
        F.coalesce(F.length("text"), F.lit(0)).cast("bigint").alias("_chars"),
        *span_cols,
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_chars").cast("bigint").alias("total_chars"),
        *[
            F.sum(f"_c_{name}").cast("bigint").alias(f"chars_{name}")
            for name, _ in PII_PATTERNS
        ],
    )
    removed = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"chars_{name}")
        removed = c if removed is None else removed + c
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        *[f"chars_{name}" for name, _ in PII_PATTERNS],
        removed.cast("bigint").alias("removed_chars"),
        F.expr(
            "coalesce((10000 * ("
            + " + ".join(f"chars_{n}" for n, _ in PII_PATTERNS)
            + ")) div nullif(total_chars, 0), 0)"
        )
        .cast("bigint")
        .alias("removed_bp"),
    ).orderBy("source")


def _pii_redaction_impact_oracle() -> str:
    spans = ",\n             ".join(
        f"COALESCE(list_sum(list_transform(regexp_extract_all(text, "
        f"'{pat}'), x -> length(x))), 0) AS c_{name}"
        for name, pat in PII_PATTERNS
    )
    sums = ",\n           ".join(
        f"CAST(SUM(c_{name}) AS BIGINT) AS chars_{name}"
        for name, _ in PII_PATTERNS
    )
    total = " + ".join(f"SUM(c_{name})" for name, _ in PII_PATTERNS)
    return f"""
    WITH d AS (
      SELECT source,
             CAST(COALESCE(length(text), 0) AS BIGINT) AS chars,
             {spans}
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           {sums},
           CAST({total} AS BIGINT) AS removed_chars,
           CAST(COALESCE((10000 * ({total})) // NULLIF(SUM(chars), 0), 0)
             AS BIGINT) AS removed_bp
    FROM d GROUP BY source ORDER BY source
    """


@register(
    "pii_redaction_impact",
    oracle=_pii_redaction_impact_oracle(),
    description="per-source redaction cost: matched PII span chars per "
    "detector + total removed share in bp (upper bound — overlapping "
    "detectors count independently); stateless span-length folds, one "
    "scan, |sources|-row aggregate",
    covers=("N-quality", "N-text"),
)
def pii_redaction_impact_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return pii_redaction_impact(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# context-window truncation loss (r14)
# ---------------------------------------------------------------------------

#: candidate context budgets for the truncation sweep (tokens).
TRUNCATION_BUDGETS = (512, 1024, 2048, 4096)


def context_truncation_loss(
    docs: DataFrame, budgets: tuple[int, ...] = TRUNCATION_BUDGETS
) -> DataFrame:
    """What does hard truncation at context length L cost? One row per
    candidate budget: documents that overflow, tokens lost to the
    truncation, and the lost share in basis points — the sweep a
    pipeline runs to pick max_seq_len before committing to a packing
    layout (the per-budget companion of ``context_fit_histogram``).

    ONE corpus scan: every budget's (docs_over, tokens_lost) pair is a
    conditional sum over the same per-doc token count, so the whole
    sweep is a single aggregate row stacked into |budgets| rows —
    adding a budget adds two columns, never a scan. Exact BIGINT
    throughout.
    """
    n = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    ).cast("bigint")
    aggs = [
        F.coalesce(F.sum(F.lit(1)), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(n), F.lit(0)).cast("bigint").alias("total_tokens"),
    ]
    for b in budgets:
        aggs.append(
            F.coalesce(F.sum(F.when(n > b, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"over_{b}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(n > b, n - b).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"lost_{b}")
        )
    stack = ", ".join(
        f"{b}L, over_{b}, lost_{b}, "
        f"coalesce((10000 * lost_{b}) div nullif(total_tokens, 0), 0)"
        for b in budgets
    )
    return (
        docs.agg(*aggs)
        .selectExpr(
            "n_docs",
            "total_tokens",
            f"stack({len(budgets)}, {stack}) "
            "AS (budget, docs_over, tokens_lost, lost_bp)",
        )
        .select(
            F.col("budget").cast("bigint"),
            "n_docs",
            "total_tokens",
            "docs_over",
            "tokens_lost",
            F.col("lost_bp").cast("bigint"),
        )
        .orderBy("budget")
    )


def _truncation_oracle(budgets: tuple[int, ...] = TRUNCATION_BUDGETS) -> str:
    rows = "\n    UNION ALL ".join(
        f"""SELECT CAST({b} AS BIGINT) AS budget, n_docs, total_tokens,
           over_{b} AS docs_over, lost_{b} AS tokens_lost,
           CAST(COALESCE((10000 * lost_{b}) // NULLIF(total_tokens, 0), 0)
             AS BIGINT) AS lost_bp FROM a"""
        for b in budgets
    )
    conds = ",\n             ".join(
        f"CAST(COALESCE(SUM(CASE WHEN n > {b} THEN 1 ELSE 0 END), 0) "
        f"AS BIGINT) AS over_{b},\n             "
        f"CAST(COALESCE(SUM(CASE WHEN n > {b} THEN n - {b} ELSE 0 END), 0) "
        f"AS BIGINT) AS lost_{b}"
        for b in budgets
    )
    return f"""
    WITH d AS (
      SELECT CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}'))
               AS BIGINT) AS n
      FROM documents
    ), a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_tokens,
             {conds}
      FROM d
    )
    {rows}
    ORDER BY budget
    """


@register(
    "context_truncation_loss",
    oracle=_truncation_oracle(),
    description="context-length sweep: per candidate budget (512..4096) "
    "the docs that overflow, tokens lost to hard truncation, and the "
    "lost share in bp — ONE aggregate row over one scan, stacked to "
    "|budgets| rows; exact BIGINT",
    covers=("N-text", "N-curation"),
)
def context_truncation_loss_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return context_truncation_loss(load_table(spark, sf_dir, "documents"))
