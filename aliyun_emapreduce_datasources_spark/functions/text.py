"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs — so a 100 TB documents table
runs at scan speed. Each operator is expressible in ANSI SQL, so every
query here carries a DuckDB oracle.

Operators: tokenization + token stats, quality scoring, language ID
(stopword-ratio heuristic), document fingerprinting (sorted-vocabulary
hash, the canonical "fingerprint then exact-dedup" step).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.operators.common import bucketed_rank, local_df, t

__all__ = ["tokens", "shingles", "shingle_hashes", "EN_STOPWORDS", "QUERIES", "ORACLES"]

# Small, fixed English stopword list (public knowledge); used by the
# quality and language-ID heuristics.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (single-space split, matching the
    oracle's string_split — run normalize_ws first for raw text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")



def normalize_ws(col: str | Column) -> Column:
    """Whitespace normalization: lowercase, collapse every whitespace
    run to a single space, trim — the canonical form `tokens()`
    assumes for raw text. Pure expression (codegen), portable to the
    oracle's regexp_replace(..., 'g').

    Known cross-engine divergence (documented, pinned in
    tests/test_adversarial_values.py): ``lower()`` follows Unicode
    SpecialCasing on the JVM (İ → i + U+0307) but simple case mapping
    in DuckDB (İ → i). Unicode itself admits both; every other code
    point class (ASCII, CJK, emoji, combining marks, ς/σ, ß) agrees.
    A pipeline needing İ-stable canonicalization should NFKC-fold
    upstream of this engine."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def shingles(tok: Column, k: int = 3) -> Column:
    """k-token shingles (contiguous n-grams) as strings; the unit of
    near-dup comparison for MinHash/Jaccard (w-shingling).

    Built by zip_with-ing the token array against its own shifted
    slices (k-1 zips), NOT by indexing with element_at inside a
    transform lambda: a higher-order-function lambda re-evaluates any
    captured expression per *element*, so when callers pass
    ``tokens('text')`` (a split() expression) the indexed form costs
    O(tokens²) splits per document — measured 6x slower over the
    documents table. Here ``tok`` is only referenced at row level
    (each zip/slice argument evaluates it once per row). Also returns
    an empty array for docs shorter than k tokens (the element_at
    form threw INVALID_ARRAY_INDEX under ANSI mode)."""
    grams = tok
    for j in range(1, k):
        shifted = F.slice(tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0)))
        # zip_with pads the shorter side with null; concat_ws skips
        # nulls, and the padded tail is cut by the final slice
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(grams, 1, F.greatest(F.size(tok) - (k - 1), F.lit(0)))


def shingle_hashes(col: str | Column) -> Column:
    """xxhash64 of each DISTINCT 3-token shingle of ``col``: the
    posting set of the shingle-overlap operators (decontamination,
    duplicate spans)."""
    return F.transform(
        F.array_distinct(shingles(tokens(col))), lambda s: F.xxhash64(s)
    )


def _stopword_count(tok: Column) -> Column:
    arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(F.filter(tok, lambda x: F.array_contains(arr, x)))


# --- token stats -------------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (counting, length, stopword ratio)."""
    docs = t(spark, sf_dir, "documents")
    tok = tokens("text")
    return docs.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / F.size(tok)).alias("avg_token_len"),
        (_stopword_count(tok).cast("double") / F.size(tok)).alias("stopword_ratio"),
    )


_O_TOK = "string_split(text, ' ')"
_O_STOPLIST = "['" + "','".join(EN_STOPWORDS) + "']"
_O_STOPCNT = f"len(list_filter({_O_TOK}, x -> list_contains({_O_STOPLIST}, x)))"

ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(len({_O_TOK}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_O_TOK})) AS BIGINT) AS n_distinct,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_O_TOK}) AS avg_token_len,
       CAST({_O_STOPCNT} AS DOUBLE) / len({_O_TOK}) AS stopword_ratio
FROM documents
"""


# --- quality score -----------------------------------------------------

def _quality_expr(tok: Column) -> Column:
    """The ONE quality arithmetic tree (length component, lexical
    diversity, stopword presence) — shared by quality_score and the
    stratified filter so the two can never drift apart; the DuckDB
    oracles mirror it term for term (IEEE-identical)."""
    n = F.size(tok).cast("double")
    length_c = F.least(n, F.lit(100.0)) / F.lit(100.0)
    divers_c = F.size(F.array_distinct(tok)).cast("double") / n
    stop_c = F.least(_stopword_count(tok).cast("double") / n * F.lit(10.0), F.lit(1.0))
    return length_c * F.lit(0.4) + divers_c * F.lit(0.3) + stop_c * F.lit(0.3)


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: length component, lexical
    diversity, stopword presence — the standard pretraining-corpus
    filter shape. Same arithmetic tree as the oracle for IEEE equality."""
    docs = t(spark, sf_dir, "documents")
    score = _quality_expr(tokens("text"))
    return docs.select("doc_id", score.alias("quality"), (score >= 0.5).alias("keep"))


ORACLE_QUALITY = f"""
SELECT doc_id,
       (least(CAST(len({_O_TOK}) AS DOUBLE), 100.0) / 100.0) * 0.4
       + (CAST(len(list_distinct({_O_TOK})) AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE)) * 0.3
       + least(CAST({_O_STOPCNT} AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE) * 10.0, 1.0) * 0.3
       AS quality,
       ((least(CAST(len({_O_TOK}) AS DOUBLE), 100.0) / 100.0) * 0.4
       + (CAST(len(list_distinct({_O_TOK})) AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE)) * 0.3
       + least(CAST({_O_STOPCNT} AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE) * 10.0, 1.0) * 0.3) >= 0.5
       AS keep
FROM documents
"""


# --- language ID -------------------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic, reported as a confusion table
    against the labeled ``lang`` column. (The real multi-language
    n-gram profile version would ship per-language stopword arrays —
    same plan shape, one array per language.)"""
    docs = t(spark, sf_dir, "documents")
    tok = tokens("text")
    ratio = _stopword_count(tok).cast("double") / F.size(tok)
    pred = F.when(ratio > 0.02, F.lit("en")).otherwise(F.lit("unknown"))
    return (
        docs.select(F.col("lang"), pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


ORACLE_LANG_ID = f"""
SELECT lang,
       CASE WHEN CAST({_O_STOPCNT} AS DOUBLE) / len({_O_TOK}) > 0.02 THEN 'en' ELSE 'unknown' END AS pred_lang,
       COUNT(*) AS cnt
FROM documents GROUP BY 1, 2
"""


# --- PII scrubbing ----------------------------------------------------

# RE2/Java-compatible subset: plain char classes only, no lookaround,
# so Spark (Java regex) and DuckDB (RE2) match identically
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
_PHONE_RE = "[+][0-9][0-9-]+[0-9]"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails/phone numbers and count what was removed — the
    redaction pass every published training corpus runs. The testdata
    text is a synthetic word bag, so deterministic PII is spliced in
    from doc_id first (identically in the oracle), then redacted; the
    operator itself is two regexp_replace + regexp_extract_all counts,
    all JVM-side codegen — embarrassingly parallel, no shuffle, and
    the same plan at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" re: "),
        F.col("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
        F.length(red).cast("long").alias("redacted_len"),
        F.substring(red, 1, 40).alias("redacted_head"),
    ).orderBy("doc_id")


ORACLE_PII = f"""
WITH raw AS (
    SELECT doc_id,
           'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: ' || text AS r
    FROM documents
), red AS (
    SELECT doc_id, r,
           regexp_replace(regexp_replace(r, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS rd
    FROM raw
)
SELECT doc_id,
       CAST(len(regexp_extract_all(r, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(r, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(rd) AS BIGINT) AS redacted_len,
       substr(rd, 1, 40) AS redacted_head
FROM red
ORDER BY doc_id
"""


# --- document fingerprint ---------------------------------------------

def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive vocabulary fingerprint: md5 of the sorted
    distinct token list. Canonical cheap pre-dedup key (docs with the
    same vocabulary fingerprint are shuffle-grouped once, then only
    within-group exact comparison is needed)."""
    # concat_ws silently maps a NULL token array to '' (md5-able) while
    # DuckDB's array_to_string keeps NULL -> NULL fp; a NULL doc has no
    # vocabulary to fingerprint, so both engines drop it up front
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens("text")))))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_FINGERPRINT = f"""
SELECT md5(array_to_string(list_sort(list_distinct({_O_TOK})), ' ')) AS fp,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


# --- BPE-ish regex token counting --------------------------------------

# GPT-2-style piece classes reduced to the regex subset Java (Spark)
# and RE2 (DuckDB) evaluate identically: letter runs, digit runs,
# single punctuation marks.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token counting (the pretraining-pipeline token
    budget estimate): regex piece count, distinct pieces, and the
    per-class split — all JVM-side regexp_extract_all, no UDF."""
    docs = t(spark, sf_dir, "documents")
    # materialize the extraction once: a projection alias referenced
    # many times is evaluated once (CollapseProject refuses to inline
    # non-cheap expressions), while repeating the regexp_extract_all
    # expression inline would re-run the regex per reference
    pieces = F.col("pieces")
    alpha = F.size(F.filter(pieces, lambda p: p.rlike("^[A-Za-z]+$")))
    num = F.size(F.filter(pieces, lambda p: p.rlike("^[0-9]+$")))
    return docs.withColumn(
        "pieces", F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0))
    ).select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(F.array_distinct(pieces)).cast("long").alias("n_distinct_pieces"),
        alpha.cast("long").alias("n_alpha"),
        num.cast("long").alias("n_num"),
        (F.size(pieces) - alpha - num).cast("long").alias("n_punct"),
    )


_O_PIECES = f"regexp_extract_all(text, '{BPE_PATTERN}')"

ORACLE_BPE = f"""
SELECT doc_id,
       CAST(len({_O_PIECES}) AS BIGINT) AS n_pieces,
       CAST(len(list_distinct({_O_PIECES})) AS BIGINT) AS n_distinct_pieces,
       CAST(len(list_filter({_O_PIECES}, p -> regexp_matches(p, '^[A-Za-z]+$'))) AS BIGINT) AS n_alpha,
       CAST(len(list_filter({_O_PIECES}, p -> regexp_matches(p, '^[0-9]+$'))) AS BIGINT) AS n_num,
       CAST(len({_O_PIECES})
            - len(list_filter({_O_PIECES}, p -> regexp_matches(p, '^[A-Za-z]+$')))
            - len(list_filter({_O_PIECES}, p -> regexp_matches(p, '^[0-9]+$'))) AS BIGINT) AS n_punct
FROM documents
"""


# --- repetition filter (Gopher-style) ----------------------------------

TOP_BIGRAM_MAX_FRAC = 0.18


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition screen: documents dominated by one
    repeated bigram are boilerplate/spam (nav bars, keyword stuffing)
    and are dropped from pretraining corpora. Per document: total and
    distinct bigram counts, the modal bigram's share, and the keep
    flag (share < 0.18, the published Gopher top-2-gram threshold).

    Plan: ZERO shuffle. The statistic is per-document, so exploding
    (doc, bigram) pairs into a corpus-wide hash aggregate (the naive
    plan) ships every bigram string through the shuffle for no
    cross-document reason. Instead the modal count is a fold over the
    doc's own sorted bigram array (longest equal-run), computed by
    built-in higher-order functions inside codegen — the whole
    operator is a projection at scan speed, per-doc O(n log n). (The
    repartition below exists only because the test file is a single
    row group — a real corpus has thousands of files and the
    projection parallelizes off the layout with no shuffle.)"""
    docs = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # tokenize+shingle+sort materialized once as a column — the select
    # below references it six times, and inlining the expression would
    # re-evaluate the whole chain per reference
    docs = docs.withColumn("bg", F.array_sort(shingles(tokens("text"), 2)))
    bg = F.col("bg")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["mx"], run).alias("mx")
        )

    max_bigram = F.aggregate(bg, init, step, lambda acc: acc["mx"])
    frac = max_bigram.cast("double") / F.size(bg).cast("double")
    return docs.where(F.size(bg) > 0).select(
        "doc_id",
        F.size(bg).cast("long").alias("n_bigrams"),
        max_bigram.alias("max_bigram"),
        F.size(F.array_distinct(bg)).cast("long").alias("n_distinct_bigrams"),
        frac.alias("top_bigram_frac"),
        (frac < TOP_BIGRAM_MAX_FRAC).alias("keep"),
    )


_O_BG = (
    "list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 1, 0)), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])"
)

ORACLE_REPETITION = f"""
WITH bg AS (
  SELECT doc_id, unnest({_O_BG}) AS bg FROM documents
), per AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(MAX(c) AS BIGINT) AS max_bigram,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) < {TOP_BIGRAM_MAX_FRAC} AS keep
FROM per GROUP BY doc_id
"""


def rare_bigram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal (the KenLM-perplexity-filter
    analog, kept transcendental-free): the share of a document's
    bigram occurrences whose *corpus-wide* frequency is below the mean
    bigram frequency. Gibberish and OCR noise are rare-bigram-heavy;
    boilerplate sits far below the threshold. The "rare" test is the
    integer cross-multiply ``cc · n_types < total`` — no division, no
    logs, so the flag (and the final ratio, one IEEE division of exact
    integer sums) is bit-identical across engines.

    Scale shape: per-doc bigram counts reduce map-side before any
    shuffle; the corpus frequency table is vocabulary²-bounded (heavy
    tail, but aggregate rows, not corpus rows) and its join back to
    the per-doc postings is broadcast-eligible — AQE decides, the plan
    survives either way. The mean-frequency scalar is a 1-row
    aggregate cross-joined in (a broadcast of bytes)."""
    docs = t(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(shingles(tokens("text"), 2)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = per.groupBy("b").agg(F.sum("c").alias("cc"))
    scalar = corpus.agg(
        F.sum("cc").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    flagged = per.join(corpus, "b").crossJoin(F.broadcast(scalar))
    rare_c = F.when(F.col("cc") * F.col("n_types") < F.col("total"), F.col("c")).otherwise(F.lit(0))
    return flagged.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum(rare_c).cast("long").alias("n_rare"),
        (F.sum(rare_c).cast("double") / F.sum("c").cast("double")).alias("rare_ratio"),
    )


ORACLE_RARE_BIGRAM = f"""
WITH bg AS (
  SELECT doc_id, unnest({_O_BG}) AS b FROM documents
), per AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
), corpus AS (
  SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM per GROUP BY b
), scalar AS (
  SELECT CAST(SUM(cc) AS BIGINT) AS total, COUNT(*) AS n_types FROM corpus
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN cc * n_types < total THEN c ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN cc * n_types < total THEN c ELSE 0 END) AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS rare_ratio
FROM per JOIN corpus USING (b) CROSS JOIN scalar
GROUP BY doc_id
"""


def compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-compressibility quality signal (Gopher / RefinedWeb
    heuristic): highly compressible text is repetitive boilerplate,
    incompressible text is gibberish/binary-in-text; natural prose
    sits in a band. zlib isn't expressible in SQL, so this is the
    pattern SURVEY.md prescribes for such ops — an Arrow-batched
    pandas UDF (one zlib call per row inside a vectorized batch,
    never a row-at-a-time Python UDF) over a pruned two-column scan.
    Embarrassingly parallel: scan → project, no shuffle. Rows-only
    driver check; values are pinned against direct zlib calls in
    tests/test_text_extra.py (zlib level fixed → bit-deterministic).
    """
    @F.pandas_udf("long")
    def compressed_len(texts: pd.Series) -> pd.Series:
        import zlib

        # NULL text → NULL stats (matches octet_length); without the
        # guard the batch dies on None.encode the moment the column is
        # actually materialized (count() alone prunes it — the crash
        # only surfaced once the bound check READ n_compressed)
        return texts.map(
            lambda s: len(zlib.compress(s.encode("utf-8"), 6))
            if s is not None
            else None
        )

    docs = t(spark, sf_dir, "documents")
    n_bytes = F.octet_length("text")
    # EMPTY text has no compressibility: ratio/keep are NULL — the
    # unguarded division is an ANSI-mode DIVIDE_BY_ZERO crash (caught
    # by the adversarial-values suite; count()-only tests masked it
    # via column pruning)
    ratio = F.when(
        F.col("n_bytes") > 0,
        F.col("n_compressed").cast("double") / F.col("n_bytes").cast("double"),
    )
    return (
        docs.select(
            "doc_id",
            n_bytes.cast("long").alias("n_bytes"),
            compressed_len("text").alias("n_compressed"),
        )
        .withColumn("ratio", ratio)
        .withColumn("keep", (F.col("ratio") > 0.1) & (F.col("ratio") < 0.6))
    )



def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization pass (the step upstream of every tokenizer):
    lowercase + whitespace collapse + trim, with before/after length
    and token accounting so the pipeline can report shrinkage.
    Scan-only, zero shuffle (the catalog orderBy aside)."""
    docs = t(spark, sf_dir, "documents")
    norm = normalize_ws("text")
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.size(tokens(norm)).cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


ORACLE_NORMALIZE = """
SELECT doc_id,
       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm,
       CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
FROM documents
ORDER BY doc_id
"""


def quality_stratified_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified quality cut: keep each language's top
    90% of documents by quality score. A single global threshold
    over-prunes whichever language the heuristics score lower (the
    classic multilingual-curation failure); ranking within the
    language stratum equalizes retention. Keep rule is integer-exact:
    ``10·rank ≤ 9·n_lang`` (floor(0.9·n) per language).

    Scale shape (round-7 swap of the per-``lang`` raw-row rank window
    — language cardinality is tiny, so that window put one language's
    ENTIRE corpus slice in one task): the distributed exact rank of
    common.bucketed_rank — quality ∈ [0,1] buckets by
    floor(quality·4096) (monotone; ≤ 4097 occupied buckets per lang),
    per-(lang, bucket) counts reduce map-side, the offsets window runs
    over the occupied-bucket GRID only, and the sole raw-row window is
    partitioned by (lang, bucket) — a 1/4096 quality slice of one
    stratum per task (the bucket width is the task-size knob).
    rank = offset + in-bucket row_number is bit-identical to the
    single-window form. The float score is the same IEEE arithmetic
    tree as ``quality_score`` (oracle-identical), with doc_id
    tie-breaks."""
    docs = t(spark, sf_dir, "documents")
    score = _quality_expr(tokens("text"))
    ranked = bucketed_rank(
        docs.select("doc_id", "lang", score.alias("quality")),
        bucket=F.floor(F.col("quality") * F.lit(4096.0)),
        order=[F.col("quality").desc(), F.col("doc_id")],
        part_cols=("lang",),
        bucket_asc=False,
        rn="lang_rank",
        n="n_lang",
    ).select("doc_id", "lang", "quality", "lang_rank", "n_lang")
    return ranked.where(
        F.col("lang_rank") * 10 <= F.col("n_lang") * 9
    ).orderBy("doc_id")


ORACLE_STRATIFIED = f"""
WITH scored AS (
  SELECT doc_id, lang,
         (least(CAST(len({_O_TOK}) AS DOUBLE), 100.0) / 100.0) * 0.4
         + (CAST(len(list_distinct({_O_TOK})) AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE)) * 0.3
         + least(CAST({_O_STOPCNT} AS DOUBLE) / CAST(len({_O_TOK}) AS DOUBLE) * 10.0, 1.0) * 0.3
         AS quality
  FROM documents
), ranked AS (
  SELECT doc_id, lang, quality,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY quality DESC, doc_id
         ) AS BIGINT) AS lang_rank,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
  FROM scored
)
SELECT doc_id, lang, quality, lang_rank, n_lang
FROM ranked
WHERE lang_rank * 10 <= n_lang * 9
ORDER BY doc_id
"""


QUERIES = {
    "text_token_stats": token_stats,
    "text_rare_bigram_ratio": rare_bigram_ratio,
    "text_compression_ratio": compression_ratio,
    "text_repetition_filter": repetition_filter,
    "text_quality_score": quality_score,
    "text_lang_id": lang_id,
    "text_fingerprint": fingerprint,
    "text_bpe_stats": bpe_token_stats,
    "text_pii_redact": pii_redact,
    "text_normalize": text_normalize,
    "text_stratified_filter": quality_stratified_filter,
}

ORACLES = {
    "text_stratified_filter": ORACLE_STRATIFIED,
    "text_token_stats": ORACLE_TOKEN_STATS,
    "text_rare_bigram_ratio": ORACLE_RARE_BIGRAM,
    "text_repetition_filter": ORACLE_REPETITION,
    "text_quality_score": ORACLE_QUALITY,
    "text_lang_id": ORACLE_LANG_ID,
    "text_fingerprint": ORACLE_FINGERPRINT,
    "text_bpe_stats": ORACLE_BPE,
    "text_pii_redact": ORACLE_PII,
    "text_normalize": ORACLE_NORMALIZE,
}


def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (the RefinedWeb/CCNet
    line-dedup verb adapted to token blocks): cut each document into
    non-overlapping 2-token blocks, count in how many DISTINCT
    documents each block occurs, call a block boilerplate when it
    appears in more than BOILER_DOCS documents, and rebuild every
    document without its boilerplate blocks (original block order
    preserved). Emits per-doc accounting plus an md5 digest of the
    scrubbed text so the oracle value-checks the reconstruction
    without shipping full text through the comparator.

    Scale shape: block extraction is an in-row expression
    (sequence+slice transform — no per-token explode before the
    grouping that needs it); the frequency table is one shuffle on
    block text with map-side partials; the boilerplate set is by
    construction SMALL (only blocks above a high document-frequency
    bar survive) and is broadcast for a left-anti join — the corpus
    never shuffles for membership. Rebuild groups by doc_id: one
    shuffle of kept block rows. At 100 TB: two block-sized shuffles,
    one broadcast, no driver collection.

    Reference tie-in: "beyond the reference" text-pipeline family
    (SURVEY §7.8); determinism via pure expressions ⇒ byte-exact
    DuckDB twin.
    """
    docs = t(spark, sf_dir, "documents")
    # non-overlapping 2-token blocks via index-filtered zip (split runs
    # O(1) per row): the old sequence+slice transform captured
    # split(text) inside the lambda, re-evaluating it per BLOCK —
    # O(tokens²) splits per doc, the same pathology shingles() documents
    # (2.8 → 1.5 s at sf0.1; output byte-identical, concat_ws drops the
    # null zip pad on odd-length docs exactly like the short slice did)
    blocks = F.expr(
        "zip_with("
        " filter(split(text, ' '), (x, i) -> i % 2 = 0),"
        " filter(split(text, ' '), (x, i) -> i % 2 = 1),"
        " (a, b) -> concat_ws(' ', a, b))"
    )
    exploded = docs.select(
        "doc_id",
        F.posexplode(blocks).alias("bpos", "btext"),
    )
    freq = exploded.groupBy("btext").agg(F.countDistinct("doc_id").alias("ndocs"))
    boiler = freq.where(F.col("ndocs") > BOILER_DOCS).select("btext")
    kept = exploded.join(F.broadcast(boiler), "btext", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bpos", "btext"))),
                    lambda p: p.btext,
                ),
                " ",
            )
        ).alias("scrubbed_md5"),
        F.count("*").cast("long").alias("n_kept"),
    )
    n_blocks = F.expr("(size(split(text, ' ')) + 1) DIV 2").cast("long")
    return (
        docs.select("doc_id", n_blocks.alias("n_blocks"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_blocks") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce(F.col("scrubbed_md5"), F.md5(F.lit(""))).alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


BOILER_DOCS = 20

ORACLE_BOILERPLATE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         (len(string_split(text, ' ')) + 1) // 2 AS n_blocks
  FROM documents
), blk AS (
  SELECT doc_id, CAST(u.k AS BIGINT) AS bpos,
         array_to_string(toks[u.k * 2 + 1 : u.k * 2 + 2], ' ') AS btext
  FROM base, unnest(generate_series(0, n_blocks - 1)) AS u(k)
), freq AS (
  SELECT btext, COUNT(DISTINCT doc_id) AS ndocs FROM blk GROUP BY btext
), boiler AS (
  SELECT btext FROM freq WHERE ndocs > {BOILER_DOCS}
), kept AS (
  SELECT b.doc_id, b.bpos, b.btext
  FROM blk b WHERE b.btext NOT IN (SELECT btext FROM boiler)
), reb AS (
  SELECT doc_id,
         md5(string_agg(btext, ' ' ORDER BY bpos)) AS scrubbed_md5,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST((len(string_split(d.text, ' ')) + 1) // 2 AS BIGINT) AS n_blocks,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST((len(string_split(d.text, ' ')) + 1) // 2 - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.scrubbed_md5, md5('')) AS scrubbed_md5
FROM documents d LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""


QUERIES["text_boilerplate_scrub"] = boilerplate_scrub
ORACLES["text_boilerplate_scrub"] = ORACLE_BOILERPLATE


BLOCKLIST = ("slow", "big", "merge")  # stand-in safety/blocked-term list


def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term blocklist content filter (the safety-filter verb of
    a curation pipeline): count blocked-term hits per document, list
    which distinct terms hit (sorted), and emit the keep decision
    (keep iff hit tokens are under 2% of the document). Real
    blocklists are thousands of terms — the mechanics are identical:
    the list rides into the plan as a literal/broadcast array and the
    scan stays in-row (array_intersect membership + filter count), no
    join, no shuffle before the final sort. Keep-rule is an integer
    cross-multiply (50·hits <= tokens), so the oracle is byte-exact.
    """
    # Spark's size(NULL) = -1 vs DuckDB len(NULL) = NULL: a NULL doc
    # has nothing to screen, drop it on both engines
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = tokens("text")
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    hits = F.size(F.filter(tok, lambda x: F.array_contains(bl, x)))
    return docs.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        hits.cast("long").alias("n_hits"),
        F.array_join(F.array_sort(F.array_intersect(F.array_distinct(tok), bl)), ",").alias(
            "hit_terms"
        ),
        (F.lit(50) * hits <= F.size(tok)).alias("keep"),
    ).orderBy("doc_id")


_O_BL = "['slow', 'big', 'merge']"

ORACLE_BLOCKLIST = f"""
SELECT doc_id,
       CAST(len({_O_TOK}) AS BIGINT) AS n_tokens,
       CAST(len(list_filter({_O_TOK}, x -> list_contains({_O_BL}, x))) AS BIGINT) AS n_hits,
       COALESCE(array_to_string(list_sort(list_filter(list_distinct({_O_TOK}), x -> list_contains({_O_BL}, x))), ','), '') AS hit_terms,
       50 * len(list_filter({_O_TOK}, x -> list_contains({_O_BL}, x))) <= len({_O_TOK}) AS keep
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id
"""


QUERIES["text_blocklist_filter"] = blocklist_filter
ORACLES["text_blocklist_filter"] = ORACLE_BLOCKLIST


# --- Gopher quality rules ---------------------------------------------

# Required-stopword rule from Gopher (Rae et al. 2021, Appendix A):
# a doc must contain >= MIN_STOP_HITS distinct members. The paper's
# set is (the, be, to, of, and, that, have, with); here the engine's
# EN_STOPWORDS stands in because a required-word list must be chosen
# FOR the target corpus — on the driver's synthetic vocabulary the
# paper's literal set matches zero documents and the rule would be
# degenerate (every doc rejected), which is exactly the calibration
# mistake the original rule warns against.
GOPHER_STOPWORDS = EN_STOPWORDS
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_WORD_LEN, MAX_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1
MIN_ALPHA_RATIO = 0.8
MIN_STOP_HITS = 2


def gopher_signals(docs: DataFrame) -> DataFrame:
    """Stateless signal/verdict projection behind gopher_rules —
    DataFrame-in/DataFrame-out (needs doc_id + text) and free of
    sorts, so the SAME expression tree runs under readStream
    unchanged (streaming twin: tests/test_streaming.py); the catalog
    wrapper adds the presentation orderBy batch-side only."""
    tok = tokens("text")
    n_words = F.size(tok)
    nz = n_words > F.lit(0)
    nwd = n_words.cast("double")
    mean_len = F.when(
        nz, F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / nwd
    ).otherwise(F.lit(0.0))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ell = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(nz, (n_hash + n_ell).cast("double") / nwd).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(tok, lambda x: x.rlike("[a-zA-Z]")))
    alpha_ratio = F.when(nz, n_alpha.cast("double") / nwd).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tok), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    out = (
        docs.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            mean_len.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_ratio.alias("alpha_ratio"),
            stop_hits.cast("long").alias("stop_hits"),
        )
        .withColumn(
            "r_word_count",
            (F.col("n_words") >= MIN_WORDS) & (F.col("n_words") <= MAX_WORDS),
        )
        .withColumn(
            "r_word_len",
            (F.col("mean_word_len") >= MIN_WORD_LEN)
            & (F.col("mean_word_len") <= MAX_WORD_LEN),
        )
        .withColumn("r_symbol", F.col("symbol_ratio") <= MAX_SYMBOL_RATIO)
        .withColumn("r_alpha", F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
        .withColumn("r_stopwords", F.col("stop_hits") >= MIN_STOP_HITS)
    )
    return out.withColumn(
        "keep",
        F.col("r_word_count")
        & F.col("r_word_len")
        & F.col("r_symbol")
        & F.col("r_alpha")
        & F.col("r_stopwords"),
    )


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher quality-rule table (Rae et al. 2021,
    Appendix A — the standard rule-based pre-filter run before any
    model-based quality scoring): word count in [50, 100k], mean word
    length in [3, 10], symbol-to-word ratio ('#' and '...') <= 0.1,
    >= 80% of words contain a letter, and >= 2 distinct required
    stopwords present. Emits each measured signal, each rule verdict,
    and the conjunctive ``keep`` flag, so downstream mixes can both
    filter on ``keep`` and audit WHICH rule rejected a document.

    Every signal is a built-in JVM expression over one projection —
    no UDFs, no shuffle at all (the plan is scan → project), so at
    100 TB this runs at parquet scan speed and the filter pushes into
    the scan when composed. Ratios are guarded to 0.0 on empty docs
    (ANSI-safe), so the output is NULL-free by construction.
    """
    return gopher_signals(t(spark, sf_dir, "documents")).orderBy("doc_id")


_O_GSTOP = "['" + "','".join(GOPHER_STOPWORDS) + "']"

# shared CTE prefix: per-doc signals + rule verdicts, reused verbatim
# by ORACLE_GOPHER and the filter-funnel oracle below
_GOPHER_CTE = f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len({_O_TOK}) AS BIGINT) AS n_words,
         CASE WHEN len({_O_TOK}) > 0
              THEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_O_TOK})
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN len({_O_TOK}) > 0
              THEN CAST(length(text) - length(replace(text, '#', ''))
                        + (length(text) - length(replace(text, '...', ''))) / 3
                        AS DOUBLE) / len({_O_TOK})
              ELSE 0.0 END AS symbol_ratio,
         CASE WHEN len({_O_TOK}) > 0
              THEN CAST(len(list_filter({_O_TOK},
                        x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                   / len({_O_TOK})
              ELSE 0.0 END AS alpha_ratio,
         CAST(len(list_intersect(list_distinct({_O_TOK}), {_O_GSTOP})) AS BIGINT)
           AS stop_hits
  FROM documents
), rules AS (
  SELECT *,
         n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS} AS r_word_count,
         mean_word_len >= {MIN_WORD_LEN} AND mean_word_len <= {MAX_WORD_LEN}
           AS r_word_len,
         symbol_ratio <= {MAX_SYMBOL_RATIO} AS r_symbol,
         alpha_ratio >= {MIN_ALPHA_RATIO} AS r_alpha,
         stop_hits >= {MIN_STOP_HITS} AS r_stopwords
  FROM sig
)"""

ORACLE_GOPHER = f"""{_GOPHER_CTE}
SELECT *,
       r_word_count AND r_word_len AND r_symbol AND r_alpha AND r_stopwords
         AS keep
FROM rules
ORDER BY doc_id
"""

QUERIES["text_gopher_rules"] = gopher_rules
ORACLES["text_gopher_rules"] = ORACLE_GOPHER


# --- filter-funnel attribution ------------------------------------------

# evaluation order of the cascade — attribution goes to the FIRST
# failing rule, mirroring how a real pipeline short-circuits
FUNNEL_STAGES = (
    ("word_count", "r_word_count"),
    ("word_len", "r_word_len"),
    ("symbol", "r_symbol"),
    ("alpha", "r_alpha"),
    ("stopwords", "r_stopwords"),
)


def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection-funnel report over the Gopher cascade: every document
    attributed to the FIRST rule that rejects it (or 'pass'), with
    counts and corpus shares — the ops dashboard that tells a curation
    team WHICH filter is eating their tokens before they re-tune
    thresholds. Same stateless signal projection as text_gopher_rules;
    the funnel adds one 6-group agg and a 6-row share window."""
    sig = gopher_signals(t(spark, sf_dir, "documents"))
    stage = F.lit("pass")
    stage_ord = F.lit(len(FUNNEL_STAGES) + 1)
    for i, (name, col) in reversed(list(enumerate(FUNNEL_STAGES, start=1))):
        stage = F.when(~F.col(col), F.lit(name)).otherwise(stage)
        stage_ord = F.when(~F.col(col), F.lit(i)).otherwise(stage_ord)
    # NULL text short-circuits FIRST (n_words is NULL exactly for NULL
    # text): its rule verdicts are all NULL, which a bare CASE walk
    # silently routes to 'pass' — a curation funnel must reject
    # unevaluable docs explicitly, not launder them
    stage = F.when(F.col("n_words").isNull(), F.lit("null_text")).otherwise(stage)
    stage_ord = F.when(F.col("n_words").isNull(), F.lit(0)).otherwise(stage_ord)
    g = sig.select(
        stage_ord.cast("int").alias("stage_ord"), stage.alias("stage")
    ).groupBy("stage_ord", "stage").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    return (
        g.withColumn("share", F.col("n").cast("double") / total)
        .orderBy("stage_ord")
    )


_FUNNEL_STAGE_CASE = " ".join(
    f"WHEN NOT {col} THEN '{name}'" for name, col in FUNNEL_STAGES
)
_FUNNEL_ORD_CASE = " ".join(
    f"WHEN NOT {col} THEN {i}" for i, (_, col) in enumerate(FUNNEL_STAGES, start=1)
)

ORACLE_FUNNEL_TEXT = f"""{_GOPHER_CTE},
staged AS (
  SELECT CAST(CASE WHEN n_words IS NULL THEN 0
              {_FUNNEL_ORD_CASE} ELSE {len(FUNNEL_STAGES) + 1} END AS INTEGER)
           AS stage_ord,
         CASE WHEN n_words IS NULL THEN 'null_text'
              {_FUNNEL_STAGE_CASE} ELSE 'pass' END AS stage
  FROM rules
), g AS (
  SELECT stage_ord, stage, CAST(COUNT(*) AS BIGINT) AS n
  FROM staged GROUP BY stage_ord, stage
)
SELECT stage_ord, stage, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT) AS share
FROM g ORDER BY stage_ord
"""

QUERIES["text_filter_funnel"] = filter_funnel
ORACLES["text_filter_funnel"] = ORACLE_FUNNEL_TEXT


# --- vocabulary coverage curve ------------------------------------------

# real corpora sweep 1e4–1e5; the driver's synthetic vocabulary is
# ~31 types, so the shipped cutoffs sit inside it to keep the curve
# non-degenerate (coverage strictly between head-share and 1.0)
COVERAGE_KS = (5, 10, 20)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design readout: what fraction of all token
    OCCURRENCES a top-k vocabulary covers (k = 100 / 1k / 10k, ranked
    by frequency, ties broken lexically). The Zipf head-mass curve
    that decides vocab size before a BPE train — complements
    text_vocab_topk (which lists the head) with the cumulative mass a
    cutoff keeps.

    Scale shape (round-7 swap of the rank window over the FULL vocab
    table — web-scale vocabularies are corpus-sized in the tail, so
    that window sorted every distinct token in one task): one
    explode→hash-agg onto the vocabulary (map-side partial counts),
    then orderBy+limit(max k) — TakeOrderedAndProject: per-partition
    heaps of depth max(k), a driver-side merge of |partitions|·k rows,
    never a global sort — and the rank window runs over those ≤ max(k)
    rows only (a bounded constant). |vocab| and total occurrences come
    from a 1-row agg of the full count table, broadcast back; covered
    mass for every k ≤ max(k) is identical to the full-table rank by
    construction."""
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    )
    k_max = max(COVERAGE_KS)
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k_max)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        )
    )
    ks = local_df(spark, [(k,) for k in COVERAGE_KS], "k int")
    return (
        top.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rank") <= F.col("k"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "coverage",
            F.col("covered_tokens").cast("double") / F.col("total_tokens"),
        )
        .select("k", "vocab_size", "total_tokens", "covered_tokens", "coverage")
        .orderBy("k")
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH tk AS (
  SELECT unnest({_O_TOK}) AS token FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY token
), r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank FROM c
), ks AS (
  SELECT * FROM (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) t(k)
)
SELECT k,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rank <= k THEN cnt ELSE 0 END) AS BIGINT) AS covered_tokens,
       CAST(SUM(CASE WHEN rank <= k THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(SUM(cnt) AS BIGINT) AS coverage
FROM r, ks
GROUP BY k ORDER BY k
"""

QUERIES["text_vocab_coverage"] = vocab_coverage
ORACLES["text_vocab_coverage"] = ORACLE_VOCAB_COVERAGE


# --- trigram novelty (corpus-uniqueness score) ------------------------

def trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word trigrams that appear in no other document. The
    inverse signal of the dedup family — SlimPajama/Dolma-style
    curation uses it to find boilerplate-heavy documents (novelty → 0
    means everything in the doc exists elsewhere) and to prize
    documents contributing genuinely new text (novelty → 1). It is
    the continuous companion to ``dedup_containment`` /
    ``dedup_dup_spans``: those flag the overlapping spans, this one
    scores every document on one [0, 1000] milli scale.

    Exactness: raw trigram STRINGS (not hashes), counts and the final
    score in integer milli units (``(1000·novel) DIV distinct``) —
    engine-identical. Documents with fewer than 3 tokens have no
    trigrams and are not emitted (same convention as dsir/ccnet).

    Scale shape: two shuffles — (1) distinct (doc, trigram) pairs
    aggregate to per-trigram document counts with map-side combine;
    (2) the postings join back on ``tg`` and the per-doc rollup on
    ``doc_id``. Identical to the posting-list shape of
    ``dedup_containment``; no all-pairs term, output is |docs| rows.
    At 100 TB the trigram strings would hash to int64 first (xxhash in
    one in-row expression) to shrink shuffle width — the string form
    is the oracle-exact reference.
    """
    docs = t(spark, sf_dir, "documents")
    # trigrams via the zip_with shingles builder, NOT index-into-split
    # inside a transform lambda (_TRIGRAMS' old shape): a captured
    # split() re-evaluates per ELEMENT in a lambda — O(tokens²) splits
    # per doc, measured 7.0 → 2.3 s at sf0.1. The postings table also
    # feeds TWO consumers (the df count and the join-back).
    tg = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens("text"), 3))).alias("tg"),
    ).persist()
    counts = tg.groupBy("tg").agg(F.count(F.lit(1)).cast("long").alias("n_docs_with"))
    return (
        tg.join(counts, "tg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_tg"),
            F.sum(F.when(F.col("n_docs_with") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_milli", F.expr("(1000 * n_novel) DIV n_distinct_tg").cast("long")
        )
        .orderBy("doc_id")
    )


_O_TG = (
    "list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)), "
    "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] "
    "|| ' ' || string_split(text, ' ')[i+2])"
)

ORACLE_TRIGRAM_NOVELTY = f"""
WITH tg AS (
  SELECT DISTINCT doc_id, tg
  FROM (SELECT doc_id, unnest({_O_TG}) AS tg FROM documents)
), cnt AS (
  SELECT tg, COUNT(*) AS c FROM tg GROUP BY 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tg,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((1000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS novelty_milli
FROM tg JOIN cnt USING (tg)
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["text_trigram_novelty"] = trigram_novelty
ORACLES["text_trigram_novelty"] = ORACLE_TRIGRAM_NOVELTY


# --- pairwise source drift (total-variation matrix) -----------------------

def source_tv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between the token
    distributions of every source pair — the corpus-drift matrix a mix
    designer reads before pooling sources (TV = 0 same distribution,
    1 disjoint; the multi-source generalization of events_drift_tv).

    Exact integer form (the t-closeness int-milli recipe, generalized):
    with per-source token counts a_t, b_t and totals T_a, T_b,

        TV·2·T_a·T_b = Σ_union |a_t·T_b − b_t·T_a|

    and the union sum folds closed-form to the COMMON tokens plus two
    remainder terms: Σ_common |a_t·T_b − b_t·T_a|
    + (T_a − Σ_common a_t)·T_b + (T_b − Σ_common b_t)·T_a — so only the
    inner join on token materializes; tokens private to one side never
    join. Everything int64 (counts ≤ 1e6-scale, totals ≤ 1e7 at sf0.1;
    products < 2⁵³), ONE float division per pair.

    Scale shape: counts is one explode→hash agg bounded by
    |sources|×|vocab|; the self-join fans out ≤ |sources|² rows per
    token (bounded by source count, not corpus size); totals are a
    |sources|-row broadcast. The pair spine comes from a totals×totals
    cross join so pairs with NO shared vocabulary still report TV=1.
    """
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counts = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # one scan feeds totals + both join sides. An eager checkpoint,
        # not the shared-subtree persist: isolated at sf0.1 (min-of-3,
        # three alternating rounds) it ran 1.32-1.74 s against the
        # persist's 1.86-2.14 s
        .localCheckpoint()
    )
    totals = counts.groupBy("source").agg(F.sum("cnt").cast("long").alias("tt"))
    spine = (
        totals.alias("ta")
        .crossJoin(totals.alias("tb"))
        .where(F.col("ta.source") < F.col("tb.source"))
        .select(
            F.col("ta.source").alias("source_a"),
            F.col("tb.source").alias("source_b"),
            F.col("ta.tt").alias("t_a"),
            F.col("tb.tt").alias("t_b"),
        )
    )
    a, b = counts.alias("a"), counts.alias("b")
    common = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.source") < F.col("b.source")))
        .join(F.broadcast(totals.alias("tta")), F.col("a.source") == F.col("tta.source"))
        .join(F.broadcast(totals.alias("ttb")), F.col("b.source") == F.col("ttb.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.abs(F.col("a.cnt") * F.col("ttb.tt") - F.col("b.cnt") * F.col("tta.tt"))
            ).cast("long").alias("s_abs"),
            F.sum("a.cnt").cast("long").alias("a_common"),
            F.sum("b.cnt").cast("long").alias("b_common"),
        )
    )
    out = spine.join(common, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        (
            F.coalesce(F.col("s_abs"), F.lit(0))
            + (F.col("t_a") - F.coalesce(F.col("a_common"), F.lit(0))) * F.col("t_b")
            + (F.col("t_b") - F.coalesce(F.col("b_common"), F.lit(0))) * F.col("t_a")
        ).cast("long").alias("tv_num"),
        "t_a",
        "t_b",
    )
    return out.select(
        "source_a",
        "source_b",
        "n_common",
        "tv_num",
        (F.col("tv_num").cast("double") / (F.lit(2.0) * F.col("t_a") * F.col("t_b"))).alias("tv"),
    ).orderBy("source_a", "source_b")


ORACLE_SOURCE_TV = f"""
WITH c AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest({_O_TOK}) AS token
        FROM documents WHERE text IS NOT NULL)
  GROUP BY source, token
), tot AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS tt FROM c GROUP BY source
), spine AS (
  SELECT ta.source AS source_a, tb.source AS source_b,
         ta.tt AS t_a, tb.tt AS t_b
  FROM tot ta, tot tb WHERE ta.source < tb.source
), com AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(ABS(a.cnt * ttb.tt - b.cnt * tta.tt)) AS BIGINT) AS s_abs,
         CAST(SUM(a.cnt) AS BIGINT) AS a_common,
         CAST(SUM(b.cnt) AS BIGINT) AS b_common
  FROM c a
  JOIN c b ON a.token = b.token AND a.source < b.source
  JOIN tot tta ON a.source = tta.source
  JOIN tot ttb ON b.source = ttb.source
  GROUP BY 1, 2
), folded AS (
  SELECT s.source_a, s.source_b,
         COALESCE(m.n_common, 0) AS n_common,
         COALESCE(m.s_abs, 0)
           + (s.t_a - COALESCE(m.a_common, 0)) * s.t_b
           + (s.t_b - COALESCE(m.b_common, 0)) * s.t_a AS tv_num,
         s.t_a, s.t_b
  FROM spine s LEFT JOIN com m USING (source_a, source_b)
)
SELECT source_a, source_b, n_common, CAST(tv_num AS BIGINT) AS tv_num,
       CAST(tv_num AS DOUBLE) / (2.0 * t_a * t_b) AS tv
FROM folded
ORDER BY source_a, source_b
"""

QUERIES["text_source_tv_matrix"] = source_tv_matrix
ORACLES["text_source_tv_matrix"] = ORACLE_SOURCE_TV


# --- n-gram-profile language ID (Cavnar–Trenkle) --------------------------

PROFILE_K = 50


def langid_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID (Cavnar & Trenkle 1994 —
    the classic pre-fastText method): train a top-50 trigram profile
    per labeled language, classify every document by largest profile
    overlap (ties → lexically first language), report the confusion
    matrix against the labels. The trainable upgrade of text_lang_id's
    fixed stopword heuristic — profiles come FROM the corpus, so it
    ports to any language mix without a word list.

    Testdata note: the synthetic corpus shares one vocabulary across
    languages, so separability is weak by construction — the checkable
    content is the exact profile construction (count rank, tie-break)
    and the overlap argmax, which the oracle pins bit-for-bit.

    Scale shape: trigram postings reduce map-side onto (lang, trigram);
    profiles are |langs|·50 rows and BROADCAST into the scoring join,
    so the corpus-sized postings never shuffle for scoring; the argmax
    is a per-doc window over ≤|langs| candidate rows. The trigram
    substring lambda captures only a plain column (cheap per-element
    re-read), not a computed expression — the shingles() trap does not
    apply."""
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tg = docs.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 2, 0)),"
                    " i -> substring(text, i, 3))"
                )
            )
        ).alias("g"),
    ).persist()  # one scan feeds profile training AND scoring
    # profiles train ONLY on labeled docs: a NULL "language" must not
    # become a classification candidate (and a NULL cand in the argmax
    # tie-break hits the engines' NULLS FIRST/LAST asymmetry — the
    # null-robustness suite caught exactly that); unlabeled docs are
    # still classified against the labeled profiles
    ranked = (
        tg.where(F.col("true_lang").isNotNull())
        .groupBy(F.col("true_lang").alias("lang"), "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("g"))
            ),
        )
    )
    prof = ranked.where(F.col("rn") <= PROFILE_K).select(
        F.col("lang").alias("cand"), "g"
    )
    scored = (
        tg.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    pred = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("overlap"), F.asc("cand")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


ORACLE_LANGID_PROFILE = f"""
WITH tg AS (
  SELECT doc_id, lang AS true_lang,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(text) - 2, 0)),
           i -> substring(text, i, 3)))) AS g
  FROM documents WHERE text IS NOT NULL
), prof AS (
  SELECT lang AS cand, g FROM (
    SELECT true_lang AS lang, g, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY true_lang
                              ORDER BY COUNT(*) DESC, g) AS rn
    FROM tg WHERE true_lang IS NOT NULL GROUP BY true_lang, g
  ) WHERE rn <= {PROFILE_K}
), scored AS (
  SELECT t.doc_id, t.true_lang, p.cand, COUNT(*) AS overlap
  FROM tg t JOIN prof p ON t.g = p.g
  GROUP BY 1, 2, 3
), pred AS (
  SELECT true_lang, cand AS pred_lang
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY overlap DESC, cand) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["text_langid_ngram_profile"] = langid_ngram_profile
ORACLES["text_langid_ngram_profile"] = ORACLE_LANGID_PROFILE
