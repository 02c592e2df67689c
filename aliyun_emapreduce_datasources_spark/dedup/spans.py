"""Duplicated-span flagging (relational ExactSubstr analog).

Lee et al., "Deduplicating Training Data Makes Language Models
Better" (2022) removes verbatim repeated substrings with a suffix
array. The suffix-array build is inherently sequential over a global
byte concatenation — the wrong shape for a 1000-executor cluster — so
this operator expresses the same *signal* relationally: a k-token
shingle whose hash occurs in ≥2 distinct documents is a duplicated
span, and each document is flagged with how many of its distinct
shingles are duplicated elsewhere. Downstream either drops flagged
docs (threshold on the ratio) or scrubs the spans.

Scale shape: ONE corpus scan, one wide shuffle. The naive
aggregate-then-join-back formulation re-reads and re-shingles the
entire corpus for the probe side (Catalyst prunes the two branches to
different column sets, so their exchanges never dedup into a
ReusedExchange) — at 100 TB that second scan dominates everything.
Instead the ≥2-docs test is a `count() OVER (PARTITION BY hash)`
window on the postings: same shuffle the join would need, no second
scan, and the per-doc count reduces only the flagged subset.
Per-key buffering in the window is bounded by docs-per-shingle and
spills to disk (ExternalAppendOnlyUnsafeRowArray) for pathological
boilerplate shingles; a corpus with extreme shingle skew would first
materialize the postings once (storage.compact) and run the join
shape against the materialized table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup.decontaminate import _O_SH
from aliyun_emapreduce_datasources_spark.functions.text import shingle_hashes, shingles, tokens
from aliyun_emapreduce_datasources_spark.operators.common import checkpoint_step, t

__all__ = [
    "dup_spans",
    "scrub_dup_spans",
    "scrub_pass",
    "scrub_spans_fixpoint",
    "scrub_intra_doc_repeats",
    "QUERY",
    "ORACLE",
    "ORACLE_SCRUB",
    "ORACLE_INTRA",
]


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count of distinct 3-shingles that also occur in at
    least one other document. Clean documents emit no row."""
    docs = t(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.explode(shingle_hashes("text")).alias("s"),
    )
    w = Window.partitionBy("s")
    return (
        postings.withColumn("n_docs", F.count(F.lit(1)).over(w))
        .where(F.col("n_docs") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_shingles"))
    )


def scrub_dup_spans(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Remove duplicated spans from every non-keeper document — the
    CLEANING step of Lee et al.'s ExactSubstr dedup, relationally.

    A k-token shingle occurring in ≥ 2 distinct documents is a
    duplicated span; the lowest doc_id holding it (the *keeper*) keeps
    its copy, every other document has the shingle's k token positions
    cut. Output: (doc_id, clean_text, n_removed) for every non-NULL
    document — clean_text is the surviving tokens rejoined in original
    order ('' when everything was duplicated elsewhere).

    Scale shape (all linear in corpus tokens, no all-pairs anything):
    one posexplode for positioned shingles, a (shingle, doc) group +
    per-shingle window for the ≥2-docs test and keeper election (the
    same window trick as dup_spans above), an explode of the covered
    positions collect_set-aggregated per doc, and one join of that
    small cut table back onto the in-row token arrays (_rebuild — the
    corpus itself never shuffles; only cut positions do). The plan
    reads `documents` twice (shingle side, rebuild side — each pruned
    to doc_id+text); at 100 TB materialize the tokenized corpus once
    (storage.compact) and feed both from it. Note the
    scrub can CREATE new cross-doc shingles (tokens bridging a removed
    span become adjacent) — same property as the suffix-array original;
    run to a fixpoint if downstream needs none."""
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return scrub_pass(docs.select("doc_id", "text"), k)


def scrub_pass(docs: DataFrame, k: int = 3) -> DataFrame:
    """One scrub pass over (doc_id, text) rows — the core
    scrub_dup_spans and scrub_spans_fixpoint share."""
    base = docs.select("doc_id", tokens("text").alias("tk"))
    # shuffle the 64-bit shingle hash, not the raw string (same trick
    # as dup_spans): the grouping/window/join keys shrink to 8 bytes,
    # and the oracle stays valid because the OUTPUT (reconstructed
    # text) is hash-independent — a cross-doc xxhash64 collision would
    # take ~2^32 distinct shingles per bucket to matter
    sh = base.select(
        "doc_id",
        F.posexplode(
            F.transform(shingles(F.col("tk"), k), lambda s: F.xxhash64(s))
        ).alias("pos", "s"),
    )
    per_doc = sh.groupBy("s", "doc_id").agg(F.collect_list("pos").alias("poss"))
    w = Window.partitionBy("s")
    marked = per_doc.withColumn("n_docs", F.count(F.lit(1)).over(w)).withColumn(
        "keeper", F.min("doc_id").over(w)
    )
    cuts = (
        marked.where((F.col("n_docs") >= 2) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", F.explode("poss").alias("p0"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p0"), F.col("p0") + F.lit(k - 1))).alias(
                "pos"
            ),
        )
    )
    return _rebuild(base, cuts)


def _rebuild(base: DataFrame, cuts: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_removed) by deleting the (doc_id, pos)
    cut set from the IN-ROW token arrays — shared by the cross-doc and
    intra-doc scrubs. The cut positions are collect_set-aggregated per
    doc (one exchange over the cut table, which is O(duplicated spans)
    — orders of magnitude smaller than the corpus; the set dedups, so
    callers need no separate .distinct() pass) and subtracted in-row:
    ``array_except(sequence(0, n-1), cut_pos)`` keeps the surviving
    positions in original order and ``element_at`` re-reads each
    surviving token — positions are in range by construction, so the
    ANSI index contract cannot fire. The corpus itself never shuffles.
    The previous formulation posexploded EVERY token, anti-joined the
    cuts and re-assembled each document with a collect_list +
    array_sort — a full-token exchange per scrub pass (at 100 TB, a
    corpus-sized shuffle; r11 optimization round, guide §2.3/§2.4)."""
    per_doc = cuts.groupBy("doc_id").agg(F.collect_set("pos").alias("cut_pos"))
    kept = F.array_except(
        F.sequence(F.lit(0), F.size("tk") - F.lit(1)),
        F.coalesce(F.col("cut_pos"), F.array().cast("array<int>")),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .withColumn("kept_pos", kept)
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    "kept_pos", lambda p: F.element_at(F.col("tk"), p + F.lit(1))
                ),
                " ",
            ).alias("clean_text"),
            (F.size("tk") - F.size("kept_pos")).cast("long").alias("n_removed"),
        )
    )


def scrub_intra_doc_repeats(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Remove WITHIN-document repetition: a k-token shingle occurring
    ≥ 2 times inside one document keeps its FIRST occurrence; every
    later occurrence's k positions are cut (union over shingles) —
    the classic repeated-generation / chorus-loop cleanup that
    complements the cross-doc scrub (dup_spans counts a doc-repeated
    shingle once per doc, so pure self-repetition never triggers the
    cross-doc path). Output schema matches scrub_dup_spans.

    Scale shape: the duplicate test is a window over (doc_id, shingle)
    — partition keys carry the doc id, so at 100 TB this shuffles
    once on a well-distributed composite key and never concentrates a
    popular shingle's global postings on one reducer (unlike the
    cross-doc keeper election, which needs the per-shingle global
    view)."""
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    base = docs.select("doc_id", tokens("text").alias("tk"))
    sh = base.select(
        "doc_id",
        F.posexplode(
            F.transform(shingles(F.col("tk"), k), lambda s: F.xxhash64(s))
        ).alias("pos", "s"),
    )
    w = Window.partitionBy("doc_id", "s")
    cuts = (
        sh.withColumn("first_pos", F.min("pos").over(w))
        .where(F.col("pos") > F.col("first_pos"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
                "pos"
            ),
        )
    )
    return _rebuild(base, cuts)


def _true_token_count(text_col) -> "F.Column":
    """Token count with the ''-is-zero convention (split('') yields
    [''], which would over-count fully-scrubbed docs by one)."""
    return (
        F.when(F.length(text_col) == 0, F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .cast("long")
    )


# How many scrub passes the unrolled DuckDB oracle carries (the CTE
# chain below). Measured pass counts to fixpoint: sf0.01 AND sf0.1
# converge in 6 shrinking passes + 1 confirming; the 50k-doc sf1
# fixture needs 9 + 1 (the corpus' dup-of-dup chains deepen ~+3
# passes per ×10 docs — chain depth is the log-n longest copy chain,
# NOT linear in corpus size, so a 100 TB corpus needs ~a couple dozen
# passes, each a bounded shuffle round like graph_pagerank's). A pass
# over a converged corpus is the IDENTITY (no shingle occurs twice,
# so the cut set is empty), so unrolling spare passes is harmless —
# the oracle's cost is linear in this knob — and 12 buys slack over
# the deepest measured corpus (9). The engine's default max_iters
# derives from THIS knob (oracle passes + 1 confirming) so a corpus
# the oracle can't express raises loudly in the engine instead of
# surfacing as a baffling value-hash mismatch (round-7 advisor
# finding: the old engine cap of 40 converged silently on deep
# corpora the 8-pass oracle gets wrong; round-9: the 8-pass budget
# itself raised on the sf1 fixture's 9-pass corpus — scale callers
# raise BOTH knobs together, which keeps engine and oracle in
# lockstep by construction).
FIXPOINT_ORACLE_PASSES = 12


def scrub_spans_fixpoint(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    max_iters: int = FIXPOINT_ORACLE_PASSES + 1,
) -> DataFrame:
    """Iterate scrub_pass until NO k-token shingle occurs in ≥ 2
    documents (removing a span can make its neighbors adjacent and
    thereby create fresh cross-doc shingles — the same fixpoint need
    as the suffix-array ExactSubstr). Output schema matches
    scrub_dup_spans, with n_removed cumulative across passes.

    Iterative — no closed-form SQL twin (rows-only catalog entry); the
    emptiness of the post-fixpoint duplicate set is the hash-checked
    companion (`dedup_scrub_fixpoint_check`). Convergence: every pass
    that removes anything removes ≥ k tokens from some doc, so passes
    strictly shrink the corpus and the fixpoint EXISTS; the loop runs
    until a pass removes nothing (sf0.01: 6 shrinking passes + the
    confirming one). ``max_iters`` defaults to
    ``FIXPOINT_ORACLE_PASSES + 1`` — the unrolled DuckDB oracle
    carries exactly FIXPOINT_ORACLE_PASSES passes, so with the default
    the engine RAISES on precisely the corpora the oracle would get
    wrong, instead of converging silently into a value-hash mismatch
    (round-6 advisor: a silent cap exited early; round-7 advisor: a
    too-generous cap diverged from the oracle — one knob now drives
    both). Callers outside the catalog may pass a larger budget.
    Each pass is a ``checkpoint_step`` whose probe is the pass's
    `removed` scalar, so the loop's lineage stays bounded."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    orig = docs.select("doc_id", _true_token_count(F.col("text")).alias("n_orig"))
    cur = docs
    out = None
    removed = 0
    for _ in range(max_iters):
        # every pass re-scrubs the whole corpus: an incremental
        # changed-docs-only formulation was measured SLOWER at sf0.1
        # (per-pass state-maintenance plans cost more than the full
        # 260k-posting repass, OPTIMIZATION_r11.md)
        out, removed = checkpoint_step(
            out,
            scrub_pass(cur, k),
            lambda df: df.agg(F.sum("n_removed")).collect()[0][0] or 0,
        )
        cur = out.select("doc_id", F.col("clean_text").alias("text"))
        if removed == 0:
            break
    if removed != 0:
        # the companion check treats post-fixpoint emptiness as a hard
        # invariant — a silent early exit would blame the operator for
        # what is actually an exhausted iteration budget
        raise RuntimeError(
            f"scrub_spans_fixpoint: iteration budget max_iters={max_iters} "
            f"exhausted with {removed} tokens still being removed — the "
            "fixpoint exists (each pass strictly shrinks the corpus); "
            "raise max_iters for ad-hoc use, and if this is the catalog "
            "entry also raise FIXPOINT_ORACLE_PASSES so the unrolled "
            "DuckDB oracle keeps pace"
        )
    final = cur.select(
        "doc_id",
        F.col("text").alias("clean_text"),
        _true_token_count(F.col("text")).alias("n_final"),
    )
    return orig.join(final, "doc_id").select(
        "doc_id",
        "clean_text",
        (F.col("n_orig") - F.col("n_final")).alias("n_removed"),
    )


QUERY = dup_spans

ORACLE_SCRUB = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id, i - 1 AS pos, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
    FROM base
  )
), marked AS (
  SELECT s, doc_id,
         COUNT(*) OVER (PARTITION BY s) AS n_docs,
         MIN(doc_id) OVER (PARTITION BY s) AS keeper
  FROM (SELECT DISTINCT s, doc_id FROM sh)
), cuts AS (
  SELECT DISTINCT q.doc_id, q.pos + d.d AS pos
  FROM (
    SELECT sh.doc_id, sh.pos
    FROM sh JOIN marked ON sh.s = marked.s AND sh.doc_id = marked.doc_id
    WHERE marked.n_docs >= 2 AND marked.doc_id <> marked.keeper
  ) q, (SELECT unnest(generate_series(0, 2)) AS d) d
), toks AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
  FROM (
    SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM base
  )
), keptagg AS (
  SELECT t.doc_id,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM cuts c WHERE c.doc_id = t.doc_id AND c.pos = t.pos
  )
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(b.tk) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN keptagg k USING (doc_id)
"""

ORACLE_INTRA = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id, i - 1 AS pos, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
    FROM base
  )
), cuts AS (
  SELECT DISTINCT q.doc_id, q.pos + d.d AS pos
  FROM (
    SELECT sh.doc_id, sh.pos
    FROM sh
    JOIN (
      SELECT doc_id, s, MIN(pos) AS first_pos FROM sh GROUP BY doc_id, s
    ) f ON sh.doc_id = f.doc_id AND sh.s = f.s
    WHERE sh.pos > f.first_pos
  ) q, (SELECT unnest(generate_series(0, 2)) AS d) d
), toks AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
  FROM (
    SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM base
  )
), keptagg AS (
  SELECT t.doc_id,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM cuts c WHERE c.doc_id = t.doc_id AND c.pos = t.pos
  )
  GROUP BY t.doc_id
)
SELECT b.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(b.tk) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN keptagg k USING (doc_id)
"""

ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_O_SH}) AS s FROM documents
), dup AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2
)
SELECT sh.doc_id, COUNT(*) AS n_dup_shingles
FROM sh JOIN dup USING (s)
GROUP BY sh.doc_id
"""

def _fixpoint_pass_cte(prev: str, i: int) -> str:
    """One unrolled scrub pass as SQL CTEs: corpus ``{prev}``
    (doc_id, tk VARCHAR[]) → corpus ``c{i}`` — the exact ORACLE_SCRUB
    body re-expressed over token LISTS so passes chain without string
    round-trips (re-splitting a joined token list is the identity, so
    the list form matches the engine's text-carrying loop exactly).

    ``AS MATERIALIZED`` on sh{i}/c{i} is load-bearing: DuckDB inlines
    plain CTEs, and each pass references its predecessor three times —
    an unmaterialized 8-pass chain expands to 3⁸ scans of
    ``documents`` (observed: fd exhaustion before any result)."""
    return f"""
, sh{i} AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
    FROM {prev}
  )
), cuts{i} AS (
  SELECT DISTINCT q.doc_id, q.pos + d.d AS pos
  FROM (
    SELECT sh.doc_id, sh.pos
    FROM sh{i} sh JOIN (
      SELECT s, doc_id,
             COUNT(*) OVER (PARTITION BY s) AS n_docs,
             MIN(doc_id) OVER (PARTITION BY s) AS keeper
      FROM (SELECT DISTINCT s, doc_id FROM sh{i})
    ) m ON sh.s = m.s AND sh.doc_id = m.doc_id
    WHERE m.n_docs >= 2 AND m.doc_id <> m.keeper
  ) q, (SELECT unnest(generate_series(0, 2)) AS d) d
), kept{i} AS (
  SELECT t.doc_id, list(t.tok ORDER BY t.pos) AS tk
  FROM (
    SELECT doc_id, i - 1 AS pos, tk[i] AS tok
    FROM (
      SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM {prev}
    )
  ) t
  WHERE NOT EXISTS (
    SELECT 1 FROM cuts{i} c WHERE c.doc_id = t.doc_id AND c.pos = t.pos
  )
  GROUP BY t.doc_id
), c{i} AS MATERIALIZED (
  SELECT p.doc_id, COALESCE(k.tk, CAST([] AS VARCHAR[])) AS tk
  FROM {prev} p LEFT JOIN kept{i} k USING (doc_id)
)"""


# FIXPOINT_ORACLE_PASSES (defined above scrub_spans_fixpoint) is the
# single knob: it sizes this unrolled CTE chain AND the engine's
# default max_iters, so the two can't drift apart.
ORACLE_SCRUB_FIXPOINT = (
    """
WITH c0 AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL
)"""
    + "".join(
        _fixpoint_pass_cte(f"c{i - 1}", i)
        for i in range(1, FIXPOINT_ORACLE_PASSES + 1)
    )
    + f"""
SELECT c0.doc_id,
       -- DuckDB's array_to_string([]) is NULL, not '' — coalesce to
       -- match the engine's fully-scrubbed-doc convention
       COALESCE(array_to_string(cf.tk, ' '), '') AS clean_text,
       CAST(len(c0.tk) - len(cf.tk) AS BIGINT) AS n_removed
FROM c0 JOIN c{FIXPOINT_ORACLE_PASSES} cf USING (doc_id)
"""
)
