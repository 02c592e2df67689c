"""Distributed BPE tokenizer training (the merge loop), Spark-first.

Byte-pair-encoding training (Sennrich et al. 2016, public) is THE
canonical "train a tokenizer on the corpus" job of an LLM data
pipeline. Its core loop — count adjacent symbol pairs over the
word-frequency table, take the most frequent pair, merge it everywhere,
repeat — maps onto Spark cleanly because the loop state is the WORD
TABLE, not the corpus:

- One corpus-sized aggregation up front (word → count). 100 TB of text
  collapses to a vocabulary of maybe tens of millions of rows; every
  iteration after that touches only this table.
- Per merge step: adjacent pairs come from an in-row zip_with (no
  per-character explode of state), one map-side-combined aggregation
  weighted by word count, and `orderBy().limit(1)` for the winner —
  TakeOrderedAndProject, a 1-row driver result (the same scalar-collect
  shape as the convergence test in dedup/clusters.py).
- The merge application is a JVM ``aggregate`` fold over the word
  table's symbol arrays (greedy left-to-right non-overlapping, the
  reference algorithm — ``_merge_expr``, bit-identical to the Python
  ``merge_word`` the encoder and tests use), then `localCheckpoint()`
  so K iterations don't stack K plans of lineage. Since the r11
  optimization round the word table never crosses the Python/Arrow
  boundary during training (guide §4.1).

Determinism: counts are integers; the winning pair tie-breaks
lexicographically — so the merge list is reproducible run-to-run and
engine-independent. Correctness is triple-checked: a randomized
differential against a pure-Python reference in tests/test_bpe_train.py
(the DSIR / incremental-dedup pattern), PLUS — since round 7 — a full
DuckDB value-hash oracle (ORACLE_TRAIN_MERGES / ORACLE_ENCODE_CORPUS
below): the merge loop unrolled as N_MERGES chained CTE stages with
the greedy apply as a bounded per-word recursive walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.functions.text import tokens
from aliyun_emapreduce_datasources_spark.operators.common import (
    checkpoint_step,
    local_df,
    release_checkpoint,
    t,
)

__all__ = ["QUERIES", "bpe_train_merges", "train_merges", "merge_word"]

N_MERGES = 8
EOW = "</w>"


def _merge_expr(syms, left: str, right: str):
    """JVM expression twin of ``merge_word``: greedy left-to-right
    non-overlapping merge of (left, right) over a symbol-array column,
    as an ``aggregate`` fold — the accumulator carries the emitted
    prefix plus one PENDING symbol (the cursor's lookbehind), so a
    match consumes pending+current exactly like the reference walk's
    ``i += 2``. Replaces the per-iteration ``mapInPandas`` apply (r11
    optimization, guide §4.1): the word table no longer crosses the
    Arrow boundary once per merge step, and each training iteration
    stays a single whole-JVM job. Values are bit-identical to
    ``merge_word`` (pinned by the differential tests and the unchanged
    DuckDB oracle)."""
    merged = left + right
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, acc0, step, fin)


def merge_word(syms: list, left: str, right: str) -> list:
    """Greedy left-to-right non-overlapping merge of (left, right) in
    one symbol sequence — the reference BPE apply step."""
    out = []
    i = 0
    n = len(syms)
    merged = left + right
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_loop(
    words: DataFrame, n_merges: int, keep_word: bool
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The BPE merge loop. Returns (merges, final_sym) where final_sym
    is the word table AFTER every elected merge has been applied —
    i.e. each row's ``syms`` is exactly ``encode_word(w, merges)``
    (the greedy fold per iteration IS the encode replay; the DuckDB
    encode oracle makes the same identification). ``keep_word=True``
    carries the word string through the loop so the caller can read
    the encoded vocabulary straight off the final table."""
    carry = [F.col("w")] if keep_word else []
    nxt = words.select(
        *carry,
        F.col("cnt").cast("long").alias("cnt"),
        F.concat(F.split(F.col("w"), ""), F.array(F.lit(EOW))).alias("syms"),
    )
    keep = (["w"] if keep_word else []) + ["cnt"]

    def top_pair(sym: DataFrame) -> list:
        pairs = sym.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        return (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )

    merges: list[tuple[str, str, int]] = []
    sym = None  # the last materialized state
    for _ in range(n_merges):
        sym, top = checkpoint_step(sym, nxt, top_pair)
        nxt = sym
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((left, right, n))
        # the LAST merge's apply stays a lazy select over the final
        # materialized state: checkpointing it would double-store the
        # vocabulary (old blocks + new blocks) for a table read at most
        # once by the caller
        nxt = sym.select(
            *keep, _merge_expr(F.col("syms"), left, right).alias("syms")
        )
    return merges, nxt


def train_merges(words: DataFrame, n_merges: int = N_MERGES) -> list[tuple[str, str, int]]:
    """Run the BPE merge loop over a (w, cnt) word-frequency DataFrame.
    Returns [(left, right, weighted_pair_count), ...] in merge order.
    """
    merges, final_sym = _train_loop(words, n_merges, keep_word=False)
    # merges-only caller: the final word table is discarded, so the
    # loop's last live checkpoint (final_sym's plan leaf) dies here
    release_checkpoint(final_sym)
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: N_MERGES BPE merges trained on the documents
    table; output (rank, left, right, merged, pair_count) — the merge
    table a tokenizer would ship. Full-oracle since round 7
    (ORACLE_TRAIN_MERGES) + differential vs a pure-Python reference
    in tests."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    merges = train_merges(words, N_MERGES)
    rows = [
        (i + 1, l, r, l + r, n) for i, (l, r, n) in enumerate(merges)
    ]
    return local_df(
        spark, rows, "rank long, left string, right string, merged string, pair_count long"
    ).orderBy("rank")


QUERIES = {"bpe_train_merges": bpe_train_merges}
ORACLES: dict[str, str] = {}


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Sequential BPE encode of one word: apply the merge list in
    training order (the reference tokenizer-apply semantics)."""
    syms = list(word) + [EOW]
    for left, right in merges:
        if len(syms) < 2:
            break
        syms = merge_word(syms, left, right)
    return syms


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode every document with the merges trained
    by ``train_merges`` and report per-doc token accounting — chars,
    whitespace words, BPE symbols, and the compression ratio in
    exact milli units. The serving-side half of the tokenizer story
    (train on the corpus, then encode the corpus for packing/batching).

    Scale shape: training collapses to the word table as before; the
    ENCODE is read straight off the training loop's FINAL word table —
    each row's ``syms`` after the last elected merge IS
    ``encode_word(w, merges)`` (training's per-iteration greedy fold is
    the encode replay; the encode oracle below makes the same
    identification, and ``_merge_expr`` ≡ ``merge_word`` is pinned by
    the differential tests). Until the r11 optimization round the
    vocabulary was re-encoded in an Arrow-batched mapInPandas that
    replayed every merge per word — a second full apply pass plus a
    Python boundary crossing the final table already paid for in the
    JVM (guide §4.1). Documents get their symbol counts back via an
    in-row lookup join of their words against the encoded vocabulary:
    explode doc words (map-side combined counts) → hash join on word →
    per-doc rollup. 100 TB of text encodes with no corpus-sized — and
    now no vocabulary-sized — Python stage at all.

    Full-oracle since round 7 (ORACLE_ENCODE_CORPUS — the unrolled
    train chain's final word table IS the encoded vocabulary);
    differential-tested against the pure-Python encoder in
    tests/test_bpe_train.py.
    """
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # materialized by the first
        # merge's pair-count job; the loop's own states take over from
        # there (released below once training has run)
    )
    _, final_sym = _train_loop(words, N_MERGES, keep_word=True)
    # the first training state's materialization consumed `words`; its
    # blocks have been dead since merge 1
    release_checkpoint(words)
    vocab_syms = final_sym.select(
        "w", F.size("syms").cast("long").alias("n_syms")
    )

    per_doc_words = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_doc_words.join(vocab_syms, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_syms")).cast("long").alias("n_bpe_symbols"),
            F.sum(F.col("c") * (F.length("w") + 1)).cast("long").alias("n_chars_eow"),
        )
        .withColumn(
            "compression_milli",
            F.expr("(1000 * n_chars_eow) DIV n_bpe_symbols").cast("long"),
        )
        .orderBy("doc_id")
    )


QUERIES["bpe_encode_corpus"] = bpe_encode_corpus

# --- round-7 promotion: full SQL oracle for the training loop ----------
#
# The merge loop unrolls into N_MERGES chained CTE stages (the same
# unrolled-CTE technique as emb_kmeans_train and the scrub-fixpoint
# oracle): stage i counts adjacent pairs over the stage-(i-1) word
# table, elects the (count DESC, l, r) winner, and applies the greedy
# left-to-right NON-OVERLAPPING merge — the only genuinely sequential
# part — as a per-word recursive walk (cursor j advances +2 on a merge,
# +1 otherwise; ≤ |word|+1 levels over the ~vocab-sized word table, so
# the recursion is bounded and tiny). MATERIALIZED is load-bearing:
# each stage references its predecessor multiple times and DuckDB
# inlines plain CTEs (see spans._fixpoint_pass_cte).


def _bpe_stage_cte(prev: str, i: int) -> str:
    return f"""
, p{i} AS MATERIALIZED (
  SELECT syms[j] AS l, syms[j + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
  FROM (
    SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS j
    FROM {prev}
  )
  GROUP BY 1, 2
), t{i} AS MATERIALIZED (
  SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1
), r{i} AS (
  SELECT wid, w, cnt, syms, 1 AS j, CAST([] AS VARCHAR[]) AS out FROM {prev}
  UNION ALL
  SELECT q.wid, q.w, q.cnt, q.syms,
         CASE WHEN q.j < len(q.syms) AND q.syms[q.j] = t.l
                   AND q.syms[q.j + 1] = t.r
              THEN q.j + 2 ELSE q.j + 1 END,
         CASE WHEN q.j < len(q.syms) AND q.syms[q.j] = t.l
                   AND q.syms[q.j + 1] = t.r
              THEN list_append(q.out, t.l || t.r)
              ELSE list_append(q.out, q.syms[q.j]) END
  FROM r{i} q, t{i} t
  WHERE q.j <= len(q.syms)
), s{i} AS MATERIALIZED (
  SELECT wid, w, cnt, out AS syms FROM r{i} WHERE j = len(syms) + 1
)"""


ORACLE_TRAIN_MERGES = (
    """
WITH RECURSIVE s0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
         list_append(
           list_transform(generate_series(1, length(w)), i -> w[i]), '</w>'
         ) AS syms
  FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    )
    WHERE length(w) > 0
    GROUP BY w
  )
)"""
    + "".join(_bpe_stage_cte(f"s{i - 1}", i) for i in range(1, N_MERGES + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS BIGINT) AS rank, l AS "left", r AS "right",'
        f' l || r AS merged, n AS pair_count FROM t{i}'
        for i in range(1, N_MERGES + 1)
    )
    + "\nORDER BY rank\n"
)

ORACLES["bpe_train_merges"] = ORACLE_TRAIN_MERGES

# Encode oracle: after the training chain, the FINAL word table s{N}
# already holds every distinct word's fully-merged symbol sequence —
# applying the merge list in training order to a word is exactly what
# the chain did to it (encode_word replays training's apply steps).
# So the encode oracle is the train chain + a per-doc rollup join of
# the documents' word counts against len(s{N}.syms).
_ENCODE_CHAIN = """
WITH RECURSIVE s0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
         list_append(
           list_transform(generate_series(1, length(w)), i -> w[i]), '</w>'
         ) AS syms
  FROM (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(string_split(text, ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    )
    WHERE length(w) > 0
    GROUP BY w
  )
)""" + "".join(_bpe_stage_cte(f"s{i - 1}", i) for i in range(1, N_MERGES + 1))

ORACLE_ENCODE_CORPUS = (
    _ENCODE_CHAIN
    + f"""
, vocab AS MATERIALIZED (
  SELECT w, CAST(len(syms) AS BIGINT) AS n_syms FROM s{N_MERGES}
), pdw AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  )
  WHERE length(w) > 0
  GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * n_syms) AS BIGINT) AS n_bpe_symbols,
       CAST(SUM(c * (length(w) + 1)) AS BIGINT) AS n_chars_eow,
       CAST((1000 * SUM(c * (length(w) + 1))) // SUM(c * n_syms) AS BIGINT)
         AS compression_milli
FROM pdw JOIN vocab USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""
)

ORACLES["bpe_encode_corpus"] = ORACLE_ENCODE_CORPUS
