"""Semantic checks for the dedup operators beyond oracle parity:
MinHash-LSH must recover the high-Jaccard pairs that exact (blocked)
shingle-Jaccard finds, and the generic keep-first dedup must actually
deduplicate."""

from __future__ import annotations

from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark.dedup import minhash, ngram, winnow
from aliyun_emapreduce_datasources_spark.dedup.exact import dedup_keep_first


def test_minhash_lsh_recovers_exact_jaccard_pairs(spark, sf_dir):
    exact_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram.ngram_jaccard_pairs(spark, sf_dir).collect()
        if r.jaccard >= 0.6
    }
    lsh_pairs = {
        (r.doc_a, r.doc_b) for r in minhash.minhash_dedup_pairs(spark, sf_dir, threshold=0.5).collect()
    }
    # LSH searches *unblocked*, so it must find at least every blocked
    # exact pair at a comfortably-above-threshold Jaccard.
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_minhash_pairs_verified_above_threshold(spark, sf_dir):
    rows = minhash.minhash_dedup_pairs(spark, sf_dir, threshold=0.5).collect()
    assert all(r.jaccard >= 0.5 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_winnow_recovers_high_jaccard_pairs(spark, sf_dir):
    """Winnowing guarantee: docs sharing long substrings share
    fingerprints — every high-Jaccard shingle pair must surface as a
    winnow candidate pair."""
    exact_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram.ngram_jaccard_pairs(spark, sf_dir).collect()
        if r.jaccard >= 0.6
    }
    win_pairs = {(r.doc_a, r.doc_b) for r in winnow.winnow_dedup_pairs(spark, sf_dir).collect()}
    missed = exact_pairs - win_pairs
    assert not missed, f"winnowing missed near-dup pairs: {missed}"


def test_winnow_shared_substring_guarantee(spark):
    """Two docs sharing a ≥ k+w-1-char substring must share ≥1
    fingerprint; disjoint-alphabet docs must share none."""
    common = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + common + " BBBB"),
            (2, "CCCC " + common + " DDDD"),
            (3, "zzzzyyyyxxxxwwwwvvvvuuuuttttssss"),
        ],
        "doc_id long, text string",
    )
    fps = winnow.winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring produced no shared fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_dedup_keep_first_removes_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "id long, body string",
    )
    out = dedup_keep_first(df, "body", "id").collect()
    assert sorted(r.id for r in out) == [1, 3]


def test_semantic_kmeans_variant_prunes_like_label_variant(spark, sf_dir):
    """The k-means-clustered SemDeDup twin must (a) keep at least one
    vector per non-empty cluster, (b) prune every exact-duplicate
    vector pair (cosine 1.0 survives any clustering split only if the
    pair lands together — identical vectors always do)."""
    from aliyun_emapreduce_datasources_spark.dedup import semantic

    kept = semantic.semantic_dedup_kmeans(spark, sf_dir).collect()
    assert kept, "kmeans semantic dedup kept nothing"
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(kept) <= total
    # determinism: same seed, same survivors
    again = semantic.semantic_dedup_kmeans(spark, sf_dir).collect()
    assert sorted(r.vec_id for r in kept) == sorted(r.vec_id for r in again)


def test_bloom_decontaminate_supersets_exact(spark, sf_dir):
    """Bloom-filter decontamination must flag EVERY document the exact
    postings-window operator flags (no false negatives), with the
    per-doc flagged count >= the exact distinct shared-shingle count;
    and the false-positive overhead must stay near the configured
    rate."""
    from aliyun_emapreduce_datasources_spark.dedup import bloom, decontaminate

    exact = {
        r.doc_id: r.n_shared for r in decontaminate.QUERY(spark, sf_dir).collect()
    }
    flagged = {r.doc_id: r.n_flagged for r in bloom.QUERY(spark, sf_dir).collect()}
    missing = set(exact) - set(flagged)
    assert not missing, f"bloom false negatives: {sorted(missing)[:5]}"
    low = {d for d in exact if flagged[d] < exact[d]}
    assert not low, f"bloom under-counted shared shingles: {sorted(low)[:5]}"
    # fp overhead: extra flagged docs are possible but must be rare
    n_train = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        "doc_id % 10 != 0"
    ).count()
    extras = len(set(flagged) - set(exact))
    assert extras <= max(3, 0.05 * n_train), f"too many bloom false positives: {extras}"


def test_bloom_eval_guard_fires(spark):
    from aliyun_emapreduce_datasources_spark.dedup import bloom

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(40)],
        "doc_id long, text string",
    )
    import pytest as _pytest

    old = bloom.MAX_EVAL_SHINGLES
    bloom.MAX_EVAL_SHINGLES = 10
    try:
        with _pytest.raises(ValueError, match="benchmark-sized"):
            bloom.bloom_decontaminate(docs, docs)
    finally:
        bloom.MAX_EVAL_SHINGLES = old


def test_minhash_clusters_contain_exact_jaccard_clusters(spark, sf_dir):
    """Every high-Jaccard (>= 0.6) exact pair must land in the same
    MinHash-LSH cluster (follows from LSH recall + label propagation
    transitivity), and representatives must be cluster minima."""
    from aliyun_emapreduce_datasources_spark.dedup.clusters import (
        minhash_cluster_resolve,
    )

    assign = {r.doc_id: r.cluster_id for r in minhash_cluster_resolve(spark, sf_dir).collect()}
    for r in ngram.ngram_jaccard_pairs(spark, sf_dir).collect():
        if r.jaccard >= 0.6:
            assert assign[r.doc_a] == assign[r.doc_b], (r.doc_a, r.doc_b)
    by_cluster: dict[int, list[int]] = {}
    for d, c in assign.items():
        by_cluster.setdefault(c, []).append(d)
    assert all(min(m) == c for c, m in by_cluster.items())


def test_incremental_dedup_finds_planted_cross_snapshot_dup(spark, tmp_path):
    """Plant a near-identical document pair across the batch/base
    boundary: the incoming copy must be flagged with its base match,
    while a distinct incoming doc stays unflagged. (Oracle agreement
    is checked separately; this pins the semantics on a constructed
    case with a known answer.)"""
    from pyspark.sql import functions as F

    from aliyun_emapreduce_datasources_spark.dedup.incremental import (
        NEW_SOURCE,
        incremental_dedup,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    near_copy = base_text + " tail"          # high Jaccard vs base_text
    distinct = "completely unrelated content about spark adaptive execution plans"
    rows = [
        (1, base_text, "en", "src0", len(base_text)),
        (2, "another base document with its own words entirely", "en", "src1", 49),
        (3, near_copy, "en", NEW_SOURCE, len(near_copy)),
        (4, distinct, "en", NEW_SOURCE, len(distinct)),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["match_id"], r["jacc_micro"])
        for r in incremental_dedup(spark, str(tmp_path)).collect()
    }
    assert set(got) == {3}, got
    match_id, jacc = got[3]
    assert match_id == 1
    assert jacc >= 500_000


def test_incremental_dedup_random_differential(spark, tmp_path):
    """Randomized differential: small synthetic corpora with seeded
    near-duplicates across the batch/base boundary; the Spark result
    must equal a pure-Python shingle-Jaccard argmax reference."""
    import random

    from pyspark.sql import functions as F  # noqa: F401

    from aliyun_emapreduce_datasources_spark.dedup.incremental import (
        MIN_JACC_MICRO,
        NEW_SOURCE,
        incremental_dedup,
    )

    rng = random.Random(0xD5)
    vocab = [f"w{i}" for i in range(30)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    for trial in range(3):
        rows = []
        texts = {}
        for i in range(24):
            src = NEW_SOURCE if i % 6 == 0 else f"src{i % 4}"
            base_of = i - 1 if (i % 6 == 0 and i > 0 and rng.random() < 0.7) else None
            if base_of is not None and base_of in texts:
                words = texts[base_of].split()
                cut = rng.randrange(len(words))
                words[cut] = rng.choice(vocab)  # near-copy, one word off
                text = " ".join(words)
            else:
                text = doc(rng.randrange(6, 18))
            texts[i] = text
            rows.append((i, text, "en", src, len(text)))
        d = tmp_path / f"t{trial}"
        d.mkdir()
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(str(d / "documents.parquet"))

        def sh(text):
            w = text.split(" ")
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        expect = {}
        for i, t_new, _, src, _ in rows:
            if src != NEW_SOURCE or len(sh(t_new)) == 0:
                continue
            best = None
            for j, t_base, _, src_b, _ in rows:
                if src_b == NEW_SOURCE or len(sh(t_base)) == 0:
                    continue
                a, b = sh(t_new), sh(t_base)
                inter = len(a & b)
                if inter == 0:
                    continue
                jm = (1_000_000 * inter) // (len(a) + len(b) - inter)
                cand = (jm, -j)
                if best is None or cand > best:
                    best = cand
            if best is not None and best[0] >= MIN_JACC_MICRO:
                expect[i] = (-best[1], best[0])

        got = {
            r["doc_id"]: (r["match_id"], r["jacc_micro"])
            for r in incremental_dedup(spark, str(d)).collect()
        }
        assert got == expect, (trial, got, expect)


# --- embedding near-dup: LSH headline vs exact blocked twin ----------


def test_embedding_lsh_recovers_high_cosine_pairs(spark, sf_dir, oracle):
    """The cataloged LSH law's contract (mirrors the minhash-LSH
    test): every pair comfortably above threshold (cosine >= 0.5 vs the
    0.4 cut) must be recovered — near-threshold pairs are the
    documented recall loss. Deterministic: hyperplanes are fixed."""
    from aliyun_emapreduce_datasources_spark.dedup import embedding

    hi = set(
        map(
            tuple,
            oracle.execute(
                """
        SELECT a.vec_id, b.vec_id FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.5
        """
            ).fetchall(),
        )
    )
    lsh = {
        (r.vec_a, r.vec_b)
        for r in embedding.QUERY(spark, sf_dir).collect()
    }
    missed = hi - lsh
    assert not missed, f"LSH missed high-cosine pairs: {sorted(missed)[:5]}"


def test_embedding_lsh_recall_and_precision_vs_exact(spark, sf_dir):
    """Overall recall vs the exact blocked twin must stay >= 0.85
    (measured 0.983 sf0.01 / 0.993 sf0.1 with 3 planes x 16 tables),
    and precision must be EXACTLY 1.0 — candidates are verified with
    the quantized exact cosine, whose < ~2e-5 boundary shift leaves no
    pair of the shipped corpora on the other side of the cut."""
    from aliyun_emapreduce_datasources_spark.dedup import embedding

    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding.embedding_neardup_blocked(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in embedding.QUERY(spark, sf_dir).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    recall = len(lsh & exact) / max(1, len(exact))
    assert recall >= 0.85, f"LSH recall {recall:.3f} < 0.85"


def test_embedding_blocked_matches_oracle(spark, sf_dir, oracle):
    """The exact blocked variant stays the oracle cross-check now that
    the catalog entry is the LSH path: pair set must equal the O(n^2)
    DuckDB join bit-for-bit."""
    from aliyun_emapreduce_datasources_spark.dedup import embedding

    want = set(map(tuple, oracle.execute(embedding.ORACLE).fetchall()))
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding.embedding_neardup_blocked(spark, sf_dir).collect()
    }
    assert got == want


def test_embedding_lsh_auto_planes_prescription():
    """auto_planes: identical to the recall-tuned minimum on every
    on-disk corpus size, and following log2(n/B) beyond it — the scale
    knob is code, not commentary."""
    from aliyun_emapreduce_datasources_spark.dedup.embedding import (
        LSH_PLANES,
        TARGET_BUCKET,
        auto_planes,
    )

    for n in (0, 1, 500, 2000):  # every on-disk SF
        assert auto_planes(n) == LSH_PLANES
    assert auto_planes(TARGET_BUCKET * 2**6) == 6
    assert auto_planes(10**9) == 22
    # monotone non-decreasing in n
    prev = 0
    for n in (10**3, 10**4, 10**5, 10**6, 10**7):
        cur = auto_planes(n)
        assert cur >= prev
        prev = cur


def test_embedding_lsh_auto_tables_prescription():
    """auto_tables: tables-compensate-planes as code. At the plane
    floor it returns LSH_TABLES exactly (all on-disk SFs untouched);
    beyond it, the count that holds the per-pair collision guarantee
    at s=0.5 (miss <= 1e-4), growing ~(n/B)^0.585 — n^1.585 total
    verify work, the classic sub-quadratic LSH exponent."""
    from aliyun_emapreduce_datasources_spark.dedup.embedding import (
        LSH_PLANES,
        LSH_TABLES,
        auto_planes,
        auto_tables,
    )

    for p in (1, 2, LSH_PLANES):
        assert auto_tables(p) == LSH_TABLES
    assert auto_tables(5) == 66
    assert auto_tables(6) == 101
    prev = 0
    for p in range(3, 24):
        cur = auto_tables(p)
        assert cur >= prev
        prev = cur
    # composed prescription at 10^9 vectors: work n*B*T is ~3% of n^2
    planes = auto_planes(10**9)
    work = 10**9 * 250 * auto_tables(planes)
    assert work < 0.05 * (10**9) ** 2


# --- winnow PPJoin prefix filter: equivalence + mutation pins ---------


def _winnow_multiset(df):
    return sorted(
        (r.doc_a, r.doc_b, round(r.containment, 9)) for r in df.collect()
    )


def _boundary_fps(spark, n_small=8, n_large=8, n_shared=4, base=0):
    """Two docs with exact fingerprint counts: n_shared fps of df=2
    (which the rarest-first order sorts LAST, after the df=1 uniques),
    the rest unique — containment is exactly n_shared/min(n_a, n_b)."""
    rows = []
    for i in range(n_shared):
        rows += [(base + 1, base * 100 + i), (base + 2, base * 100 + i)]
    for i in range(n_small - n_shared):
        rows.append((base + 1, base * 100 + 50 + i))
    for i in range(n_large - n_shared):
        rows.append((base + 2, base * 100 + 70 + i))
    return spark.createDataFrame(rows, "doc_id long, fp long")


def test_winnow_prefix_filter_matches_plain_join(spark, sf_dir):
    """The docstring's equivalence claim, pinned: prefix_filter=True
    and =False produce bit-identical (doc_a, doc_b, containment)
    multisets — on the real corpora (sf0.001 fixture AND sf0.01, the
    driver's correctness SF) and on adversarial constructed corpora
    with pairs at EXACTLY the threshold and with n_fp ties."""
    from aliyun_emapreduce_datasources_spark.dedup.winnow import (
        winnow_dedup_pairs,
        winnow_pairs_from_fingerprints,
    )

    for sf in dict.fromkeys([sf_dir, "/root/testdata/sf0.01"]):
        fast = _winnow_multiset(winnow_dedup_pairs(spark, sf, prefix_filter=True))
        plain = _winnow_multiset(winnow_dedup_pairs(spark, sf, prefix_filter=False))
        assert fast == plain and fast, sf

    # exact-boundary corpus: pair (1,2) at containment exactly 0.5 with
    # an n_fp TIE (8=8, tie-broken by doc_id); pair (11,12) at exactly
    # 3/6=0.5 with unequal sizes; pair (21,22) strictly below (3/8)
    adv = (
        _boundary_fps(spark, 8, 8, 4, base=0)
        .union(_boundary_fps(spark, 6, 10, 3, base=10))
        .union(_boundary_fps(spark, 8, 8, 3, base=20))
    )
    fast = _winnow_multiset(winnow_pairs_from_fingerprints(adv, 0.5, True))
    plain = _winnow_multiset(winnow_pairs_from_fingerprints(adv, 0.5, False))
    assert fast == plain == [(1, 2, 0.5), (11, 12, 0.5)]


def test_winnow_prefix_epsilon_guard_at_float_dirty_threshold(spark):
    """ADVICE r05: 0.55 * 20 floats to 11.000000000000002, so an
    unguarded ceil over-sizes required-overlap to 12 and under-sizes
    the prefix — a pair at containment exactly 0.55 whose shared
    fingerprints all rank last (df=2 > df=1) would be silently
    dropped. With the 1e-9 guard both paths keep it."""
    from aliyun_emapreduce_datasources_spark.dedup.winnow import (
        winnow_pairs_from_fingerprints,
    )

    adv = _boundary_fps(spark, 20, 20, 11, base=0)
    fast = _winnow_multiset(winnow_pairs_from_fingerprints(adv, 0.55, True))
    plain = _winnow_multiset(winnow_pairs_from_fingerprints(adv, 0.55, False))
    assert fast == plain == [(1, 2, 0.55)]


def test_winnow_prefix_shorter_by_one_diverges(spark, monkeypatch):
    """Mutation sensitivity: drop the pigeonhole's +1 slack (prefix one
    element shorter) and the exact-boundary pairs MUST disappear from
    the prefix path — their whole intersection sits in the suffix
    (shared fps have df=2, sorting after every df=1 unique), so the
    equivalence test above genuinely guards the bound."""
    from aliyun_emapreduce_datasources_spark.dedup import winnow

    adv = _boundary_fps(spark, 8, 8, 4, base=0).union(
        _boundary_fps(spark, 6, 10, 3, base=10)
    )
    plain = _winnow_multiset(
        winnow.winnow_pairs_from_fingerprints(adv, 0.5, prefix_filter=False)
    )
    orig = winnow._prefix_postings
    monkeypatch.setattr(
        winnow, "_prefix_postings", lambda f, t: orig(f, t, _slack=0)
    )
    mutated = _winnow_multiset(
        winnow.winnow_pairs_from_fingerprints(adv, 0.5, prefix_filter=True)
    )
    assert plain == [(1, 2, 0.5), (11, 12, 0.5)]
    assert mutated == [], f"shortened prefix still found {mutated}"


def test_scrub_dup_spans_constructed_semantics(spark, tmp_path):
    """ExactSubstr scrub on a corpus with a known answer: the keeper
    (lowest doc_id per duplicated shingle) retains its copy; a
    non-keeper loses the UNION of its covered positions (overlapping
    dup shingles merge); a fully-duplicated doc scrubs to ''; unique
    docs pass through untouched."""
    from aliyun_emapreduce_datasources_spark.dedup.spans import scrub_dup_spans

    rows = [
        (1, "p q r s u1", "en", "s0", 10),
        (2, "z1 p q r s z2", "en", "s0", 13),
        (3, "p q r", "en", "s1", 5),
        (4, "m n o", "en", "s1", 5),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in scrub_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: ("p q r s u1", 0),
        2: ("z1 z2", 4),
        3: ("", 3),
        4: ("m n o", 0),
    }, got


def test_scrub_fixpoint_converges_where_one_pass_does_not(spark, tmp_path):
    """Scrubbing can CREATE duplicates: removing doc 2's span bridges
    'a b' and 'c d' into 'a b c d', which duplicates doc 0 — only the
    second pass catches it. Pins (a) the fixpoint answer, (b) that one
    pass genuinely differs (the loop is load-bearing), (c) the
    post-fixpoint no-dup-shingle invariant the catalog companion
    checks."""
    from aliyun_emapreduce_datasources_spark.dedup.properties import (
        scrub_fixpoint_violations,
    )
    from aliyun_emapreduce_datasources_spark.dedup.spans import (
        scrub_dup_spans,
        scrub_spans_fixpoint,
    )

    rows = [
        (0, "a b c d", "en", "s0", 7),
        (1, "r1 r2 r3", "en", "s0", 8),
        (2, "a b r1 r2 r3 c d", "en", "s1", 16),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    one_pass = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in scrub_dup_spans(spark, str(tmp_path)).collect()
    }
    assert one_pass[2] == ("a b c d", 3), one_pass  # bridge created

    fix = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in scrub_spans_fixpoint(spark, str(tmp_path)).collect()
    }
    assert fix == {
        0: ("a b c d", 0),
        1: ("r1 r2 r3", 0),
        2: ("", 7),
    }, fix
    assert scrub_fixpoint_violations(spark, str(tmp_path)).count() == 0


def test_scrub_random_differential(spark, tmp_path):
    """Randomized differential for scrub_dup_spans AND the fixpoint:
    small vocab forces dense cross-doc shingle collisions; the Spark
    result must equal a pure-Python reference implementing the same
    keeper/coverage semantics, and the fixpoint must equal the
    reference loop run to convergence."""
    import random

    from aliyun_emapreduce_datasources_spark.dedup.spans import (
        scrub_dup_spans,
        scrub_spans_fixpoint,
    )

    rng = random.Random(0x5C2B)
    vocab = [f"w{i}" for i in range(12)]

    def ref_pass(texts: dict[int, str], k: int = 3):
        toks = {d: t.split(" ") for d, t in texts.items()}
        occ: dict[tuple, dict[int, list[int]]] = {}
        for d, tk in toks.items():
            for i in range(len(tk) - k + 1):
                occ.setdefault(tuple(tk[i : i + k]), {}).setdefault(d, []).append(i)
        cuts: dict[int, set[int]] = {d: set() for d in toks}
        for s, by_doc in occ.items():
            if len(by_doc) < 2:
                continue
            keeper = min(by_doc)
            for d, poss in by_doc.items():
                if d == keeper:
                    continue
                for p in poss:
                    cuts[d].update(range(p, p + k))
        out = {}
        for d, tk in toks.items():
            kept = [t for i, t in enumerate(tk) if i not in cuts[d]]
            out[d] = (" ".join(kept), len(tk) - len(kept))
        return out

    def n_tok(t):
        return 0 if t == "" else len(t.split(" "))

    for trial in range(3):
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 15)))
            for d in range(10)
        }
        p = tmp_path / f"t{trial}"
        p.mkdir()
        spark.createDataFrame(
            [(d, t, "en", "s0", len(t)) for d, t in texts.items()],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).write.parquet(str(p / "documents.parquet"))

        want = ref_pass(texts)
        got = {
            r.doc_id: (r.clean_text, r.n_removed)
            for r in scrub_dup_spans(spark, str(p)).collect()
        }
        assert got == want, (trial, got, want)

        # fixpoint reference: iterate until a pass removes nothing
        cur = dict(texts)
        while True:
            step = ref_pass(cur)
            if all(n == 0 for _, n in step.values()):
                break
            cur = {d: t for d, (t, _) in step.items()}
        want_fix = {d: (cur[d], n_tok(texts[d]) - n_tok(cur[d])) for d in cur}
        got_fix = {
            r.doc_id: (r.clean_text, r.n_removed)
            for r in scrub_spans_fixpoint(spark, str(p)).collect()
        }
        assert got_fix == want_fix, (trial, got_fix, want_fix)


def test_scrub_intra_doc_repeats_semantics_and_differential(spark, tmp_path):
    """Within-doc repetition scrub: constructed cases (exact repeat,
    self-overlapping run) plus a randomized pure-Python differential.
    Cross-doc duplicates must NOT trigger it."""
    import random

    from aliyun_emapreduce_datasources_spark.dedup.spans import (
        scrub_intra_doc_repeats,
    )

    rows = [
        (1, "x y z q x y z", "en", "s0", 13),   # repeat at pos 4 → cut 4-6
        (2, "a a a a a", "en", "s0", 9),        # run: cut 1-4, keep one 'a'
        (3, "x y z q", "en", "s1", 7),          # shares with doc 1 ACROSS docs: untouched
    ]
    d0 = tmp_path / "unit"
    d0.mkdir()
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(d0 / "documents.parquet"))
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in scrub_intra_doc_repeats(spark, str(d0)).collect()
    }
    assert got == {
        1: ("x y z q", 3),
        2: ("a", 4),
        3: ("x y z q", 0),
    }, got

    def ref(texts, k=3):
        out = {}
        for d, t in texts.items():
            tk = t.split(" ")
            first: dict[tuple, int] = {}
            cuts: set[int] = set()
            for i in range(len(tk) - k + 1):
                s = tuple(tk[i : i + k])
                if s in first:
                    cuts.update(range(i, i + k))
                else:
                    first[s] = i
            kept = [x for i, x in enumerate(tk) if i not in cuts]
            out[d] = (" ".join(kept), len(tk) - len(kept))
        return out

    rng = random.Random(0x1D7A)
    vocab = [f"w{i}" for i in range(5)]  # tiny vocab → dense self-repeats
    for trial in range(3):
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 20)))
            for d in range(8)
        }
        p = tmp_path / f"r{trial}"
        p.mkdir()
        spark.createDataFrame(
            [(d, t, "en", "s0", len(t)) for d, t in texts.items()],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).write.parquet(str(p / "documents.parquet"))
        want = ref(texts)
        got_r = {
            r.doc_id: (r.clean_text, r.n_removed)
            for r in scrub_intra_doc_repeats(spark, str(p)).collect()
        }
        assert got_r == want, (trial, got_r, want)
