"""Group G + custom-operator tests: dedup (LSH vs brute force), similarity
(LSH recall vs exact), text analysis, multimodal plumbing, as-of/range
joins, approx aggregates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from esgopeta_spark.session import read_table


def docs_with_near_dups(spark, sf_dir):
    """Real documents plus planted near-duplicates (testdata has no true
    near-dups at tiny SF, so we inject controlled ones)."""
    d = read_table(spark, sf_dir, "documents").limit(40)
    originals = d.select("doc_id", "text")
    # a near-dup: copy with the first word changed
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("xx "), F.substring_index("text", " ", -200)).alias("text"),
    ).limit(10)
    exact_copy = d.select((F.col("doc_id") + 200000).alias("doc_id"), "text").limit(5)
    return originals.unionByName(mutated).unionByName(exact_copy)


def test_minhash_lsh_vs_bruteforce(spark, sf_dir):
    from esgopeta_spark.operators.dedup import brute_force_jaccard_pairs, minhash_dedup_pairs

    docs = docs_with_near_dups(spark, sf_dir)
    truth = {
        (r["id_a"], r["id_b"]) for r in brute_force_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert truth, "planted dups must create true pairs"
    got = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(docs, threshold=0.7).collect()}
    # verification step makes precision exact; LSH recall should be high
    assert got.issubset(truth)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_minhash_portable_recall_parity(spark, sf_dir):
    """The md5-lane portable MinHash (r10 — exists so the oracle can be
    hash-exact) must keep the xxhash64 path's recall: both candidate
    generators, verified by the same exact Jaccard, recover the true
    pair set at >= 0.9 recall; exact copies are always found (Jaccard 1
    survives any LSH banding)."""
    from esgopeta_spark.operators.dedup import (
        brute_force_jaccard_pairs,
        minhash_lsh_candidates_portable,
        ngram_jaccard,
    )

    docs = docs_with_near_dups(spark, sf_dir)
    truth = {
        (r["id_a"], r["id_b"]) for r in brute_force_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert truth
    cands = minhash_lsh_candidates_portable(docs)
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard(cands, docs).filter("jaccard >= 0.7").collect()
    }
    assert got.issubset(truth)
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"portable LSH recall {recall}"
    exact = {p for p in truth if p[1] - p[0] == 200000}
    assert exact <= got, "exact copies must always collide in every band"


def test_simhash_portable_finds_exact_copies(spark, sf_dir):
    """Portable 32-bit SimHash twin: exact copies fingerprint
    identically (hamming 0) and every emitted pair respects the
    threshold; the 4x8 banding is pigeonhole-complete at hamming<=3."""
    from esgopeta_spark.operators.dedup import simhash_candidates_portable

    docs = docs_with_near_dups(spark, sf_dir)
    pairs = simhash_candidates_portable(docs, max_hamming=3).collect()
    found_exact = {p for p in {(r["id_a"], r["id_b"]) for r in pairs} if p[1] - p[0] == 200000}
    assert len(found_exact) == 5
    assert all(0 <= r["hamming"] <= 3 for r in pairs)
    assert all(r["hamming"] == 0 for r in pairs if r["id_b"] - r["id_a"] == 200000)


def test_edit_distance_pairs_vs_bruteforce(spark):
    """The PassJoin partition join must equal brute-force Levenshtein
    exactly (recall AND precision) on an adversarial mini-corpus:
    substitutions/insertions/deletions at every segment position,
    unicode text, near-misses at distance 3, and long-disjoint
    strings."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.dedup import edit_distance_pairs

    titles = [
        "the quick brown fox jumps",      # base
        "the quick brown fox jumpss",     # +1 at end
        "Xhe quick brown fox jumps",      # sub at segment 0
        "the quick brXwn fox jumps",      # sub at segment 1
        "the quick brown fox juXps",      # sub at segment 2
        "the quick brown fox ju",         # -3: distance 3, must NOT pair w/ base
        "thequick brown fox jumps",       # -1 in segment 0
        "café résumé naïve touché",       # unicode base
        "cafe résumé naïve touché",       # 1 sub (é->e)
        "completely different words here",
    ]
    rows = [(i, t) for i, t in enumerate(titles)]
    df = spark.createDataFrame(rows, "doc_id: long, title: string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for i in range(len(titles)):
        for j in range(i + 1, len(titles)):
            d = lev(titles[i], titles[j])
            if d <= 2:
                want[(i, j)] = d
    assert want, "fixture must contain true pairs"
    assert got == want
    assert (0, 5) not in got  # the distance-3 near-miss stays out


def test_exact_dedup_keeps_lowest_id(spark, sf_dir):
    from esgopeta_spark.operators.dedup import exact_dedup, exact_dup_groups

    docs = docs_with_near_dups(spark, sf_dir)
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    groups = exact_dup_groups(docs).collect()
    assert all(g["n_dups"] == 2 for g in groups)  # the 5 planted exact copies
    assert len(groups) == 5
    assert all(g["keeper_id"] < 100000 for g in groups)
    # every copy's keeper is the original id
    assert not any(k >= 200000 for k in kept)


def test_simhash_finds_planted_dups(spark, sf_dir):
    from esgopeta_spark.operators.dedup import simhash_candidates

    docs = docs_with_near_dups(spark, sf_dir)
    pairs = simhash_candidates(docs, max_hamming=10).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact copies have hamming 0 -> must be found
    exact_expected = {(r["doc_id"], r["doc_id"] + 200000) for r in docs.filter("doc_id < 100000").limit(5).collect()}
    found_exact = {p for p in ids if p[1] - p[0] == 200000}
    assert len(found_exact) == 5, f"simhash missed exact copies: {exact_expected - ids}"
    assert all(r["hamming"] == 0 for r in pairs if r["id_b"] - r["id_a"] == 200000)


def test_image_dhash_near_dup_pairs_vs_bruteforce(spark):
    """Image near-dup (G2 for images, r8): dHash over REAL encoded
    payloads + the shared banded Hamming equi-join must find EXACTLY the
    brute-force pairs at hamming<=3 (the 4x16 banding is
    pigeonhole-complete there), brightness-shifted copies must pair at
    hamming 0 (dHash invariance), and poison payloads are skipped."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import dhash64, decode_image_any, image_dup_pairs

    def img(cls, k):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = [(1, 0), (0, 1), (2, 1), (1, 2), (3, 0)][cls]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        arr = np.clip(np.round(arr), 0, 255).astype(np.uint8)
        return np.clip(arr.astype(np.int64) + k, 0, 255).astype(np.uint8)

    rows, local_fp = [], {}
    for i in range(20):
        cls, k = i % 5, (i // 5) * 9
        fmt = ("png", "bmp", "ppm", "jpeg")[i % 4]  # mixed formats decode alike
        enc = {"png": codecs.encode_png, "bmp": codecs.encode_bmp,
               "ppm": codecs.encode_ppm, "jpeg": lambda a: codecs.encode_jpeg(a, quality=95)}[fmt]
        payload = enc(img(cls, k))
        rows.append((i, payload))
        local_fp[i] = dhash64(decode_image_any(payload))
    rows.append((99, b"\x00garbage-not-an-image"))  # skipped, not fatal
    # gray+alpha PNG: (h, w, 2) decode shape must normalize through
    # codecs.to_rgb, not leak an IndexError past the quarantine (r8 review)
    ga = np.dstack([img(0, 0)[:, :, 0], np.full((24, 32), 200, np.uint8)])
    rows.append((50, codecs.encode_png(ga)))
    local_fp[50] = dhash64(decode_image_any(codecs.encode_png(ga)))
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in image_dup_pairs(df, max_hamming=3).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    want = {
        (a, b): ham(local_fp[a], local_fp[b])
        for a in local_fp for b in local_fp
        if a < b and ham(local_fp[a], local_fp[b]) <= 3
    }
    assert got == want
    # brightness-shifted same-class PNG/PPM twins must be hamming-0 pairs
    # (0 and 10 are cls 0: png k=0 and ppm k=18)
    assert got.get((0, 10)) == 0
    assert not any(99 in p for p in got)


def test_image_dhash_entry_classes_separated():
    """Pin the dedup_image_dhash oracle's soundness argument: the 7
    sinusoid classes' fingerprints sit >= 16 Hamming bits apart (so no
    cross-class pair can enter under max_hamming=3) and every brightness
    shift k in 0..39 leaves each class fingerprint IDENTICAL (so the
    analytic class self-join is exactly the hamming-0 pair set)."""
    import itertools

    import numpy as np

    from esgopeta_spark.operators.multimodal import dhash64

    fxy = [(1, 0), (0, 1), (2, 1), (1, 2), (3, 0), (2, 3), (1, 1)]

    def img(cls, k):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = fxy[cls]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        arr = np.clip(np.round(arr), 0, 255).astype(np.uint8)
        return np.clip(arr.astype(np.int64) + k, 0, 255).astype(np.uint8)

    fps = {}
    for cls in range(7):
        base = dhash64(img(cls, 0))
        assert all(dhash64(img(cls, k)) == base for k in range(40)), cls
        fps[cls] = base
    dmin = min(
        bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(range(7), 2)
    )
    assert dmin >= 16, dmin


def test_lm_backoff_scores_hand_fixture(spark):
    """Stupid-backoff scoring on a hand-computable fixture: every token
    of the scored doc exercises a different backoff level and the
    integer-milli scores match pencil-and-paper exactly."""
    from esgopeta_spark.operators.text import lm_backoff_scores

    train = spark.createDataFrame(
        [(0, "a b c a b c a b d")], "doc_id bigint, text string"
    )
    # train grams: trigrams: abc x2, bca, cab, abd; bigrams: ab x3, bc x2,
    # ca, cd? no: pairs: ab,bc,ca,ab,bc,ca,ab,bd -> ab:3 bc:2 ca:2 bd:1
    # unigrams: a:3 b:3 c:2 d:1 (N=9, V=4)
    score = spark.createDataFrame(
        [(1, "a b c"),      # token 'c' with ctx (a,b): trigram abc known: c3=2, c12(ab)=3 -> 2000//3 = 666
         (3, "c a b")],     # token 'b' with ctx (c,a): trigram cab x2, c12(ca)=2 -> 1000
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in lm_backoff_scores(train, score).collect()}
    assert out[1]["n_scored"] == 1 and out[1]["score_sum_milli"] == 666
    assert out[1]["n_trigram_hits"] == 1
    assert out[3]["score_sum_milli"] == 1000
    # bigram backoff: ctx (b,a) unseen as trigram-prefix? score 'a x b':
    s2 = spark.createDataFrame([(5, "b c b")], "doc_id bigint, text string")
    # token 'b' ctx (b,c): trigram bcb unseen; bigram (c,b)? 'cb' not in
    # train -> unigram backoff: ((c1(b)=3)+1)*1000 // (9+4) = 307 ->
    # 400*400*307 // 1e6 = 49
    out2 = lm_backoff_scores(train, s2).collect()[0]
    assert out2["n_unigram_backoffs"] == 1 and out2["score_sum_milli"] == 49
    s3 = spark.createDataFrame([(7, "a a b")], "doc_id bigint, text string")
    # token 'b' ctx (a,a): trigram aab unseen; bigram (a,b): c23=3,
    # c2(a)=3 -> 1000; 400*1000//1000 = 400
    out3 = lm_backoff_scores(train, s3).collect()[0]
    assert out3["n_bigram_backoffs"] == 1 and out3["score_sum_milli"] == 400


def test_unigram_train_matches_pure_python_reference(spark, sf_dir):
    """Unigram-LM tokenizer training (r8, SentencePiece-style hard-EM):
    the DISTRIBUTED trainer must produce the exact vocabulary —
    pieces, Viterbi counts and log-probs — of an independent pure-python
    implementation run on the collected word table (integer count
    aggregation is order-free, Viterbi DP is deterministic, so the two
    must be identical, not merely close)."""
    import math
    from collections import Counter

    from esgopeta_spark.operators.unigram import (
        _MAX_PIECE,
        unigram_train,
        viterbi_segment,
    )

    docs = read_table(spark, sf_dir, "documents").limit(120)
    got = unigram_train(docs, vocab_size=150, seed_size=800, n_iters=3)

    # --- pure-python reference (independent loop, same algorithm) ---
    rows = (
        docs.select(F.explode(F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").count().collect()
    )
    wt = {r["w"]: r["count"] for r in rows}
    seed = Counter()
    for w, n in wt.items():
        for i in range(len(w)):
            for l in range(1, min(_MAX_PIECE, len(w) - i) + 1):
                seed[w[i : i + l]] += n
    top = dict(sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:800])
    for p, c in seed.items():
        if len(p) == 1:
            top.setdefault(p, c)
    chars = {p for p in top if len(p) == 1}
    total = sum(top.values())
    logp = {p: math.log(c / total) for p, c in top.items()}
    counts = dict(top)
    for _ in range(3):
        c2 = Counter()
        for w, n in wt.items():
            for piece in viterbi_segment(w, logp):
                c2[piece] += n
        counts = dict(c2)
        for ch in chars:
            counts.setdefault(ch, 1)
        total = sum(counts.values())
        logp = {p: math.log(c / total) for p, c in counts.items()}
        keep = max(150, int(len(logp) * 0.75))
        if len(logp) > keep:
            ranked = sorted(logp, key=lambda p: (-counts.get(p, 0), p))
            kept = set(ranked[:keep]) | chars
            logp = {p: lp for p, lp in logp.items() if p in kept}
            counts = {p: counts.get(p, 1) for p in logp}
    ranked = sorted(logp, key=lambda p: (-counts.get(p, 0), p))
    kept = set(ranked[:150]) | chars
    total = sum(counts.get(p, 1) for p in kept)
    want = sorted(
        ((p, counts.get(p, 1), math.log(counts.get(p, 1) / total)) for p in kept),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want  # piece-for-piece, count-for-count, logprob-for-logprob


def test_unigram_segmentation_properties(spark, sf_dir):
    """Viterbi segmentation invariants: every training word segments;
    concatenation reconstructs the word; token count never exceeds char
    count; frequent whole words become single pieces; the apply-side
    kernel's totals match per-word recomputation."""
    from esgopeta_spark.operators.unigram import (
        unigram_segment_counts,
        unigram_train,
        viterbi_segment,
    )

    docs = read_table(spark, sf_dir, "documents").limit(150)
    vocab = unigram_train(docs, vocab_size=120, seed_size=600, n_iters=2)
    logp = {p: lp for p, _c, lp in vocab}
    words = {
        r["w"]
        for r in docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        ).filter(F.col("w") != "").distinct().collect()
    }
    for w in words:
        segs = viterbi_segment(w, logp)
        assert "".join(segs) == w and 1 <= len(segs) <= len(w)
    # the corpus's frequent words are single pieces
    by_count = sorted(vocab, key=lambda t: -t[1])[:10]
    assert any(len(p) >= 4 for p, _c, _l in by_count)
    out = unigram_segment_counts(docs.limit(10), vocab).collect()
    for r in out:
        text = docs.filter(F.col("doc_id") == r["doc_id"]).collect()[0]["text"]
        t = " ".join(text.lower().split())
        want = sum(len(viterbi_segment(w, logp)) for w in t.split(" ") if w)
        assert r["n_unigram_tokens"] == want and r["n_chars"] == len(t)


def test_unigram_segment_counts_quarantines_oov_docs(spark):
    """r9 (advice): a doc containing a character OUTSIDE the trained
    alphabet must not kill the stage — it gets NULL token counts (the
    media-kernel quarantine posture) while other docs score normally."""
    from esgopeta_spark.operators.unigram import unigram_train, unigram_segment_counts

    train = spark.createDataFrame(
        [(i, "abc cab bca") for i in range(4)], "doc_id long, text string"
    )
    vocab = unigram_train(train, vocab_size=20, seed_size=50, n_iters=1)
    apply_docs = spark.createDataFrame(
        [(1, "abc abc"), (2, "ZZZ outside vocab"), (3, "cab")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_segment_counts(apply_docs, vocab).collect()}
    assert got[1]["n_unigram_tokens"] is not None and got[1]["n_chars"] == 7
    assert got[2]["n_unigram_tokens"] is None  # quarantined, not crashed
    assert got[2]["n_chars"] == len("zzz outside vocab")
    assert got[3]["n_unigram_tokens"] is not None


def test_aho_corasick_blocklist(spark):
    """Multi-pattern blocklist matching (r8): the from-scratch
    Aho-Corasick automaton must report EVERY occurrence (overlapping,
    nested, phrase-inside-phrase — the classic 'ushers' case) exactly
    like a brute-force position scan; blocklist_hits aggregates per doc
    over normalized text; filter_blocklisted keeps only clean docs with
    original columns intact."""
    from esgopeta_spark.operators.matching import (
        AhoCorasick,
        blocklist_hits,
        filter_blocklisted,
    )

    # automaton == brute force on adversarial pattern sets
    for phrases, text in [
        (["aba", "ba", "abab"], "ababab"),
        (["he", "she", "his", "hers"], "ushers and his shed"),
        (["aa", "aaa"], "aaaaa"),
        (["x"], "no hits here at all"),
    ]:
        ac = AhoCorasick(phrases)
        got = sorted((e - len(phrases[p]), phrases[p]) for e, p in ac.finditer(text))
        want = sorted(
            (i, p) for p in phrases for i in range(len(text)) if text[i : i + len(p)] == p
        )
        assert got == want, (phrases, text)

    docs = spark.createDataFrame(
        [
            (1, "THE  bad   Phrase appears: bad phrase twice, bad phrase!"),
            (2, "a totally clean document"),
            (3, "overlap overlap overlap"),
            (4, None),  # null text = clean
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in blocklist_hits(docs, ["bad phrase", "overlap ove"]).collect()}
    assert len(out) == 4
    # normalized text of doc 1: 'the bad phrase appears: bad phrase twice, bad phrase!'
    assert out[1]["n_hits"] == 3 and out[1]["n_phrases"] == 1 and out[1]["first_hit_pos"] == 4
    assert out[2]["n_hits"] == 0 and out[2]["first_hit_pos"] == -1
    assert out[3]["n_hits"] == 2  # overlapping 'overlap ove' at 0 and 8
    assert out[4]["n_hits"] == 0
    kept = {r["doc_id"] for r in filter_blocklisted(docs, ["bad phrase", "overlap ove"]).collect()}
    assert kept == {2, 4}
    cols = filter_blocklisted(docs, ["bad phrase"]).columns
    assert cols == ["doc_id", "text"]  # originals pass through
    # r9 (advice): single lineage — the filter is one Arrow pass, no
    # self-join recomputing the docs subtree on both sides
    fplan = filter_blocklisted(docs, ["bad phrase"])._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in fplan
    # r9 (advice): raw phrases that NORMALIZE identically count once
    once = {r["doc_id"]: r["n_hits"]
            for r in blocklist_hits(docs, ["bad phrase", "BAD   phrase"]).collect()}
    assert once[1] == 3


def test_cdc_chunking_properties(spark):
    """Content-defined chunking (r8): (a) the vectorized gear hash
    equals the sequential recurrence; (b) sizes respect min/avg/max and
    the mean tracks avg; (c) THE CDC property — boundaries after an
    insertion resynchronize exactly; (d) cdc_chunk_table +
    cdc_dedup_stats find cross-doc shared regions and account savings;
    (e) cdc_file_pairs pairs docs sharing a region and nothing else."""
    import hashlib

    import numpy as np

    from esgopeta_spark.operators import cdc

    rng = np.random.default_rng(9)
    data = rng.integers(0, 256, 30000, dtype=np.uint8).tobytes()
    # (a) closed form == recurrence (after the 64-byte window fills)
    seq, hs = 0, []
    for byte in data[:300]:
        seq = ((seq << 1) + int(cdc._GEAR[byte])) & (2**64 - 1)
        hs.append(seq)
    hv = cdc._gear_hashes(np.frombuffer(data[:300], np.uint8))
    assert all(int(hv[i]) == hs[i] for i in range(cdc._WINDOW - 1, 300))
    # (b) sizes
    ends = cdc.cdc_boundaries(data)
    sizes = np.diff([0] + ends)
    assert ends[-1] == len(data)
    assert sizes.min() >= 64 or ends.index(int(ends[-1])) == len(ends) - 1  # tail may be short
    assert all(s <= 1024 for s in sizes)
    assert 150 < sizes[:-1].mean() < 500  # tracks avg_size=256
    # (c) resync after insertion
    edited = data[:1000] + b"XYZ" + data[1000:]
    t1 = {e for e in ends if e > 1100}
    t2 = {e - 3 for e in cdc.cdc_boundaries(edited) if e > 1100}
    assert t1 == t2
    # (d)+(e) shared region across different docs
    shared = rng.integers(0, 256, 6000, dtype=np.uint8).tobytes()
    docs = [
        (1, rng.integers(0, 256, 2000, dtype=np.uint8).tobytes() + shared),
        (2, rng.integers(0, 256, 3500, dtype=np.uint8).tobytes() + shared),
        (3, rng.integers(0, 256, 4000, dtype=np.uint8).tobytes()),  # unrelated
        (4, None),  # null payload skipped
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, payload binary")
    stats = cdc.cdc_dedup_stats(df).collect()
    dup = [r for r in stats if r["n_copies"] > 1]
    assert dup and all(r["n_docs"] == 2 and r["keeper_id"] == 1 for r in dup)
    assert sum(r["dedup_savings_bytes"] for r in dup) > 3000  # most of the 6KB region
    pairs = {(r["id_a"], r["id_b"]): r["n_shared_chunks"]
             for r in cdc.cdc_file_pairs(df, min_shared_chunks=3).collect()}
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] >= 3
    # chunk table offsets/hashes agree with a local recompute for doc 1
    ct = sorted(
        (r["chunk_idx"], r["offset"], r["length"], r["chunk_hash"])
        for r in cdc.cdc_chunk_table(df).collect() if r["doc_id"] == 1
    )
    payload = docs[0][1]
    s0 = 0
    for i, e in enumerate(cdc.cdc_boundaries(payload)):
        assert ct[i] == (i, s0, e - s0, hashlib.sha256(payload[s0:e]).hexdigest())
        s0 = e


def test_phash_textured_invariance_and_pairs(spark):
    """pHash (DCT perceptual hash): on TEXTURED images it is bit-stable
    under uniform brightness shifts (integerized-coefficient median
    compare), within hamming<=3 of the original after JPEG
    recompression, and well-separated across distinct textures; the
    image_dup_pairs method='phash' path joins through the same banded
    machinery."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import image_dup_pairs, phash64

    rng = np.random.default_rng(7)
    # textured bases: smoothed random fields (dense DCT spectra — the
    # regime pHash is built for)
    def textured(seed):
        r = np.random.default_rng(seed).uniform(0, 1, (28, 36))
        k = np.ones((5, 5)) / 25.0
        sm = np.zeros_like(r)
        for dy in range(-2, 3):
            for dx in range(-2, 3):
                sm += np.roll(np.roll(r, dy, 0), dx, 1) / 25.0
        g = ((sm - sm.min()) / (sm.max() - sm.min()) * 160 + 20).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    for seed in range(5):
        base = textured(seed)
        f0 = phash64(base)
        for k in (5, 17, 40):
            shifted = np.clip(base.astype(np.int64) + k, 0, 255).astype(np.uint8)
            assert phash64(shifted) == f0, (seed, k)
        jp = codecs.decode_jpeg(codecs.encode_jpeg(base, quality=90))
        assert ham(phash64(jp), f0) <= 3, seed
    fps = [phash64(textured(s)) for s in range(8)]
    assert min(
        ham(a, b) for i, a in enumerate(fps) for b in fps[i + 1 :]
    ) > 10  # distinct textures stay far apart

    rows = [
        (0, codecs.encode_png(textured(0))),
        (1, codecs.encode_jpeg(textured(0), quality=90)),  # near-dup of 0
        (2, codecs.encode_png(textured(3))),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {(r["id_a"], r["id_b"]) for r in image_dup_pairs(df, max_hamming=3, method="phash").collect()}
    assert got == {(0, 1)}


def test_audio_fingerprint_near_dup_pairs_vs_bruteforce(spark):
    """Audio near-dup (G2 for audio, r8): spectral difference-hash over
    REAL encoded payloads (WAV + MPEG-1 L2/L3) + the shared banded
    Hamming join must find EXACTLY the brute-force pairs at hamming<=3;
    the same clip re-encoded lossily or gain-halved must pair with its
    original; poison payloads are skipped."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import (
        audio_dup_pairs,
        audio_fp64,
        decode_audio_any,
    )

    def clip(cls):
        t = np.arange(17 * 512)
        f1, f2, am = [(300, 2100, 3.0), (450, 1600, 5.0), (600, 3000, 2.0)][cls]
        env = 1.0 + 0.5 * np.sin(2 * np.pi * am * t / 32000)
        x = env * (np.sin(2 * np.pi * f1 * t / 32000) + 0.6 * np.sin(2 * np.pi * f2 * t / 32000))
        return (np.round(x / np.abs(x).max() * 3000) * 4).astype(np.int64)

    rows, local_fp = [], {}
    i = 0
    for cls in range(3):
        base = clip(cls)
        variants = [
            codecs.encode_wav(base.astype(np.int16), 32000),
            codecs.encode_wav((base >> 1).astype(np.int16), 32000),  # half volume
            codecs.encode_mpeg1_audio(base.astype(np.int16), 32000, layer=2),
            codecs.encode_mpeg1_audio(base.astype(np.int16), 32000, layer=3),
        ]
        for pay in variants:
            rows.append((i, pay))
            local_fp[i] = audio_fp64(decode_audio_any(pay)[0])
            i += 1
    rows.append((99, b"\x00not-audio"))
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {(r["id_a"], r["id_b"]) for r in audio_dup_pairs(df, max_hamming=3).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    want = {
        (a, b) for a in local_fp for b in local_fp
        if a < b and ham(local_fp[a], local_fp[b]) <= 3
    }
    assert got == want
    # every same-class variant quad is fully paired (6 pairs per class)
    for cls in range(3):
        ids = range(cls * 4, cls * 4 + 4)
        assert all((a, b) in got for a in ids for b in ids if a < b), cls
    assert not any(99 in p for p in got)


def test_video_shared_frame_pairs_vs_bruteforce(spark):
    """Video near-dup (G2 for video, r8): per-frame dHash over REAL
    MJPEG-mp4 payloads + the shared-frame equi-join must find exactly
    the videos sharing >= 2 distinct frame fingerprints, with the right
    DISTINCT counts (a repeated frame is one fingerprint); junk is
    skipped."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import video_dup_pairs

    def pat(j):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = [(1, 0), (0, 1), (2, 1), (1, 2)][j]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        return np.clip(np.round(arr), 0, 255).astype(np.uint8)

    rows = [
        (0, codecs.encode_mjpeg_mp4([pat(0), pat(1), pat(2)])),
        (1, codecs.encode_mjpeg_mp4([pat(1), pat(2), pat(3)])),  # shares 2 with 0
        (2, codecs.encode_mjpeg_mp4([pat(2), pat(3), pat(0)])),  # shares 2 w/0, 3 w/1? no: {2,3,0}&{0,1,2}=2, &{1,2,3}=2
        (3, codecs.encode_mjpeg_mp4([pat(3), pat(3), pat(3)])),  # 1 distinct frame
        (99, b"junk-not-a-video"),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    got = {(r["id_a"], r["id_b"]): r["n_shared_frames"]
           for r in video_dup_pairs(df, min_shared_frames=2).collect()}
    assert got == {(0, 1): 2, (0, 2): 2, (1, 2): 2}
    # count pairs at threshold 1: video 3 shares one frame with 1 and 2
    got1 = {(r["id_a"], r["id_b"]): r["n_shared_frames"]
            for r in video_dup_pairs(df, min_shared_frames=1).collect()}
    assert got1[(1, 3)] == 1 and got1[(2, 3)] == 1 and (0, 3) not in got1


def test_video_entry_frame_hashes_separated_post_jpeg():
    """Pin the dedup_video_shared_frames oracle's soundness argument on
    the hashes that actually feed the join — dHash of the JPEG(q85)
    ROUND-TRIPPED frames, not the raw arrays: the 6 cycle patterns must
    produce exactly 6 distinct frame fingerprints >= 8 bits apart after
    the lossy encode, and the fingerprints must be stable across videos
    (frame j of video j equals frame 0 of video j-1 etc.)."""
    import itertools

    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import dhash64

    fxy = [(1, 0), (0, 1), (2, 1), (1, 2), (3, 0), (2, 3)]

    def pat(j):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = fxy[j]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        return np.clip(np.round(arr), 0, 255).astype(np.uint8)

    hashes = {}
    for j in range(6):
        vid = codecs.encode_mjpeg_mp4([pat(j), pat((j + 1) % 6), pat((j + 2) % 6)], quality=85)
        frames = codecs.decode_mjpeg_frames(vid)
        hashes[j] = [dhash64(f) for f in frames]
    # cross-video stability: shared patterns give identical hashes
    for j in range(6):
        assert hashes[j][1] == hashes[(j + 1) % 6][0]
        assert hashes[j][2] == hashes[(j + 2) % 6][0]
    # per-video distinctness + global separation
    distinct = {h for v in hashes.values() for h in v}
    assert len(distinct) == 6
    for j in range(6):
        assert len(set(hashes[j])) == 3
    dmin = min(
        bin((a ^ b) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(distinct, 2)
    )
    assert dmin >= 8, dmin


def test_audio_fingerprint_entry_classes_separated():
    """Pin the dedup_audio_fingerprint oracle's soundness argument (r9
    spectral-profile redesign): the 6 tone-mix classes sit >= 10 Hamming
    bits apart (measured 12 — comfortably above the pair threshold 3),
    exact power-of-two gain leaves the hash IDENTICAL, and this module's
    lossy codecs move it by at most 1 bit — so same-class variants
    always pair under hamming<=3 and cross-class pairs are impossible."""
    import itertools

    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import audio_fp64, decode_audio_any

    cls_params = [(300, 2100, 3.0), (450, 1600, 5.0), (600, 3000, 2.0),
                  (250, 5000, 4.0), (800, 1200, 7.0), (350, 4200, 6.0)]

    def base(cls):
        t = np.arange(17 * 512)
        f1, f2, am = cls_params[cls]
        env = 1.0 + 0.5 * np.sin(2 * np.pi * am * t / 32000)
        x = env * (np.sin(2 * np.pi * f1 * t / 32000) + 0.6 * np.sin(2 * np.pi * f2 * t / 32000))
        return (np.round(x / np.abs(x).max() * 3000) * 4).astype(np.int64)

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    fps = {}
    for cls in range(6):
        b = base(cls)
        f0 = audio_fp64(b.astype(np.float64))
        assert audio_fp64((b >> 1).astype(np.float64)) == f0  # exact gain invariance
        assert audio_fp64((b >> 2).astype(np.float64)) == f0
        for layer in (2, 3):
            dec, _ = decode_audio_any(
                codecs.encode_mpeg1_audio(b.astype(np.int16), 32000, layer=layer)
            )
            assert ham(audio_fp64(dec), f0) <= 1, (cls, layer)
        fps[cls] = f0
    dmin = min(ham(fps[a], fps[b]) for a, b in itertools.combinations(range(6), 2))
    assert dmin >= 10, dmin


def test_audio_fingerprint_shift_robust():
    """r9 (verdict #3): the fingerprint anchors at the signal onset, so a
    re-encoded copy with ANY leading-sample offset — trimmed silence,
    extra silence, a different encoder delay — still pairs with its
    original under the banded join's hamming<=3, including through the
    lossy codecs.  Cross-class separation is unaffected."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import (
        _onset_start,
        audio_fp64,
        decode_audio_any,
    )

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    t = np.arange(17 * 512)
    for f1, f2, am in [(300, 2100, 3.0), (450, 1600, 5.0), (800, 1200, 7.0)]:
        env = 1.0 + 0.5 * np.sin(2 * np.pi * am * t / 32000)
        x = env * (np.sin(2 * np.pi * f1 * t / 32000) + 0.6 * np.sin(2 * np.pi * f2 * t / 32000))
        content = (np.round(x / np.abs(x).max() * 3000) * 4).astype(np.int64)
        lead = 2048  # the "as published" clip carries leading silence
        base = np.concatenate([np.zeros(lead, dtype=np.int64), content])
        f0 = audio_fp64(base.astype(np.float64))
        # the anchor lands on the content start, not sample 0
        assert abs(_onset_start(base.astype(np.float64)) - lead) < 64
        for shift in (-2048, -1024, -100, 100, 512, 777, 5000):
            # negative = trim leading silence, positive = prepend more
            shifted = base[-shift:] if shift < 0 else np.concatenate(
                [np.zeros(shift, dtype=np.int64), base]
            )
            assert ham(audio_fp64(shifted.astype(np.float64)), f0) <= 2, shift
            # gain change on top of the shift
            assert ham(audio_fp64((shifted >> 1).astype(np.float64)), f0) <= 2, shift
        # through the lossy codec with a planted shift (the real-corpus
        # duplicate mode: same clip, different leading silence + encoder)
        shifted = np.concatenate([np.zeros(700, dtype=np.int64), base])
        dec, _ = decode_audio_any(
            codecs.encode_mpeg1_audio(shifted.astype(np.int16), 32000, layer=3)
        )
        assert ham(audio_fp64(dec), f0) <= 3


def test_lsh_cosine_recall(spark, sf_dir):
    from esgopeta_spark.operators.similarity import topk_cosine, topk_cosine_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = topk_cosine(emb, queries, k=5).collect()
    approx = topk_cosine_lsh(emb, queries, dim=64, k=5, n_planes=4, n_tables=8).collect()
    truth = {(r["query_id"], r["nbr_id"]) for r in exact}
    got = {(r["query_id"], r["nbr_id"]) for r in approx}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"LSH ANN recall {recall} too low"  # 64-dim uniform data is hard; scale path, not exactness


def test_topk_cosine_lsh_kernel_matches_join(spark, sf_dir):
    """The r14 driver-collected-query LSH Arrow pass must be
    BIT-identical to the posexplode + broadcast-equi-join + unrolled
    cosine formulation it replaced (rebuilt inline here), including the
    candidate set (any-table collision == first-match-dedup'd equi
    join), every bucket bit (same fused per-element accumulation), every
    cosine (same IEEE fold), and the (cosine DESC, id ASC) tie order —
    this equality is what keeps the full-pipeline DuckDB oracle hash of
    sim_topk_cosine_lsh valid."""
    import struct as st

    from pyspark.sql.window import Window

    from esgopeta_spark.operators.similarity import (
        _bucket_array, _first_match, _hyperplanes, as_double,
        cosine_prenormed, norm_unrolled, topk_cosine_lsh,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    dim, k, n_planes, n_tables, seed = 64, 5, 6, 4, 42  # the catalog entry's params
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    all_planes = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    c = (
        emb.select(F.col("vec_id").alias("nbr_id"), as_double(F.col("embedding")).alias("_cv"))
        .withColumn("_cn", norm_unrolled(F.col("_cv"), dim))
        .withColumn("_cba", _bucket_array(F.col("_cv"), all_planes))
        .select("nbr_id", "_cv", "_cn", "_cba", F.posexplode("_cba").alias("_t", "_b"))
    )
    q = (
        queries.select("query_id", as_double(F.col("embedding")).alias("_qv"))
        .withColumn("_qn", norm_unrolled(F.col("_qv"), dim))
        .withColumn("_qba", _bucket_array(F.col("_qv"), all_planes))
        .select("query_id", "_qv", "_qn", "_qba", F.posexplode("_qba").alias("_t", "_b"))
    )
    cand = (
        c.join(F.broadcast(q), ["_t", "_b"])
        .filter(F.col("nbr_id") != F.col("query_id"))
        .filter(_first_match(F.col("_cba"), F.col("_qba"), F.col("_t")))
    )
    scored = cand.withColumn(
        "cosine_sim",
        cosine_prenormed(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"), dim),
    ).select("query_id", "nbr_id", "cosine_sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("nbr_id").asc()
    )
    legacy = (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )
    want = {
        (r["query_id"], r["rank"]): (r["nbr_id"], st.pack("<d", r["cosine_sim"]))
        for r in legacy.collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], st.pack("<d", r["cosine_sim"]))
        for r in topk_cosine_lsh(
            emb, queries, dim=dim, k=k, n_planes=n_planes, n_tables=n_tables, seed=seed
        ).collect()
    }
    assert got == want and len(got) > 0


def test_asof_join(spark):
    from esgopeta_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [("A", 10.0, 1), ("A", 25.0, 2), ("B", 5.0, 3), ("A", 3.0, 4)],
        "sym string, t double, trade_id int",
    )
    quotes = spark.createDataFrame(
        [("A", 5.0, 100.0), ("A", 20.0, 101.0), ("B", 1.0, 200.0), ("B", 9.0, 201.0)],
        "sym string, t double, px double",
    )
    out = asof_join(trades, quotes.withColumnRenamed("t", "qt"), "sym", "t", "qt", ["px"])
    got = {(r["sym"], r["t"]): r["px"] for r in out.collect()}
    assert got == {("A", 10.0): 100.0, ("A", 25.0): 101.0, ("B", 5.0): 200.0, ("A", 3.0): None}


def test_asof_join_tie_at_equal_ts(spark):
    from esgopeta_spark.operators.asof import asof_join

    left = spark.createDataFrame([("A", 10.0, 1)], "sym string, t double, i int")
    right = spark.createDataFrame([("A", 10.0, 42.0)], "sym string, qt double, px double")
    out = asof_join(left, right, "sym", "t", "qt", ["px"]).collect()
    assert out[0]["px"] == 42.0  # at-or-before includes equal timestamps


def test_range_join(spark):
    from esgopeta_spark.operators.asof import range_join

    points = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], "pid int, x double")
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 10.0, 20.0), (30, 3.0, 27.0)], "iid int, lo double, hi double"
    )
    out = range_join(points, intervals, "x", "lo", "hi", bucket_width=8.0)
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == {(1, 10), (1, 30), (2, 20), (2, 30), (3, 30)}


def test_multimodal_pipeline(spark):
    """r9: the multimodal_features registry entry rides the REAL decode
    path (stub kernels retired) — pin its join shape + feature
    determinism end-to-end."""
    from esgopeta_spark.plans import REGISTRY

    out = REGISTRY["multimodal_features"].fn(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    # 64 media rows, every other one an image (i%4 in {0,1}) -> 32 images
    assert len(rows) == 32
    assert {r["format"] for r in rows} == {"bmp", "ppm", "png", "jpeg", "gif"}
    assert all(r["width"] >= 16 and r["height"] >= 12 for r in rows)
    # luma mean of an 8-bit image in [0, 255] micro-units; real pixels -> nonzero
    assert all(0 < r["luma_mean_micro"] < 255_000_000 for r in rows)
    rows2 = REGISTRY["multimodal_features"].fn(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_multimodal_resize_dims(spark):
    """Real resize path: aspect preserved, never upscaled, payload
    re-encoded in the SAME format and still decodable at the new size."""
    from esgopeta_spark.operators.multimodal import (
        decode_image_any,
        resize_media,
        synthetic_media_real,
    )

    media = synthetic_media_real(spark, 16).filter("kind = 'image'")
    src = {r["media_id"]: r["meta"] for r in media.select("media_id", "meta").collect()}
    out = {r["media_id"]: r for r in resize_media(media, max_side=8).collect()}
    assert len(out) == len(src) and all(r["ok"] for r in out.values())
    for mid, r in out.items():
        w, h = src[mid]["width"], src[mid]["height"]
        assert max(r["out_width"], r["out_height"]) <= 8
        assert abs(r["out_width"] / r["out_height"] - w / h) < 0.35
        arr = decode_image_any(bytes(r["payload"]))
        assert arr.shape[:2] == (r["out_height"], r["out_width"])
    big = resize_media(media, max_side=4096).collect()
    assert all(
        (r["out_width"], r["out_height"]) == (src[r["media_id"]]["width"], src[r["media_id"]]["height"])
        for r in big
    )


def test_approx_count_distinct_tolerance(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey").alias("n")).collect()[0]["n"]
    approx = o.select(F.approx_count_distinct("o_custkey", 0.02).alias("n")).collect()[0]["n"]
    assert abs(approx - exact) / exact < 0.05


def test_ivf_cosine_recall(spark, sf_dir):
    from esgopeta_spark.operators.similarity import topk_cosine, topk_cosine_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = topk_cosine(emb, queries, k=5, dim=64).collect()
    approx = topk_cosine_ivf(emb, queries, dim=64, k=5, centroid_stride=25, n_probe=3).collect()
    truth = {(r["query_id"], r["nbr_id"]) for r in exact}
    got = {(r["query_id"], r["nbr_id"]) for r in approx}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.4, f"IVF ANN recall {recall} too low"  # uniform 64-dim is the hard case


def test_kmeans_codebook_deterministic_and_tighter(spark, sf_dir):
    """The trained IVF codebook must (a) be bit-identical across runs —
    the property the oracle hash rests on — and (b) quantize tighter than
    the strided init it starts from (higher mean max-cosine)."""
    from esgopeta_spark.operators.similarity import (
        as_double,
        cosine_prenormed,
        kmeans_codebook,
        norm_unrolled,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    b1 = {r["cell"]: tuple(r["centroid"]) for r in kmeans_codebook(emb, dim=64, n_iter=2).collect()}
    b2 = {r["cell"]: tuple(r["centroid"]) for r in kmeans_codebook(emb, dim=64, n_iter=2).collect()}
    assert b1 == b2, "k-means codebook is not run-deterministic"

    def mean_max_cos(book_df):
        cents = book_df.select(
            F.col("cell").alias("_cell"), F.col("centroid").alias("_cent")
        ).withColumn("_centn", norm_unrolled(F.col("_cent"), 64))
        c = emb.select(as_double(F.col("embedding")).alias("_cv")).withColumn(
            "_cn", norm_unrolled(F.col("_cv"), 64)
        )
        return (
            c.join(F.broadcast(cents))
            .withColumn(
                "_s", cosine_prenormed(F.col("_cv"), F.col("_cent"), F.col("_cn"), F.col("_centn"), 64)
            )
            .groupBy("_cv")
            .agg(F.max("_s").alias("m"))
            .agg(F.avg("m"))
            .collect()[0][0]
        )

    strided = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("cell"), as_double(F.col("embedding")).alias("centroid")
    )
    trained = kmeans_codebook(emb, dim=64, n_iter=2)
    assert mean_max_cos(trained) > mean_max_cos(strided), "training did not tighten quantization"


def test_embedding_dup_lsh_recall(spark, sf_dir):
    from esgopeta_spark.operators.similarity import embedding_dup_pairs_exact, embedding_dup_pairs_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    # 0.3 yields a non-trivial pair set on this data; planes sized for its
    # angle: (1 - arccos(0.3)/pi)^3 ~ 0.21/table, 10 tables -> ~91% expected
    exact = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs_exact(emb, 0.3, 64).collect()}
    got = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs_lsh(emb, 0.3, 64, n_planes=3, n_tables=10).collect()}
    assert got <= exact, "LSH tier must return a subset of the exact pairs (same verify predicate)"
    assert exact, "test needs a non-empty truth set"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"embedding LSH recall {recall} too low"


def test_dup_components_vs_union_find(spark, sf_dir):
    from esgopeta_spark.operators.dedup import dedup_keepers, dup_components
    from esgopeta_spark.operators.similarity import embedding_dup_pairs_exact

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs_exact(emb, threshold=0.3, dim=64)
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert edges, "need a non-empty pair set"

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    # min-id canonicalization needs a final pass
    truth = {x: find(x) for x in parent}

    got = {r["id"]: r["comp"] for r in dup_components(pairs).collect()}
    assert got == truth

    keep = {r["id"]: r["keeper"] for r in dedup_keepers(emb, pairs, id_col="vec_id").collect()}
    n_all = emb.count()
    assert len(keep) == n_all
    for i, k in truth.items():
        assert keep[i] == k
    singles = set(keep) - set(truth)
    assert all(keep[s] == s for s in singles)

    # the extreme-scale path must produce the identical partition
    star = {r["id"]: r["comp"] for r in dup_components(pairs, algorithm="star").collect()}
    assert star == truth


def test_dup_components_star_equals_minlabel_on_topologies(spark):
    """Property: large/small-star CC == min-label CC on the pathological
    shapes — long chains (diameter stress), stars (skew stress), cliques,
    a deterministic random graph, and an already-canonical forest."""
    import random

    from esgopeta_spark.operators.dedup import dup_components

    rng = random.Random(42)
    topologies = {
        "chain": [(i, i + 1) for i in range(60)],
        "two_chains": [(i, i + 1) for i in range(25)] + [(100 + i, 101 + i) for i in range(25)],
        "star": [(0, i) for i in range(1, 40)],
        "reverse_star": [(i, 50) for i in range(40, 50)],
        "clique": [(a, b) for a in range(12) for b in range(a + 1, 12)],
        "random": [(rng.randrange(80), rng.randrange(80)) for _ in range(120)],
        "forest": [(0, 1), (0, 2), (10, 11), (10, 12), (20, 21)],
    }
    for name, edges in topologies.items():
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        ml = {r["id"]: r["comp"] for r in dup_components(pairs).collect()}
        st = {r["id"]: r["comp"] for r in dup_components(pairs, algorithm="star").collect()}
        assert ml == st, f"{name}: star CC diverged from min-label"


def test_approx_percentile_tolerance(spark, sf_dir):
    """The sketch percentile must land within 1% of the exact sort-based
    value per group (accuracy param 10k on ~15k rows/group)."""
    o = read_table(spark, sf_dir, "orders")
    exact = {
        r["o_orderstatus"]: (r["m"], r["p"])
        for r in o.groupBy("o_orderstatus")
        .agg(F.percentile("o_totalprice", 0.5).alias("m"), F.percentile("o_totalprice", 0.9).alias("p"))
        .collect()
    }
    approx = {
        r["o_orderstatus"]: (r["m"], r["p"])
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", 0.5, 10000).alias("m"),
            F.approx_percentile("o_totalprice", 0.9, 10000).alias("p"),
        )
        .collect()
    }
    for k, (m, p) in exact.items():
        am, ap = approx[k]
        assert abs(am - m) / m < 0.01 and abs(ap - p) / p < 0.01, (k, m, am, p, ap)


def test_chunk_documents_overlap_and_coverage(spark):
    from esgopeta_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, ""), (3, "solo")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: stride 6, starts 0,6,...,96 -> 17 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert len(c1) == 17
    assert c1[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    # consecutive chunks overlap by exactly 4 tokens
    a, b = c1[0]["chunk_text"].split(), c1[1]["chunk_text"].split()
    assert a[-4:] == b[:4]
    # full coverage: every token appears in some chunk
    seen = {t for r in c1 for t in r["chunk_text"].split()}
    assert len(seen) == 100
    # last chunk is short, n_tokens reflects it
    assert c1[-1]["n_tokens"] == 4 and len(c1[-1]["chunk_text"].split()) == 4
    # empty doc -> one empty chunk, not zero rows
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 0
    assert by_doc[3][0]["chunk_text"] == "solo" and by_doc[3][0]["n_tokens"] == 1


def test_redact_pii_patterns(spark):
    from esgopeta_spark.operators.text import redact_pii

    rows = [
        (1, "contact bob@example.com or +1 (555) 123-4567 now"),
        (2, "see https://example.com/path?q=1 for details"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["red"] for r in df.select("doc_id", redact_pii(F.col("text")).alias("red")).collect()}
    assert out[1] == "contact <email> or <phone> now"
    assert out[2] == "see <url> for details"
    assert out[3] == "no pii here"


def test_repetition_profile_detects_boilerplate(spark):
    from esgopeta_spark.operators.text import repetition_profile

    rows = [
        (1, "buy now " * 50),                     # heavy repetition
        (2, " ".join(f"w{i}" for i in range(60))),  # all distinct
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_profile(df, n=3).collect()}
    assert out[1]["dup_gram_frac"] > 0.9
    assert out[2]["dup_gram_frac"] == 0.0
    assert out[3]["n_grams"] == 0 and out[3]["dup_gram_frac"] == 0.0


def test_stratified_sample_deterministic_and_rate_accurate(spark):
    from esgopeta_spark.operators.text import stratified_sample

    rows = [(i, f"s{i % 2}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got1 = {r["doc_id"] for r in stratified_sample(df, {"s0": 0.5, "s1": 0.1}).collect()}
    got2 = {r["doc_id"] for r in stratified_sample(df, {"s0": 0.5, "s1": 0.1}).collect()}
    assert got1 == got2  # rerun-stable
    n0 = sum(1 for i in got1 if i % 2 == 0)
    n1 = sum(1 for i in got1 if i % 2 == 1)
    assert 400 < n0 < 600  # ~50% of 1000
    assert 50 < n1 < 160  # ~10% of 1000
    # default rate 0 drops unknown strata entirely
    df2 = spark.createDataFrame([(1, "other")], ["doc_id", "source"])
    assert stratified_sample(df2, {"s0": 1.0}).count() == 0


def test_contamination_overlap_flags_leaked_docs(spark):
    from esgopeta_spark.operators.text import contamination_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text with no overlap at all"),
            (3, "quick brown fox appears here too"),
        ],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, "watch the quick brown fox jump")], ["doc_id", "text"]
    )
    for hashed in (False, True):  # hashed (scale) and exact paths agree
        out = {r["doc_id"]: r["n_shared_grams"] for r in
               contamination_overlap(corpus, eval_set, n=3, hashed=hashed).collect()}
        assert set(out) == {1, 3}  # both share 'quick brown fox'; doc 2 clean
        assert out[1] >= 2  # 'the quick brown' + 'quick brown fox'
        assert out[3] == 1


def test_shingles_full_length_windows_only(spark):
    """Docs shorter than n words have an EMPTY shingle set — no partial
    gram, no ''-gram (ADVICE r3: two empty docs must not 'share' the empty
    gram and flag as contaminated/near-dup)."""
    from esgopeta_spark.operators.dedup import shingle_hashes, shingles
    from esgopeta_spark.operators.text import contamination_overlap

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"), (4, "one two three four")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            F.size(shingles(F.col("text"), 3)).alias("n_str"),
            F.size(shingle_hashes(F.col("text"), 3)).alias("n_hash"),
        ).collect()
    }
    for d in (1, 2, 3):  # under 3 words -> zero grams, both representations
        assert rows[d]["n_str"] == 0 and rows[d]["n_hash"] == 0, rows[d]
    assert rows[4]["n_str"] == 2 and rows[4]["n_hash"] == 2  # full windows only

    # two empty docs share nothing: contamination must NOT flag them
    corpus = spark.createDataFrame([(1, ""), (2, "x y")], ["doc_id", "text"])
    eval_set = spark.createDataFrame([(9, ""), (10, "y z")], ["doc_id", "text"])
    for hashed in (False, True):
        assert contamination_overlap(corpus, eval_set, n=3, hashed=hashed).count() == 0


def test_jaccard_empty_vs_empty_is_zero(spark):
    from esgopeta_spark.operators.dedup import brute_force_jaccard_pairs

    docs = spark.createDataFrame([(1, "a b"), (2, "c d")], ["doc_id", "text"])
    # both docs have empty 3-gram sets; jaccard 0 -> below any threshold
    assert brute_force_jaccard_pairs(docs, threshold=0.1, shingle_n=3).count() == 0


def test_semantic_dedup_verdicts_consistent(spark, sf_dir):
    """SemDeDup verdicts: one row per vector; keepers are component minima;
    every flagged dup shares a cluster cell with some >=threshold partner
    (cluster-scoped pairs only — the documented SemDeDup recall trade)."""
    from esgopeta_spark.operators.similarity import embedding_dup_pairs_exact, semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, dim=64, threshold_micro=400000, init_stride=25, n_iter=1)
    rows = out.collect()
    assert len(rows) == emb.count()  # total verdict coverage
    by_id = {r["vec_id"]: r for r in rows}
    dups = [r for r in rows if r["is_dup"] == 1]
    assert dups, "threshold 0.4 must flag something at this SF"
    for r in dups:
        assert r["keeper"] < r["vec_id"]  # keeper is smaller by construction
        assert by_id[r["keeper"]]["is_dup"] == 0  # keepers are never dups
        assert by_id[r["keeper"]]["keeper"] == r["keeper"]  # root maps to itself
    # semantic (within-cell) pairs are a SUBSET of exact quadratic pairs:
    # every dup must have an exact-cosine>=0.4 partner somewhere
    exact = embedding_dup_pairs_exact(emb, threshold=0.4, dim=64)
    paired = {r["id_a"] for r in exact.collect()} | {r["id_b"] for r in exact.collect()}
    for r in dups:
        assert r["vec_id"] in paired


def test_duplicated_ngram_spans_vs_bruteforce(spark):
    """Positioned 8-gram span stats vs a pure-python oracle on a corpus
    with a planted shared passage."""
    from esgopeta_spark.operators.dedup import duplicated_ngram_spans

    boiler = "all rights reserved this document is provided as is without warranty"
    docs = [
        (1, "alpha beta " + boiler + " gamma delta"),
        (2, boiler + " epsilon zeta eta theta iota kappa"),
        (3, "totally unique words that nobody else shares in any window at all"),
        (4, "short doc"),
    ]
    out = {
        r["doc_id"]: r
        for r in duplicated_ngram_spans(
            spark.createDataFrame(docs, ["doc_id", "text"]), n=8, min_docs=2
        ).collect()
    }

    # python oracle
    def windows(text):
        w = " ".join(text.lower().split()).split(" ")
        return [" ".join(w[i : i + 8]) for i in range(len(w) - 7)] if len(w) >= 8 else []

    all_w = {i: windows(t) for i, t in docs}
    from collections import Counter

    docs_per_gram = Counter()
    for i, ws in all_w.items():
        for g in set(ws):
            docs_per_gram[g] += 1
    shared = {g for g, c in docs_per_gram.items() if c >= 2}
    for i, ws in all_w.items():
        hits = [(p, g) for p, g in enumerate(ws) if g in shared]
        if not hits:
            assert i not in out
            continue
        assert out[i]["n_dup_windows"] == len(hits)
        assert out[i]["n_dup_grams"] == len({g for _, g in hits})
        assert out[i]["first_dup_pos"] == min(p for p, _ in hits)
    assert 1 in out and 2 in out  # the planted boilerplate is detected
    assert 3 not in out and 4 not in out


def _span_oracle(docs, n=8, min_docs=2):
    """Pure-python exact-substring span computation: positioned n-grams,
    shared set, merge overlapping/adjacent windows, char offsets in the
    normalized text."""
    from collections import Counter

    norm = {i: " ".join(t.lower().split()) for i, t in docs}
    words = {i: t.split(" ") for i, t in norm.items()}
    grams = {
        i: [" ".join(w[p : p + n]) for p in range(len(w) - n + 1)] if len(w) >= n else []
        for i, w in words.items()
    }
    per_gram = Counter()
    for i, gs in grams.items():
        for g in set(gs):
            per_gram[g] += 1
    shared = {g for g, c in per_gram.items() if c >= min_docs}
    spans = {}
    for i, gs in grams.items():
        hits = sorted(p for p, g in enumerate(gs) if g in shared)
        merged = []
        for p in hits:
            if merged and p <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], p + n), merged[-1][2] + 1)
            else:
                merged.append((p, p + n, 1))
        out = []
        for sid, (s, e, nw) in enumerate(merged, start=1):
            w = words[i]
            sc = 0 if s == 0 else len(" ".join(w[:s])) + 1
            ec = len(" ".join(w[:e]))
            out.append((sid, s, e, sc, ec, nw))
        spans[i] = out
    return norm, words, spans


def test_duplicated_span_ranges_vs_bruteforce(spark):
    """Span EXTRACTION (the Lee et al. removal prerequisite): merged
    (start_word, end_word, start_char, end_char) ranges must equal a
    pure-python oracle, including overlap+adjacency merging and char
    offsets into the normalized text."""
    from esgopeta_spark.operators.dedup import duplicated_span_ranges

    boiler = "all rights reserved this document is provided as is without warranty"
    tail = "subscribe to our newsletter for more updates and exclusive offers today"
    docs = [
        (1, "alpha beta " + boiler + " gamma delta " + tail),
        (2, boiler + " epsilon zeta eta " + tail),
        (3, "totally unique words that nobody else shares in any window at all"),
        (4, "short doc"),
        # two ABUTTING shared passages -> windows chain into ONE span
        (5, "intro words here " + boiler + " " + tail + " outro"),
        (6, "other prefix " + boiler + " " + tail + " different end"),
    ]
    got = {}
    rows = duplicated_span_ranges(
        spark.createDataFrame(docs, ["doc_id", "text"]), n=8, min_docs=2
    ).collect()
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["span_id"], r["start_word"], r["end_word"], r["start_char"],
             r["end_char"], r["n_windows"])
        )
    _, _, want = _span_oracle(docs)
    for i in want:
        assert sorted(got.get(i, [])) == want[i], f"doc {i}"
    # char offsets slice the normalized text to real word boundaries
    norm, _, spans = _span_oracle(docs)
    for i, sps in spans.items():
        for _, s, e, sc, ec, _ in sps:
            assert norm[i][sc:ec] == " ".join(norm[i].split(" ")[s:e])


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    @settings(max_examples=6, deadline=None)
    @given(data=st.data())
    def test_duplicated_span_ranges_property(spark, data):
        """Hypothesis sweep of the span extractor: random small-vocab
        corpora (which produce heavy accidental n-gram sharing, unlike
        the planted fixtures) must match the pure-python oracle on every
        span boundary in word AND char coordinates."""
        from esgopeta_spark.operators.dedup import duplicated_span_ranges

        vocab = ["aa", "b", "ccc", "dd", "e"]
        docs = []
        n_docs = data.draw(st.integers(min_value=2, max_value=5))
        for i in range(n_docs):
            n_words = data.draw(st.integers(min_value=0, max_value=24))
            words_ = [data.draw(st.sampled_from(vocab)) for _ in range(n_words)]
            docs.append((i, " ".join(words_)))
        n = 3
        got: dict = {}
        rows = duplicated_span_ranges(
            spark.createDataFrame(docs, ["doc_id", "text"]), n=n, min_docs=2
        ).collect()
        for r in rows:
            got.setdefault(r["doc_id"], []).append(
                (r["span_id"], r["start_word"], r["end_word"],
                 r["start_char"], r["end_char"], r["n_windows"])
            )
        _, _, want = _span_oracle(docs, n=n)
        for i in want:
            assert sorted(got.get(i, [])) == want[i], (i, docs)

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=4000),
        edit_pos=st.integers(min_value=0, max_value=3999),
        data=st.data(),
    )
    def test_cdc_boundaries_property(n, edit_pos, data):
        """Hypothesis sweep of CDC chunking: chunks always partition the
        input exactly within [min(=tail-exempt), max] size bounds, and
        inserting bytes anywhere re-synchronizes every boundary beyond
        the edit's influence window."""
        import numpy as np

        from esgopeta_spark.operators.cdc import cdc_boundaries

        seed = data.draw(st.integers(min_value=0, max_value=2**31))
        payload = np.random.default_rng(seed).integers(0, 256, n, dtype=np.uint8).tobytes()
        ends = cdc_boundaries(payload)
        assert (ends[-1] if ends else 0) == len(payload)
        sizes = [b - a for a, b in zip([0] + ends, ends)]
        assert all(s <= 1024 for s in sizes)
        assert all(s >= 64 for s in sizes[:-1])  # only the tail may be short
        if n > edit_pos:
            ins = data.draw(st.binary(min_size=1, max_size=5))
            edited = payload[:edit_pos] + ins + payload[edit_pos:]
            e2 = cdc_boundaries(edited)
            # the TRUE invariant: once both walks land on a common
            # boundary after the edit, every later boundary is identical
            # (same suffix, same deterministic walk).  A hard "resync
            # within K bytes" bound does NOT hold in general — max-size
            # force-cuts can phase-lock through candidate-free stretches.
            t1 = {e for e in ends if e > edit_pos + len(ins) + 64}
            t2 = {e - len(ins) for e in e2 if e > edit_pos + len(ins) + 64}
            common = sorted(t1 & t2)
            if common:
                sync = common[0]
                assert {e for e in t1 if e >= sync} == {e for e in t2 if e >= sync}


def test_remove_duplicated_spans_cleans_text(spark):
    """Cleaning pass: span words removed, survivors re-joined; clean docs
    pass through; counts agree with the python oracle."""
    from esgopeta_spark.operators.dedup import remove_duplicated_spans

    boiler = "all rights reserved this document is provided as is without warranty"
    docs = [
        (1, "alpha beta " + boiler + " gamma delta"),
        (2, boiler + " epsilon zeta eta theta iota kappa"),
        (3, "totally unique words that nobody else shares in any window at all"),
        (4, "UPPER  Case   whitespace doc"),
    ]
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            spark.createDataFrame(docs, ["doc_id", "text"]), n=8, min_docs=2
        ).collect()
    }
    assert len(out) == 4  # one row per input doc, clean ones included
    norm, words, spans = _span_oracle(docs)
    for i, t in docs:
        drop = {p for _, s, e, *_ in spans[i] for p in range(s, e)}
        kept = [w for p, w in enumerate(words[i]) if p not in drop]
        assert out[i]["clean_text"] == " ".join(kept)
        assert out[i]["n_spans"] == len(spans[i])
        assert out[i]["n_removed_words"] == len(drop)
        assert out[i]["n_kept_words"] == len(words[i]) - len(drop)
    assert out[3]["clean_text"] == norm[3]  # untouched, but normalized
    assert out[4]["clean_text"] == "upper case whitespace doc"


def test_pack_sequences_layout(spark):
    """Streaming-packer layout: id-ordered cumsum binning per source;
    a doc goes to the window where it starts; bins are contiguous."""
    from esgopeta_spark.operators.text import pack_sequences

    docs = [
        # source a: token counts 3, 4, 2 with window 5 ->
        # doc1 starts at 0 (bin 0), doc2 at 3 (bin 0), doc3 at 7 (bin 1)
        (1, "a", "one two three"),
        (2, "a", "four five six seven"),
        (3, "a", "eight nine"),
        # source b: a single 6-token doc straddles the window; stays in bin 0
        (4, "b", "alpha beta gamma delta epsilon zeta"),
    ]
    out = {
        (r["source"], r["seq_bin"]): r
        for r in pack_sequences(
            spark.createDataFrame(docs, ["doc_id", "source", "text"]), window_tokens=5
        ).collect()
    }
    assert out[("a", 0)]["n_docs"] == 2 and out[("a", 0)]["tokens_used"] == 7
    assert out[("a", 0)]["first_doc"] == 1
    assert out[("a", 1)]["n_docs"] == 1 and out[("a", 1)]["tokens_used"] == 2
    # overflow stays visible: 6 tokens in a 5-token window
    assert out[("b", 0)]["tokens_used"] == 6
    assert set(out) == {("a", 0), ("a", 1), ("b", 0)}


def test_constraint_audit_counts_and_null_semantics(spark):
    """NULL predicates count as violations; counts match hand truth; the
    whole table audit is one aggregate."""
    from esgopeta_spark.operators.quality import constraint_audit, referential_audit

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (3, None, "A"), (4, 7.0, None)],
        "id int, amount double, grade string",
    )
    out = {
        r["check_name"]: r
        for r in constraint_audit(
            df,
            {
                "amount_positive": F.col("amount") > 0,
                "grade_domain": F.col("grade").isin("A", "B"),
            },
        ).collect()
    }
    assert out["amount_positive"]["n_rows"] == 4
    assert out["amount_positive"]["n_violations"] == 2  # -5 and NULL
    assert out["grade_domain"]["n_violations"] == 1  # NULL grade
    assert out["amount_positive"]["violation_ppm"] == 500000

    dim = spark.createDataFrame([(1,), (2,)], "k int")
    ref = referential_audit(df, dim, "id", "k", "id_in_dim").collect()[0]
    assert ref["n_rows"] == 4 and ref["n_violations"] == 2  # ids 3, 4 missing


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """The distributed merge sequence must equal a pure-python BPE run on
    the same word frequencies (deterministic (count DESC, pair ASC)
    tiebreak), and segment counts must reflect the learned vocabulary."""
    from collections import Counter

    from esgopeta_spark.operators.bpe import _END, bpe_segment_counts, bpe_train

    docs = read_table(spark, sf_dir, "documents").limit(120)
    merges = bpe_train(docs, n_merges=12)
    assert len(merges) == 12

    # python reference on the identical normalized word frequencies
    freqs = Counter()
    for r in docs.select("text").collect():
        for w in " ".join((r["text"] or "").lower().split()).split(" "):
            if w:
                freqs[w] += 1
    words = {w: list(w) + [_END] for w in freqs}
    want = []
    for _ in range(12):
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += freqs[w]
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < 2:
            break
        want.append((l, r, c))
        for w, syms in words.items():
            i, res = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = res
    assert merges == want

    counts = {r["doc_id"]: r for r in bpe_segment_counts(docs, merges).collect()}
    assert len(counts) == docs.count()
    for r in counts.values():
        # char-level upper bound: chars + one end-of-word marker per word,
        # and words-1 spaces are counted in n_chars -> tokens <= chars + 1
        assert 0 < r["n_bpe_tokens"] <= r["n_chars"] + 1
    # the learned merges actually compress: total tokens < char-level baseline
    char_level = sum(len(w) + 1 for w, c in freqs.items() for _ in range(c))
    total = sum(r["n_bpe_tokens"] for r in counts.values())
    assert total < char_level


def test_bpe_batched_rounds_and_invariance(spark, sf_dir):
    """Batched acceptance (the provably-exact prefix rule) must (a) return
    the byte-identical merge sequence at every batch size and (b) actually
    cut driver rounds — the scale fix for production 30k-100k-merge
    vocabularies (r4 VERDICT 'What's wrong' #1)."""
    from esgopeta_spark.operators.bpe import bpe_train, bpe_train_wordtable

    docs = read_table(spark, sf_dir, "documents").limit(60)
    s1, s8 = {}, {}
    seq1 = bpe_train(docs, n_merges=24, batch=1, stats=s1)
    seq8 = bpe_train(docs, n_merges=24, batch=8, stats=s8)
    assert seq1 == seq8
    assert s1["rounds"] == len(seq1)  # classic: one merge per round
    # exact batching can only cut rounds where top candidates are symbol-
    # disjoint; the honest guarantee is monotone improvement (the ~K×
    # claim needs late-regime vocabularies — measured in SCALE.md)
    assert s8["rounds"] < s1["rounds"], (s8, s1)
    # the production scale path: driver-local delta-update trainer over
    # the collected word table — byte-identical sequence
    assert bpe_train_wordtable(docs, n_merges=24) == seq1
    with pytest.raises(ValueError):
        bpe_train_wordtable(docs, n_merges=4, max_words=3)

    # adversarial alphabet for the in-batch merge-string collision guard:
    # over {a, b}, merges like ("ab","a") and ("a","ba") concatenate to
    # the same new symbol — accepting both in one batch would let pairs
    # around "aba" sum contributions from two merges and diverge from
    # sequential (code-review regression, r5)
    import random

    rng = random.Random(9)
    texts = [
        (i, " ".join("".join(rng.choice("ab") for _ in range(rng.randint(2, 7)))
                     for _ in range(rng.randint(3, 8))))
        for i in range(50)
    ]
    bdocs = spark.createDataFrame(texts, "doc_id bigint, text string")
    assert bpe_train(bdocs, n_merges=30, batch=8) == bpe_train_wordtable(bdocs, n_merges=30)


def test_reliable_checkpoint_mode_identical_results(spark, sf_dir, tmp_path):
    """The checkpoint="reliable" knob (r4 VERDICT task 4) must produce
    identical results to the default local mode while writing its blocks
    to the registered checkpoint dir (what survives executor loss on a
    real cluster): BPE, connected components and both pageranks."""
    import os

    from esgopeta_spark.operators.bpe import bpe_train
    from esgopeta_spark.operators.dedup import dup_components
    from esgopeta_spark.operators.graph_analytics import pagerank, personalized_pagerank

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))

    docs = read_table(spark, sf_dir, "documents").limit(60)
    assert bpe_train(docs, n_merges=8, batch=4, checkpoint="reliable") == bpe_train(
        docs, n_merges=8, batch=4, checkpoint="local"
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a bigint, id_b bigint"
    )
    local = {(r["id"], r["comp"]) for r in dup_components(pairs).collect()}
    reliable = {(r["id"], r["comp"]) for r in dup_components(pairs, checkpoint="reliable").collect()}
    assert local == reliable
    # the reliable run actually wrote blocks to the registered dir
    wrote = any(files for _, _, files in os.walk(tmp_path / "ckpt"))
    assert wrote, "reliable checkpoint produced no files"

    with pytest.raises(ValueError):
        dup_components(pairs, checkpoint="ram")

    # both pageranks: one checkpoint dir each, so each must write its own blocks
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (1, 2), (2, 5)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node bigint")
    for name, run in [
        ("pagerank", lambda mode: pagerank(edges, checkpoint=mode)),
        ("personalized_pagerank", lambda mode: personalized_pagerank(edges, seeds, checkpoint=mode)),
    ]:
        ckpt = tmp_path / f"ckpt_{name}"
        spark.sparkContext.setCheckpointDir(str(ckpt))
        assert sorted(run("reliable").collect()) == sorted(run("local").collect()), name
        assert any(files for _, _, files in os.walk(ckpt)), f"{name}: reliable checkpoint produced no files"


def test_pq_adc_recall_and_rerank(spark, sf_dir):
    """PQ-ADC must find most of the exact top-k (coarse 16-centroid seed
    codebook — recall bound is modest), and the PQ+rerank recipe must
    recover nearly all of it; reranked scores are exact inner products."""
    from esgopeta_spark.operators.similarity import topk_cosine, topk_ip_pq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # exact INNER-PRODUCT top-k ground truth (self-match included, like PQ)
    adc = topk_ip_pq(emb, queries, dim=64, k=5, m=8, ks=16)
    # uniform random 64-dim data is PQ's hard case (no cluster structure,
    # 16-centroid seed codebook): measured candidate recall 0.6/0.7/0.88
    # at depth 25/50/100 — rerank depth buys recall, the PQ dial
    rr = topk_ip_pq(emb, queries, dim=64, k=5, m=8, ks=16, rerank=100)

    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    truth = {}
    for qid in [r["query_id"] for r in queries.collect()]:
        scores = sorted(
            ((float(vecs[qid] @ v), -i) for i, v in vecs.items()), reverse=True
        )[:5]
        truth[qid] = {-i for _, i in scores}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["nbr_id"])
        hits = sum(len(got[q] & truth[q]) for q in truth)
        return hits / (5 * len(truth))

    r_adc, r_rr = recall(adc), recall(rr)
    assert r_adc >= 0.3, f"raw ADC recall collapsed: {r_adc}"
    assert r_rr >= 0.8, f"PQ+rerank recall too low: {r_rr}"
    assert r_rr >= r_adc  # reranking can only help
    # every query's top hit under rerank matches the exact argmax
    top1 = {r["query_id"]: r["nbr_id"] for r in rr.filter(F.col("rank") == 1).collect()}
    for qid, t in truth.items():
        best = max(t, key=lambda i: (float(vecs[qid] @ vecs[i]), -i))
        assert top1[qid] == best


def test_kmv_sketch_accuracy_and_mergeability(spark, sf_dir):
    """KMV distinct sketch: estimates within the k=64 theoretical error
    band, exact below k, and the k-smallest state merges by
    union + re-truncate (the property that makes it a one-shuffle-of-k
    sketch at scale)."""
    from esgopeta_spark.operators.sketches import kmv_distinct, kmv_state

    o = read_table(spark, sf_dir, "orders")
    est = {r["o_orderpriority"]: r for r in
           kmv_distinct(o, "o_custkey", ["o_orderpriority"], k=64).collect()}
    exact = {r["o_orderpriority"]: r["n"] for r in
             o.groupBy("o_orderpriority").agg(F.countDistinct("o_custkey").alias("n")).collect()}
    for g, n in exact.items():
        e = est[g]["est_distinct"]
        if n < 64:  # strictly below k: the sketch IS the value set
            assert e == n, (g, e, n)
        else:  # at or above k the estimator engages
            assert abs(e - n) / n < 0.5, (g, e, n)  # ~1/sqrt(64) band, generous

    # mergeability: state(A ∪ B) == truncate(state(A) ∪ state(B))
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 2 == 1)
    whole = {(r["o_orderpriority"], r["kmv_h"]) for r in
             kmv_state(o, "o_custkey", ["o_orderpriority"], k=64).collect()}
    parts = {}
    for part in (a, b):
        for r in kmv_state(part, "o_custkey", ["o_orderpriority"], k=64).collect():
            parts.setdefault(r["o_orderpriority"], set()).add(r["kmv_h"])
    merged = {(g, h) for g, hs in parts.items() for h in sorted(hs)[:64]}
    assert merged == whole


def test_funnel_requires_stage_order(spark):
    """Funnel semantics: a user counts at stage k only if their first
    stage-k event strictly follows their first qualifying stage-(k-1)
    event — clicking before ever viewing must not convert."""
    import datetime

    from esgopeta_spark.operators.funnel import funnel_stages

    def ev(u, t, typ):
        return (u, datetime.datetime(2024, 1, 1, 0, 0, t), typ)

    rows = [
        # u1: proper view -> click -> purchase
        ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
        # u2: clicked BEFORE viewing, never clicked after -> stops at view
        ev(2, 1, "click"), ev(2, 2, "view"),
        # u3: view then click (reaches stage 2), but the only purchase
        # PRECEDES the click -> never converts at stage 3
        ev(3, 1, "view"), ev(3, 2, "purchase"), ev(3, 3, "click"),
        # u4: view only
        ev(4, 1, "view"),
        # u5: out-of-order but recovers (click before AND after view)
        ev(5, 1, "click"), ev(5, 2, "view"), ev(5, 3, "click"), ev(5, 4, "purchase"),
    ]
    events = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    got = {r["stage"]: r["n_users"] for r in funnel_stages(events, ["view", "click", "purchase"]).collect()}
    # u1/u3/u5 click after viewing; only u1+u5 purchase after that click
    assert got == {"view": 5, "click": 3, "purchase": 2}


def test_cms_sketch_no_false_negatives_and_overcount_bound(spark, sf_dir):
    """Count-Min sketch: every estimate >= the true count (CMS never
    under-counts), and with a 4x256 grid the total overcount across all
    keys stays within the eps*N*n_keys expectation band (generous 2x)."""
    from esgopeta_spark.operators.sketches import cms_estimates

    ev = read_table(spark, sf_dir, "events")
    est = {r["user_id"]: r["est_cnt"] for r in
           cms_estimates(ev, ev.select("user_id"), "user_id", depth=4, width=256).collect()}
    exact = {r["user_id"]: r["n"] for r in
             ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(est) == set(exact)
    n_total = sum(exact.values())
    for u, n in exact.items():
        assert est[u] >= n, (u, est[u], n)  # the CMS invariant
        # per-key Markov bound: overcount < e/width * N w.p. ~1 per row,
        # min over 4 rows makes the tail tiny; allow a generous 2x
        assert est[u] - n <= 2 * math.e * n_total / 256 + 1, (u, est[u], n)


def test_cms_state_merges_by_counter_sum(spark, sf_dir):
    """Mergeability: the sketch of A ∪ B equals the element-wise counter
    sum of the sketches of A and B — the property that lets 1000
    executors each keep a 4x256 grid and combine map-side."""
    from esgopeta_spark.operators.sketches import cms_state

    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    whole = {(r["cms_row"], r["cms_bucket"]): r["cnt"]
             for r in cms_state(ev, "user_id").collect()}
    summed: dict = {}
    for part in (a, b):
        for r in cms_state(part, "user_id").collect():
            k = (r["cms_row"], r["cms_bucket"])
            summed[k] = summed.get(k, 0) + r["cnt"]
    assert summed == whole


def test_cms_weighted_estimates(spark):
    """Weighted CMS: counters accumulate integer weights, estimates
    bound the true weighted totals from above."""
    from esgopeta_spark.operators.sketches import cms_estimates

    rows = [(k, w) for k in range(50) for w in ([3] * (k % 4 + 1))]
    df = spark.createDataFrame(rows, "k bigint, w bigint")
    est = {r["k"]: r["est_cnt"] for r in
           cms_estimates(df, df.select("k"), "k", weight_col="w",
                         depth=4, width=64).collect()}
    exact = {r["k"]: r["s"] for r in
             df.groupBy("k").agg(F.sum("w").alias("s")).collect()}
    for k, s in exact.items():
        assert est[k] >= s


def test_resample_locf_fills_gaps_carrying_last_value(spark):
    """Hand-built series: a 5-day span with observations on days 1, 2, 5
    must yield a 5-row grid where days 3-4 are gaps carrying day-2's
    closing value, and the closing value of a multi-event day is the one
    from the LAST event by (ts, tiebreak)."""
    import datetime

    from esgopeta_spark.operators.timeseries import resample_locf

    def ev(i, day, hour, v):
        return (i, datetime.datetime(2024, 3, day, hour), 7, "x", float(v), None)

    rows = [ev(1, 1, 9, 10.0), ev(2, 2, 8, 20.0), ev(3, 2, 15, 25.0), ev(4, 5, 12, 99.0)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    got = {r["bucket"].day: (r["filled_value"], r["n_events"], r["is_gap"])
           for r in resample_locf(df).collect()}
    assert got == {
        1: (10.0, 1, 0),
        2: (25.0, 2, 0),  # day 2 closes at the 15:00 event, not the 08:00 one
        3: (25.0, 0, 1),
        4: (25.0, 0, 1),
        5: (99.0, 1, 0),
    }


def test_resample_locf_grid_is_per_key_span(spark):
    """Each key's grid spans ITS OWN [first, last] day — a key observed on
    a single day yields exactly one row, untouched by other keys' spans."""
    import datetime

    from esgopeta_spark.operators.timeseries import resample_locf

    rows = [
        (1, datetime.datetime(2024, 3, 1), 1, "x", 1.0, None),
        (2, datetime.datetime(2024, 3, 9), 1, "x", 2.0, None),
        (3, datetime.datetime(2024, 3, 5), 2, "x", 5.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    out = resample_locf(df).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append(r)
    assert len(by_key[1]) == 9 and len(by_key[2]) == 1
    assert sum(r["is_gap"] for r in by_key[1]) == 7
    assert by_key[2][0]["filled_value"] == 5.0 and by_key[2][0]["is_gap"] == 0


def test_assign_cells_matches_join_argmax(spark, sf_dir):
    """The driver-collected-codebook Arrow kernel must be BIT-identical
    to the broadcast-join + max_by argmax it replaced (same IEEE fold
    order, same smallest-cell tie-break) — this equality is what keeps
    every IVF/SemDeDup oracle hash valid."""
    import struct as st

    from esgopeta_spark.operators.similarity import (
        as_double, assign_cells, cosine_prenormed, norm_unrolled,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    dim = 64
    c = emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v")) \
        .withColumn("_n", norm_unrolled(F.col("_v"), dim))
    cents = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("cell"), as_double(F.col("embedding")).alias("centroid")
    )
    cents_n = cents.withColumn("_centn", norm_unrolled(F.col("centroid"), dim))
    legacy = (
        c.join(F.broadcast(cents_n))
        .withColumn("_sim", cosine_prenormed(F.col("_v"), F.col("centroid"),
                                             F.col("_n"), F.col("_centn"), dim))
        .groupBy("_id")
        .agg(F.max_by("cell", F.struct(F.col("_sim"), (-F.col("cell")).alias("_nc"))).alias("cell"),
             F.first("_n").alias("_n"))
    )
    want = {r["_id"]: (r["cell"], st.pack("<d", r["_n"])) for r in legacy.collect()}
    got_df = assign_cells(
        emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v")),
        cents, dim, "_id", "_v", cell_col="cell", norm_col="_n",
    )
    got = {r["_id"]: (r["cell"], st.pack("<d", r["_n"])) for r in got_df.collect()}
    assert got == want


def test_assign_cells_string_ids_and_null_vector_guard(spark):
    """General-operator contract (r6 ADVICE): the output id column must
    follow the input schema (string ids worked in the join formulation it
    replaced), and a null or ragged vector must fail with a CLEAR error,
    not an opaque np.stack shape exception."""
    from pyspark.errors.exceptions.captured import PythonException

    from esgopeta_spark.operators.similarity import assign_cells

    book = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell bigint, centroid array<double>"
    )
    docs = spark.createDataFrame(
        [("a", [0.9, 0.1]), ("b", [0.2, 0.8])], "id string, v array<double>"
    )
    got = {r["id"]: r["cell"] for r in assign_cells(docs, book, 2, "id", "v").collect()}
    assert got == {"a": 0, "b": 1}

    bad = spark.createDataFrame([("a", [0.9, 0.1]), ("b", None)], "id string, v array<double>")
    with pytest.raises(PythonException, match="null or wrong-length vector"):
        assign_cells(bad, book, 2, "id", "v").collect()
    ragged = spark.createDataFrame([("a", [0.9, 0.1, 0.3])], "id string, v array<double>")
    with pytest.raises(PythonException, match="null or wrong-length vector"):
        assign_cells(ragged, book, 2, "id", "v").collect()


def test_topk_cosine_kernel_matches_join_fold(spark, sf_dir):
    """The r14 driver-collected-query Arrow scoring pass (dim given) must
    be BIT-identical to the generic broadcast-join + interpreted-fold
    path (dim=None) — the fold is the documented bit-equal twin of the
    unrolled chain, so this pins the kernel against the formulation the
    oracle hash was built on, including per-partition top-k pruning
    exactness and the (cosine DESC, id ASC) tie order."""
    import struct as st

    from esgopeta_spark.operators.similarity import topk_cosine

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = {
        (r["query_id"], r["rank"]): (r["nbr_id"], st.pack("<d", r["cosine_sim"]))
        for r in topk_cosine(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], st.pack("<d", r["cosine_sim"]))
        for r in topk_cosine(emb, queries, k=5, dim=64).collect()
    }
    assert got == want and len(got) > 0


def test_semantic_dedup_kernel_matches_pairjoin_components(spark, sf_dir):
    """The r14 per-cell grouped verdict kernel (pairwise micro-cosines +
    min-label union-find inside one Arrow group) must reproduce the
    legacy formulation — cell-equi pair self-join, floor(cos*1e6+0.5)
    threshold, dup_components min-label propagation, verdict left-join —
    row for row.  Edges never cross cells (the pair join was equi on
    cell), so components decompose per cell; this pins that argument and
    the kernel's IEEE op order against the shape the oracle hash was
    built on."""
    from esgopeta_spark.operators.dedup import dup_components
    from esgopeta_spark.operators.similarity import (
        as_double, assign_cells, cosine_prenormed, kmeans_codebook, semantic_dedup,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    dim, thr = 64, 400000
    book = kmeans_codebook(emb, dim, 25, 1, "vec_id", "embedding")
    assigned = assign_cells(
        emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("_v")),
        book, dim, "_id", "_v", cell_col="cell", norm_col="_n",
    ).localCheckpoint()
    a = assigned.select(
        F.col("_id").alias("id_a"), "cell", F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), "cell", F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_micro",
            F.floor(
                cosine_prenormed(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"), dim)
                * 1000000.0 + 0.5
            ).cast("bigint"),
        )
        .filter(F.col("cosine_micro") >= F.lit(thr))
        .select("id_a", "id_b")
    )
    comps = dup_components(pairs)
    legacy = assigned.join(comps, assigned["_id"] == comps["id"], "left").select(
        F.col("_id").alias("vec_id"),
        "cell",
        F.coalesce(F.col("comp"), F.col("_id")).alias("keeper"),
        F.when(F.col("comp").isNotNull() & (F.col("comp") != F.col("_id")), F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("is_dup"),
    )
    want = {tuple(r) for r in legacy.collect()}
    got = {
        tuple(r)
        for r in semantic_dedup(
            emb, dim=dim, threshold_micro=thr, init_stride=25, n_iter=1
        ).collect()
    }
    assert got == want and len(got) > 0


def test_rolling_zscore_flags_spike_not_coldstart_or_constant(spark):
    """Hand series: a flat week then a big spike must flag exactly the
    spike day; the first 3 days (cold start) and a constant series
    (zero variance) report NULL z."""
    import datetime

    from esgopeta_spark.operators.timeseries import rolling_zscore

    rows = []
    eid = 0
    # user 1: 9 flat-ish days then a 100x spike on day 10
    for d in range(1, 10):
        eid += 1
        rows.append((eid, datetime.datetime(2024, 4, d, 12), 1, "x", 10.0 + (d % 3), None))
    eid += 1
    rows.append((eid, datetime.datetime(2024, 4, 10, 12), 1, "x", 1000.0, None))
    # user 2: constant value every day -> zero variance, never anomalous
    for d in range(1, 8):
        eid += 1
        rows.append((eid, datetime.datetime(2024, 4, d, 12), 2, "x", 5.0, None))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    out = {(r["user_id"], r["day"].day): r for r in rolling_zscore(df).collect()}
    # cold start: days 1-3 of user 1 have < 4 baseline rows -> NULL z
    for d in (1, 2, 3):
        assert out[(1, d)]["z_micro"] is None and out[(1, d)]["is_anomaly"] == 0
    # steady days are not anomalous
    for d in (4, 5, 6, 7, 8, 9):
        assert out[(1, d)]["is_anomaly"] == 0, d
    assert out[(1, 10)]["is_anomaly"] == 1 and out[(1, 10)]["z_micro"] > 2_000_000
    # constant series: zero variance -> NULL z on every eligible day
    assert all(out[(2, d)]["z_micro"] is None for d in range(1, 8))
    assert out[(1, 10)]["total_cents"] == 100000


def test_bloom_semi_join_equals_plain_semi_and_prefilters(spark, sf_dir):
    """The Bloom prefilter must lose NO true match (result == plain
    semi-join) while actually cutting rows before the exact join when
    the key set is selective."""
    from esgopeta_spark.operators.sketches import bloom_positions, bloom_semi_join

    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    got = {tuple(r) for r in bloom_semi_join(li, s, "l_suppkey", "s_suppkey")
           .select("l_orderkey", "l_linenumber").collect()}
    want = {tuple(r) for r in li.join(
        F.broadcast(s.select(F.col("s_suppkey").alias("l_suppkey"))), "l_suppkey", "semi"
    ).select("l_orderkey", "l_linenumber").collect()}
    assert got == want and got
    # the filter itself: rebuild the mask from the small side's positions
    # and check every key's k bits are set (the no-false-negative invariant
    # at the bit level), and that the prefilter genuinely cuts scan rows
    probes = s.select(*[p.alias(f"p{i}") for i, p in
                        enumerate(bloom_positions(F.col("s_suppkey")))]).collect()
    assert probes
    bits = {p for r in probes for p in r}
    for r in probes:
        assert all(p in bits for p in r)
    n_total = li.count()
    keys = {r["l_suppkey"] for r in li.select("l_suppkey").distinct().collect()}
    small_keys = {r["s_suppkey"] for r in s.collect()}
    if keys - small_keys:  # some rows genuinely excludable
        n_kept = len(got)
        assert n_kept < n_total


def test_histogram_quantiles_within_one_bin_of_exact(spark, sf_dir):
    """Each histogram estimate must sit within one bin width of the true
    percentile (the sketch's error bound), and the q ladder must be
    monotone."""
    from esgopeta_spark.operators.sketches import histogram_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    got = {r["q_permille"]: r for r in
           histogram_quantiles(li, "l_extendedprice", [250, 500, 750, 990]).collect()}
    vals = sorted(int(round(r[0] * 100)) for r in li.select("l_extendedprice").collect())
    ests = [got[q]["est_cents"] for q in (250, 500, 750, 990)]
    assert ests == sorted(ests)
    for q in (250, 500, 750, 990):
        true = vals[min(len(vals) - 1, (len(vals) * q + 999) // 1000 - 1)]
        width = got[q]["bin_width_cents"]
        assert abs(got[q]["est_cents"] - true) <= width + 1, (q, got[q], true)


def test_domain_affinity_ranks_target_domain_higher(spark, sf_dir):
    """Sanity of the DSIR-shaped signal: target-language documents must
    score higher on average than off-target ones (their bigrams hash
    into buckets dominated by target occurrences), and scores are
    bounded by the scale."""
    from esgopeta_spark.operators.text import domain_affinity

    docs = read_table(spark, sf_dir, "documents")
    out = domain_affinity(docs, F.col("lang") == "de")
    joined = {r["doc_id"]: r for r in out.join(docs.select("doc_id", "lang"), "doc_id").collect()}
    de = [r["affinity_micro"] for r in joined.values() if r["lang"] == "de"]
    other = [r["affinity_micro"] for r in joined.values() if r["lang"] != "de"]
    assert de and other
    assert all(0 <= a <= 1_000_000 for a in de + other)
    # the synthetic corpus shares most vocabulary across langs, so the
    # separation is real but modest — require a strict mean gap; the
    # strong-separation property is pinned on the hand corpus below
    assert sum(de) / len(de) > 1.05 * (sum(other) / len(other))


def test_domain_affinity_separates_disjoint_vocabularies(spark):
    """Hand corpus with DISJOINT vocabularies: target-domain docs must
    score near the maximum (their buckets are ~purely target) and
    off-domain docs near the baseline target fraction."""
    from esgopeta_spark.operators.text import domain_affinity

    med = [f"patient dosage {w} clinical trial outcome" for w in ("alpha", "beta", "gamma")]
    web = [f"click subscribe {w} channel video stream" for w in ("one", "two", "three", "four")]
    rows = [(i, t, "med", "s", len(t)) for i, t in enumerate(med)] + [
        (100 + i, t, "web", "s", len(t)) for i, t in enumerate(web)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    out = {r["doc_id"]: r["affinity_micro"] for r in
           domain_affinity(docs, F.col("lang") == "med", n_buckets=4096).collect()}
    med_scores = [out[i] for i in range(3)]
    web_scores = [out[100 + i] for i in range(4)]
    assert min(med_scores) > 800_000  # nearly pure target buckets
    assert max(web_scores) < 200_000  # near the zero-overlap baseline


def test_domain_affinity_skips_gramless_docs(spark):
    """Docs with fewer than 2 words have no bigrams and must produce no
    affinity row (not a zero row)."""
    from esgopeta_spark.operators.text import domain_affinity

    docs = spark.createDataFrame(
        [(1, "hello world again", "en", "s", 17), (2, "one", "en", "s", 3), (3, "", "de", "s", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = {r["doc_id"] for r in domain_affinity(docs, F.col("lang") == "de").collect()}
    assert out == {1}


def test_compression_ratio_orders_repetition_and_handles_empty(spark):
    """Repeated text must compress harder (lower ratio) than varied
    text; empty docs report NULL; the column is deterministic across
    reruns."""
    from esgopeta_spark.operators.text import compression_ratio

    varied = "the quick brown fox jumps over a lazy dog near riverbank seven times daily"
    docs = spark.createDataFrame(
        [(1, "spam " * 200, "en", "s", 1000), (2, (varied + " ") * 14, "en", "s", 1000),
         (3, "", "en", "s", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert out[1]["ratio_micro"] < out[2]["ratio_micro"] < 1_000_000
    assert out[3]["ratio_micro"] is None and out[3]["raw_len"] == 0
    rerun = {r["doc_id"]: r["ratio_micro"] for r in compression_ratio(docs).collect()}
    assert rerun == {k: v["ratio_micro"] for k, v in out.items()}


def test_top_terms_tfidf_prefers_rare_terms(spark):
    """A term unique to one doc must outrank corpus-wide stopwords in
    that doc's top-k, and rank ties resolve by term order."""
    from esgopeta_spark.operators.text import top_terms_tfidf

    docs = spark.createDataFrame(
        [(1, "the cat the dog zymurgy", "en", "s", 10),
         (2, "the cat the bird", "en", "s", 10),
         (3, "the dog the bird", "en", "s", 10)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    by_rank = {r["rank"]: r for r in top_terms_tfidf(docs, k=2).collect()
               if r["doc_id"] == 1}
    assert by_rank[1]["term"] == "zymurgy" and by_rank[1]["df"] == 1  # unique term wins
    # 'the' appears in every doc (df=3) twice here: idf floor, rank 2 at best
    assert by_rank[2]["term"] != "the" or by_rank[2]["rank"] > 1


def test_sample_k_per_group_exact_count_and_partition_invariant(spark, sf_dir):
    """Each stratum yields exactly min(k, group size) rows, the sample is
    identical under different parallelism, and disjoint from rank order
    by raw id (i.e. genuinely hash-shuffled, not just first-k ids)."""
    from esgopeta_spark.operators.text import sample_k_per_group

    docs = read_table(spark, sf_dir, "documents")
    out = sample_k_per_group(docs, k=5)
    got = {(r["source"], r["doc_id"], r["sample_rank"]) for r in out.collect()}
    sizes = {r["source"]: r["n"] for r in
             docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    per_group: dict = {}
    for s, d, rk in got:
        per_group.setdefault(s, []).append(rk)
    for s, ranks in per_group.items():
        assert sorted(ranks) == list(range(1, min(5, sizes[s]) + 1)), s
    got2 = {(r["source"], r["doc_id"], r["sample_rank"])
            for r in sample_k_per_group(docs.repartition(13), k=5).collect()}
    assert got == got2
    # not just the lowest ids: at least one group's sample differs from
    # its k smallest doc_ids (md5 order is effectively random)
    lowest = {r["source"]: r["ids"] for r in
              docs.groupBy("source").agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5).alias("ids")).collect()}
    assert any(set(d for s2, d, _ in got if s2 == s) != set(lowest[s]) for s in per_group)


def test_k_anonymity_audit(spark):
    """k-anonymity: exactly the equivalence classes smaller than k are
    reported, with their sizes; a k-anonymous table yields zero rows."""
    from esgopeta_spark.operators.quality import k_anonymity_audit

    rows = [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)] * 1
    df = spark.createDataFrame(rows, "seg string, band int")
    got = {(r["seg"], r["band"]): r["class_size"]
           for r in k_anonymity_audit(df, ["seg", "band"], k=5).collect()}
    assert got == {("a", 2): 2, ("b", 1): 1}
    assert k_anonymity_audit(df, ["seg", "band"], k=1).count() == 0


def test_line_dedup_keep_first_and_drop_all(spark):
    """C4 keep-first: the first (doc_id, pos) occurrence of a repeated
    line survives, later ones are removed; CCNet drop-all removes every
    occurrence; empty lines are exempt; a fully-duplicated doc survives
    with clean_text = ''."""
    from esgopeta_spark.operators.text import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\ncommon line\nunique one"),
            (2, "common line\nother text"),
            (3, "common line"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # doc 1 holds the first occurrence of 'common line' (doc order) and
    # keeps its empty line verbatim
    assert got[1]["clean_text"] == "alpha beta\n\ncommon line\nunique one"
    assert (got[1]["n_kept"], got[1]["n_removed"]) == (4, 0)
    assert got[2]["clean_text"] == "other text"
    assert (got[2]["n_kept"], got[2]["n_removed"]) == (1, 1)
    assert got[3]["clean_text"] == ""
    assert (got[3]["n_kept"], got[3]["n_removed"]) == (0, 1)
    # the empty doc splits to one empty line — exempt, kept
    assert got[4]["clean_text"] == "" and got[4]["n_removed"] == 0

    strict = {r["doc_id"]: r for r in line_dedup(docs, keep_first=False).collect()}
    assert strict[1]["clean_text"] == "alpha beta\n\nunique one"
    assert strict[1]["n_removed"] == 1
    assert strict[2]["clean_text"] == "other text"
    assert strict[3]["clean_text"] == ""
    # min_count above the max multiplicity removes nothing
    untouched = {r["doc_id"]: r["n_removed"] for r in line_dedup(docs, min_count=4).collect()}
    assert set(untouched.values()) == {0}


def test_line_dedup_matches_brute_force(spark):
    """Keep-first line dedup agrees with a driver-side brute force on a
    seeded random corpus (repeated lines drawn from a tiny pool)."""
    import random

    from esgopeta_spark.operators.text import line_dedup

    rng = random.Random(78)
    pool = [f"dup line {i}" for i in range(6)]
    rows = []
    for d in range(40):
        lines = [
            rng.choice(pool) if rng.random() < 0.4 else f"uniq {d} {j}"
            for j in range(rng.randint(1, 7))
        ]
        rows.append((d, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    seen, expect = set(), {}
    for d, text in rows:
        kept, removed = [], 0
        for line in text.split("\n"):
            if line != "" and line in seen:
                removed += 1
            else:
                kept.append(line)
                if line != "":
                    seen.add(line)
        expect[d] = ("\n".join(kept), len(kept), removed)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in line_dedup(docs).collect()
    }
    assert got == expect
    # plan posture: window + reassembly only — no join anywhere
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_line_dedup_hardening_variants_bit_identical(spark):
    """r9 (verdict #4): the 100 TB hardening flags — xxhash64 window keys
    and the skew-safe partial-agg+join shape — produce BIT-IDENTICAL
    results to the default raw-string window path, on a corpus with a
    dominant hot line (the case the flags exist for)."""
    import random

    from esgopeta_spark.operators.text import line_dedup

    rng = random.Random(91)
    rows = []
    for d in range(60):
        lines = []
        for j in range(rng.randint(1, 8)):
            r = rng.random()
            if r < 0.5:
                lines.append("HOT boilerplate footer")  # dominant key
            elif r < 0.6:
                lines.append("")
            elif r < 0.75:
                lines.append(f"dup {rng.randint(0, 3)}")
            else:
                lines.append(f"uniq {d} {j}")
        rows.append((d, "\n".join(lines)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def snap(df):
        return sorted(
            (r["doc_id"], r["clean_text"], r["n_kept"], r["n_removed"])
            for r in df.collect()
        )

    for keep_first in (True, False):
        base = snap(line_dedup(docs, keep_first=keep_first))
        assert snap(line_dedup(docs, keep_first=keep_first, hash_keys=True)) == base
        for hk in (False, True):
            assert snap(
                line_dedup(docs, keep_first=keep_first, hash_keys=hk, skew_safe=True)
            ) == base

    # plan posture: hash_keys windows on xxhash64, not the raw line;
    # skew_safe has NO window over the line key — partial agg + equi join
    hplan = line_dedup(docs, hash_keys=True)._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in hplan
    splan = line_dedup(docs, skew_safe=True)._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in splan
    assert "CartesianProduct" not in splan and "BroadcastNestedLoop" not in splan
    assert "HashAggregate" in splan or "SortAggregate" in splan


def test_gopher_rules_matches_brute_force(spark):
    """Gopher battery stats and flags agree with a driver-side brute
    force (integer-milli arithmetic) on docs engineered to trip each
    rule separately."""
    from esgopeta_spark.operators.text import gopher_rules

    rows = [
        (1, "the of " + " ".join(f"word{i}xy" for i in range(58))),  # passes all
        (2, "short doc"),                                        # word count
        (3, " ".join(["supercalifragilisticexpialidocious"] * 60)),  # mwl + dup
        (4, " ".join(["12345 9876"] * 30)),                      # alpha
        (5, "zebra quark violin " * 20),                         # stopwords + dup
        (6, ""),                                                 # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import re

    expect = {}
    for d, text in rows:
        norm = re.sub(r"\s+", " ", text.lower().strip())
        ws = norm.split(" ") if norm else []
        n = len(ws)
        chars = (len(norm) - (n - 1)) if n else 0
        alpha = sum(1 for x in ws if re.search("[a-z]", x))
        stop = len(set(ws) & {"the", "and", "of", "to", "in", "is", "that", "it", "for", "was"})
        grams = [" ".join(ws[i : i + 3]) for i in range(max(n - 2, 0))]
        ng, dup = len(grams), len(grams) - len(set(grams))
        mwl = (chars * 1000) // n if n else 0
        al = (alpha * 1000) // n if n else 0
        d3 = (dup * 1000) // ng if ng else 0
        f = (
            int(50 <= n <= 100_000), int(3000 <= mwl <= 10_000),
            int(al >= 800), int(stop >= 2), int(d3 <= 300),
        )
        expect[d] = (n, mwl, al, stop, d3) + f + (int(all(f)),)

    got = {
        r["doc_id"]: (
            r["n_words"], r["mwl_milli"], r["alpha_milli"], r["stop_hits"], r["dup3_milli"],
            r["r_word_count"], r["r_mean_word_len"], r["r_alpha_words"],
            r["r_stopwords"], r["r_repetition"], r["keep"],
        )
        for r in gopher_rules(docs).collect()
    }
    assert got == expect
    # each rule actually fired somewhere and doc 1 survives
    assert got[1][-1] == 1
    assert got[2][5] == 0 and got[3][6] == 0 and got[4][7] == 0 and got[5][8] == 0


def test_split_shards_deterministic_and_stable(spark):
    """Split/shard/ordinal agree with a hashlib brute force; assignments
    are stable under corpus growth (a doc never migrates); ordinals are
    dense 1..k within each (split, shard)."""
    import hashlib

    from esgopeta_spark.operators.text import split_shards

    ids = list(range(300))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: (r["split"], r["shard"], r["ordinal"])
           for r in split_shards(docs).collect()}

    t1, t2 = 3435973836, 3865470566
    expect_sr = {}
    for i in ids:
        h = hashlib.md5(str(i).encode()).hexdigest()
        d1, d2 = int(h[:8], 16), int(h[8:16], 16)
        split = "train" if d1 < t1 else ("val" if d1 < t2 else "test")
        expect_sr[i] = (split, d2 % 8, h)
    # ordinals: rank by (md5, id) within (split, shard)
    from collections import defaultdict

    groups = defaultdict(list)
    for i, (s, sh, h) in expect_sr.items():
        groups[(s, sh)].append((h, i))
    expect = {}
    for key, members in groups.items():
        for rank, (_, i) in enumerate(sorted(members), 1):
            expect[i] = (key[0], key[1], rank)
    assert got == expect
    # proportions in the right neighborhood for 300 uniform draws
    from collections import Counter

    c = Counter(s for s, _, _ in got.values())
    assert 0.7 * 300 < c["train"] < 0.9 * 300 and c["val"] > 0 and c["test"] > 0
    # growth stability: halving the corpus changes no surviving assignment
    half = split_shards(spark.createDataFrame([(i,) for i in ids[:150]], "doc_id long"))
    for r in half.collect():
        assert got[r["doc_id"]][:2] == (r["split"], r["shard"])


def test_split_shards_rejects_colliding_columns(spark):
    """r9 (advice): appended column names colliding with input columns
    raise a clear ValueError instead of producing ambiguous plans."""
    import pytest

    from esgopeta_spark.operators.text import split_shards

    for bad in ("split", "shard", "ordinal", "_h"):
        df = spark.createDataFrame([(1, "x")], f"doc_id long, {bad} string")
        with pytest.raises(ValueError, match=bad):
            split_shards(df)


def test_pipeline_clean_gate_split_composes(spark):
    """The fused prep-tail entry equals composing the three operators
    step by step, and its physical plan has no cartesian product."""
    from esgopeta_spark.operators.text import gopher_rules, line_dedup, split_shards
    from esgopeta_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["pipeline_clean_gate_split"].fn(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    got = {(r["split"], r["shard"]): (r["n_docs"], r["sum_words"]) for r in out.collect()}

    import pyspark.sql.functions as F

    from esgopeta_spark.session import read_table

    d = read_table(spark, sf, "documents").select(
        "doc_id", F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n").alias("text")
    )
    cleaned = line_dedup(d).select("doc_id", F.col("clean_text").alias("text"))
    gated = gopher_rules(cleaned, min_stop_hits=1).filter(F.col("keep") == 1)
    stats = {r["doc_id"]: r["n_words"] for r in gated.select("doc_id", "n_words").collect()}
    assign = {r["doc_id"]: (r["split"], r["shard"])
              for r in split_shards(gated.select("doc_id")).collect()}
    from collections import defaultdict

    expect = defaultdict(lambda: [0, 0])
    for doc, nw in stats.items():
        k = assign[doc]
        expect[k][0] += 1
        expect[k][1] += nw
    assert got == {k: tuple(v) for k, v in expect.items()}
    assert sum(v[0] for v in got.values()) > 0


# --- DSIR importance selection (r9) ---------------------------------------


def test_milli_log2_matches_float_log2(spark):
    """The engine-exact shift-and-square milli-log2 must sit within its
    documented floor-biased band of the true log2: mantissa truncation +
    10-bit fraction floor + milli floor => ml in [1000*log2(v) - 2.5, 1000*log2(v)]."""
    import math
    import random

    from esgopeta_spark.operators.selection import with_milli_log2

    rng = random.Random(99)
    vals = [1, 2, 3, 1023, 1024, 1025, (1 << 20) - 1, 1 << 20, (1 << 41) - 7] + [
        rng.randrange(1, 10**12) for _ in range(500)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v: long")
    for r in with_milli_log2(df, "v", "ml").collect():
        err = r["ml"] - 1000.0 * math.log2(r["v"])
        assert -2.5 <= err <= 1e-6, (r["v"], r["ml"], err)


def test_dsir_scores_recover_planted_target_pool(spark):
    """DSIR separation on a planted two-vocabulary corpus: docs drawn from
    the target pool's vocabulary must ALL outscore docs from the other
    pool, and top-k selection must return only target-pool docs."""
    import random

    from esgopeta_spark.operators.selection import dsir_scores, dsir_topk

    rng = random.Random(7)
    pool_a = [f"alpha{i}" for i in range(30)]
    pool_b = [f"beta{i}" for i in range(30)]
    docs = [
        (d, " ".join(rng.choice(pool_a if d < 20 else pool_b) for _ in range(60)))
        for d in range(40)
    ]
    raw = spark.createDataFrame(docs, "doc_id: long, text: string")
    target = raw.filter("doc_id < 5")

    rows = dsir_scores(raw, target).collect()
    assert len(rows) == 40
    a = [r["score_milli"] for r in rows if r["doc_id"] < 20]
    b = [r["score_milli"] for r in rows if r["doc_id"] >= 20]
    assert min(a) > max(b), (min(a), max(b))

    top = dsir_topk(raw, target, 10).collect()
    assert sorted(r["sel_rank"] for r in top) == list(range(1, 11))
    assert all(r["doc_id"] < 20 for r in top)


def test_dsir_score_is_log_importance_weight(spark):
    """The integer score tracks the paper's float log-importance weight:
    score_milli/1000 must match sum_b c_b*(log2 p_hat - log2 q_hat)
    computed in float64, within the documented milli-log2 quantization
    (2.5 milli per log term, two terms per gram)."""
    import math
    import random
    from collections import Counter

    from esgopeta_spark.operators.selection import dsir_scores

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(50)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 40))))
        for d in range(30)
    ]
    raw = spark.createDataFrame(docs, "doc_id: long, text: string")
    target = raw.filter("doc_id % 3 = 0")

    B = 1024

    def buckets(text):
        ws = text.split()
        out = Counter()
        import hashlib

        for i in range(len(ws) - 1):
            g = ws[i] + " " + ws[i + 1]
            out[int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B] += 1
        return out

    qc = Counter()
    pc = Counter()
    per_doc = {}
    for d, text in docs:
        c = buckets(text)
        per_doc[d] = c
        qc.update(c)
        if d % 3 == 0:
            pc.update(c)
    Q = sum(qc.values()) + B
    P = sum(pc.values()) + B
    expect = {
        d: sum(
            c
            * (
                (math.log2(pc[b] + 1) - math.log2(P))
                - (math.log2(qc[b] + 1) - math.log2(Q))
            )
            for b, c in cnts.items()
        )
        for d, cnts in per_doc.items()
    }
    got = {r["doc_id"]: r["score_milli"] for r in dsir_scores(raw, target).collect()}
    for d, s in got.items():
        n_grams = sum(per_doc[d].values())
        tol = 2.5 * 4 * n_grams / 1000.0  # 4 quantized log terms per gram
        assert abs(s / 1000.0 - expect[d]) <= tol, (d, s / 1000.0, expect[d], tol)


def test_audio_dedup_pairs_flac_with_wav_original(spark):
    """A FLAC re-encode of a WAV clip is LOSSLESS, so its spectral
    fingerprint must match the original's exactly (0 bits), and the
    banded pair join must pair them; an unrelated clip must not pair."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import audio_dup_pairs, audio_fp64

    sr = 8000
    t = np.arange(12000)
    clip = (9000 * np.sin(2 * np.pi * 440 * t / sr)
            + 3000 * np.sin(2 * np.pi * 1310 * t / sr)).astype(np.int16)
    other = (9000 * np.sin(2 * np.pi * 700 * t / sr)).astype(np.int16)
    assert audio_fp64(clip.astype(np.float64)) == audio_fp64(
        codecs.decode_flac(codecs.encode_flac(clip.astype(np.int32), sr))[0][:, 0]
        .astype(np.float64)
    )
    rows = [
        (1, codecs.encode_wav(clip, sr)),
        (2, codecs.encode_flac(clip.astype(np.int32), sr)),
        (3, codecs.encode_flac(other.astype(np.int32), sr, rice2=True)),
    ]
    df = spark.createDataFrame(rows, "media_id: long, payload: binary")
    pairs = {(r["id_a"], r["id_b"]) for r in audio_dup_pairs(df).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_entropy_profile_known_distributions(spark):
    """Entropy pins: all-distinct doc -> H = log2(n); single repeated
    word -> H = 0; corpus-typical doc -> small KL, all-rare-words doc ->
    larger KL than a typical one."""
    import math

    from esgopeta_spark.operators.text import entropy_profile

    common = " ".join(["the cat sat on the mat"] * 20)  # corpus-dominant words
    docs = [
        (0, " ".join(f"u{i}" for i in range(16))),   # 16 distinct tokens
        (1, " ".join(["same"] * 32)),                # zero entropy
        (2, "the cat sat on the mat " * 10),         # typical
        (3, " ".join(f"rare{i}" for i in range(8)) + " " + common),
    ] + [(10 + i, common) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in entropy_profile(df).collect()}
    assert abs(got[0]["entropy_milli"] / 1000 - math.log2(16)) < 0.01
    assert got[1]["entropy_milli"] == 0
    assert got[0]["n_types"] == 16 and got[1]["n_types"] == 1
    assert got[2]["kl_corpus_milli"] < got[3]["kl_corpus_milli"]


def test_bm25_ranks_term_rich_docs(spark):
    """BM25 pins: a doc saturated in the query terms outranks one with a
    single mention; docs without any query term don't appear; a rare
    term outweighs a ubiquitous one (idf)."""
    from esgopeta_spark.operators.text import bm25_scores

    filler = " ".join(f"w{i}" for i in range(30))
    docs = [
        (0, "needle haystack needle needle " + filler),
        (1, "needle " + filler),
        (2, filler),
        (3, "haystack " + filler),
    ] + [(10 + i, "haystack " + filler) for i in range(10)]  # haystack is common
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in bm25_scores(df, ["needle", "haystack"]).collect()}
    assert 2 not in got
    assert got[0]["n_matched_terms"] == 2
    assert got[0]["score_milli"] > got[1]["score_milli"] > 0
    # idf: 'needle' appears in 2 docs, 'haystack' in 12 -> needle-only
    # beats haystack-only at equal tf
    assert got[1]["score_milli"] > got[3]["score_milli"]


def test_domain_weights_upweight_divergent_domain(spark):
    """A domain whose vocabulary diverges from the corpus gets the
    larger sampling weight; weights are ppm-normalized (sum <= 1e6,
    floor) and cover every domain."""
    import random

    from esgopeta_spark.operators.selection import domain_weights

    rng = random.Random(3)
    common = [f"c{i}" for i in range(20)]
    weird = [f"x{i}" for i in range(20)]
    docs = (
        [(i, " ".join(rng.choice(common) for _ in range(40)), "mainstream")
         for i in range(30)]
        + [(100 + i, " ".join(rng.choice(weird) for _ in range(40)), "fringe")
           for i in range(5)]
    )
    df = spark.createDataFrame(docs, "doc_id: long, text: string, source: string")
    got = {r["source"]: r for r in domain_weights(df).collect()}
    assert set(got) == {"mainstream", "fringe"}
    assert got["fringe"]["n_docs"] == 5 and got["mainstream"]["n_docs"] == 30
    # the weight is KL MASS (domain size x divergence — a sampling
    # weight over docs); the per-doc divergence signal is the MEAN,
    # which must rank the off-distribution domain far higher (the 30
    # mainstream docs carry ~0.3 bits/doc of sampling-noise KL, so
    # their summed mass legitimately rivals 5 fringe docs)
    mean_f = got["fringe"]["sum_kl_milli"] / got["fringe"]["n_docs"]
    mean_m = got["mainstream"]["sum_kl_milli"] / got["mainstream"]["n_docs"]
    assert mean_f > 3 * mean_m, (mean_f, mean_m)
    assert all(r["weight_ppm"] > 0 for r in got.values())
    assert sum(r["weight_ppm"] for r in got.values()) <= 1_000_000


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    """PPR sanity on a two-community graph: with seeds in community A,
    every A node outranks every B node; with uniform seeds (all nodes)
    the ranks match plain pagerank exactly (same integer recurrence)."""
    from esgopeta_spark.operators.graph_analytics import pagerank, personalized_pagerank

    edges = []
    for base in ("a", "b"):
        for i in range(5):
            for j in range(5):
                if i != j:
                    edges.append((f"{base}{i}", f"{base}{j}"))
    edges.append(("a0", "b0"))  # one weak bridge
    e = spark.createDataFrame(edges, "src: string, dst: string")
    seeds = spark.createDataFrame([(f"a{i}",) for i in range(5)], "node: string")
    ppr = {r["node"]: r["rank_micro"] for r in personalized_pagerank(e, seeds).collect()}
    a = [v for k, v in ppr.items() if k.startswith("a")]
    b = [v for k, v in ppr.items() if k.startswith("b")]
    assert min(a) > max(b), (min(a), max(b))

    allnodes = spark.createDataFrame(
        [(f"{c}{i}",) for c in "ab" for i in range(5)], "node: string"
    )
    uni = {r["node"]: r["rank_micro"] for r in personalized_pagerank(e, allnodes).collect()}
    plain = {r["node"]: r["rank_micro"] for r in pagerank(e).collect()}
    assert uni == plain


def test_weighted_sample_properties(spark):
    """ES weighted sampling pins: (1) heavier class overrepresented vs
    its count share; (2) raising one doc's weight can only improve its
    key (monotone inclusion); (3) deterministic across reruns and
    partitionings."""
    from esgopeta_spark.operators.selection import weighted_sample

    rows = [(i, 9 if i % 10 == 0 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id: long, w: long")
    got = weighted_sample(df, 100, "w").collect()
    heavy = sum(1 for r in got if r["doc_id"] % 10 == 0)
    # heavy docs are 10% of rows but 50% of total weight; the sample
    # share must sit far above the count share
    assert heavy > 25, heavy

    keys1 = {r["doc_id"]: r["es_key"] for r in got}
    df2 = spark.createDataFrame(
        [(i, 90 if i == 1015 else w) for i, w in rows], "doc_id: long, w: long"
    )
    got2 = {r["doc_id"]: r["es_key"] for r in weighted_sample(df2, 2000, "w").collect()}
    for d, k1 in keys1.items():
        if d != 1015:
            assert got2[d] == k1  # others' keys untouched
    rep = weighted_sample(df.repartition(13), 100, "w").collect()
    assert {r["doc_id"] for r in rep} == {r["doc_id"] for r in got}


def test_model_persistence_roundtrips_exactly(spark, sf_dir, tmp_path):
    """Trained artifacts written to parquet and reloaded must reproduce
    the inline pipelines bit-exactly: the DSIR λ table (integer) and the
    IVF k-means codebook (array<double> — parquet round-trips doubles
    exactly)."""
    from esgopeta_spark.operators.selection import (
        dsir_lambda,
        dsir_scores,
        dsir_scores_with_lambda,
    )
    from esgopeta_spark.operators.similarity import (
        kmeans_codebook,
        topk_cosine_ivf_trained,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    target = docs.filter("lang = 'en'")
    lam = dsir_lambda(docs, target)
    lam.write.mode("overwrite").parquet(str(tmp_path / "lam"))
    reloaded = spark.read.parquet(str(tmp_path / "lam"))
    want = {tuple(r) for r in dsir_scores(docs, target).collect()}
    got = {tuple(r) for r in dsir_scores_with_lambda(docs, reloaded).collect()}
    assert got == want

    emb = read_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    book = kmeans_codebook(emb, dim)
    book.write.mode("overwrite").parquet(str(tmp_path / "book"))
    book2 = spark.read.parquet(str(tmp_path / "book"))
    inline = {tuple(r) for r in topk_cosine_ivf_trained(emb, queries, dim).collect()}
    loaded = {
        tuple(r)
        for r in topk_cosine_ivf_trained(emb, queries, dim, codebook=book2).collect()
    }
    assert loaded == inline


def test_perplexity_buckets_tiering_sound(spark, sf_dir):
    """CCNet bucket soundness: within every language the buckets are an
    ordered tiering (min head score >= max middle >= ... ), sizes differ
    by at most 1 (ntile contract), labels map 1/2/3 -> head/middle/tail,
    and the assignment is partitioning-invariant."""
    from esgopeta_spark.operators.selection import perplexity_buckets

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    train = d.filter("doc_id % 2 = 0")
    score = d.filter("doc_id % 2 = 1")
    rows = perplexity_buckets(train, score).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r["ppl_bucket"]] = sizes.get(r["ppl_bucket"], 0) + 1
            assert r["bucket_label"] == {1: "head", 2: "middle", 3: "tail"}[
                r["ppl_bucket"]
            ]
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        for b in range(1, 3):
            if b in sizes and b + 1 in sizes:
                lo = min(r["mean_score_milli"] for r in rs if r["ppl_bucket"] == b)
                hi = max(
                    r["mean_score_milli"] for r in rs if r["ppl_bucket"] == b + 1
                )
                assert lo >= hi, (lang, b, lo, hi)
    rep = perplexity_buckets(train.repartition(17), score.repartition(13)).collect()
    assert {(r["doc_id"], r["ppl_bucket"]) for r in rep} == {
        (r["doc_id"], r["ppl_bucket"]) for r in rows
    }


def test_mixture_materialize_budget_and_determinism(spark, sf_dir):
    """Token-budget mixture: per-domain token sums never exceed the
    domain budget, the budget formula matches exact python ints
    (overflow-free split form), selection order is the md5 shuffle
    prefix, and the output is partitioning-invariant."""
    from esgopeta_spark.operators.selection import (
        domain_weights,
        mixture_materialize,
    )
    from esgopeta_spark.operators.text import token_count

    d = read_table(spark, sf_dir, "documents")
    w = domain_weights(d)
    toks = d.select("source", "doc_id", token_count(F.col("text")).alias("n_tokens"))
    out = mixture_materialize(toks, w).collect()
    assert out

    total = toks.agg(F.sum("n_tokens")).first()[0]
    wmap = {r["source"]: r["weight_ppm"] for r in w.collect()}
    half = (total // 10**6) * 500000 + ((total % 10**6) * 500000) // 10**6
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["source"], []).append(r)
    for src, rs in by_dom.items():
        want_budget = (half // 10**6) * wmap[src] + (
            (half % 10**6) * wmap[src]
        ) // 10**6
        assert all(r["budget_tokens"] == want_budget for r in rs)
        assert sum(r["n_tokens"] for r in rs) <= want_budget
        assert max(r["cum_tokens"] for r in rs) <= want_budget
        # greedy prefix: selected ids are exactly the maximal prefix of
        # the md5 shuffle order whose running sum fits
        ordered = sorted(
            toks.filter(F.col("source") == src).collect(),
            key=lambda r: (
                int(
                    __import__("hashlib")
                    .md5(str(r["doc_id"]).encode())
                    .hexdigest()[:8],
                    16,
                ),
                r["doc_id"],
            ),
        )
        cum, want_ids = 0, set()
        for r in ordered:
            cum += r["n_tokens"]
            if cum > want_budget:
                break
            want_ids.add(r["doc_id"])
        assert {r["doc_id"] for r in rs} == want_ids

    rep = mixture_materialize(toks.repartition(19), w).collect()
    assert {(r["doc_id"], r["cum_tokens"]) for r in rep} == {
        (r["doc_id"], r["cum_tokens"]) for r in out
    }


def test_video_scene_stats_known_cuts(spark, sf_dir):
    """Pin the multimodal_video_scenes oracle's soundness argument
    THROUGH the JPEG round-trip: identical patterns decode to identical
    frames (within-scene Hamming distance exactly 0) and the 6 sinusoid
    patterns' decoded dHashes sit >= 16 bits apart (far above the
    cut_hamming=8 threshold); then the operator reproduces the planted
    cut counts on real MJPEG payloads."""
    import itertools

    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import dhash64, video_scene_stats

    fxy = [(1, 0), (0, 1), (2, 1), (1, 2), (3, 0), (2, 3)]

    def pat(j):
        yy, xx = np.mgrid[0:24, 0:32]
        fx, fy = fxy[j]
        ph = (2 * np.pi * (fx * xx + fy * yy)) / 16.0
        arr = np.stack(
            [90 + 70 * np.sin(ph), 90 + 70 * np.sin(ph + 1.0), 90 + 70 * np.cos(ph)],
            axis=-1,
        )
        return np.clip(np.round(arr), 0, 255).astype(np.uint8)

    # decoded-frame hashes: through encode_mjpeg_mp4 + the frame walk
    fps = {}
    for j in range(6):
        vid = codecs.encode_mjpeg_mp4([pat(j), pat(j)], quality=85)
        frames = codecs.decode_mjpeg_frames(vid, max_frames=8)
        hs = [dhash64(f["img"] if isinstance(f, dict) else f) for f in frames]
        assert len(hs) == 2 and hs[0] == hs[1], j  # within-scene: exactly 0
        fps[j] = hs[0]
    dmin = min(
        bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(range(6), 2)
    )
    assert dmin >= 16, dmin

    rows = []
    for mid, cut_set in [(10, set()), (20, {1}), (30, {0, 2})]:
        frames, p = [], 0
        for i in range(4):
            frames.append(pat(p))
            if i in cut_set:
                p += 1
        rows.append((mid, bytearray(codecs.encode_mjpeg_mp4(frames, quality=85)),
                     len(cut_set)))
    media = spark.createDataFrame(
        [(m, bytes(b)) for m, b, _ in rows], "media_id long, payload binary"
    )
    got = {r["media_id"]: (r["n_frames"], r["n_cuts"], r["n_scenes"],
                           r["max_cut_hamming"])
           for r in video_scene_stats(media, cut_hamming=8).collect()}
    for mid, _, c in rows:
        nf, nc, ns, mx = got[mid]
        assert (nf, nc, ns) == (4, c, c + 1), (mid, got[mid])
        if c == 0:
            assert mx == 0
        else:
            assert mx >= 16


def test_c4_rules_hand_fixture(spark):
    """Planted lines with known verdicts: kept-line rule (terminal punct
    + >=5 words + no 'javascript'), sentence proxy, policy lines, page
    poison flags, and the page keep gate."""
    from esgopeta_spark.operators.text import c4_rules

    docs = spark.createDataFrame(
        [
            # clean page: 3 kept lines, >=3 sentences -> keep
            (1, "The quick brown fox jumps high.\n"
                "A second proper sentence stands here!\n"
                "Is this a third full sentence?"),
            # short lines / no terminal punct / javascript -> 0 kept;
            # only 1 sentence terminator -> page dropped
            (2, "too short.\n"
                "this line has no terminal punctuation at all\n"
                "please enable JavaScript to view this page."),
            # lorem ipsum + brace poison; policy boilerplate
            (3, "Lorem ipsum dolor sit amet, consectetur adipiscing elit.\n"
                "function f() { return 1; }\n"
                "See our privacy policy and terms of use for details.\n"
                "This page uses cookies. More real sentences follow here."),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in c4_rules(docs).collect()}
    assert got[1]["n_lines"] == 3 and got[1]["n_kept_lines"] == 3
    assert got[1]["n_sentences"] == 3 and got[1]["keep"] == 1
    assert got[1]["has_lorem_ipsum"] == 0 and got[1]["has_brace"] == 0
    # doc 2: line 1 too short, line 2 no terminal punct, line 3 has
    # 'javascript' (case-insensitive)
    assert got[2]["n_kept_lines"] == 0
    assert got[2]["n_sentences"] == 2  # 'short.' + 'page.'
    assert got[2]["keep"] == 0
    assert got[3]["has_lorem_ipsum"] == 1 and got[3]["has_brace"] == 1
    assert got[3]["n_policy_lines"] == 2
    assert got[3]["keep"] == 0  # poison flags override sentence count


def test_c4_rules_stream_twin_matches_batch(spark, sf_dir, tmp_path):
    """The stateless Arrow twin must be integer-equal to the batch
    operator on the real corpus, run as an actual stream."""
    from esgopeta_spark.operators.text import c4_rules
    from esgopeta_spark.streaming.prep import streaming_c4_rules

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = {tuple(r) for r in c4_rules(docs).collect()}
    docs.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(tmp_path / "docs"))
    query = (
        streaming_c4_rules(stream)
        .writeStream.format("memory")
        .queryName("c4stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(180)
    finally:
        query.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM c4stream").collect()}
    assert got == want


def test_image_stats_closed_form(spark):
    """image_stats through a lossless PNG round-trip must equal exact
    pixel arithmetic; poison payloads are skipped (quarantine)."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import image_stats

    g = np.tile(np.array([0, 200], dtype=np.uint8), 16)[None, :].repeat(24, axis=0)
    rgb = np.stack([g, g, g], axis=-1)
    rows = [
        (1, codecs.encode_png(np.full((24, 32, 3), 100, dtype=np.uint8))),
        (2, codecs.encode_png(rgb)),
        (3, b"\x89PNG\r\n\x1a\nGARBAGE"),  # poison: skipped, not fatal
    ]
    media = spark.createDataFrame(
        [(m, bytes(b)) for m, b in rows], "media_id long, payload binary"
    )
    got = {r["media_id"]: r.asDict() for r in image_stats(media).collect()}
    assert set(got) == {1, 2}
    assert got[1]["sum_gray"] == 100 * 768 and got[1]["edge_h"] == 0
    assert got[1]["sum_gray_sq"] == 100 * 100 * 768
    assert got[1]["mean_gray_milli"] == 100000
    assert got[2]["sum_gray"] == 200 * 384
    assert got[2]["edge_h"] == 24 * 31 * 200 and got[2]["edge_v"] == 0
    # a non-uniform NATURAL image: stats equal numpy on the raw pixels
    yy, xx = np.mgrid[0:24, 0:32]
    arr = np.clip(
        np.round(90 + 70 * np.sin((2 * np.pi * (xx + 2 * yy)) / 16.0)), 0, 255
    ).astype(np.uint8)
    rgb2 = np.stack([arr, arr, arr], axis=-1)
    media2 = spark.createDataFrame(
        [(9, codecs.encode_png(rgb2))], "media_id long, payload binary"
    )
    r = image_stats(media2).collect()[0]
    gq = arr.astype(np.int64) * 3 // 3
    assert r["sum_gray"] == int(gq.sum())
    assert r["edge_v"] == int(np.abs(np.diff(gq, axis=0)).sum())


def test_audio_stats_closed_form(spark):
    """audio_stats through lossless WAV and FLAC round-trips must equal
    exact waveform arithmetic; poison payloads are skipped."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import audio_stats

    saw = np.arange(4096, dtype=np.int16)
    sq = np.tile(np.array([32767, -32767], dtype=np.int16), 2048)
    rows = [
        (1, codecs.encode_wav(sq, 8000)),
        (2, codecs.encode_wav(saw, 8000)),
        (3, codecs.encode_flac(saw.reshape(-1, 1), 8000)),  # lossless too
        (4, b"RIFFxxxxWAVEgarbage"),  # poison: skipped
    ]
    media = spark.createDataFrame(
        [(m, bytes(b)) for m, b in rows], "media_id long, payload binary"
    )
    got = {r["media_id"]: r.asDict() for r in audio_stats(media).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_clipped"] == 4096 and got[1]["peak"] == 32767
    assert got[1]["sum_sq"] == 4096 * 32767 * 32767
    want_abs = int(np.abs(saw.astype(np.int64)).sum())
    for m in (2, 3):  # WAV and FLAC agree exactly (both lossless)
        assert got[m]["sum_abs"] == want_abs
        assert got[m]["sum_sq"] == int((saw.astype(np.int64) ** 2).sum())
        assert got[m]["peak"] == 4095 and got[m]["n_clipped"] == 0
        assert got[m]["n_quiet"] == 328
        assert got[m]["mean_abs_milli"] == (want_abs * 1000) // 4096


def test_holt_trend_negative_trend_floor_semantics(spark):
    """A declining series drives the trend negative — the regime where
    Python // (floors) and DuckDB/Spark integer division (truncates)
    disagree; the operator must match a pure-python floor reference,
    and negative trends must actually occur (else the pin is vacuous)."""
    import datetime

    from esgopeta_spark.operators.timeseries import holt_trend

    rows = [
        (i, datetime.datetime(2024, 3, 1 + i, 12), 7, "x", float(v), None)
        for i, v in enumerate([100.0, 80.0, 55.0, 31.0, 18.0, 9.0, 3.0])
    ]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    df = spark.createDataFrame(rows, schema)
    got = {
        str(r["day"]): (r["total_cents"], r["level_cents"], r["trend_cents"])
        for r in holt_trend(df).collect()
    }
    lev = tr = None
    want = {}
    for i, v in enumerate([100.0, 80.0, 55.0, 31.0, 18.0, 9.0, 3.0]):
        x = int(v * 100)
        if lev is None:
            lev, tr = x, 0
        else:
            prev = lev
            lev = (300 * x + 700 * (lev + tr)) // 1000
            tr = (100 * (lev - prev) + 900 * tr) // 1000
        want[f"2024-03-0{1 + i}"] = (x, lev, tr)
    assert got == want
    assert any(t < 0 for _, _, t in want.values())


def test_ivfpq_recall_and_dials(spark, sf_dir):
    """IVF-PQ composed tier (r11): recall vs the exact inner-product
    top-k (self excluded) holds a floor at the graded dials on uniform
    random data — PQ/IVF's hard case — and deepening both dials
    (n_probe, rerank) buys recall, the IVF-PQ dial behavior.  Measured
    at sf0.001: 0.64 at probe3/rerank20, 0.82 at probe6/rerank50."""
    import numpy as np

    from esgopeta_spark.operators.similarity import topk_ip_ivfpq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    truth = {}
    for qid in [r["query_id"] for r in queries.collect()]:
        scores = sorted(
            ((float(vecs[qid] @ v), -i) for i, v in vecs.items() if i != qid),
            reverse=True,
        )[:5]
        truth[qid] = {-i for _, i in scores}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["nbr_id"])
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (5 * len(truth))

    base = topk_ip_ivfpq(emb, queries, dim=64, k=5, m=8, ks=16,
                         centroid_stride=25, n_probe=3, rerank=20)
    deep = topk_ip_ivfpq(emb, queries, dim=64, k=5, m=8, ks=16,
                         centroid_stride=25, n_probe=6, rerank=50)
    r1, r2 = recall(base), recall(deep)
    assert r1 >= 0.4, f"IVF-PQ recall collapsed at graded dials: {r1}"
    # widening both dials can only help modulo ADC-pool displacement at
    # the candidate boundary; allow a small tolerance
    assert r2 >= r1 - 0.1, f"deeper dials lost recall: {r1} -> {r2}"
    # reranked scores are EXACT inner products (micro^12 floor)
    for r in base.filter(F.col("rank") == 1).collect():
        want = int(np.floor(float(vecs[r["query_id"]] @ vecs[r["nbr_id"]]) * 1e12 + 0.5))
        assert abs(r["ip_micro12"] - want) <= 1  # fold-order ulp slack


def test_passjoin_auto_lcp_exact_on_boilerplate_prefix(spark, sf_dir):
    """r11 (verdict #6): the corpus-constant-prefix pathology fixture —
    every title opens with the same 58-char boilerplate — must still
    produce the EXACT brute-force pair set under lcp='auto' (the
    pigeonhole is boundary-agnostic), with the prefix folded into
    segment 0 so no segment key is corpus-constant.  (Perf: this
    fixture measured 288 s at sf0.1 under the classic even split —
    SCALE.md r10 — and 5.4 s under auto-lcp.)"""
    import duckdb

    from esgopeta_spark.operators.dedup import corpus_lcp, edit_distance_pairs

    d = read_table(spark, sf_dir, "documents")
    g = F.expr("doc_id div 7")
    did = F.col("doc_id")
    t = d.select("doc_id", F.concat(
        F.lit("quarterly financial report for fiscal period sec item rev "),
        (g % 1000).cast("string"), F.lit("-"), (g % 997).cast("string"),
        F.lit("-"), (g % 991).cast("string"),
        F.when(did % 7 == 1, F.lit(" x")).when(did % 7 == 2, F.lit(" xx"))
        .when(did % 7 == 3, F.lit(" y")).when(did % 7 == 4, F.lit(" yy"))
        .when(did % 7 == 5, F.lit(" z")).when(did % 7 == 6, F.lit(" zz"))
        .otherwise(F.lit("")),
    ).alias("title"))
    assert corpus_lcp(t, "title") == 58
    got = {(r["id_a"], r["id_b"], r["dist"])
           for r in edit_distance_pairs(t).collect()}
    con = duckdb.connect()
    con.register("tdocs", t.toPandas())
    want = {tuple(r) for r in con.execute(
        "SELECT a.doc_id, b.doc_id, CAST(levenshtein(a.title, b.title) AS INT) "
        "FROM tdocs a JOIN tdocs b ON a.doc_id < b.doc_id "
        "AND levenshtein(a.title, b.title) <= 2"
    ).fetchall()}
    assert got == want and got


def test_corpus_lcp_and_lcp_boundary_cases(spark):
    """corpus_lcp = LCP(lexicographic min, max); edit_distance_pairs is
    exact for ANY forced lcp (boundary-agnostic pigeonhole), including
    the degenerate lcp that leaves a 1-char suffix per segment."""
    from esgopeta_spark.operators.dedup import corpus_lcp, edit_distance_pairs

    rows = [(1, "prefix-alpha"), (2, "prefix-alphb"), (3, "prefix-beta"),
            (4, "prefix-alphaxx"), (5, "prefix-")]
    df = spark.createDataFrame(rows, "doc_id: long, title: string")
    assert corpus_lcp(df, "title") == 7
    want = None
    # auto clamps to min_len - (k+1) = 7 - 3 = 4; any forced lcp <= 4
    # must give the identical pair set
    for lcp in ["auto", 0, 1, 4]:
        got = {(r["id_a"], r["id_b"], r["dist"])
               for r in edit_distance_pairs(df, lcp=lcp).collect()}
        if want is None:
            want = got
        assert got == want, (lcp, got, want)
    assert (1, 2, 1) in want and (1, 4, 2) in want
    # outlier kills the global statistic (documented): lcp -> 0, still exact
    df2 = spark.createDataFrame(rows + [(9, "zzz-outlier")],
                                "doc_id: long, title: string")
    assert corpus_lcp(df2, "title") == 0
    got2 = {(r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(df2, lcp="auto").collect()}
    assert want <= got2


def test_fim_transform_invariants(spark):
    """FIM contract: reassembly (prefix+middle+suffix == original, read
    back from the PSM sentinels), deterministic selection at the draw
    boundary (rate 0 -> none, 1000 -> all), count arithmetic, and
    empty-text totality."""
    from esgopeta_spark.operators.text import fim_transform

    rows = [(i, "abcdefghij"[: i % 11]) for i in range(40)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in fim_transform(df, rate_milli=1000).collect()}
    for i, t in rows:
        t = t or ""
        r = out[i]
        assert r["fim"] == 1
        body = r["fim_text"]
        assert body.startswith("<PRE>")
        pre_rest = body[len("<PRE>"):]
        prefix, _, rest = pre_rest.partition("<SUF>")
        suffix, _, middle = rest.partition("<MID>")
        assert prefix + middle + suffix == t, (i, t, body)
        assert (len(prefix), len(middle), len(suffix)) == (
            r["n_prefix"], r["n_middle"], r["n_suffix"])
    none = fim_transform(df, rate_milli=0).collect()
    assert all(r["fim"] == 0 and r["n_prefix"] == 0 for r in none)
    passthru = {r["doc_id"]: r["fim_text"] for r in none}
    for i, t in rows:
        assert passthru[i] == (t or "")


def test_fim_transform_stream_twin(spark, tmp_path):
    from esgopeta_spark.operators.text import fim_transform

    rows = [(i, f"body text number {i} with some length") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    want = {tuple(r) for r in fim_transform(df).collect()}
    assert any(r[1] == 1 for r in want)  # default rate selects some

    df.coalesce(1).write.mode("overwrite").json(str(tmp_path / "fim_in"))
    stream = spark.readStream.schema(df.schema).json(str(tmp_path / "fim_in"))
    q = (
        fim_transform(stream)
        .writeStream.format("memory").queryName("fimstream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM fimstream").collect()}
    assert got == want


def test_holt_winters_seasonal_phase_and_floor_semantics(spark):
    """Holt-Winters pins: seasonal state keys on CALENDAR phase (a
    gapped series updates the right day-of-week slot), warm-up is the
    additive-neutral 0, updates/forecast match a pure-python floor
    reference, and negative deltas occur (the floor-vs-truncate
    regime)."""
    import datetime

    from esgopeta_spark.operators.timeseries import holt_winters

    # 10 observations with a 3-day gap; weekly-cycling values force
    # seasonal slots apart, declining baseline forces negatives
    days = [1, 2, 3, 4, 5, 9, 10, 11, 12, 13]
    vals = [100.0, 40.0, 90.0, 35.0, 80.0, 70.0, 25.0, 60.0, 20.0, 50.0]
    rows = [
        (i, datetime.datetime(2024, 3, d, 12), 7, "x", v, None)
        for i, (d, v) in enumerate(zip(days, vals))
    ]
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    df = spark.createDataFrame(rows, schema)
    got = {
        str(r["day"]): (r["level_cents"], r["trend_cents"],
                        r["seasonal_cents"], r["forecast_next_cents"])
        for r in holt_winters(df).collect()
    }

    def fd(n):
        return (n - ((n % 1000 + 1000) % 1000)) // 1000

    epoch = datetime.date(1970, 1, 1)
    lev, tr, s = None, 0, [0] * 7
    want = {}
    for d, v in zip(days, vals):
        day = datetime.date(2024, 3, d)
        x = int(v * 100)
        p = (day - epoch).days % 7
        if lev is None:
            lev, tr = x, 0
            s[p] = 0
        else:
            prev = lev
            lev = fd(300 * (x - s[p]) + 700 * (lev + tr))
            tr = fd(100 * (lev - prev) + 900 * tr)
            s[p] = fd(200 * (x - lev) + 800 * s[p])
        want[str(day)] = (lev, tr, s[p], lev + tr + s[(p + 1) % 7])
    assert got == want
    assert any(t < 0 for _, t, _, _ in want.values())
    assert any(sc != 0 for _, _, sc, _ in want.values())


def test_sq8_recall_and_tournament_topk(spark, sf_dir):
    """SQ8 pins: (1) recall vs the exact inner-product top-5 is high —
    byte-per-dim quantization is far finer than PQ's 16-centroid seed
    codebook, this is WHY the tier exists; (2) the tournament top-k is
    partition-invariant (repartitioned corpus gives identical rows);
    (3) a degenerate constant dimension codes to 0 without dividing."""
    import numpy as np

    from esgopeta_spark.operators.similarity import sq8_encode, topk_ip_sq8

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_rows = topk_ip_sq8(emb, queries, dim=64, k=5).collect()

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    truth = {}
    for qid in [r["query_id"] for r in queries.collect()]:
        scores = sorted(
            ((float(vecs[qid] @ v), -i) for i, v in vecs.items()), reverse=True
        )[:5]
        truth[qid] = {-i for _, i in scores}
    got = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["nbr_id"])
    hits = sum(len(got[q] & truth[q]) for q in truth)
    recall = hits / (5 * len(truth))
    assert recall >= 0.9, f"SQ8 recall too low: {recall}"

    # partition invariance of the tournament (different batch borders)
    reparted = topk_ip_sq8(emb.repartition(13), queries, dim=64, k=5).collect()
    assert {tuple(r) for r in reparted} == {tuple(r) for r in got_rows}

    # degenerate dim: constant column -> code 0 everywhere, no div-by-0
    rows = [(i, [float(i), 2.5]) for i in range(6)]
    small = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    codes = {r["id"]: r["codes"] for r in sq8_encode(small, dim=2).collect()}
    assert all(c[1] == 0 for c in codes.values())
    assert codes[0][0] == 0 and codes[5][0] == 255


def test_incremental_dedup_prior_wins_and_stability(spark):
    """Incremental-dedup contract: a re-crawled duplicate NEVER
    displaces a prior keeper even when the increment id is lower (the
    shard-stability guarantee), within-increment ties break to lowest
    id, and every increment row gets exactly one verdict."""
    from esgopeta_spark.operators.dedup import incremental_dedup

    prior = spark.createDataFrame(
        [(100, "shared text"), (101, "prior only")],
        "doc_id: long, text: string",
    )
    incr = spark.createDataFrame(
        [
            (1, "Shared   TEXT"),   # normalizes equal -> dup_prior, keeper 100
            (2, "fresh a"),          # new
            (3, "fresh a"),          # dup_incr, keeper 2
            (4, "fresh b"),          # new
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: (r["status"], r["keeper_id"])
           for r in incremental_dedup(prior, incr).collect()}
    assert got == {
        1: ("dup_prior", 100),  # id 1 < 100 but prior still wins
        2: ("new", 2),
        3: ("dup_incr", 2),
        4: ("new", 4),
    }


def test_incremental_dedup_plan_posture(spark, sf_dir):
    """One hash-equi LEFT join against the collapsed prior store, one
    hash window; no cartesian, no nested loop."""
    from esgopeta_spark.plans import REGISTRY
    from tests.test_plans import plan_of

    p = plan_of(REGISTRY["dedup_incremental_exact"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p, p


def test_split_sentences_matrix():
    """Boundary rules, pinned one by one: abbreviation guard (single
    period only — 'Dr!' still splits), decimals never split, closing
    wrappers stay with their sentence, ellipsis runs split once,
    lowercase continuation never splits, boundary-before-digit splits
    (unless abbreviation-guarded), no-boundary text is one sentence,
    totality on empty/garbage."""
    from esgopeta_spark.operators.text import split_sentences

    f = split_sentences
    assert f("One. Two! Three?") == ["One.", "Two!", "Three?"]
    assert f("Dr. Smith left. He ran.") == ["Dr. Smith left.", "He ran."]
    assert f("It cost 3.50 total. Cheap.") == ["It cost 3.50 total.", "Cheap."]
    assert f('He said "stop." Then left.') == ['He said "stop."', "Then left."]
    assert f("Wait... Now.") == ["Wait...", "Now."]
    assert f("mixed case. no split here") == ["mixed case. no split here"]
    assert f("See page 4. 5 more follow.") == ["See page 4.", "5 more follow."]
    assert f("See fig. 3 for details.") == ["See fig. 3 for details."]
    assert f("Really?! Yes.") == ["Really?!", "Yes."]
    assert f("no boundary at all") == ["no boundary at all"]
    assert f("") == [] and f("   ") == []
    assert f("Dr! Loud. Ok.") == ["Dr!", "Loud.", "Ok."]  # guard is '.'-only


def test_sentence_split_stream_twin(spark, tmp_path):
    from esgopeta_spark.operators.text import sentence_split

    rows = [(i, f"First {i}. Second part! Done?") for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    want = {tuple(r) for r in sentence_split(df).collect()}
    assert len(want) == 45

    df.coalesce(1).write.mode("overwrite").json(str(tmp_path / "sent_in"))
    stream = spark.readStream.schema(df.schema).json(str(tmp_path / "sent_in"))
    q = (
        sentence_split(stream)
        .writeStream.format("memory").queryName("sentstream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("SELECT * FROM sentstream").collect()}
    assert got == want


def test_chat_template_loss_mask_offsets(spark):
    """The loss-mask contract: rendered[loss_start:loss_end] IS the
    assistant text, for empty and non-ASCII turns too (offsets count
    codepoints, matching Spark length())."""
    from esgopeta_spark.operators.text import chat_template

    rows = [
        (0, "sys", "ask", "answer"),
        (1, "", "", ""),                      # all-empty turns
        (2, "s", "café ☃", "ünïcode réply"),  # non-ASCII both sides
        (3, None, "u", None),                  # nulls coalesce to ''
    ]
    df = spark.createDataFrame(
        rows, "doc_id: long, system: string, user: string, assistant: string"
    )
    got = {r["doc_id"]: r for r in chat_template(df).collect()}
    for i, s, u, a in rows:
        r = got[i]
        a = a or ""
        assert r["rendered"][r["loss_start"]:r["loss_end"]] == a, (i, r)
        assert r["n_chars"] == len(r["rendered"])
        assert r["rendered"].endswith("<|end|>")


def test_decontaminate_minhash_finds_injected_leaks(spark, sf_dir):
    """The fuzzy-decontamination entry must actually FIND the injected
    paraphrase-lite leaks: every surfaced pair maps a re-keyed leak to
    its source eval doc at high Jaccard, and banding recall on the
    injected class stays >= 0.7 (one-band misses are honest LSH
    behavior, replayed identically by the oracle)."""
    from esgopeta_spark.plans import REGISTRY

    rows = REGISTRY["decontaminate_minhash_fuzzy"].fn(spark, sf_dir).collect()
    assert rows, "entry must surface leaks"
    found_injected = 0
    for r in rows:
        assert r["jaccard_milli"] >= 200
        if r["corpus_id"] >= 1000000:
            # injected leak: must map to exactly its source eval doc
            assert r["corpus_id"] == r["eval_id"] + 1000000, r
            found_injected += 1
        # corpus_id < 1000000 rows are NATURAL cross-source near-dups —
        # the tool finding real leaks beyond the planted ones
    injected = (
        read_table(spark, sf_dir, "documents")
        .filter("source = 'src19' AND doc_id % 3 = 0")
        .count()
    )
    assert found_injected / injected >= 0.7, (found_injected, injected)


def test_decontaminate_production_tier_recall(spark, sf_dir):
    """The xxhash64 production tier of the fuzzy decontamination probe
    (portable=False) must find the injected leaks at least as well as
    the oracle-paired portable tier — same shape, denser signatures."""
    from esgopeta_spark.operators.dedup import decontaminate_minhash
    from pyspark.sql import functions as F

    d = read_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    ev = d.filter("source = 'src19'").select("doc_id", t.alias("text"))
    leaks = ev.filter("doc_id % 3 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" leaked into training")).alias("text"),
    )
    corpus = d.filter("source <> 'src19'").select(
        "doc_id", t.alias("text")).unionByName(leaks)
    injected = leaks.count()

    def recall(portable):
        rows = decontaminate_minhash(corpus, ev, portable=portable).collect()
        return sum(1 for r in rows
                   if r["corpus_id"] == r["eval_id"] + 1000000) / injected

    r_prod, r_port = recall(False), recall(True)
    assert r_prod >= r_port >= 0.7, (r_prod, r_port)


def test_incremental_snapshot_plan_posture(spark, sf_dir):
    """The nightly-update capstone: keeper-store probe and gram gate
    are equi/anti joins, no cartesian, no nested loop; and the gate
    actually drops leaked eval docs (a src19 doc in the increment
    never reaches a shard)."""
    from esgopeta_spark.plans import REGISTRY
    from tests.test_plans import plan_of

    df = REGISTRY["pipeline_incremental_snapshot"].fn(spark, sf_dir)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    out_ids = {r["doc_id"] for r in df.collect()}
    assert out_ids, "survivors must exist"
    eval_incr = {
        r["doc_id"]
        for r in read_table(spark, sf_dir, "documents")
        .filter("source = 'src19' AND doc_id % 3 <> 0")
        .select("doc_id").collect()
    }
    leaked = out_ids & eval_incr
    assert not leaked, f"eval docs reached the shards: {sorted(leaked)[:5]}"


def test_ivfsq8_recall_and_plan(spark, sf_dir):
    """IVF-SQ8 must beat IVF-PQ's raw recall posture (finer codes) at
    the same probe/rerank depths, and the lineage keeps the composed
    posture: cell-equi ADC join, broadcast probe/weight side, no
    cartesian beyond the bounded probe cross."""
    import numpy as np
    import re

    from esgopeta_spark.operators.similarity import topk_ip_ivfsq8
    from tests.test_plans import plan_of

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = topk_ip_ivfsq8(emb, queries, dim=64, k=5)
    rows = df.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    truth = {}
    for qid in [r["query_id"] for r in queries.collect()]:
        scores = sorted(((float(vecs[qid] @ v), -i)
                         for i, v in vecs.items() if i != qid), reverse=True)[:5]
        truth[qid] = {-i for _, i in scores}
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["nbr_id"])
    hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
    recall = hits / (5 * len(truth))
    # cell-probe recall bound dominates (n_probe=3 of ~corpus/25 cells):
    # the SQ8 within-cell ranking must not LOSE candidates the cells kept
    assert recall >= 0.3, f"IVF-SQ8 recall collapsed: {recall}"
    p = plan_of(df)
    assert "CartesianProduct" not in p, p


def test_readability_hand_fixture(spark):
    """Readability arithmetic against hand-computed values: the classic
    'The cat sat on the mat.' single-syllable sentence, a polysyllabic
    doc, a terminator-less doc (1 sentence), vowel-less tokens clamping
    to 1 syllable, and empty docs excluded."""
    from esgopeta_spark.operators.text import readability_profile

    rows = [
        (0, "The cat sat on the mat."),
        (1, "Extraordinary universities evaluate examinations! Truly."),
        (2, "no terminator here"),
        (3, "hmm 123 xyz"),   # zero-vowel tokens -> 1 syllable each
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in readability_profile(df).collect()}
    assert set(got) == {0, 1, 2, 3}
    r0 = got[0]
    # 6 words, 1 sentence, 6 syllables: wps=6000, spw=1000
    assert (r0["n_sentences"], r0["n_words"], r0["n_syllables"]) == (1, 6, 6)
    assert (r0["wps_milli"], r0["spw_milli"]) == (6000, 1000)
    assert r0["flesch_milli"] == 206835 - (1015 * 6000) // 1000 - 84600
    assert r0["fk_grade_milli"] == (390 * 6000) // 1000 + 11800 - 15590
    r2 = got[2]
    assert r2["n_sentences"] == 1 and r2["n_words"] == 3
    r3 = got[3]
    # 'hmm' and 'xyz' clamp to 1 each; '123' clamps to 1 -> 3 syllables
    assert r3["n_syllables"] == 3
    r1 = got[1]
    assert r1["n_sentences"] == 2 and r1["n_syllables"] > r1["n_words"] * 3


def test_l_diversity_semantics(spark):
    """l-diversity catches what k-anonymity misses: a LARGE class with
    a constant sensitive value violates; a small-but-diverse class
    does not (that's k-anonymity's job)."""
    from esgopeta_spark.operators.quality import l_diversity_audit

    rows = (
        [("A", "x", 1)] * 10              # big class, constant sensitive
        + [("B", "y", v) for v in (1, 2, 3)]  # diverse: passes l=3
        + [("C", "z", 1), ("C", "z", 2)]       # 2 distinct < 3: violates
    )
    df = spark.createDataFrame(rows, "q1: string, q2: string, s: long")
    got = {(r["q1"], r["q2"]): (r["class_size"], r["n_sensitive"])
           for r in l_diversity_audit(df, ["q1", "q2"], "s", l=3).collect()}
    assert got == {("A", "x"): (10, 1), ("C", "z"): (2, 2)}


def test_t_closeness_semantics(spark):
    """t-closeness catches what l-diversity misses: a diverse class
    whose distribution is far from global violates; a class matching
    the global mix passes; absent sensitive cells count toward the
    distance (the grid, not just observed cells)."""
    from esgopeta_spark.operators.quality import t_closeness_audit

    # global mix: s=1 and s=2 each half (A mirrors it; B all s=1, C all
    # s=2).  N=24, Ng(1)=Ng(2)=12: tv(A) = 0 (passes); tv(B) = tv(C) =
    # (|8*24-12*8| + |0-12*8|)*1000 // (2*8*24) = 500 milli
    rows = (
        [("A", 1)] * 4 + [("A", 2)] * 4
        + [("B", 1)] * 8 + [("C", 2)] * 8
    )
    df = spark.createDataFrame(rows, "q: string, s: long")
    got = {r["q"]: (r["class_size"], r["tv_milli"])
           for r in t_closeness_audit(df, ["q"], "s", t_milli=300).collect()}
    assert got == {"B": (8, 500), "C": (8, 500)}
    # the threshold is strictly-greater: at t_milli=500 nothing violates
    assert t_closeness_audit(df, ["q"], "s", t_milli=500).count() == 0


def test_edit_distance_pairs_family_scoped_vs_bruteforce(spark):
    """family_col (r12): within-family pairs equal brute force exactly
    — per-family boilerplate folds into segment 0 even when a single
    outlier zeroes the corpus-global LCP — and cross-family pairs are
    out of scope by construction (near-identical template titles in
    different families must NOT pair)."""
    from esgopeta_spark.operators.dedup import edit_distance_pairs

    pre = {"r": "quarterly financial report for fiscal period ",
           "m": "internal memo draft revision "}
    rows = []
    i = 0
    for fam in ("r", "m"):
        for gid in range(4):
            for suf in ("", " x", " xx", " yy"):
                rows.append((i, fam, f"{pre[fam]}sec {gid} item {gid*3}{suf}"))
                i += 1
    rows.append((i, "misc", "odd one out"))  # zeroes the GLOBAL statistic
    df = spark.createDataFrame(rows, "doc_id: long, fam: string, title: string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in edit_distance_pairs(df, family_col="fam").collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for x, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], x
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for ia, fa, ta in rows:
        for ib, fb, tb in rows:
            if ia < ib and fa == fb and lev(ta, tb) <= 2:
                want[(ia, ib)] = lev(ta, tb)
    assert got == want and want, (len(got), len(want))
    # the same titles WITHOUT the family scope pair ACROSS families on
    # the shared selective tail — the semantic family_col removes
    unscoped = {(r["id_a"], r["id_b"])
                for r in edit_distance_pairs(df).collect()}
    crossers = {(a, b) for (a, b) in unscoped
                if dict((r[0], r[1]) for r in rows)[a]
                != dict((r[0], r[1]) for r in rows)[b]}
    assert not any(p in got for p in crossers)


def test_edit_distance_family_explicit_lcp_and_keys_ride_through(spark):
    """family_col with an EXPLICIT integer lcp uses the constant for
    every family (still family-scoped); output matches the auto path on
    a fixture whose families share a prefix length."""
    from esgopeta_spark.operators.dedup import edit_distance_pairs

    rows = [(0, "a", "prefix00 body one"), (1, "a", "prefix00 body onX"),
            (2, "b", "prefix11 body one"), (3, "b", "prefix11 body onX")]
    df = spark.createDataFrame(rows, "doc_id: long, fam: string, title: string")
    auto = {(r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(df, family_col="fam").collect()}
    const = {(r["id_a"], r["id_b"], r["dist"])
             for r in edit_distance_pairs(df, family_col="fam", lcp=8).collect()}
    assert auto == const == {(0, 1, 1), (2, 3, 1)}


def test_rendezvous_shards_minimal_movement(spark):
    """HRW resharding pins (r12): growing 8 -> 9 shards moves only the
    docs whose new weight wins, every mover lands ON the new shard,
    the movement fraction sits near 1/9 (never the mod-hash ~8/9),
    shards stay roughly uniform, and deleting a shard moves ONLY that
    shard's docs."""
    from esgopeta_spark.operators.text import rendezvous_shards

    n = 3000
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    a = rendezvous_shards(df, 8, out_col="s8")
    b = rendezvous_shards(a, 9, out_col="s9").collect()
    moved = [r for r in b if r["s8"] != r["s9"]]
    assert all(r["s9"] == 8 for r in moved), "movers must land on the new shard"
    frac = len(moved) / n
    assert 0.05 < frac < 0.18, frac  # ~1/9 expected; mod-hash would be ~8/9
    from collections import Counter

    c9 = Counter(r["s9"] for r in b)
    assert min(c9.values()) > n / 9 * 0.7 and max(c9.values()) < n / 9 * 1.3, c9
    # deleting shard 7 (an 8-ring doc re-ranked over shards 0..6): only
    # shard-7 residents move — simulate by recomputing argmax over 0..6
    c = {r["doc_id"]: r["s8"] for r in b}
    d7 = rendezvous_shards(df, 7, out_col="s7").collect()
    for r in d7:
        if c[r["doc_id"]] != 7:
            assert r["s7"] == c[r["doc_id"]], "non-residents must not move"


def test_repair_mojibake_matrix_and_fuzz():
    """Encoding-repair pins (r12): single/double/triple cp1252 mojibake
    collapse to the original; latin-1-made mojibake (C1 controls)
    inverts through the fallback map; pure ASCII, genuine Latin-1
    prose, already-clean accents, and non-Latin text pass through
    unchanged (no false positives); total + idempotent under fuzz."""
    import random

    from esgopeta_spark.operators.text import repair_mojibake as fix

    true = " café naïve fiancée ©«»"
    m1 = true.encode("utf-8").decode("cp1252")
    m2 = m1.encode("utf-8").decode("cp1252")
    m3 = m2.encode("utf-8").decode("cp1252")
    assert fix(m1) == fix(m2) == fix(m3) == true
    l1 = "héllo wörld — ok".encode("utf-8").decode("latin-1")
    assert fix(l1) == "héllo wörld — ok"
    for clean in ("plain ascii text", "Ã is a letter",
                  "Ελληνικά and ascii", "café already clean", ""):
        assert fix(clean) == clean, clean
    rng = random.Random(7)
    for _ in range(3000):
        s = "".join(chr(rng.randrange(1, 0x2500))
                    for _ in range(rng.randrange(0, 30)))
        t = fix(s)
        assert isinstance(t, str) and fix(t) == t  # total + idempotent


def test_fix_mojibake_streams_as_is(spark, tmp_path):
    """The repair kernel is a stateless projection: the stream output
    equals batch bit-for-bit (share, don't mirror)."""
    import os

    from esgopeta_spark.operators.text import fix_mojibake

    true = " café naïve fiancée ©«»"
    m1 = true.encode("utf-8").decode("cp1252")
    rows = [(0, "clean text"), (1, "dirty" + m1), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {tuple(r) for r in fix_mojibake(df).collect()}
    assert (1, "dirty" + true, 1) in want and (0, "clean text", 0) in want
    d = str(tmp_path / "moji")
    df.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    q = (fix_mojibake(stream).writeStream.format("memory")
         .queryName("mojistream").outputMode("append")
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = {tuple(r) for r in spark.sql("select * from mojistream").collect()}
    assert got == want


def test_audio_vad_segments_semantics(spark):
    """VAD pins (r12): segment count/boundaries on planted spans, the
    all-silent clip, the all-active clip, FLAC input (lossless — same
    integer verdicts as WAV), the partial-tail-frame drop, and the
    visible all--1 poison marker."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import audio_vad_segments

    FR = 512

    def wav(spans, tail_extra=0):
        s = np.concatenate(
            [np.full(n * FR, amp, dtype=np.int16) for n, amp in spans]
            + ([np.full(tail_extra, 9000, dtype=np.int16)] if tail_extra else [])
        )
        return codecs.encode_wav(s, 8000)

    rows = [
        (0, wav([(2, 0), (3, 8000), (1, 0), (2, 8000), (4, 0)])),  # 2 segments
        (1, wav([(5, 0)])),                                        # all silent
        (2, wav([(4, 8000)])),                                     # all active
        (3, wav([(1, 0), (2, 8000)], tail_extra=100)),  # partial tail dropped
        (4, b"poison"),                                            # marker row
        (5, codecs.encode_flac(
            np.concatenate([np.zeros(2 * FR, dtype=np.int16),
                            np.full(3 * FR, 8000, dtype=np.int16)]), 8000)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["n_frames"], r["n_active"], r["n_segments"],
                           r["first_active"], r["last_active"],
                           r["lead_silence"], r["tail_silence"])
           for r in audio_vad_segments(df).collect()}
    assert got[0] == (12, 5, 2, 2, 7, 2, 4)
    assert got[1] == (5, 0, 0, -1, -1, 5, 5)
    assert got[2] == (4, 4, 1, 0, 3, 0, 0)
    assert got[3] == (3, 2, 1, 1, 2, 1, 0)   # 100 trailing samples ignored
    assert got[4] == (-1, -1, -1, -1, -1, -1, -1)
    assert got[5] == (5, 3, 1, 2, 4, 2, 0)   # FLAC decodes to the same ints


def test_kmv_overlap_estimator(spark):
    """KMV set-operation pins (r12): on a 50%-overlap universe the
    Jaccard estimate lands near 500 milli and the union/intersection
    estimates near truth; identical sides read exactly 1000; disjoint
    sides exactly 0; a small universe (< k distinct) reports EXACT
    counts (the sketch IS the value set)."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.sketches import kmv_overlap

    n = 4000
    ids = spark.range(n).withColumnRenamed("id", "key")
    half = (
        ids.where("key % 4 < 3").select(F.lit("a").alias("side"), "key")
        .unionByName(ids.where("key % 4 > 0")
                     .select(F.lit("b").alias("side"), "key"))
    )
    r = kmv_overlap(half, "key", "side", k=128).collect()[0]
    assert 350 <= r["jaccard_milli"] <= 650, r
    assert 0.6 * n <= r["union_est"] <= 1.4 * n, r
    assert 0.3 * n / 2 <= r["inter_est"] <= 1.7 * n / 2, r

    same = ids.select(F.lit("a").alias("side"), "key").unionByName(
        ids.select(F.lit("b").alias("side"), "key"))
    assert kmv_overlap(same, "key", "side").collect()[0]["jaccard_milli"] == 1000

    disj = ids.where("key < 100").select(F.lit("a").alias("side"), "key").unionByName(
        ids.where("key >= 3000").select(F.lit("b").alias("side"), "key"))
    assert kmv_overlap(disj, "key", "side").collect()[0]["shared"] == 0

    tiny = ids.where("key < 30").select(F.lit("a").alias("side"), "key").unionByName(
        ids.where("key >= 20 and key < 50").select(F.lit("b").alias("side"), "key"))
    t = kmv_overlap(tiny, "key", "side", k=64).collect()[0]
    assert (t["n_merged"], t["shared"], t["union_est"], t["inter_est"]) == \
        (50, 10, 50, 10)


def test_image_blur_stats_separates_ramp_from_edge(spark):
    """Blur-metric pins (r12): a smooth ramp scores HIGH first-derivative
    energy but EXACTLY ZERO Laplacian (the blur-vs-sharp separation the
    first-derivative image_stats cannot make); a step edge and a
    checkerboard score high Laplacian; JPEG-style soft blur of the same
    step scores LOWER than the hard step; poison emits the marker."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import image_blur_stats

    def png(v):
        return codecs.encode_png(
            np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2))

    H, W = 12, 16
    ramp = np.tile(40 + 5 * np.arange(W, dtype=np.int64), (H, 1))
    step = np.zeros((H, W), dtype=np.int64) + 60
    step[:, 8:] = 120
    # a blurred step: linear transition over 6 columns (same endpoints)
    soft = step.copy()
    soft[:, 5:11] = 60 + 10 * np.arange(1, 7)[None, :]
    rows = [(0, png(ramp)), (1, png(step)), (2, png(soft)), (3, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in image_blur_stats(df).collect()}
    assert got[0]["lap_l1"] == 0 and got[0]["grad_l1"] > 0
    assert got[1]["lap_l1"] > 0 and got[1]["lap_l1"] > got[2]["lap_l1"]
    # same total contrast: the centered-gradient sums agree, only the
    # second derivative separates hard from soft
    assert got[2]["grad_l1"] > 0
    assert got[3]["lap_l1"] == -1 and got[3]["n_interior"] == -1


def test_corpus_datasheet_counters(spark):
    """Datasheet pins (r12): every counter on a hand-built corpus —
    dup mass counts EVERY copy (keeper included), empty/null text in
    n_empty and zero tokens, whitespace collapse in token counts,
    null lang excluded from the distinct, short/long thresholds."""
    from esgopeta_spark.operators.quality import corpus_datasheet

    rows = [
        (0, "en", "s1", "same text"),
        (1, "en", "s1", "  Same   TEXT  "),   # dup after normalization
        (2, "de", "s2", None),                # null text
        (3, None, "s2", ""),                  # empty + null lang
        (4, "fr", "s1", " ".join(["w"] * 250)),  # long
        (5, "en", "s3", "short one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    r = corpus_datasheet(df).collect()[0]
    assert r["n_docs"] == 6 and r["n_empty"] == 2
    assert r["total_tokens"] == 2 + 2 + 0 + 0 + 250 + 2
    assert r["n_langs"] == 3 and r["n_sources"] == 3
    # TWO dup groups: the normalized "same text" pair AND the two empty
    # docs (identical normalized text — exactly what exact_dedup keys on)
    assert r["n_dup_docs"] == 4 and r["dup_milli"] == 666
    assert r["n_short"] == 5 and r["n_long"] == 1
    assert r["mean_tokens_milli"] == (256 * 1000) // 6


def test_pack_mask_spans_semantics(spark):
    """Mask-span pins (r12): windows, straddle counting, max span, pad
    arithmetic on a hand-built layout (window = 10 tokens)."""
    from esgopeta_spark.operators.text import pack_mask_spans

    rows = [  # source s: token counts 4, 4, 5 (third straddles bin 0->1)
        (0, "s", "a b c d"),
        (1, "s", "e f g h"),
        (2, "s", "i j k l m"),
        (3, "t", "one two"),           # t: 2 tokens, pad 8
        (4, "t", ""),                  # zero-token doc: never a straddle
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r["source"], r["seq_bin"]): r
           for r in pack_mask_spans(df, window_tokens=10).collect()}
    s0 = got[("s", 0)]
    assert (s0["n_docs"], s0["tokens_used"], s0["max_doc_tokens"],
            s0["n_straddle"], s0["pad_tokens"]) == (3, 13, 5, 1, 0)
    t0 = got[("t", 0)]
    assert (t0["n_docs"], t0["tokens_used"], t0["max_doc_tokens"],
            t0["n_straddle"], t0["pad_tokens"], t0["waste_milli"]) == \
        (2, 2, 2, 0, 8, 800)


def test_audio_curation_profile_equals_primitives(spark):
    """The fused decode-once profile must equal audio_stats and
    audio_vad_segments column-for-column (identical math, one decode),
    including the poison marker row."""
    import numpy as np

    from esgopeta_spark.operators import codecs
    from esgopeta_spark.operators.multimodal import (
        audio_curation_profile,
        audio_stats,
        audio_vad_segments,
    )

    FR = 512
    rng = np.random.default_rng(0xAC)

    def wav(spans):
        s = np.concatenate(
            [np.full(n * FR, amp, dtype=np.int16) for n, amp in spans])
        return codecs.encode_wav(s, 8000)

    rows = [
        (0, wav([(2, 0), (3, 8000), (1, 0), (2, 8000), (4, 0)])),
        (1, wav([(5, 0)])),
        (2, codecs.encode_wav(
            rng.integers(-30000, 30000, 7 * FR).astype(np.int16), 8000)),
        (3, b"poison"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    prof = {r["media_id"]: r for r in audio_curation_profile(df).collect()}
    stats = {r["media_id"]: r for r in audio_stats(df).collect()}
    vad = {r["media_id"]: r for r in audio_vad_segments(df).collect()}
    for mid in (0, 1, 2):
        p, s, v = prof[mid], stats[mid], vad[mid]
        for c in ("n_samples", "sample_rate", "sum_abs", "peak",
                  "n_clipped", "n_quiet"):
            assert p[c] == s[c], (mid, c, p[c], s[c])
        for c in ("n_frames", "n_active", "n_segments",
                  "lead_silence", "tail_silence"):
            assert p[c] == v[c], (mid, c, p[c], v[c])
    assert prof[3]["n_samples"] == -1 and prof[3]["n_segments"] == -1
    # audio_stats SKIPS poison (its documented quarantine); the fused
    # profile keeps the visible marker row
    assert 3 not in stats and vad[3]["n_frames"] == -1


def test_alignment_gate_semantics(spark):
    """Alignment-gate pins (r12): identical vectors read cos_micro
    exactly 1e6 and keep=1; orthogonal vectors exactly 0 and keep=0;
    anti-parallel -1e6."""
    from esgopeta_spark.operators.similarity import embedding_alignment_gate

    dim = 4
    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, v1, v1), (1, v1, v2), (2, v1, [-x for x in v1])]
    df = spark.createDataFrame(
        rows, "pair_id long, cap_vec array<double>, img_vec array<double>")
    got = {r["pair_id"]: (r["cos_micro"], r["keep"])
           for r in embedding_alignment_gate(df, "cap_vec", "img_vec",
                                             dim=dim).collect()}
    assert got[0] == (1000000, 1)
    assert got[1] == (0, 0)
    assert got[2] == (-1000000, 0)


def test_length_balanced_sample_flattens(spark):
    """Length-balance pins (r12): exact-ntile decomposition matches the
    plain global ntile bit-for-bit; over-represented length buckets
    downsample toward the uniform share while starved buckets keep
    everything; the draw is partition-invariant."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from esgopeta_spark.operators.selection import length_balanced_sample

    # skewed corpus: 80% short docs, 20% spread long
    rows = [(i, "w " * (3 if i % 10 < 8 else 3 + i % 97)) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_balanced_sample(df, n_buckets=5).collect()
    got_bucket = {r["doc_id"]: r["bucket"] for r in out}
    # reference: the global-window ntile (fine at test scale)
    from esgopeta_spark.operators.text import regex_token_count

    ref = df.select(
        "doc_id", regex_token_count(F.col("text")).cast("bigint").alias("n")
    ).withColumn(
        "b", F.ntile(5).over(Window.orderBy(F.col("n").asc(),
                                            F.col("doc_id").asc()))
    ).collect()
    assert {r["doc_id"]: r["b"] for r in ref} == got_bucket
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for b, rs in by_bucket.items():
        ppm = {r["keep_ppm"] for r in rs}
        assert len(ppm) == 1  # one rate per bucket
        # uniform share of 5 equal ntile buckets = everything kept
        assert ppm == {1000000}
        assert all(r["kept"] == 1 for r in rs)
    # a genuinely skewed BUCKETING: duplicate-length mass forces the
    # rate below 1e6 when bucket sizes are unequal via a 3-bucket split
    # of 10 docs (sizes 4,3,3)
    small = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(10)], "doc_id long, text string")
    o2 = length_balanced_sample(small, n_buckets=3).collect()
    sizes = {}
    for r in o2:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    assert sorted(sizes.values(), reverse=True) == [4, 3, 3]
    big = [r for r in o2 if sizes[r["bucket"]] == 4]
    assert {r["keep_ppm"] for r in big} == {(10 * 1000000) // (3 * 4)}


def test_mine_bitext_margin_matches_reference_and_structure(spark):
    """r13: the ratio-margin bitext miner equals a sequential-order
    python replay of the same formula (cos, fixed-order k-sums, margin,
    mutual-best, threshold) on a deterministic vector set, every mined
    src/tgt appears at most once (mutual-best is one-to-one), and the
    planted TRUE pair beats the hub distractor that plain best-cosine
    pairing would collect."""
    import math
    import random as _random

    from esgopeta_spark.operators.similarity import mine_bitext_margin

    rng = _random.Random(0xB17E)
    dim = 8
    rows = []
    # 6 src (even ids) / 6 tgt (odd ids) around 3 cluster directions,
    # plus a HUB tgt (id 13) mid-way between clusters 0 and 1
    dirs = [[1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]]
    for i in range(6):
        base = dirs[i % 3]
        vec = [b + rng.uniform(-0.08, 0.08) for b in base]
        rows.append((2 * i, vec))
        vec2 = [b + rng.uniform(-0.08, 0.08) for b in base]
        rows.append((2 * i + 1, vec2))
    rows.append((13, [0.7, 0.7, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # the hub
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from pyspark.sql import functions as F

    out = mine_bitext_margin(
        df.filter(F.col("vec_id") % 2 == 0),
        df.filter(F.col("vec_id") % 2 == 1),
        dim=dim, k=4, margin_milli_min=1000,
    ).collect()
    got = {(r["src_id"], r["tgt_id"]): (r["cosine_micro"], r["margin_milli"])
           for r in out}
    # mutual-best is one-to-one
    assert len({s for s, _ in got}) == len(got)
    assert len({t for _, t in got}) == len(got)

    # python reference replay (float64 sequential order, as_double casts
    # each float32 to double exactly like the Spark path)
    import numpy as np

    vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}
    src_ids = sorted(i for i in vecs if i % 2 == 0)
    tgt_ids = sorted(i for i in vecs if i % 2 == 1)

    def cos(a, b):
        d = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            d += x * y
        na = nb = 0.0
        for x in vecs[a]:
            na += x * x
        for y in vecs[b]:
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    c = {(s, t): cos(s, t) for s in src_ids for t in tgt_ids}
    k = 4

    def ksum(key, side):
        nbrs = sorted(
            ((c[(key, t)] if side == "f" else c[(t, key)]), t)
            for t in (tgt_ids if side == "f" else src_ids)
        )
        top = sorted(nbrs, key=lambda p: (-p[0], p[1]))[:k]
        total = top[0][0]
        for v, _ in top[1:]:
            total = total + v
        return total

    fs = {s: ksum(s, "f") for s in src_ids}
    bs = {t: ksum(t, "b") for t in tgt_ids}
    mg = {(s, t): (c[(s, t)] * 8.0) / (fs[s] + bs[t])
          for s in src_ids for t in tgt_ids}
    best_f = {s: min(tgt_ids, key=lambda t: (-mg[(s, t)], t)) for s in src_ids}
    best_b = {t: min(src_ids, key=lambda s: (-mg[(s, t)], s)) for t in tgt_ids}
    want = {}
    for s in src_ids:
        t = best_f[s]
        mm = math.floor(mg[(s, t)] * 1000 + 0.5)
        if best_b[t] == s and mm >= 1000:
            want[(s, t)] = (math.floor(c[(s, t)] * 1000000 + 0.5), mm)
    assert got == want
    # the hub never wins a mutual pairing: its margin is diluted by its
    # own dense neighborhood
    assert all(t != 13 for _, t in got)
    # and at least the three clean cluster pairs were mined
    assert len(got) >= 3


def test_unicode_fold_matrix_and_idempotence(spark):
    """r13: the bounded NFKC-lite fold — typographic quotes/dashes,
    fullwidth block, invisibles dropped, ligature/fraction expansions;
    clean ASCII and out-of-map unicode pass through unchanged; the fold
    is IDEMPOTENT on seeded random unicode (every target is ASCII
    outside the map's domain)."""
    import random as _random

    from pyspark.sql import functions as F

    from esgopeta_spark.operators.text import unicode_fold

    cases = [
        ("‘a’ “b” — c – d − e", "'a' \"b\" - c - d - e"),
        ("Ｈｅｌｌｏ　Ｗｏｒｌｄ！１２３", "Hello World!123"),
        ("ﬁﬂ…", "fifl..."),
        ("so­ft​zw‌‍﻿", "softzw"),
        ("¼ ½ ¾ a⁄b", "1/4 1/2 3/4 a/b"),
        ("plain ascii stays", "plain ascii stays"),
        ("кириллица 漢字 stays", "кириллица 漢字 stays"),
        ("nbsp thin ideo　x", "nbsp thin ideo x"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, t string"
    )
    got = {r["i"]: r["f"] for r in
           df.select("i", unicode_fold(F.col("t")).alias("f")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)

    # idempotence fuzz: fold(fold(x)) == fold(x) over seeded mixed text
    rng = _random.Random(0xF01D)
    pool = ("abc ‘’“”—–− ﬁﬂ…¼½¾⁄ ＡＺａｚ０９！ ­​ 　"
            "кири漢字🎉 ")
    rows = [(i, "".join(rng.choice(pool) for _ in range(rng.randrange(0, 60))))
            for i in range(200)]
    fdf = spark.createDataFrame(rows, "i long, t string").select(
        "i",
        unicode_fold(F.col("t")).alias("f1"),
        unicode_fold(unicode_fold(F.col("t"))).alias("f2"),
    )
    assert fdf.filter(F.col("f1") != F.col("f2")).count() == 0


def test_mine_bitext_exact_tier_mines_sides_smaller_than_k(spark):
    """r14 (r13 ADVICE): a side with fewer than k cross-side neighbors
    must average over what exists (the IVF tier's coalesce/count form),
    not get a NULL k-sum that silently excludes it from mining.  Two
    well-aligned vectors per side, k=4 > |side|: the aligned pairs must
    still be mined, and the margin must equal the n=2-neighbor average
    replay."""
    import math

    from pyspark.sql import functions as F

    from esgopeta_spark.operators.similarity import mine_bitext_margin

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]), (1, [0.99, 0.05, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]), (3, [0.05, 0.99, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mine_bitext_margin(
        df.filter(F.col("vec_id") % 2 == 0),
        df.filter(F.col("vec_id") % 2 == 1),
        dim=4, k=4, margin_milli_min=1000,
    ).collect()
    got = {(r["src_id"], r["tgt_id"]): r["margin_milli"] for r in out}
    assert set(got) == {(0, 1), (2, 3)}, got
    # replay: margin = c * 2 / (mean2(src side) + mean2(tgt side))
    vecs = {i: v for i, v in rows}

    def cos(a, b):
        d = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            d += x * y
        na = math.sqrt(sum(x * x for x in vecs[a]))
        nb = math.sqrt(sum(x * x for x in vecs[b]))
        return d / (na * nb)

    for (s, t), mm in got.items():
        fs = sorted((cos(s, tt) for tt in (1, 3)), reverse=True)
        bs = sorted((cos(t, ss) for ss in (0, 2)), reverse=True)
        m = cos(s, t) * 2.0 / ((fs[0] + fs[1]) / 2 + (bs[0] + bs[1]) / 2)
        assert abs(mm - math.floor(m * 1000 + 0.5)) <= 1, (s, t, mm, m)


def test_mine_bitext_ivf_structure_and_planted_recall(spark, sf_dir):
    """r13: the IVF scale tier keeps the mutual-best one-to-one
    discipline, agrees with the exact tier BIT-FOR-BIT on every pair
    both mine (same cosine/margin arithmetic — only the candidate set
    is approximate), and recovers EVERY planted near-duplicate pair on
    a constructed corpus (true translations are near-identical vectors,
    which land in the same coarse cell — the reason IVF candidate
    generation works for mining at all).  Note the MINED SETS legitimately
    diverge on diffuse corpora: within-cell kNN averages shift margins,
    and mutual-best is sensitive to neighborhood composition — that is
    the documented n_probe=1 trade, not an execution bug."""
    import random as _random

    from pyspark.sql import functions as F

    from esgopeta_spark.operators.similarity import (
        mine_bitext_margin,
        mine_bitext_margin_ivf,
    )
    from esgopeta_spark.plans import REGISTRY

    exact = {(r["src_id"], r["tgt_id"]): r["cosine_micro"]
             for r in REGISTRY["mine_bitext_margin"].fn(spark, sf_dir).collect()}
    ivf_rows = REGISTRY["mine_bitext_margin_ivf"].fn(spark, sf_dir).collect()
    ivf = {(r["src_id"], r["tgt_id"]): r["cosine_micro"] for r in ivf_rows}
    assert len({s for s, _ in ivf}) == len(ivf)
    assert len({t for _, t in ivf}) == len(ivf)
    shared = set(exact) & set(ivf)
    assert shared, "the two tiers should agree on some pairs"
    assert all(exact[p] == ivf[p] for p in shared)

    # planted recall: 12 true pairs as near-identical vectors spread
    # over distinct directions; both tiers must mine every one
    rng = _random.Random(0x1BF)
    dim = 16
    rows = []
    for i in range(12):
        base = [0.0] * dim
        base[i % dim] = 1.0
        base[(i * 5 + 3) % dim] = 0.6
        src_v = [b + rng.uniform(-0.02, 0.02) for b in base]
        tgt_v = [b + rng.uniform(-0.02, 0.02) for b in base]
        rows.append((2 * i, src_v))
        rows.append((2 * i + 1, tgt_v))
    # noise vectors on both sides (ids keep parity)
    for j in range(12, 30):
        v = [rng.uniform(-0.3, 0.3) for _ in range(dim)]
        rows.append((2 * j, v))
        rows.append((2 * j + 1, [x + rng.uniform(-0.3, 0.3) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = df.filter(F.col("vec_id") % 2 == 0)
    tgt = df.filter(F.col("vec_id") % 2 == 1)
    true_pairs = {(2 * i, 2 * i + 1) for i in range(12)}
    for fn in (mine_bitext_margin, mine_bitext_margin_ivf):
        mined = {(r["src_id"], r["tgt_id"])
                 for r in fn(src, tgt, dim=dim, centroid_stride=5).collect()} \
            if fn is mine_bitext_margin_ivf else \
            {(r["src_id"], r["tgt_id"])
             for r in fn(src, tgt, dim=dim).collect()}
        missed = true_pairs - mined
        assert not missed, (fn.__name__, missed)


def test_snapshot_drift_psi_semantics(spark):
    """r13: PSI drift alarm — identical snapshots read EXACTLY zero
    (p==q per bucket, so every integer contribution is 0), a planted
    length shift reads loudly positive, every per-bucket contribution
    is non-negative (log monotonicity x share difference), and empty
    buckets are smoothed (ppm floor 1), never log-undefined."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.quality import snapshot_drift_psi

    docs = spark.createDataFrame(
        [(i, "x" * (50 + (i * 37) % 900)) for i in range(200)],
        "doc_id long, text string",
    )
    same = snapshot_drift_psi(
        docs.select("text"), docs.select("text")).collect()
    assert len(same) == 10
    assert all(r["contrib_nanobits"] == 0 for r in same)
    assert same[0]["psi_nanobits"] == 0

    shifted = docs.select(
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.col("text"), F.col("text")))
        .otherwise(F.col("text")).alias("text")
    )
    out = snapshot_drift_psi(docs.select("text"), shifted).collect()
    assert all(r["contrib_nanobits"] >= 0 for r in out)
    assert out[0]["psi_nanobits"] > 0
    # a bucket present on one side only is smoothed, not dropped
    assert all(r["p_ppm"] >= 1 and r["q_ppm"] >= 1 for r in out)


def test_milli_log2_int_matches_engine(spark):
    """r14: the pure-int Python twin (the streaming PSI handler's log
    kernel) is bit-equal to the engine's Q20 shift-and-square across
    small values, ppm-scale values, and wide powers."""
    from esgopeta_spark.operators.selection import (
        milli_log2_int,
        with_milli_log2,
    )

    vals = (
        list(range(1, 3000))
        + [10**6, 10**6 + 1, 999_999, 123_456_789]
        + [2**k for k in range(1, 63)]
        + [2**k - 1 for k in range(2, 63)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v: long")
    got = {r["v"]: r["ml"] for r in with_milli_log2(df, "v", "ml").collect()}
    for v in vals:
        assert got[v] == milli_log2_int(v), v
    import pytest as _pytest

    with _pytest.raises(ValueError):
        milli_log2_int(0)


def test_pack_sequences_branches(spark):
    """r14: greedy capacity-reset packing — fit, reset, oversize
    truncation (own bin, flagged), zero-token docs, and shard
    isolation; deterministic under the id order."""
    from esgopeta_spark.operators.selection import pack_sequences

    rows = [
        # shard 0: 30+40 fit (70<=80); 50 resets; 200 truncates alone;
        # then 10 packs after the oversize bin
        (0, 0, 30), (1, 0, 40), (2, 0, 50), (3, 0, 200), (4, 0, 10),
        # shard 1: zero-token docs cost nothing and pack together
        (5, 1, 0), (6, 1, 80), (7, 1, 0), (8, 1, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, shard: long, n_tokens: long")
    got = {r["doc_id"]: (r["bin_idx"], r["bin_offset"], r["truncated"])
           for r in pack_sequences(df, max_tokens=80).collect()}
    assert got == {
        0: (0, 0, 0), 1: (0, 30, 0), 2: (1, 0, 0), 3: (2, 0, 1),
        4: (3, 0, 0),
        5: (0, 0, 0), 6: (0, 0, 0), 7: (0, 80, 0), 8: (1, 0, 0),
    }, got
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_sequences(df, max_tokens=0)


def test_mixture_from_corpus_matches_unfused(spark, sf_dir):
    """r14 optimization equivalence pin: the single-tokenize fusion
    (entropy pass supplies both the domain weights and the per-doc
    token counts) returns exactly the rows of the unfused
    domain_weights + token_count + mixture_materialize formulation."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.selection import (
        domain_weights,
        mixture_from_corpus,
        mixture_materialize,
    )
    from esgopeta_spark.operators.text import token_count
    from esgopeta_spark.session import read_table

    d = read_table(spark, sf_dir, "documents")
    fused = sorted(map(tuple, mixture_from_corpus(d).collect()))
    w = domain_weights(d)
    toks = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    unfused = sorted(map(tuple, mixture_materialize(toks, w).collect()))
    assert fused == unfused and len(fused) > 0


def test_mixture_from_corpus_zero_token_docs(spark):
    """The fusion's left-join + coalesce(0) must restore docs whose text
    tokenizes to NOTHING (absent from the entropy output) exactly as
    token_count(text) = 0 did — the empty-doc semantics the oracle
    depends on."""
    from pyspark.sql import functions as F

    from esgopeta_spark.operators.selection import (
        domain_weights,
        mixture_from_corpus,
        mixture_materialize,
    )
    from esgopeta_spark.operators.text import token_count

    rows = [
        (1, "a", "alpha beta gamma"),
        (2, "a", ""),
        (3, "a", "   "),
        (4, "b", "delta delta"),
        (5, "b", "epsilon zeta eta theta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    fused = sorted(map(tuple, mixture_from_corpus(d).collect()))
    w = domain_weights(d)
    toks = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    unfused = sorted(map(tuple, mixture_materialize(toks, w).collect()))
    assert fused == unfused
    # the zero-token docs must appear in the fused per-doc token base:
    # both formulations keep or drop them IDENTICALLY (cum <= budget)
    fused_ids = {r[1] for r in fused}
    unfused_ids = {r[1] for r in unfused}
    assert fused_ids == unfused_ids
