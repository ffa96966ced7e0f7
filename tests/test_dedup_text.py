"""Dedup + text-analysis semantics on crafted near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from memory_engine_spark.operators import dedup, text

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick  brown fox jumps over the lazy dog"),   # exact dup after norm
    (3, "The quick brown fox jumps over the lazy cat"),    # near dup
    (4, "Completely different content about spark engines"),
    (5, "spark engines are completely different content about"),  # shared words
    (6, ""),                                               # empty
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, body string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicate_groups(docs, "body", "doc_id").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_dups"] == 2 and g["keep_id"] == 1 and g["dup_ids"] == [1, 2]


def test_ngram_jaccard_exact_values(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, "body", "doc_id", n=3, threshold=0.1).collect()}
    assert pairs[(1, 2)] == 1.0
    # docs 1,3: 7 shingles each, 6 shared -> 6/8
    assert abs(pairs[(1, 3)] - 0.75) < 1e-9
    assert (1, 4) not in pairs


def test_minhash_matches_exact_jaccard_pairs(docs):
    exact = {(r["a"], r["b"]) for r in
             dedup.ngram_jaccard_pairs(docs, "body", "doc_id", n=3, threshold=0.5).collect()}
    mh = {(r["a"], r["b"]) for r in
          dedup.minhash_neardup(docs, "body", "doc_id", threshold=0.5,
                                num_hashes=64, bands=32).collect()}
    # verification step guarantees no false positives; banding at
    # r=2 rows/band gives ~full recall at this tiny scale
    assert mh == exact


def test_simhash_identical_and_near(docs):
    """Normalization-identical docs get equal fingerprint words and
    hamming 0, in both the 64-bit and the 32-bit sketch; every reported
    hamming is the popcount of the words' XOR."""
    sh64 = {r["id"]: (r["sh_lo"], r["sh_hi"]) for r in
            dedup.simhash64_md5(docs, "body", "doc_id").collect()}
    assert sh64[1] == sh64[2]
    sh32 = {r["id"]: r["simhash32"] for r in
            dedup.simhash32_md5(docs, "body", "doc_id").collect()}
    assert sh32[1] == sh32[2]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash32_neardup(docs, "body", "doc_id").collect()}
    assert pairs[(1, 2)] == 0
    for (a, b), ham in pairs.items():
        assert ham == bin(sh32[a] ^ sh32[b]).count("1")


def test_minhash_rejects_bands_outside_num_hashes(docs):
    """bands > num_hashes leaves r = 0 rows per band: every band key is
    the empty slice and every pair becomes a candidate."""
    for fn in (dedup.minhash_neardup, dedup.minhash_md5_neardup):
        for bands in (17, 0):
            with pytest.raises(ValueError, match="bands"):
                fn(docs, "body", "doc_id", num_hashes=16, bands=bands)


def test_simhash_rejects_max_hamming_without_pigeonhole(docs):
    """Recall is exact only while max_hamming < the chunk count (4 for
    32 bits, 8 for 64 bits); beyond it pairs would be lost silently."""
    for fn, n_chunks in ((dedup.simhash32_neardup, 4),
                         (dedup.simhash64_md5_neardup, 8)):
        for bad in (n_chunks, -1):
            with pytest.raises(ValueError, match="max_hamming"):
                fn(docs, "body", "doc_id", max_hamming=bad)


@pytest.mark.parametrize("fn", [dedup.minhash_neardup,
                                dedup.minhash_md5_neardup])
def test_minhash_result_is_the_only_cache_left(spark, fn):
    """The shingle frame is released inside the call; the returned
    result is the one cached frame, and unpersisting it removes all the
    call added. (Set differences: earlier tests' checkpoints may be
    cleaned up meanwhile.)"""
    df = spark.createDataFrame(DOCS[:5], "doc_id int, body string")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    res = fn(df, "body", "doc_id", threshold=0.5)
    assert len(set(persisted().keySet()) - before) == 1
    assert res.is_cached and (1, 2) in {(r["a"], r["b"]) for r in res.collect()}
    res.unpersist(True)
    assert set(persisted().keySet()) - before == set()


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id int, body string")
    rows = df.select(dedup.word_shingles(F.col("body"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["only two"]


def test_text_stats_and_quality(docs):
    st = {r["doc_id"]: r for r in text.text_stats(docs, "body", "doc_id").collect()}
    assert st[1]["n_tokens"] == 9
    assert st[6]["n_tokens"] == 0 and st[6]["quality"] is not None
    assert st[1]["fingerprint"] == st[2]["fingerprint"]
    assert 0.0 <= st[4]["quality"] <= 1.0
    # stopword ratio of doc1: the(2) -> 2/9 ("over" is not in the list)
    assert abs(st[1]["stopword_ratio"] - 2 / 9) < 1e-6


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in that house with it"),
         (2, "el perro y la casa de los gatos una por con"),
         (3, "der hund und die katze ist nicht mit ein"),
         (4, "xyzzy plugh qwerty")],
        "doc_id int, body string")
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", text.language_id(F.col("body")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_rolling_fingerprints(docs):
    rows = docs.filter("doc_id = 1").select(
        text.rolling_fingerprints(F.col("body"), window=8).alias("fp")).collect()
    assert len(rows[0]["fp"]) == 2  # 9 tokens, window 8 → 2 spans


def test_minhash_md5_matches_plain_minhash_semantics(docs):
    """The md5-portable MinHash is the same operator family: verified
    pairs are a subset of exact Jaccard pairs with identical scores."""
    exact = {(r["a"], r["b"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(
        docs, "body", "doc_id", n=3, threshold=0.3).collect()}
    mh = dedup.minhash_md5_neardup(docs, "body", "doc_id",
                                   threshold=0.3).collect()
    assert mh, "expected at least one near-dup pair"
    for r in mh:
        assert (r["a"], r["b"]) in exact
        assert abs(r["jaccard"] - exact[(r["a"], r["b"])]) < 1e-9


def test_simhash64_md5_neardup_recall_vs_brute(docs):
    """Chunk-blocked candidates must equal the brute-force hamming join
    for hamming <= 7 (pigeonhole exactness)."""
    rows = dedup.simhash64_md5(docs, "body", "doc_id").collect()
    brute = set()
    for i, ri in enumerate(rows):
        for rj in rows[i + 1:]:
            a, b = sorted([ri["id"], rj["id"]])
            ham = (bin(ri["sh_lo"] ^ rj["sh_lo"]).count("1")
                   + bin(ri["sh_hi"] ^ rj["sh_hi"]).count("1"))
            if ham <= 6:
                brute.add((a, b, ham))
    got = {(r["a"], r["b"], r["hamming"]) for r in dedup.simhash64_md5_neardup(
        docs, "body", "doc_id", max_hamming=6).collect()}
    assert got == brute


def test_simhash_packs_bit_63(spark):
    """Some fingerprint across many one-token docs must set bit 63 (bit
    31 of ``sh_hi``), and bit 31 of ``sh_lo`` — the packing uses all 64
    bits and keeps each word a non-negative 32-bit value."""
    df = spark.createDataFrame(
        [(i, f"tok{i}") for i in range(40)], "doc_id int, body string")
    rows = dedup.simhash64_md5(df, "body", "doc_id").collect()
    for w in ("sh_lo", "sh_hi"):
        assert all(0 <= r[w] < 1 << 32 for r in rows)
        assert any(r[w] >> 31 for r in rows), f"bit 31 of {w} never set"


def test_simhash_neardup_chunk_count_guarantee(spark):
    """32-bit twin of the 64-bit recall test: at max_hamming=3 the 4
    chunk candidates must equal the brute-force hamming join over
    seeded near-duplicate docs (many pairs at hamming 1-3)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    bases = [[rng.choice(vocab) for _ in range(12)] for _ in range(6)]
    rows = []
    for i in range(60):
        toks = list(bases[i % 6])
        for _ in range(rng.randrange(3)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id int, body string")
    sh = {r["id"]: r["simhash32"] for r in
          dedup.simhash32_md5(df, "body", "doc_id").collect()}
    ids = sorted(sh)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(sh[a] ^ sh[b]).count("1")
            if ham <= 3:
                brute.add((a, b, ham))
    assert {h for *_, h in brute} == {0, 1, 2, 3}
    got = {(r["a"], r["b"], r["hamming"]) for r in dedup.simhash32_neardup(
        df, "body", "doc_id", max_hamming=3).collect()}
    assert got == brute


def test_gopher_filter_signals_and_keep(spark):
    good = ("the data is clean and we have to keep it because it meets "
            "every rule of the gate with plenty of words " * 3)
    short = "too short to keep"
    symbolic = ("# " * 30) + "the and of with that be to have " * 4
    df = spark.createDataFrame(
        [("good", good), ("short", short), ("sym", symbolic),
         ("bullets", "- a\n- b\n- c\nthe and have with " + "word " * 50)],
        "doc_id string, body string")
    out = {r["doc_id"]: r for r in
           text.gopher_filter(df, "body", "doc_id").collect()}
    assert out["good"]["keep"] is True
    assert out["good"]["stopword_hits"] >= 2
    assert out["short"]["keep"] is False          # < 50 words
    assert out["sym"]["keep"] is False            # symbol ratio > 0.1
    assert out["sym"]["symbol_word_ratio"] > 0.1
    assert out["bullets"]["bullet_line_ratio"] == 0.75  # 3 of 4 lines


def test_repetition_stats(spark):
    rep = "spark is fast\nspark is fast\nspark is fast\nunique line"
    norep = "every line here\nis totally different\nfrom the others"
    loop = "go go go go go go go go stop"
    df = spark.createDataFrame(
        [("rep", rep), ("norep", norep), ("loop", loop)],
        "doc_id string, body string")
    out = {r["doc_id"]: r for r in
           text.repetition_stats(df, "body", "doc_id", ngram=2).collect()}
    assert out["rep"]["duplicate_line_fraction"] == 0.5   # 2 dups / 4 lines
    assert out["rep"]["duplicate_line_char_fraction"] > 0.4
    assert out["norep"]["duplicate_line_fraction"] == 0.0
    # 'go go' occurs 7 times (overlapping), 5 chars each, 28 chars total
    # — overlap-counting can push the fraction past 1, as in Gopher
    assert abs(out["loop"]["top_ngram_char_fraction"] - 7 * 5 / 28) < 1e-6


def test_decontamination_flags_exact_window_overlap(spark):
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id string, body string")
    train = spark.createDataFrame(
        [("t1", "PREFIX alpha beta gamma delta epsilon zeta eta theta SUFFIX"),
         ("t2", "totally unrelated content about gardening and tulips here")],
        "doc_id string, body string")
    out = {r["doc_id"]: r["n_collisions"] for r in text.decontaminate(
        train, bench, "body", "doc_id", window=8).collect()}
    assert "t1" in out and out["t1"] >= 1   # shares the full 8-token window
    assert "t2" not in out


def test_simhash_neardup_max_hamming_zero(docs):
    """max_hamming=0 keeps only equal fingerprints, in both widths."""
    for fn in (dedup.simhash32_neardup, dedup.simhash64_md5_neardup):
        pairs = {(r["a"], r["b"]) for r in fn(
            docs, "body", "doc_id", max_hamming=0).collect()}
        assert pairs == {(1, 2)}  # the normalization-identical docs


def test_redact_pii_and_counts(spark):
    df = spark.createDataFrame(
        [("a", "mail bob@corp.io from 10.0.0.1, card 4111111111111111, "
               "call +1 (555) 123-4567")],
        "doc_id string, body string")
    row = df.select(text.redact_pii(F.col("body")).alias("r"),
                    text.pii_counts(F.col("body")).alias("c")).first()
    assert "<EMAIL>" in row["r"] and "<IP>" in row["r"]
    assert "<NUMBER>" in row["r"] and "<PHONE>" in row["r"]
    assert "bob@corp.io" not in row["r"] and "4111111111111111" not in row["r"]
    assert row["c"]["email"] == 1 and row["c"]["ip"] == 1
    assert row["c"]["number"] == 1 and row["c"]["phone"] == 1


def test_hash_split_deterministic_and_disjoint(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "id int")
    a = {r["id"]: r["split"] for r in text.hash_split(df, "id").collect()}
    b = {r["id"]: r["split"] for r in
         text.hash_split(df.repartition(7), "id").collect()}
    assert a == b                                 # partition-independent
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.75 < c["train"] / 2000 < 0.85        # ~80/10/10
    assert 0.06 < c["val"] / 2000 < 0.14
    # different salt → different assignment
    d = {r["id"]: r["split"] for r in
         text.hash_split(df, "id", salt="other").collect()}
    assert a != d
    with pytest.raises(ValueError, match="sum to 1"):
        text.hash_split(df, "id", splits={"x": 0.5})


def test_neardup_clusters_canonical_selection(spark):
    from pyspark.sql import functions as F

    from memory_engine_spark.operators.dedup import (canonical_corpus,
                                                     neardup_clusters)
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "aaa"), (4, "bb"), (5, "cc"), (6, "cc")],
        "doc_id int, text string")
    # chain 1-2, 2-3 => one cluster {1,2,3}; 5-6 pair; 4 singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a int, b int")
    rows = {r["doc_id"]: r for r in
            neardup_clusters(docs, pairs, "doc_id", F.length("text")).collect()}
    assert len(rows) == 6
    assert rows[1]["cluster"] == rows[2]["cluster"] == rows[3]["cluster"] == "1"
    assert rows[5]["cluster"] == rows[6]["cluster"] == "5"
    assert rows[4]["cluster"] == "4" and rows[4]["cluster_size"] == 1
    # canonical: longest text wins (doc 2); ties break to min id (doc 5)
    assert [rows[i]["is_canonical"] for i in (1, 2, 3)] == [0, 1, 0]
    assert rows[5]["is_canonical"] == 1 and rows[6]["is_canonical"] == 0
    assert rows[4]["is_canonical"] == 1
    assert rows[1]["cluster_size"] == 3 and rows[5]["cluster_size"] == 2

    kept = sorted(r["doc_id"] for r in
                  canonical_corpus(docs, pairs, "doc_id",
                                   F.length("text")).collect())
    assert kept == [2, 4, 5]


def test_chunk_tokens_windows(spark):
    from memory_engine_spark.operators.text import chunk_tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(130))),  # 130 tokens
         (2, "short text"),                            # 2 tokens
         (3, "")],                                     # empty
        "doc_id int, text string")
    rows = sorted(chunk_tokens(df, "text", "doc_id", chunk_size=64,
                               overlap=8).collect(),
                  key=lambda r: (r["doc_id"], r["chunk_idx"]))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 130 tokens, stride 56: chunks at 0, 56, 112 -> 3 chunks
    assert [r["start_tok"] for r in by_doc[1]] == [0, 56, 112]
    assert [r["n_chunk_tokens"] for r in by_doc[1]] == [64, 64, 18]
    # overlap: chunk1 starts at token 56, chunk0 covered 0..63
    assert by_doc[1][1]["chunk_text"].split()[0] == "t56"
    assert by_doc[1][0]["chunk_text"].split()[-1] == "t63"
    # short and empty docs: exactly one chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_chunk_tokens"] == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_tokens(df, "text", "doc_id", chunk_size=8, overlap=8)


def test_dedup_lines_drops_corpus_wide_boilerplate(spark):
    df = spark.createDataFrame(
        [(1, "COOKIE BANNER\nunique alpha\nnav bar\n"),
         (2, "COOKIE BANNER\nunique beta\nnav bar"),
         (3, "unique gamma\nCOOKIE BANNER"),
         (4, "all original here\nno shared lines")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in
            dedup.dedup_lines(df, "text", "doc_id", min_dup=2).collect()}
    # boilerplate removed from every doc, order of survivors preserved
    assert rows[1]["text"] == "unique alpha\n"
    assert rows[2]["text"] == "unique beta"
    assert rows[3]["text"] == "unique gamma"
    assert rows[4]["text"] == "all original here\nno shared lines"
    assert (rows[1]["n_lines"], rows[1]["n_dropped"]) == (4, 2)
    assert (rows[3]["n_lines"], rows[3]["n_dropped"]) == (2, 1)
    assert rows[4]["n_dropped"] == 0


def test_dedup_lines_min_line_chars_excludes_short_lines(spark):
    # doc 1 line 2 and doc 2 line 2 are both "ok" (2 chars): with
    # min_line_chars=3 they never count and are always kept.
    df = spark.createDataFrame(
        [(1, "alpha\nok"), (2, "beta\nok")], "doc_id int, text string")
    rows = {r["doc_id"]: r for r in
            dedup.dedup_lines(df, "text", "doc_id", min_dup=2,
                              min_line_chars=3).collect()}
    assert rows[1]["text"] == "alpha\nok"
    assert rows[1]["n_dropped"] == 0


def test_dedup_lines_duplicate_within_single_doc_not_hot(spark):
    # same line twice in ONE doc: countDistinct(doc)=1 < min_dup -> kept
    df = spark.createDataFrame(
        [(1, "repeat me\nrepeat me\nsolo"), (2, "other stuff")],
        "doc_id int, text string")
    r = {x["doc_id"]: x for x in
         dedup.dedup_lines(df, "text", "doc_id", min_dup=2).collect()}
    assert r[1]["text"] == "repeat me\nrepeat me\nsolo"
    assert r[1]["n_dropped"] == 0


def test_semdedup_keeps_low_centroid_sim_representative(spark):
    # Two clusters seeded by ids 1 and 2 (first-k). In each cluster the
    # seed itself is the centroid-closest member and has a ≥0.95-cosine
    # near-dup ranked EARLIER (farther from centroid), so SemDeDup's
    # keep-low-similarity policy drops the seed and keeps the dup.
    rows = [(1, [1.0, 0.0]),   # cell 1 seed -> dropped (dup of 3)
            (2, [0.0, 1.0]),   # cell 2 seed -> dropped (dup of 5)
            (3, [1.0, 0.05]),  # near-dup of 1, farther from centroid
            (4, [0.9, 0.45]),  # cell 1, cos 0.894 with seed: kept
            (5, [0.05, 1.0]),  # near-dup of 2
            (6, [-1.0, 0.2])]  # cell 2 (cos 0.196 > -0.98), distinct
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           dedup.semdedup(df, threshold=0.95, nlist=2,
                          id_col="vec_id", vec_col="embedding").collect()}
    assert {k: v["is_kept"] for k, v in out.items()} == {
        1: False, 2: False, 3: True, 4: True, 5: True, 6: True}
    # rank-1 members have no prior pair
    assert out[4]["max_prior_sim"] is None
    assert out[6]["max_prior_sim"] is None
    # the dropped seeds record the dup similarity that killed them
    assert out[1]["max_prior_sim"] > 0.95 and out[2]["max_prior_sim"] > 0.95


def test_substring_dedup_removes_cross_doc_spans(spark):
    # shared: an exact 6-token span in docs 1 and 2; window=4 must
    # cover the whole span (all its 4-token windows are hot) and keep
    # each doc's unique prefix/suffix.
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, f"one two {shared} eight nine"),
         (2, f"x y z {shared}"),
         (3, "totally unrelated words here only once")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in
            dedup.substring_dedup(df, "text", "doc_id",
                                  window=4, min_dup=2).collect()}
    assert rows[1]["text"] == "one two eight nine"
    assert rows[2]["text"] == "x y z"
    assert rows[3]["text"] == "totally unrelated words here only once"
    assert (rows[1]["n_tokens"], rows[1]["n_removed"]) == (10, 6)
    assert (rows[2]["n_tokens"], rows[2]["n_removed"]) == (9, 6)
    assert rows[3]["n_removed"] == 0


def test_substring_dedup_within_doc_repeat_not_removed(spark):
    # the same 4-token run twice in ONE doc: min_dup counts distinct
    # docs, so nothing is hot
    df = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "unrelated filler text tokens")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in
            dedup.substring_dedup(df, "text", "doc_id",
                                  window=4, min_dup=2).collect()}
    assert rows[1]["n_removed"] == 0
    assert rows[1]["text"] == "a b c d a b c d"


def test_substring_dedup_short_docs_pass_through(spark):
    # both docs share all 3 tokens but are SHORTER than the window:
    # no window forms, nothing is removed
    df = spark.createDataFrame(
        [(1, "same three words"), (2, "same three words")],
        "doc_id int, text string")
    rows = dedup.substring_dedup(df, "text", "doc_id",
                                 window=5, min_dup=2).collect()
    assert all(r["n_removed"] == 0 for r in rows)
    assert all(r["text"] == "same three words" for r in rows)


def test_fuzzy_term_pairs_symspell_blocking(spark):
    from memory_engine_spark.operators.text import fuzzy_term_pairs
    df = spark.createDataFrame(
        [("spark",), ("spork",), ("sprk",), ("spark",),  # dup term
         ("hadoop",), ("hadoo",), ("zzzzz",)], "term string")
    rows = sorted((r["a"], r["b"], r["dist"]) for r in
                  fuzzy_term_pairs(df, "term").collect())
    # substitution (spark/spork), deletions (spark/sprk, hadoop/hadoo)
    assert rows == [("hadoo", "hadoop", 1), ("spark", "spork", 1),
                    ("spark", "sprk", 1), ("spork", "sprk", 1)]


def test_fuzzy_term_pairs_no_distance_2_pairs(spark):
    from memory_engine_spark.operators.text import fuzzy_term_pairs
    # transposition = levenshtein 2: must NOT pair
    df = spark.createDataFrame([("abcd",), ("abdc",)], "term string")
    assert fuzzy_term_pairs(df, "term").count() == 0


def test_fuzzy_term_pairs_caps_long_terms(spark):
    from memory_engine_spark.operators.text import fuzzy_term_pairs
    long_t = "x" * 30
    df = spark.createDataFrame([(long_t,), (long_t[:-1],)], "term string")
    assert fuzzy_term_pairs(df, "term", max_len=24).count() == 0


def test_html_main_content_extraction(spark):
    """Head/script/style/comments drop wholesale (raw '<' inside
    script must not derail the tag stripper), link-dominated blocks
    drop by the exact integer density test, survivors stitch in
    document order, entities decode (&amp; last), and an all-links
    page yields an empty main text with the counts telling the story."""
    page = ('<html><head><title>T</title><style>a{x:1}</style>'
            '<script>if(a<b){y()}</script></head><body>'
            '<!-- tracking pixel -->'
            '<nav><a href="/">Home</a> <a href="/x">About us</a></nav>'
            '<p>First &amp; second &lt;para&gt; with '
            '<a href="/r"><b>bold ref</b></a> inline</p>'
            '<div><a href="/b">Buy</a> <a href="/s">Sub</a></div>'
            '<p></p><p>tail&nbsp;words here</p></body></html>')
    allnav = ('<html><body><nav><a href="/1">One</a> '
              '<a href="/2">Two</a></nav></body></html>')
    df = spark.createDataFrame([("d1", page), ("d2", allnav)],
                               "doc_id string, html string")
    out = {r["doc_id"]: r for r in
           text.html_main_content(df, "html", "doc_id").collect()}
    # nav (2*9 > 13 chars) and ad div (2*6 > 7) dropped; two real
    # paragraphs survive; the bold anchor text stays in the content.
    assert out["d1"]["text"] == ("First & second <para> with bold ref "
                                 "inline tail words here")
    assert (out["d1"]["n_blocks"], out["d1"]["n_kept"]) == (4, 2)
    assert out["d2"]["text"] == ""
    assert (out["d2"]["n_blocks"], out["d2"]["n_kept"]) == (1, 0)


def test_url_normalize_canonical_forms(spark):
    """Scheme/host lowering, matching-default-port strip (http:443
    kept!), fragment + tracker drop, bytewise param sort, empty
    path -> '/'."""
    cases = [
        ("HTTP://WWW.Ex.ORG:80/A/b?utm_source=x&b=2&a=1#frag",
         "http://www.ex.org/A/b?a=1&b=2", "www.ex.org"),
        ("https://Ex.org:443/", "https://ex.org/", "ex.org"),
        ("http://ex.org:443/p", "http://ex.org:443/p", "ex.org"),
        ("https://ex.org:8080?fbclid=z&z=9",
         "https://ex.org:8080/?z=9", "ex.org"),
        ("http://EX.org", "http://ex.org/", "ex.org"),
        ("http://ex.org/p?utm_a=1&utm_b=2", "http://ex.org/p",
         "ex.org"),
        # Exact-key trackers only: fbclid2 / gclid_src are NOT
        # trackers; a 'value' containing a tracker name is kept.
        ("http://ex.org/p?fbclid2=1&gclid_src=2&k=fbclid",
         "http://ex.org/p?fbclid2=1&gclid_src=2&k=fbclid", "ex.org"),
        # Scheme-less input passes through unchanged.
        ("www.ex.org/p?a=1", "www.ex.org/p?a=1", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    out = df.select(text.url_normalize(F.col("url")).alias("n"),
                    text.url_host(F.col("url")).alias("h")).collect()
    for (u, want_n, want_h), row in zip(cases, out):
        assert row["n"] == want_n, (u, row["n"])
        assert row["h"] == want_h, (u, row["h"])


def test_robots_parse_and_eval(spark):
    """RFC 9309: UA-group formation (multi-agent groups, exact token
    beats '*', winning-token groups merge), longest-rule-octets
    precedence with Allow winning ties, '*' and '$' wildcards,
    empty-Disallow = allow-all, robots-less host = allowed."""
    from memory_engine_spark.operators import crawl

    r1 = ("# crawl policy\n"
          "User-agent: SparkBot\n"
          "User-agent: otherbot\n"
          "Disallow: /private\n"
          "Allow: /private/ok\n"
          "Disallow: /tmp/*.log$\n"
          "Disallow: /price$usd\n"
          "Allow: /dir\n"
          "Disallow: /dir\n"
          "\n"
          "User-agent: *\n"
          "Disallow: /\n")
    r2 = "User-agent: *\nDisallow: /\nUser-agent: nobody\nDisallow:\n"
    robots = crawl.parse_robots(
        spark.createDataFrame([("h1", r1), ("h2", r2)],
                              "host string, robots_txt string"))
    rows = {(r["host"], r["rule"], r["allow"])
            for r in robots.collect()}
    assert ("h1", "/private", False) in rows
    assert ("h1", "/private/ok", True) in rows
    assert ("h2", "/", False) in rows
    # empty Disallow dropped; the nobody group contributes no rules
    assert not any(h == "h2" and rule == "" for h, rule, _ in rows)

    urls = spark.createDataFrame(
        [("h1", "/private/x"), ("h1", "/private/ok/page"),
         ("h1", "/public"), ("h1", "/tmp/a.log"),
         ("h1", "/tmp/a.log.bak"), ("h1", "/dir/page"),
         ("h1", "/price$usd/x"),
         ("h2", "/anything"), ("h3", "/no/robots")],
        "host string, path string")
    out = {(r["host"], r["path"]): (r["allowed"], r["matched_rule"])
           for r in crawl.robots_allowed(urls, robots,
                                         agent="sparkbot").collect()}
    assert out[("h1", "/private/x")] == (False, "/private")
    assert out[("h1", "/private/ok/page")] == (True, "/private/ok")
    assert out[("h1", "/public")] == (True, None)     # no match
    assert out[("h1", "/tmp/a.log")] == (False, "/tmp/*.log$")
    assert out[("h1", "/tmp/a.log.bak")][0] is True   # $ anchor holds
    assert out[("h1", "/dir/page")] == (True, "/dir") # tie -> Allow
    # mid-rule '$' is a literal path byte, not an anchor: before the
    # round-8 fix this rule compiled to a dead mid-pattern anchor and
    # the disallow was silently ignored.
    assert out[("h1", "/price$usd/x")] == (False, "/price$usd")
    assert out[("h2", "/anything")] == (False, "/")   # '*' group
    assert out[("h3", "/no/robots")] == (True, None)  # robots-less


def test_sitemap_parse_both_kinds(spark):
    """urlset and sitemapindex dispatch, whitespace-trimmed <loc>,
    optional lastmod, spec default priority 0.5."""
    from memory_engine_spark.operators import crawl

    us = ('<?xml version="1.0"?><urlset>'
          '<url><loc>  https://a.org/x </loc>'
          '<lastmod>2024-03-01</lastmod>'
          '<priority>0.8</priority></url>'
          '<url><loc>https://a.org/y</loc></url></urlset>')
    si = ('<sitemapindex><sitemap><loc> https://b.org/s1.xml </loc>'
          '</sitemap><sitemap><loc>https://b.org/s2.xml</loc>'
          '<lastmod>2024-01-02</lastmod></sitemap></sitemapindex>')
    df = spark.createDataFrame([("a", us), ("b", si)],
                               "host string, sitemap_xml string")
    out = {(r["host"], r["url_idx"]): r
           for r in crawl.parse_sitemap(df).collect()}
    assert out[("a", 0)]["loc"] == "https://a.org/x"
    assert out[("a", 0)]["priority"] == 0.8
    assert out[("a", 0)]["lastmod"] == "2024-03-01"
    assert out[("a", 1)]["priority"] == 0.5      # spec default
    assert out[("a", 1)]["lastmod"] is None
    assert out[("b", 0)]["kind"] == "sitemapindex"
    assert out[("b", 0)]["loc"] == "https://b.org/s1.xml"
    assert out[("b", 1)]["lastmod"] == "2024-01-02"


def test_crawl_pipeline_end_to_end(spark):
    """Integration: the full crawl front composed — a gzip'd WARC
    whose response body is Latin-1 HTML flows through member split →
    record parse → charset transcode → main-content extraction →
    canonical URL, each stage the real operator."""
    import zlib

    from memory_engine_spark.sources.formats import (
        parse_warc, sniff_text_encoding, split_gzip_members,
        synth_warc)

    html = ('<html><head><script>x<y</script></head><body>'
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            '<p>Café naïve content</p></body></html>')
    body = html.encode("latin-1")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + body)
    warc = synth_warc([{"warc_type": "response",
                        "uri": "HTTP://Site.ORG:80/a/b?utm_x=1&k=v#f",
                        "block": http}])
    o = zlib.compressobj(6, zlib.DEFLATED, 31)
    payload = o.compress(warc) + o.flush()

    members = split_gzip_members(payload)
    assert len(members) == 1
    rec = parse_warc(members[0])[0]
    assert rec["http_status"] == 200
    enc = sniff_text_encoding(rec["body"])
    assert enc == "latin-1"
    page = rec["body"].decode(enc)

    df = spark.createDataFrame([(rec["uri"], page)],
                               "url string, html string")
    row = df.select(
        text.url_normalize(F.col("url")).alias("u"),
        F.col("html")).collect()[0]
    assert row["u"] == "http://site.org/a/b?k=v"
    out = text.html_main_content(
        df.select(F.lit("d").alias("doc_id"), "html")).collect()[0]
    assert out["text"] == "Café naïve content"
    assert (out["n_blocks"], out["n_kept"]) == (2, 1)


def test_nfc_normalize_col(spark):
    """NFC (not NFKC): decomposed marks compose, the U+212B singleton
    maps to U+00C5, the ﬁ ligature is PRESERVED, None passes through."""
    from memory_engine_spark.operators.text import nfc_normalize_col

    # explicit escapes: the input must be genuinely DECOMPOSED
    # (editors silently NFC-normalize typed characters in source)
    raw = "e\u0301 A\u030a \u212b \ufb01"
    rows = [("a", raw), ("b", None)]
    df = spark.createDataFrame(rows, "id string, s string")
    got = {r["id"]: r["n"] for r in df.select(
        "id", nfc_normalize_col(F.col("s")).alias("n")).collect()}
    assert got["a"] == "\u00e9 \u00c5 \u212b \ufb01".replace(
        "\u212b", "\u00c5")
    assert len(raw) == 9 and len(got["a"]) == 7
    assert got["b"] is None
