"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference dedups at ingestion via embedding top-1 ≥ 0.9/0.92
(/root/reference/memory_core/ingestion/merging.py:17-111) and detects
near-duplicate content in anomaly detection
(/root/reference/memory_core/synthesis/insight_discovery.py:1871-1935);
content-word Jaccard > 0.4 drives SIMILAR_CONTENT edge discovery
(/root/reference/memory_core/ingestion/relationship_extractor.py:251-258).
This module generalizes those to the training-data-pipeline dedup suite
(exact / MinHash-LSH / SimHash / n-gram Jaccard), all shuffle-bounded:

- exact: one groupBy on a normalized content hash — the cheapest
  possible plan (map-side partial agg, one shuffle on the hash).
- n-gram Jaccard: explode shingles → equi-join on shingle → count
  common → Jaccard (``_pair_jaccard``, the one exact set-Jaccard join,
  shared with discovery's SIMILAR_TAGS / SIMILAR_CONTENT). Only pairs
  sharing ≥1 shingle materialize, so for τ > 0 this is EXACT yet never
  a cross join. Frequency-capped shingles (stop-shingle removal) bound
  worst-case skew.
- MinHash+LSH: per-doc signature (k hash draws per shingle: xxhash64
  seeds or md5-derived universal hashes), each band keyed on its
  signature slice, candidates = within-bucket pairs, verified with
  exact Jaccard. Candidate generation is an equi-join on
  (band, band_key) — per-bucket quadratic, globally near-linear.
- SimHash: per-bit sign votes of md5(token) words packed into one
  (32-bit) or two (64-bit) 32-bit words; near-dup candidates block on
  8-bit chunks (a pair within hamming h < n_chunks shares at least one
  chunk), verified by popcount of XOR.

Everything is built-in Column expressions (higher-order functions,
xxhash64, md5, bitwise ops) — no Python in the hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from memory_engine_spark.checkpoint import lc_lazy as _lc_lazy

# ---------------------------------------------------------------------------
# normalization + exact dedup
# ---------------------------------------------------------------------------

def normalized(col):
    """Lowercase, collapse whitespace, trim — canonical dedup key."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact (normalized) duplicates: (content_hash, n_dups,
    keep_id, dup_ids). keep_id = min id (deterministic survivor)."""
    h = F.md5(normalized(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("_id").alias("keep_id"),
             F.array_sort(F.collect_list("_id")).alias("dup_ids"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def tokens(col):
    """Whitespace/punct word tokens, lowercased, empties dropped."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of a text column (array<string>).
    Texts shorter than n words yield their full token string as the one
    shingle so no row silently drops out."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(grams)


def _materialize_release(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Eagerly materialize the (small) result via cache()+count(), then
    unpersist the LARGE cached intermediate immediately — the result no
    longer needs it, so the big exploded/banded frame never outlives the
    call (the round-1 'unreleased persist' finding).

    cache()-not-localCheckpoint: one job computes the result (checkpoint
    would re-run the whole query a second time), and a repeated call
    with the identical plan is served from the CacheManager entry
    instead of recomputing. Only the small above-threshold pair set is
    pinned (MEMORY_AND_DISK, LRU-evictable); the reference keeps whole
    query responses cached the same way (query_cache.py)."""
    out = result.cache()
    out.count()
    cached.unpersist(False)
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow input when it arrives in too few partitions
    (single parquet file) so the expensive per-row work that follows
    (tokenize/shingle/hash) parallelizes. On a real corpus the input is
    already many-partitioned and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def explode_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    narrow = _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")))
    return narrow.select("_id", F.explode(word_shingles(F.col("_txt"), n)).alias("shingle"))


# ---------------------------------------------------------------------------
# exact set-Jaccard pair join
# ---------------------------------------------------------------------------

def _pair_jaccard(ex: DataFrame, key_col: str) -> DataFrame:
    """Given exploded (_id, key) rows — DISTINCT per id — return unordered
    pairs (a, b, jaccard), a < b. One groupBy for set sizes, one
    equi-join on the key, one groupBy for intersections: exact Jaccard
    for any threshold > 0 (a qualifying pair shares a key), never a
    cross join. ``ex`` feeds three plan branches (sizes + both join
    sides), so callers pass it persisted and own its release."""
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    ex = ex.join(sizes.hint("broadcast"), "_id")
    a = ex.select(F.col("_id").alias("a"), F.col("sz").alias("sz_a"), key_col)
    b = ex.select(F.col("_id").alias("b"), F.col("sz").alias("sz_b"), key_col)
    common = (
        a.join(b, key_col)
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return common.select("a", "b", jac.alias("jaccard"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.4,
                        max_shingle_freq: int | None = None) -> DataFrame:
    """All unordered pairs with shingle-set Jaccard ≥ threshold.

    EXACT for threshold > 0 (a qualifying pair must share a shingle).
    ``max_shingle_freq`` drops shingles occurring in more than that many
    docs before the join (stop-shingle skew guard for web-scale corpora);
    leave None for exact semantics.
    Returns (a, b, jaccard) with a < b.
    """
    ex = explode_shingles(df, text_col, id_col, n)
    if max_shingle_freq is not None:
        hot = (ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
               .filter(F.col("f") > max_shingle_freq).select("shingle"))
        ex = ex.join(hot, "shingle", "left_anti")
    # persist so tokenize/explode runs once, not 3×; the small pair
    # result is materialized eagerly and the big intermediate released
    cached = ex.persist()
    out = (_pair_jaccard(cached, "shingle")
           .filter(F.col("jaccard") >= threshold)
           .select("a", "b", F.round("jaccard", 6).alias("jaccard")))
    return _materialize_release(out, cached)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_pairs(df: DataFrame, text_col: str, id_col: str,
                   threshold: float, num_hashes: int, bands: int, n: int,
                   words: list, draw, band_key) -> DataFrame:
    """The MinHash-LSH pipeline both public variants share: signature
    aggregate → banded self equi-join → distinct candidates → exact
    ``collect_set`` Jaccard check. ``words`` are per-shingle Columns
    projected once; ``draw(i)`` is the i-th hash draw over them and
    ``band_key(cols)`` keys a band from its r signature columns.

    Candidates are the pairs colliding in ≥1 band, verified with exact
    Jaccard, so the output has no false positives (banding only
    trades recall). One explode + one groupBy + one banded equi-join —
    never a cross join."""
    if not 1 <= bands <= num_hashes:
        # r = num_hashes // bands would be 0: every band key is the
        # empty slice and every pair becomes a candidate
        raise ValueError(f"bands must be in [1, num_hashes={num_hashes}]")
    r = num_hashes // bands
    ex = explode_shingles(df, text_col, id_col, n).persist()

    sig = ex.select("_id", *words).groupBy("_id").agg(
        *[F.min(draw(i)).alias(f"h{i}") for i in range(num_hashes)])
    banded = sig.select(
        F.col("_id").alias("id"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key([F.col(f"h{b * r + j}") for j in range(r)])
                     .alias("bk"))
            for b in range(bands)
        ])).alias("x"),
    ).select("id", "x.band", "x.bk")
    l = banded.select(F.col("id").alias("a"), "band", "bk")
    rr = banded.select(F.col("id").alias("b"), "band", "bk")
    cand = (l.join(rr, ["band", "bk"]).filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())

    docs = ex.groupBy("_id").agg(F.collect_set("shingle").alias("sh"),
                                 F.count(F.lit(1)).alias("sz"))
    cand = (
        cand.join(docs.select(F.col("_id").alias("a"), F.col("sh").alias("sh_a"),
                              F.col("sz").alias("sz_a")), "a")
        .join(docs.select(F.col("_id").alias("b"), F.col("sh").alias("sh_b"),
                          F.col("sz").alias("sz_b")), "b")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.col("sz_a") + F.col("sz_b") - common)
    out = (cand.withColumn("jaccard", jac)
           .filter(F.col("jaccard") >= threshold)
           .select("a", "b", F.round("jaccard", 6).alias("jaccard")))
    return _materialize_release(out, ex)


def _slice_string(cols):
    """A band's signature slice as its comma-joined decimal string."""
    return F.concat_ws(",", *[c.cast("string") for c in cols])


def minhash_neardup(df: DataFrame, text_col: str, id_col: str,
                    threshold: float = 0.7, num_hashes: int = 64,
                    bands: int = 16, n: int = 3) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with EXACT Jaccard so output
    contains no false positives (candidates are a recall-only
    approximation). The k draws are xxhash64(shingle, seed_i); a band
    is keyed on the xxhash64 of its slice. Returns (a, b, jaccard)."""
    return _minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, n,
        words=[F.col("shingle")],
        draw=lambda i: F.xxhash64("shingle", F.lit(i)),
        band_key=lambda cols: F.xxhash64(_slice_string(cols)))


def _md5_word(col, pos: int):
    """32-bit unsigned int from 8 hex chars of md5(col) starting at
    1-based ``pos``. Built only from md5/substring/base-conversion so the
    identical value is reproducible in ANSI SQL / DuckDB (the q45
    portability trick)."""
    return F.conv(F.substring(F.md5(col), pos, 8), 16, 10).cast("long")


def minhash_md5_neardup(df: DataFrame, text_col: str, id_col: str,
                        threshold: float = 0.7, num_hashes: int = 64,
                        bands: int = 32, n: int = 3) -> DataFrame:
    """MinHash+LSH near-dup pairs — the ``minhash_neardup`` pipeline with
    md5-derived universal-hash draws (Broder-style: h_i(s) = (w1 + i·w2)
    mod 2³², where w1/w2 are the two 32-bit words of md5(s)) and band
    keys that are the plain comma-joined signature slice, so EVERY stage
    (signature, banding, candidate join, exact-Jaccard verify) is
    reproducible in DuckDB and the whole operator is oracle-checkable,
    not rows-only. One md5 per shingle; the k draws are cheap integer
    arithmetic. Returns (a, b, jaccard)."""
    mask = F.lit((1 << 32) - 1).cast("long")
    return _minhash_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, n,
        words=[_md5_word(F.col("shingle"), 1).alias("w1"),
               _md5_word(F.col("shingle"), 9).alias("w2")],
        draw=lambda i: (F.col("w1") + F.lit(i) * F.col("w2")).bitwiseAND(mask),
        band_key=_slice_string)


# ---------------------------------------------------------------------------
# SimHash over md5 words (oracle-portable: 32 or 2 × 32 bits)
# ---------------------------------------------------------------------------

def _simhash_md5(df: DataFrame, text_col: str, id_col: str,
                 words: dict[str, int]) -> DataFrame:
    """SimHash fingerprint words: for each output column, the sign of
    the per-bit ±1 vote over the 32-bit md5(token) word at that hex
    offset, packed into a non-negative long. Built only from
    cross-engine-identical primitives (md5, substring, base-16
    conversion, shifts), so the whole sketch is oracle-checkable.
    ``words`` maps output column → 1-based hex offset. Returns
    (id, *words)."""
    narrow = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt")))
    toks = narrow.select("id", F.explode(tokens(F.col("_txt"))).alias("tok"))
    h = toks.select("id", *[_md5_word(F.col("tok"), pos).alias(f"_{w}")
                            for w, pos in words.items()])
    bit_sums = h.groupBy("id").agg(*[
        F.sum(F.when(F.shiftright(F.col(f"_{w}"), b).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"{w}_{b}")
        for w in words for b in range(32)])
    return bit_sums.select("id", *[
        sum((F.when(F.col(f"{w}_{b}") > 0, F.lit(1 << b).cast("long"))
             .otherwise(F.lit(0).cast("long")) for b in range(32)),
            start=F.lit(0).cast("long")).alias(w)
        for w in words])


def _simhash_chunk_join(sh: DataFrame, words: list[str],
                        max_hamming: int) -> DataFrame:
    """Near-dup pairs (a, b, hamming ≤ max_hamming) over fingerprints
    carried as 32-bit ``words``. Each word splits into 4 chunks of 8
    bits; a pair within hamming h differs in at most h chunks, so with
    h < n_chunks it shares ≥1 chunk (pigeonhole) and candidates from an
    equi-join on (chunk_idx, chunk_value) have EXACT recall. hamming =
    Σ popcount(word_a ⊕ word_b)."""
    n_chunks = 4 * len(words)
    if not 0 <= max_hamming < n_chunks:
        raise ValueError(f"max_hamming must be in [0, {n_chunks - 1}] "
                         f"({n_chunks} chunks of 8 bits)")
    chunk = [
        F.struct(F.lit(ci).alias("ci"),
                 F.shiftrightunsigned(words[ci // 4], (ci % 4) * 8)
                 .bitwiseAND(F.lit(255)).alias("cv"))
        for ci in range(n_chunks)
    ]
    chunks = (sh.select("id", *words, F.explode(F.array(*chunk)).alias("c"))
              .select("id", *words, "c.ci", "c.cv"))
    l = chunks.select(F.col("id").alias("a"),
                      *[F.col(w).alias(f"{w}_a") for w in words], "ci", "cv")
    r = chunks.select(F.col("id").alias("b"),
                      *[F.col(w).alias(f"{w}_b") for w in words], "ci", "cv")
    ham = reduce(lambda x, y: x + y, (
        F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b")))
        for w in words)).cast("long")
    return (
        l.join(r, ["ci", "cv"]).filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming")).distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash32_md5(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit md5-SimHash (md5(token) hex chars 1-8). Returns
    (id, simhash32 long)."""
    return _simhash_md5(df, text_col, id_col, {"simhash32": 1})


def simhash32_neardup(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 32-bit md5-SimHash hamming ≤ max_hamming (≤ 3,
    4 chunks of 8 bits). Returns (a, b, hamming)."""
    return _simhash_chunk_join(simhash32_md5(df, text_col, id_col),
                               ["simhash32"], max_hamming)


def simhash64_md5(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit md5-SimHash carried as TWO non-negative 32-bit words built
    from md5(token) hex chars 1-8 / 9-16, so no two's-complement sign
    games are needed in SQL. Returns (id, sh_lo long, sh_hi long)."""
    return _simhash_md5(df, text_col, id_col, {"sh_lo": 1, "sh_hi": 9})


def simhash64_md5_neardup(df: DataFrame, text_col: str, id_col: str,
                          max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by 64-bit md5-SimHash hamming ≤ max_hamming (≤ 7,
    8 chunks of 8 bits, 4 from each word). Fully oracle-checkable (q15).
    Returns (a, b, hamming)."""
    return _simhash_chunk_join(simhash64_md5(df, text_col, id_col),
                               ["sh_lo", "sh_hi"], max_hamming)


# ---------------------------------------------------------------------------
# near-dup clustering + canonical document selection
# ---------------------------------------------------------------------------

def neardup_clusters(df: DataFrame, pairs: DataFrame, id_col: str,
                     length_col) -> DataFrame:
    """Cluster near-duplicate pairs and pick ONE canonical document per
    cluster — the corpus-dedup step that follows any pair generator
    (Jaccard/MinHash/SimHash/embedding): pairs → connected components →
    deterministic survivor. Mirrors the reference's duplicate-merge
    semantics (merging.py keep-one; relationship_extractor.py:251-258
    SIMILAR_CONTENT gates) lifted from pairwise to corpus level.

    ``pairs``: (a, b) ids (any extra columns ignored).
    ``length_col``: Column expression used as the keep-preference (the
    canonical doc is the one with the LARGEST value; ties break toward
    the smallest numeric id) — pass e.g. ``F.length("text")``.

    Returns one row PER INPUT DOC: (doc_id, cluster, cluster_size,
    is_canonical 0/1). Singletons are their own cluster of size 1.
    Scale: components is iterative over the (small) pair graph only;
    the corpus join is one broadcast-able hash join + one window
    partitioned by cluster — no shuffle of document text.
    """
    from memory_engine_spark.operators.components import connected_components
    from pyspark.sql import Window

    edges = pairs.select(F.col("a").cast("string").alias("from_id"),
                         F.col("b").cast("string").alias("to_id"))
    comp = connected_components(edges)  # (node_id, component) — strings
    ids = df.select(F.col(id_col).cast("string").alias("node_id"),
                    F.col(id_col).alias("_orig"),
                    length_col.alias("_pref"))
    labeled = (ids.join(comp, "node_id", "left")
               .withColumn("cluster",
                           F.coalesce(F.col("component"), F.col("node_id"))))
    w = Window.partitionBy("cluster").orderBy(
        F.col("_pref").desc(), F.col("_orig").asc())
    return (
        labeled.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster")))
        .withColumn("is_canonical",
                    F.when(F.row_number().over(w) == 1, 1).otherwise(0))
        .select(F.col("_orig").alias(id_col),
                "cluster",
                F.col("cluster_size").cast("long").alias("cluster_size"),
                F.col("is_canonical").cast("int").alias("is_canonical"))
    )


def canonical_corpus(df: DataFrame, pairs: DataFrame, id_col: str,
                     length_col) -> DataFrame:
    """The deduplicated corpus: input rows whose doc survives
    ``neardup_clusters`` canonical selection. One semi-join back — the
    full document payload (text, binary columns) never enters the
    clustering shuffle."""
    keep = (neardup_clusters(df, pairs, id_col, length_col)
            .filter(F.col("is_canonical") == 1).select(id_col))
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# line-level dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------

def dedup_lines(df: DataFrame, text_col: str, id_col: str,
                min_dup: int = 2, min_line_chars: int = 1) -> DataFrame:
    """Corpus-wide duplicate-LINE removal (the CCNet preprocessing
    step, Wenzek et al. LREC 2020; the reference's engine has no text
    pipeline — this extends its dedup family to the training-data
    path): a line is dropped from EVERY document when its trimmed form
    occurs in ≥ ``min_dup`` distinct documents (boilerplate headers,
    cookie banners, navigation chrome). Lines whose trimmed form is
    shorter than ``min_line_chars`` never participate in counting and
    are always kept, preserving layout. Returns
    (id, text, n_lines, n_dropped).

    Exact output contract:
      - split on '\\n'; trim each line for the frequency key;
      - a trimmed line participates in counting iff its length ≥
        ``min_line_chars``;
      - the kept document re-joins, in original order, every line
        whose trimmed form is non-counting OR occurs in < ``min_dup``
        DISTINCT documents;
      - n_lines = original line count, n_dropped = removed count.

    Scale shape: one explode → one (line → distinct-doc count) groupBy,
    map-side combined; the hot-line set (a tiny fraction of distinct
    lines — AQE broadcasts it under threshold) joins back against the
    exploded view, and each document reassembles with array_sort over
    (pos, line) structs partitioned by its own id. The full text
    shuffles on the id key for reassembly, never on line content.
    """
    lines = (df.select(F.col(id_col).alias("_id"),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                       .alias("pos", "line"))
             .withColumn("key", F.trim(F.col("line"))))
    counting = F.length("key") >= min_line_chars
    hot = (lines.filter(counting)
           .groupBy("key")
           .agg(F.countDistinct("_id").alias("_docs"))
           .filter(F.col("_docs") >= min_dup)
           .select("key", F.lit(1).alias("_hot")))
    marked = (lines.join(hot, "key", "left")
              .withColumn("_drop", counting & F.col("_hot").isNotNull()))
    return (marked.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.col("_drop").cast("long")).alias("n_dropped"),
                 F.array_sort(F.collect_list(
                     F.when(~F.col("_drop"),
                            F.struct("pos", "line")))).alias("_kept"))
            .select(F.col("_id").alias(id_col),
                    F.concat_ws("\n", F.transform(
                        F.col("_kept"), lambda s: s["line"])).alias(text_col),
                    F.col("n_lines").cast("long").alias("n_lines"),
                    F.col("n_dropped").cast("long").alias("n_dropped")))


# ---------------------------------------------------------------------------
# SemDeDup (embedding-cluster semantic dedup)
# ---------------------------------------------------------------------------

def semdedup(embeddings: DataFrame, threshold: float, nlist: int = 16,
             id_col: str = "node_id", vec_col: str = "embedding",
             prebuilt_ivf: tuple[DataFrame, DataFrame] | None = None
             ) -> DataFrame:
    """Semantic dedup over an embedding column (SemDeDup, Abbas et al.
    2023; extends the reference's embedding merge-gate
    `ingestion/merging.py:17-111` from pairwise-at-ingest to
    corpus-wide): cluster vectors with the deterministic IVF-FLAT
    coarse quantizer (first-``nlist`` seeding, `similarity.py`), rank
    each cluster's members by similarity-to-centroid ASCENDING (the
    paper's "keep low-similarity examples" policy), and drop a member
    when ANY earlier-ranked member of the same cluster has cosine ≥
    ``threshold`` with it — the one-pass upper-triangular formulation
    of the paper's algorithm, which is purely relational (no
    iteration). Returns
    (id, cell, centroid_sim, max_prior_sim, is_kept); callers semi-join
    ``is_kept`` against the corpus.

    Scale shape: centroids broadcast; assignment is a broadcast join +
    ``max_by`` groupBy (scored rows never fully shuffle). The cluster
    ranking and the prior-pair join both hash-partition on ``cell``, so
    the second reuses the first's exchange. Within-cell work is
    quadratic in cell size — the knob the paper itself turns (50k
    clusters for 600M points); size ``nlist`` ≈ n/1k so a cell's pairs
    fit one task, and no cross-cell pair ever materializes. The IVF
    build itself (N·nlist·dim assignment scan) is INGEST-time work —
    pass ``prebuilt_ivf=(centroids, assigned)`` (e.g. the offline
    ``.derived`` index) to amortize it across calls.
    """
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity
    from .similarity import build_ivf_flat

    if prebuilt_ivf is not None:
        centroids, assigned = prebuilt_ivf
    else:
        centroids, assigned = build_ivf_flat(embeddings, nlist, id_col,
                                             vec_col)
    ranked = (assigned.join(F.broadcast(centroids), "cell")
              .select(id_col, vec_col, "cell",
                      cosine_similarity(F.col(vec_col), F.col("centroid"))
                      .alias("centroid_sim")))
    w = Window.partitionBy("cell").orderBy(
        F.col("centroid_sim").asc(), F.col(id_col).asc())
    # ranked feeds three consumers (both self-join sides + the output
    # projection); checkpoint it once so the assignment subtree isn't
    # recomputed per consumer (lazy: the first action materializes it)
    ranked = (ranked.withColumn("rk", F.row_number().over(w))
              .transform(_lc_lazy))
    a = ranked.select("cell", F.col("rk").alias("rk_a"),
                      F.col(vec_col).alias("_va"))
    b = ranked.select(id_col, "cell", F.col("rk").alias("rk_b"),
                      F.col(vec_col).alias("_vb"))
    prior = (b.join(a, "cell")
             .filter(F.col("rk_a") < F.col("rk_b"))
             .groupBy(id_col)
             .agg(F.max(cosine_similarity(F.col("_va"), F.col("_vb")))
                  .alias("max_prior_sim")))
    return (ranked.join(prior, id_col, "left")
            .select(id_col, "cell", "centroid_sim", "max_prior_sim",
                    (F.col("max_prior_sim").isNull()
                     | (F.col("max_prior_sim") < F.lit(threshold)))
                    .alias("is_kept")))


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------

def substring_dedup(df: DataFrame, text_col: str, id_col: str,
                    window: int = 50, min_dup: int = 2) -> DataFrame:
    """Exact-substring deduplication ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. ACL 2022, ExactSubstr):
    remove every token that belongs to an exact duplicate span of ≥
    ``window`` tokens occurring in ≥ ``min_dup`` DISTINCT documents.
    Token-window granularity makes this exactly equivalent to the
    suffix-array formulation: a duplicated span of length ≥ window has
    ALL its length-``window`` sub-windows duplicated (so the span is
    fully covered), and every hot window IS an exact cross-doc
    duplicate of length ``window``. Unlike the paper, within-ONE-doc
    repeats don't count (min_dup counts distinct docs — the corpus
    boilerplate case); docs shorter than ``window`` tokens pass
    through untouched. Returns (id, text, n_tokens, n_removed) with
    text rebuilt from surviving tokens (single-space joined,
    tokenizer-normalized).

    Scale shape — the suffix-array step the paper runs on one machine
    becomes three bounded passes:
      1. window-hash counts: explode (n_toks − window + 1) md5 window
         hashes per doc → map-side-combined countDistinct groupBy;
      2. the hot-hash set (a tiny fraction) broadcasts back against
         the window frame → hot START positions per doc;
      3. coverage is a per-doc RUNNING MAX over token positions
         (covered ⇔ last hot start ≥ pos − window + 1) — one window
         pass partitioned by doc id, NO per-token interval scan, then
         ordered reassembly in the same doc-keyed shuffle.
    Nothing is ever quadratic; the only all-rows shuffles key on the
    doc id (token frame) and the window hash (counting).
    """
    from pyspark.sql import Window as W

    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    wins = (base.filter(F.size("_toks") >= window)
            .select("_id", F.posexplode(F.transform(
                F.sequence(F.lit(0), F.size("_toks") - window),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_toks"),
                                                         i + 1, window)))))
                .alias("i", "h")))
    hot = (wins.groupBy("h")
           .agg(F.countDistinct("_id").alias("_docs"))
           .filter(F.col("_docs") >= min_dup)
           .select("h"))
    starts = wins.join(F.broadcast(hot), "h").select("_id", "i")
    tok_rows = base.select("_id", F.posexplode("_toks").alias("pos", "tok"))
    marked = (tok_rows.join(starts,
                            (tok_rows["_id"] == starts["_id"])
                            & (tok_rows["pos"] == starts["i"]), "left")
              .select(tok_rows["_id"], "pos", "tok",
                      starts["i"].alias("start_here")))
    run = W.partitionBy("_id").orderBy("pos") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    covered = (marked
               .withColumn("last_start", F.max("start_here").over(run))
               .withColumn("_drop",
                           F.col("last_start").isNotNull()
                           & (F.col("last_start") >= F.col("pos") - window + 1)))
    return (covered.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("_drop").cast("long")).alias("n_removed"),
                 F.array_sort(F.collect_list(
                     F.when(~F.col("_drop"), F.struct("pos", "tok"))))
                 .alias("_kept"))
            .select(F.col("_id").alias(id_col),
                    F.concat_ws(" ", F.transform(
                        F.col("_kept"), lambda s: s["tok"])).alias(text_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_removed").cast("long").alias("n_removed")))
