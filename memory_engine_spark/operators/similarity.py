"""Similarity search: brute-force cosine top-k, LSH-bucketed ANN,
IVF-style coarse quantization, and embedding near-duplicate joins.

Reference: top-k vector search
(/root/reference/memory_core/embeddings/embedding_manager.py:308-329,
numpy argsort at vector_stores/numpy/numpy_store.py:361-364) and the
find-similar merge gate (/root/reference/memory_core/ingestion/merging.py:66-77).
The reference's Milvus config (IVF_FLAT nlist=1024 nprobe=10,
milvus_store.py:56-110) motivates the IVF variant here.

Scale design:
- ``topk_brute``: score column + orderBy.limit(k) — Catalyst lowers to
  TakeOrderedAndProject (per-partition heap + driver merge of k rows),
  i.e. a full scan but NO shuffle of the data, only k rows per
  partition move. This is the exact baseline and the correct plan up to
  ~10⁸ vectors per query batch.
- ``topk_ivf``: coarse centroids (sampled seeds, one k-means-ish
  refinement pass) assign each vector to a cell; queries probe the
  nearest ``nprobe`` cells. Scan cost drops by ~nlist/nprobe. Cells are
  a broadcast join — no shuffle on the big side.
- ``neardup_pairs``: all pairs with cosine ≥ τ, pruned by a coarse
  bucket key so the self-join is per-bucket instead of a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from memory_engine_spark.checkpoint import lc as _lc
from memory_engine_spark.checkpoint import lc_lazy as _lc_lazy

from memory_engine_spark.functions.vector import (cosine_similarity, dot,
                                                  normalize)


def topk_brute(embeddings: DataFrame, query_vec: list[float], k: int = 50,
               id_col: str = "node_id", vec_col: str = "embedding",
               threshold: float | None = None) -> DataFrame:
    """Exact top-k by cosine: returns (id, score) sorted desc, id-tiebroken.
    The literal query vector is inlined into the plan (no join at all)."""
    q = F.lit(query_vec).cast("array<double>")
    scored = embeddings.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), q).alias("score"),
    )
    if threshold is not None:
        scored = scored.filter(F.col("score") >= threshold)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def crossjoin_topk(embeddings: DataFrame, queries: DataFrame, k: int,
                   id_col: str = "node_id", vec_col: str = "embedding",
                   qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Batch top-k for MANY query vectors: broadcast the query side,
    score per (query, candidate), window-rank per query. The big side
    never shuffles; ranking shuffles only (n_queries × n_candidates)
    score rows — use after threshold pre-filtering when q is large."""
    scored = embeddings.join(F.broadcast(queries)).select(
        F.col(qid_col), F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col(qvec_col)).alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF-style coarse index (the scale path; Milvus IVF_FLAT analogue)
# ---------------------------------------------------------------------------

def build_ivf_flat(embeddings: DataFrame, nlist: int = 64,
                   id_col: str = "node_id", vec_col: str = "embedding"
                   ) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF-FLAT coarse index (Milvus IVF_FLAT analogue,
    milvus_store.py:56-110): centroids are the ``nlist`` lowest-id
    vectors (first-k seeding, NO Lloyd refinement). Seeding quality only
    affects recall — the probe step re-scores exactly inside the probed
    cells — and first-k seeding makes the whole index reproducible from
    pure relational ops, so the operator is oracle-checkable
    cross-engine (q36). cell id = the seed vector's id.
    Returns (centroids(cell, centroid), assigned(id, vec, cell))."""
    centroids = (
        embeddings.orderBy(F.col(id_col).asc()).limit(nlist)
        .select(F.col(id_col).cast("long").alias("cell"),
                F.col(vec_col).cast("array<double>").alias("centroid"))
    ).transform(_lc)
    return centroids, _assign(embeddings, centroids, id_col, vec_col)


def _assign(embeddings: DataFrame, centroids: DataFrame,
            id_col: str, vec_col: str) -> DataFrame:
    """Assign each vector to its max-cosine centroid: broadcast join +
    ``max_by`` aggregate — partial (map-side) aggregation and no window
    sort, so the scored rows never fully shuffle. Ties break toward the
    smallest cell id via the (score, -cell) struct ordering."""
    scored = embeddings.join(F.broadcast(centroids)).select(
        id_col, vec_col,
        F.struct(cosine_similarity(F.col(vec_col), F.col("centroid")).alias("s"),
                 (-F.col("cell")).alias("negcell")).alias("sc"),
        "cell",
    )
    best = scored.groupBy(id_col).agg(
        F.max_by("cell", "sc").alias("cell"),
        F.first(vec_col).alias(vec_col))
    return best.select(id_col, vec_col, "cell")


def kmeans_refine(embeddings: DataFrame, centroids: DataFrame,
                  n_rounds: int = 2, id_col: str = "node_id",
                  vec_col: str = "embedding", quant: int = 10 ** 9
                  ) -> tuple[DataFrame, DataFrame]:
    """Deterministic LLOYD refinement for the IVF coarse quantizer —
    the step `build_ivf_flat` deliberately omits (its first-k seeding
    is reproducible but ignores the data distribution; Lloyd rounds
    move each centroid to its cell's mean, the classic k-means step
    every ANN library's trainer runs). Fixed ``n_rounds`` like the
    repo's other iterative operators, so a SQL oracle can unroll it.

    Cross-engine exactness: the ONLY hazard is the cross-ROW mean
    (float summation order); within-row array folds are
    element-order-stable on both engines (the q36 precedent). So the
    per-dimension sums run as BIGINT units — floor(v·quant + 0.5) —
    and the new centroid component is (sum/quant)/n: two IEEE ops
    from exact integers, bit-identical everywhere. Empty cells keep
    their previous centroid (deterministic; classic Lloyd drops
    them, which would renumber cells). Returns (centroids, assigned)
    like ``build_ivf_flat``.

    Scale shape: per round one broadcast assignment (max_by, no
    window) + one explode to (cell, dim) keyed BIGINT sums
    (map-side combined, |V|·dim rows in flight, never |V|²) + an
    nlist-row rebuild; the same per-round discipline as
    pagerank/k_core with the rank vector replaced by the centroid
    table."""
    for _ in range(n_rounds):
        assigned = _assign(embeddings, centroids, id_col, vec_col)
        sums = (assigned
                .select("cell",
                        F.posexplode(F.col(vec_col).cast("array<double>"))
                        .alias("dim", "val"))
                .withColumn("u", F.floor(F.col("val") * quant + F.lit(0.5))
                            .cast("long"))
                .groupBy("cell", "dim")
                .agg(F.sum("u").alias("su"),
                     F.count(F.lit(1)).alias("n")))
        newc = (sums.groupBy("cell")
                .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("dim", "su", "n"))),
                    lambda s: (s["su"].cast("double") / F.lit(float(quant)))
                    / s["n"]).alias("_new")))
        # LAZY checkpoint (r16, guide §1.2): truncates lineage against
        # the 2-consumers-per-round plan doubling exactly like the
        # eager one, but the nlist-row blocks materialize inside the
        # CALLER's action instead of costing one driver action per
        # round (~0.3 s dispatch floor each on local mode). Values are
        # BIGINT-quantized sums — recompute/partitioning independent.
        centroids = (centroids
                     .select("cell", F.col("centroid").alias("_old"))
                     .join(newc, "cell", "left")
                     .select("cell",
                             F.coalesce("_new", "_old").alias("centroid"))
                     ).transform(_lc_lazy)
    return centroids, _assign(embeddings, centroids, id_col, vec_col)


def ivf_append(assigned: DataFrame, centroids: DataFrame,
               new_vecs: DataFrame, id_col: str = "node_id",
               vec_col: str = "embedding") -> DataFrame:
    """Incremental IVF maintenance (Milvus insert-then-search parity,
    milvus_store.py:112-140): assign a DELTA batch against the FROZEN
    centroids — the same ``_assign`` the build uses — and union with
    the existing codes. For IVF-FLAT this is EXACTLY equivalent to a
    full rebuild over base ∪ delta (per-row assignment has no
    cross-row state once centroids are frozen), so inserts never
    force an index rebuild. At 100 TB the delta lands as new parquet
    files under each cell partition of the offline index
    (partitionBy-append), leaving existing files untouched and probe
    partition-pruning intact; recall drift from a stale centroid set
    is a retrain policy decision, not a correctness issue — the probe
    re-scores exactly inside probed cells either way."""
    delta = _assign(new_vecs, centroids, id_col, vec_col)
    return assigned.select(id_col, vec_col, "cell") \
        .unionByName(delta.select(id_col, vec_col, "cell"))


def topk_ivf(assigned: DataFrame, centroids: DataFrame, query_vec: list[float],
             k: int = 50, nprobe: int = 8,
             id_col: str = "node_id", vec_col: str = "embedding") -> DataFrame:
    """Probe the nprobe nearest cells, exact-score inside them. Cell
    pruning happens as a partition-prunable IN filter when ``assigned``
    is written partitioned by cell."""
    q = F.lit(query_vec).cast("array<double>")
    probe = [r["cell"] for r in
             centroids.select("cell", cosine_similarity(F.col("centroid"), q).alias("s"))
             .orderBy(F.col("s").desc(), F.col("cell").asc()).limit(nprobe).collect()]
    cand = assigned.filter(F.col("cell").isin(probe))
    return (cand.select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k))


# ---------------------------------------------------------------------------
# Sign-random-projection LSH (cosine buckets)
# ---------------------------------------------------------------------------

def srp_bucket(vec_col, dim: int, n_bits: int = 8, seed: int = 42):
    """Cosine-LSH bucket id: sign bits of ``n_bits`` random-hyperplane
    projections, packed into a long. Deterministic hyperplanes from a
    seeded RNG are inlined as literals, so the whole thing is one JVM
    expression — usable as a blocking key for ``neardup_pairs`` or as a
    partition column for bucket-pruned ANN. Vectors with equal buckets
    are cosine-close with probability growing in n_bits (Charikar'02
    SimHash rounding)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        plane = F.lit([float(x) for x in planes[i]]).cast("array<double>")
        d = F.aggregate(F.zip_with(vec_col.cast("array<double>"), plane,
                                   lambda a, b: a * b),
                        F.lit(0.0), lambda acc, x: acc + x)
        out = out + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return out


def lsh_neardup(embeddings: DataFrame, threshold: float,
                id_col: str = "node_id", vec_col: str = "embedding",
                n_bits: int = 8, seed: int = 42) -> DataFrame:
    """Cosine near-dup pairs blocked on the SRP bucket: only same-bucket
    pairs are scored (recall-approximate like any LSH; no false
    positives because exact cosine verifies each candidate)."""
    dim = len(embeddings.select(vec_col).first()[0])
    bucketed = embeddings.withColumn(
        "_srp", srp_bucket(F.col(vec_col), dim, n_bits, seed))
    return neardup_pairs(bucketed, threshold, id_col, vec_col, bucket_col="_srp")


# ---------------------------------------------------------------------------
# Near-duplicate pair join
# ---------------------------------------------------------------------------

def neardup_pairs(embeddings: DataFrame, threshold: float,
                  id_col: str = "node_id", vec_col: str = "embedding",
                  bucket_col: str | None = None) -> DataFrame:
    """All unordered pairs (a, b), a<b, with cosine ≥ threshold.

    With ``bucket_col`` (e.g. an LSH band, IVF cell, or any blocking
    key): the self-join is keyed on the bucket — a hash join producing
    only within-bucket candidates, never a cross join. Without it the
    join is a broadcast nested loop and only acceptable for small n.
    Used for merge-gate dedup (merging.py:66-77, thresholds 0.9/0.92)
    and semantic near-dup anomaly detection
    (insight_discovery.py:1871-1935).

    Norms are computed once per VECTOR before the join (n traversals),
    so each candidate pair pays only the dot product — vs 3 array
    traversals per pair for a naive cosine.
    """
    from memory_engine_spark.functions.vector import EPS, dot, norm

    base = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
        *([F.col(bucket_col).alias("_k")] if bucket_col else []),
    )
    left = base.select(F.col("_id").alias("a"), F.col("_v").alias("va"),
                       F.col("_n").alias("na"),
                       *([F.col("_k").alias("ka")] if bucket_col else []))
    right = base.select(F.col("_id").alias("b"), F.col("_v").alias("vb"),
                        F.col("_n").alias("nb"),
                        *([F.col("_k").alias("kb")] if bucket_col else []))
    joined = (left.join(right, F.col("ka") == F.col("kb")) if bucket_col
              else left.crossJoin(right))
    cos = F.when((F.col("na") < EPS) | (F.col("nb") < EPS), F.lit(0.0)) \
        .otherwise(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    return (
        joined.filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# ---------------------------------------------------------------------------
# Batch kNN self-join (every vector gets its top-k neighbors)
# ---------------------------------------------------------------------------

def knn_join(assigned: DataFrame, centroids: DataFrame, k: int = 5,
             nprobe: int = 2, id_col: str = "node_id",
             vec_col: str = "embedding") -> DataFrame:
    """ANN kNN JOIN: top-k cosine neighbors for EVERY vector, blocked by
    the IVF coarse index (the batch version of ``topk_ivf`` — what a
    training pipeline runs for corpus-wide semantic dedup / kNN graphs,
    vs. the reference's one-query-at-a-time top-k,
    embedding_manager.py:308-329).

    Each query probes its ``nprobe`` nearest cells (ranked with the same
    scoring as the assignment, so probe 1 IS the home cell), joins
    candidates per cell, exact-scores, and keeps the top k per query.
    Fully relational — the probe list is a window rank, NOT a driver
    collect, so no per-query round trips.

    Scale: centroids broadcast (nlist rows); the candidate join is a
    hash join on cell with ~N·nprobe/nlist candidates per query —
    N·nprobe·(N/nlist) scored rows total instead of N². Deterministic
    given the deterministic first-k-seed index (build_ivf_flat), so the
    whole operator is oracle-checkable. Returns
    (qid, nid, nn_rank, score) with exact cosine scores.

    Pair scoring is a single dot product of pre-unit-normalized
    vectors: each side is normalized ONCE (N + N·nprobe rows, before
    the candidate join fans out), so the O(N²·nprobe/nlist) hot loop
    runs one array-aggregate per pair instead of three (dot + 2
    norms). Zero vectors normalize to themselves, so their dot is the
    same 0.0 the ε-guard produces. Probe selection keeps the raw
    cosine (nlist rows per query, cheap) so near-tie cell ranking is
    bit-identical to the assignment pass.
    """
    # Explicit repartitions by the window key do double duty here: they
    # parallelize the CPU-heavy projections that run on the STREAMED
    # side of the broadcast joins (a small parquet scan is otherwise a
    # single task), and — unlike ENSURE_REQUIREMENTS exchanges — AQE
    # never coalesces them, so the per-qid windows also stay parallel
    # (the shuffled bytes are tiny; the per-row CPU is not).
    n_tasks = assigned.sparkSession.sparkContext.defaultParallelism
    qs = (assigned.select(F.col(id_col).alias("qid"),
                          F.col(vec_col).cast("array<double>").alias("qv"))
          .repartition(n_tasks, F.col("qid")))
    cell_scores = qs.join(F.broadcast(centroids)).select(
        "qid", "qv", "cell",
        F.struct(cosine_similarity(F.col("qv"), F.col("centroid")).alias("s"),
                 (-F.col("cell")).alias("negcell")).alias("sc"))
    wq = Window.partitionBy("qid").orderBy(F.col("sc").desc())
    probes = (cell_scores.withColumn("_rk", F.row_number().over(wq))
              .filter(F.col("_rk") <= nprobe)
              .select("qid", normalize(F.col("qv")).alias("qu"), "cell"))
    cands = (assigned.select(F.col(id_col).alias("nid"),
                             normalize(F.col(vec_col)).alias("nu"),
                             "cell")
             .repartition(n_tasks, F.col("nid")))
    scored = (probes.join(cands, "cell")
              .filter(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      dot(F.col("qu"), F.col("nu")).alias("score"))
              .repartition(n_tasks, F.col("qid")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                          F.col("nid").asc())
    return (scored.withColumn("nn_rank", F.row_number().over(w))
            .filter(F.col("nn_rank") <= k)
            .select("qid", "nid", "nn_rank", "score"))


def knn_join_brute(embeddings: DataFrame, k: int = 5,
                   id_col: str = "node_id",
                   vec_col: str = "embedding") -> DataFrame:
    """EXACT kNN join — the N² baseline (broadcast nested loop + window
    rank). Correctness yardstick for ``knn_join`` recall in tests; only
    for small n or recall audits on a sample at scale."""
    base = embeddings.select(F.col(id_col).alias("_id"),
                             F.col(vec_col).cast("array<double>").alias("_v"))
    l = base.select(F.col("_id").alias("qid"), F.col("_v").alias("qv"))
    r = base.select(F.col("_id").alias("nid"), F.col("_v").alias("nv"))
    scored = (l.crossJoin(r).filter(F.col("nid") != F.col("qid"))
              .select("qid", "nid",
                      cosine_similarity(F.col("qv"), F.col("nv")).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(),
                                          F.col("nid").asc())
    return (scored.withColumn("nn_rank", F.row_number().over(w))
            .filter(F.col("nn_rank") <= k)
            .select("qid", "nid", "nn_rank", "score"))


def graph_beam_search(knn_graph: DataFrame, embeddings: DataFrame,
                      query_vec: list[float], entry_ids: list,
                      beam: int = 8, n_iter: int = 3, k: int = 5,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Graph-ANN beam search — the HNSW/NSW search loop (Malkov &
    Yashunin, TPAMI'20) in its single-layer, fixed-round dataflow
    form: from deterministic ``entry_ids``, keep a beam of the best
    ``beam`` nodes by similarity to the query; each round expand the
    beam's out-neighbors in the prebuilt kNN graph, score the
    frontier, and re-select the top ``beam`` from beam ∪ frontier.
    ``n_iter`` fixed rounds (no convergence test — same determinism
    discipline as pagerank/LPA), ties broken by id, scores quantized
    to BIGINT micro-units (floor(cos·1e6+0.5)) so selection AND
    output are engine-portable. Returns the final beam's top ``k``
    as (vec_id, score), score = micro/1e6.

    The layer hierarchy is the part HNSW adds for log-entry routing;
    with a good entry set and k-regular graph, beam rounds ≈ greedy
    descent. Graph construction = ``knn_join`` over the offline IVF
    index (the corpus-wide kNN graph a training pipeline builds
    anyway for semantic dedup).

    Scale shape: the beam is O(beam) rows; each round is one hash
    join of the tiny beam against the |V|·k edge list plus one
    id-keyed join against the vector store to score ≤ beam·k new
    candidates, then a TakeOrdered top-beam — per-round shuffled
    bytes are frontier-sized, never corpus-sized. Per-query latency
    is n_iter sequential tiny jobs: batch many queries by unioning
    their beams with a qid column (same plan, one extra key).
    """
    spark = embeddings.sparkSession
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = embeddings.select(
        F.col(id_col).alias("_nid"),
        F.floor(cosine_similarity(F.col(vec_col).cast("array<double>"), q)
                * F.lit(1e6) + F.lit(0.5)).cast("long").alias("sc"))
    entries = spark.createDataFrame(
        [(x,) for x in entry_ids],
        f"_nid {'string' if isinstance(entry_ids[0], str) else 'long'}")
    # Per-round checkpoints stay EAGER. The batch-3 lazy pattern was
    # A/B'd here in r16 and REGRESSED 3× (q114 min 1.39 → 4.3 s):
    # every round references the previous beam TWICE (frontier expand
    # + union) and with no per-round action nothing materializes the
    # blocks until the final collect, so parallel stages recompute
    # the un-materialized upstream chain — doubling per round. Eager
    # materialization is what keeps each round's work linear.
    beam_df = (entries.join(emb, "_nid")
               .orderBy(F.col("sc").desc(), F.col("_nid").asc())
               .limit(beam).transform(_lc))
    edges = knn_graph.select(F.col("qid").alias("_nid"),
                             F.col("nid").alias("_to"))
    for _ in range(n_iter):
        frontier = (beam_df.select("_nid").join(edges, "_nid")
                    .select(F.col("_to").alias("_nid")).distinct()
                    .join(emb, "_nid"))
        beam_df = (beam_df.unionByName(frontier)
                   .groupBy("_nid").agg(F.max("sc").alias("sc"))
                   .orderBy(F.col("sc").desc(), F.col("_nid").asc())
                   .limit(beam).transform(_lc))
    return (beam_df
            .orderBy(F.col("sc").desc(), F.col("_nid").asc())
            .limit(k)
            .select(F.col("_nid").alias(id_col),
                    (F.col("sc").cast("double") / F.lit(1e6))
                    .alias("score")))


def topk_int8(embeddings: DataFrame, query_vec: list[float],
              query_qvec: list[int], k: int = 10,
              n_candidates: int = 50, id_col: str = "vec_id",
              vec_col: str = "embedding",
              prebuilt_qz: DataFrame | None = None) -> DataFrame:
    """Two-stage ANN over int8-quantized vectors: candidate generation
    ranks by the INTEGER dot product of the per-vector-quantized codes
    (cos ≈ d_int/(√Σv²·√Σq²) — all three aggregates are exact BIGINTs,
    the only floats are two correctly-rounded sqrts and one division,
    so candidate order is bit-identical on any engine), then the top
    ``n_candidates`` re-rank by exact float cosine (micro-quantized).
    The production memory trade: the scan touches 4×-smaller codes;
    float vectors load only for ``n_candidates`` rows. Composes with
    the IVF cell index at corpus scale (quantize within cells); the
    flat scan here is the yardstick, like ``topk_brute``.

    ``query_qvec`` must come from the SAME quantization scheme
    (``quantize_int8`` — for an in-corpus query, read its code row).
    Returns (id, score), score = exact cosine in micro-units/1e6.

    ``prebuilt_qz``: the resident/offline int8 code table (the
    prebuilt_adj/prebuilt_feats seam). Without it the codes are
    quantized inline FROM THE FLOAT VECTORS, so the candidate scan
    reads the full-width column and the 4×-smaller-scan memory trade
    does not hold (r05 ADVICE) — inline quantize is the own-build
    fallback, not the production path.
    """
    import math

    qz = (prebuilt_qz if prebuilt_qz is not None
          else quantize_int8(embeddings, id_col=id_col, vec_col=vec_col))
    nq = sum(int(v) * int(v) for v in query_qvec)
    qlit = F.array(*[F.lit(int(v)).cast("int") for v in query_qvec])
    d = F.aggregate(
        F.zip_with(F.col("qvec"), qlit,
                   lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    nv = F.aggregate(F.col("qvec"), F.lit(0).cast("long"),
                     lambda acc, x: acc + x.cast("long") * x.cast("long"))
    approx = F.when((nv == 0) | (F.lit(nq) == 0), F.lit(0.0)) \
        .otherwise(d.cast("double")
                   / (F.sqrt(nv.cast("double"))
                      * F.lit(math.sqrt(float(nq)))))
    cand = (qz.select(F.col(id_col), approx.alias("ascore"))
            .orderBy(F.col("ascore").desc(), F.col(id_col).asc())
            .limit(n_candidates))
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.floor(
        cosine_similarity(F.col(vec_col).cast("array<double>"), qv)
        * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (cand.join(embeddings, id_col)
            .select(F.col(id_col), exact.alias("sc"))
            .orderBy(F.col("sc").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, (F.col("sc").cast("double") / F.lit(1e6))
                    .alias("score")))


def topk_ivf_int8(codes_cells: DataFrame, centroids: DataFrame,
                  query_vec: list[float], query_qvec: list[int],
                  embeddings: DataFrame, k: int = 10, nprobe: int = 8,
                  n_candidates: int = 50, id_col: str = "node_id",
                  vec_col: str = "embedding") -> DataFrame:
    """IVF-bucketed int8 ANN — the production composition of the
    coarse quantizer (``topk_ivf``) and the scalar quantizer
    (``topk_int8``); the FAISS IVF_SQ8 shape (Milvus index family,
    milvus_store.py:56-110). Three stages: (1) probe the ``nprobe``
    nearest cells by centroid cosine (tiny collect, like topk_ivf);
    (2) rank candidates INSIDE the probed cells by the exact-integer
    dot product of the int8 codes — the cell-IN filter is static
    partition pruning on the .derived codes-by-cell parquet, and the
    scan touches 4×-smaller codes; (3) re-rank the surviving
    ``n_candidates`` by exact float cosine (micro-quantized), joining
    the float vectors for only those rows. At 100 TB the candidate
    scan reads (nprobe/nlist) × (1/4) of the float brute-force bytes
    — the two memory levers compose multiplicatively, which is why
    both indexes are offline artifacts. All candidate-order
    arithmetic is exact BIGINTs + correctly-rounded sqrt, so the
    result (including the compression's ranking error) is
    bit-reproducible cross-engine.

    ``codes_cells``: (id, qvec array<int>, cell) — the offline join of
    the int8 code table with the IVF assignment, written
    partitionBy(cell). ``query_qvec`` must come from the same
    quantization scheme. Returns (id, score)."""
    import math

    q = F.lit(query_vec).cast("array<double>")
    probe = [r["cell"] for r in
             centroids.select(
                 "cell",
                 cosine_similarity(F.col("centroid"), q).alias("s"))
             .orderBy(F.col("s").desc(), F.col("cell").asc())
             .limit(nprobe).collect()]
    nq = sum(int(v) * int(v) for v in query_qvec)
    qlit = F.array(*[F.lit(int(v)).cast("int") for v in query_qvec])
    d = F.aggregate(
        F.zip_with(F.col("qvec"), qlit,
                   lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    nv = F.aggregate(F.col("qvec"), F.lit(0).cast("long"),
                     lambda acc, x: acc + x.cast("long") * x.cast("long"))
    approx = F.when((nv == 0) | (F.lit(nq) == 0), F.lit(0.0)) \
        .otherwise(d.cast("double")
                   / (F.sqrt(nv.cast("double"))
                      * F.lit(math.sqrt(float(nq)))))
    cand = (codes_cells.filter(F.col("cell").isin(probe))
            .select(F.col(id_col), approx.alias("ascore"))
            .orderBy(F.col("ascore").desc(), F.col(id_col).asc())
            .limit(n_candidates))
    exact = F.floor(
        cosine_similarity(F.col(vec_col).cast("array<double>"), q)
        * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (cand.join(embeddings, id_col)
            .select(F.col(id_col), exact.alias("sc"))
            .orderBy(F.col("sc").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, (F.col("sc").cast("double") / F.lit(1e6))
                    .alias("score")))


def hnsw_levels(embeddings: DataFrame, id_col: str = "vec_id",
                p: int = 16, max_level: int = 2,
                salt: str = "hnsw") -> DataFrame:
    """Deterministic HNSW layer assignment (Malkov & Yashunin,
    TPAMI'20 §4: node level drawn geometrically, P(level ≥ l) = p^-l)
    with the randomness replaced by the repo's portable md5 draw: one
    32-bit word w = md5word(salt:id); level = the largest l ≤
    ``max_level`` with w % p^l == 0 — exactly the geometric
    distribution, reproducible on any engine/partitioning (the A-ES
    discipline applied to index construction). Returns (id, level int).
    """
    word = (F.conv(F.substring(F.md5(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("long"))
    lvl = F.lit(0)
    for l in range(1, max_level + 1):
        lvl = F.when(word % (p ** l) == 0, F.lit(l)).otherwise(lvl)
    return embeddings.select(F.col(id_col), lvl.cast("int").alias("level"))


def hnsw_search(base_graph: DataFrame, upper_graph: DataFrame,
                levels: DataFrame, embeddings: DataFrame,
                query_vec: list[float],
                beam: int = 8, n_iter: int = 3, k: int = 5,
                upper_beam: int = 4, upper_iter: int = 2,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Hierarchical graph-ANN search — HNSW's coarse-to-fine descent
    as three deterministic stages, each SQL-unrollable:

    1. TOP layer (level ≥ 2, |V|/p² nodes by construction — small
       enough to scan outright; deeper hierarchies add layers, same
       recurrence): score every node, keep the top 2 as entries.
    2. MIDDLE layer (level ≥ 1): fixed-round beam search over the
       layer's own kNN subgraph (``upper_graph``), seeded by the top
       picks PLUS the layer's smallest id (the deterministic fallback
       that keeps the stage non-empty when the top layer is — tiny
       corpora draw no level-2 nodes).
    3. BASE layer: :func:`graph_beam_search` over the full kNN graph,
       seeded by the middle beam.

    Each hand-off collects ≤ ``upper_beam`` ids (bounded, the nprobe-
    cells precedent). Scores are BIGINT micro-units with id tiebreaks
    throughout — selection AND output are engine-portable, so the
    whole hierarchy (level draw, layer graphs, every beam round) can
    be pinned by a SQL oracle, approximation error included.
    """
    lv = levels.select(F.col(id_col).alias("_nid"), "level")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    emb = embeddings.select(
        F.col(id_col).alias("_nid"),
        F.floor(cosine_similarity(F.col(vec_col).cast("array<double>"), q)
                * F.lit(1e6) + F.lit(0.5)).cast("long").alias("sc"))

    # r16: the top-layer picks and the level-1 fallback feed ONE set
    # union, so they ride one collect (two independent limits inside
    # a single job) instead of two driver actions.
    l1 = lv.filter(F.col("level") >= 1)
    ent_rows = (lv.filter(F.col("level") >= 2).join(emb, "_nid")
                .orderBy(F.col("sc").desc(), F.col("_nid").asc())
                .limit(2).select("_nid")
                .unionAll(l1.orderBy(F.col("_nid").asc()).limit(1)
                          .select("_nid"))
                .collect())
    entries1 = sorted({r["_nid"] for r in ent_rows})
    mid = graph_beam_search(upper_graph, embeddings, query_vec, entries1,
                            beam=upper_beam, n_iter=upper_iter,
                            k=upper_beam, id_col=id_col, vec_col=vec_col)
    entries0 = sorted(r[id_col] for r in mid.collect())
    return graph_beam_search(base_graph, embeddings, query_vec, entries0,
                             beam=beam, n_iter=n_iter, k=k,
                             id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------

def quantize_int8(embeddings: DataFrame, id_col: str = "node_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) ∈ [-127, 127] — 4× smaller vectors for
    ANN candidate generation at 100 TB (exact re-score on the float
    vectors only for the surviving top candidates). Pure Column
    expressions (transform/aggregate), fully deterministic.

    Returns (id, qvec array<int>, scale, dequant_cos) where dequant_cos
    is the cosine between the dequantized and original vector — the
    per-row quantization-quality audit (≈1 − O(1/127²) for non-tiny
    vectors). All-zero vectors get scale 0 and qvec of zeros."""
    from memory_engine_spark.functions.vector import EPS, cosine_similarity

    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = amax / F.lit(127.0)
    qvec = F.when(amax < EPS, F.transform(v, lambda x: F.lit(0))) \
        .otherwise(F.transform(v, lambda x: F.round(x / scale, 0).cast("int")))
    staged = embeddings.select(
        F.col(id_col), v.alias("_v"), qvec.alias("qvec"),
        scale.alias("scale"))
    deq = F.transform(F.col("qvec"),
                      lambda q: q.cast("double") * F.col("scale"))
    return (staged
            .withColumn("dequant_cos",
                        cosine_similarity(deq, F.col("_v")))
            .drop("_v"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-style ADC, relational formulation
# ---------------------------------------------------------------------------

def _sq_l2(a, b):
    """Squared L2 between two array<double> columns — plain
    multiply-sum (no sqrt) so partial sums compose across subspaces."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def pq_codebooks(embeddings: DataFrame, dim: int, m: int = 8,
                 ksub: int = 16, id_col: str = "node_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Deterministic PQ codebooks: the vector space is split into ``m``
    contiguous subspaces of dim/m; each subspace's ``ksub`` centroids
    are the sub-vectors of the ksub LOWEST-ID vectors (first-k seeding,
    the same reproducibility trade as build_ivf_flat — recall depends
    on seeding, correctness of the ADC arithmetic does not, and the
    whole operator stays oracle-checkable cross-engine).

    Returns (subspace, code, centroid array<double>) — m·ksub tiny rows,
    always broadcastable."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = (embeddings.orderBy(F.col(id_col).asc()).limit(ksub)
             .select(F.col(id_col).alias("_sid"),
                     F.col(vec_col).cast("array<double>").alias("_v")))
    ranked = seeds.select(
        F.col("_v"),
        (F.row_number().over(Window.orderBy(F.col("_sid").asc())) - 1)
        .alias("code"))
    sub = ranked.select(
        "code",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice("_v", j * dsub + 1, dsub).alias("centroid"))
            for j in range(m)])).alias("s")
    ).select(F.col("s.subspace").alias("subspace"), "code",
             F.col("s.centroid").alias("centroid"))
    return sub.transform(_lc)


def pq_encode(embeddings: DataFrame, codebooks: DataFrame, dim: int,
              m: int = 8, id_col: str = "node_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as ``m`` uint8 codes: per subspace, the
    argmin-squared-L2 centroid (tie → smallest code). One broadcast
    join against the m·ksub codebook + a min_by aggregate — the big
    side never shuffles wider than (id, subspace) partial rows.
    Returns (id, subspace, code)."""
    dsub = dim // m
    sub_vecs = embeddings.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice(F.col(vec_col).cast("array<double>"),
                             j * dsub + 1, dsub).alias("sv"))
            for j in range(m)])).alias("s")
    ).select("_id", F.col("s.subspace").alias("subspace"),
             F.col("s.sv").alias("sv"))
    scored = sub_vecs.join(F.broadcast(codebooks), "subspace").select(
        "_id", "subspace", "code",
        F.struct(_sq_l2(F.col("sv"), F.col("centroid")).alias("d"),
                 F.col("code").alias("c")).alias("dc"))
    return (scored.groupBy("_id", "subspace")
            .agg(F.min_by("code", "dc").alias("code"))
            .select(F.col("_id").alias(id_col), "subspace", "code"))


def ivfpq_topk(assigned: DataFrame, centroids: DataFrame, codes: DataFrame,
               codebooks: DataFrame, query_vec: list[float], k: int = 10,
               nprobe: int = 4, m: int = 8, rerank: int = 50,
               id_col: str = "node_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """FAISS-style IVFADC with exact re-rank — the serving path that
    holds at 100 TB (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011; Milvus exposes it as IVF_PQ next to
    the reference's IVF_FLAT config, milvus_store.py:56-110):

    1. coarse probe: the query picks its ``nprobe`` nearest IVF cells
       (assignment metric, broadcast-scored nlist rows) — with
       ``assigned``/``codes`` written partitioned by cell this is real
       partition pruning, ~N·nprobe/nlist candidates survive;
    2. ADC: candidates are scored from the broadcast m×ksub lookup
       table alone — 8 byte codes per vector, NO float-vector math;
    3. exact re-rank: only the top ``rerank`` approximate survivors
       load their full vectors for the exact squared-L2 final order.

    DECIMAL-exact ADC sums make the rerank cut engine-stable, and the
    final order uses the ROUNDED exact distance (ties → id), so the
    whole operator is oracle-checkable. Returns (id, sq_dist) asc.
    """
    if len(query_vec) % m != 0:
        raise ValueError(f"query dim {len(query_vec)} not divisible by m {m}")
    dsub = len(query_vec) // m
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    # Probe cells are resolved driver-side (nlist rows — index metadata,
    # not data) so the cell restriction is a LITERAL IN filter: on
    # cell-partitioned parquet it becomes static PartitionFilters on
    # both the codes and the re-rank scans, not a runtime join.
    probe = [r["cell"] for r in
             (centroids
              .select("cell",
                      cosine_similarity(F.col("centroid"), q).alias("s"))
              .orderBy(F.col("s").desc(), F.col("cell").asc())
              .limit(nprobe).collect())]
    if "cell" in codes.columns:
        # offline layout: codes carry their coarse cell -> prune directly
        cand_codes = codes.filter(F.col("cell").isin(probe))
    else:
        cand_ids = (assigned.filter(F.col("cell").isin(probe))
                    .select(F.col(id_col)))
        cand_codes = codes.join(cand_ids, id_col, "left_semi")
    lut = codebooks.select(
        "subspace", "code",
        _sq_l2(F.col("centroid"),
               F.slice(q, F.col("subspace") * dsub + 1, dsub)).alias("d"))
    shortlist = (cand_codes
                 .join(F.broadcast(lut), ["subspace", "code"])
                 .groupBy(F.col(id_col))
                 .agg(F.sum(F.col("d").cast("decimal(28,12)")).cast("double")
                      .alias("approx_dist"))
                 .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
                 .limit(rerank).select(id_col))
    # shortlist ids all live in probed cells, so the same IN filter
    # partition-prunes the re-rank's full-vector scan too
    exact = (assigned.filter(F.col("cell").isin(probe))
             .join(F.broadcast(shortlist), id_col)
             .select(F.col(id_col),
                     F.round(_sq_l2(F.col(vec_col).cast("array<double>"), q), 6)
                     .alias("sq_dist")))
    return (exact.orderBy(F.col("sq_dist").asc(), F.col(id_col).asc())
            .limit(k))


def pq_topk(codes: DataFrame, codebooks: DataFrame, query_vec: list[float],
            k: int = 10, m: int = 8,
            id_col: str = "node_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query builds an m×ksub
    lookup table of exact sub-distances to every centroid (tiny,
    broadcast); each encoded vector's approximate distance is the SUM
    of its m looked-up entries — one broadcast join + one groupBy, no
    vector arithmetic per candidate at all. Returns (id, approx_dist)
    ascending (squared L2)."""
    if len(query_vec) % m != 0:
        raise ValueError(f"query dim {len(query_vec)} not divisible by m {m}")
    dsub = len(query_vec) // m
    # LUT from the literal query sliced per subspace — no driver math.
    q = F.lit([float(x) for x in query_vec]).cast("array<double>")
    lut = codebooks.select(
        "subspace", "code",
        _sq_l2(F.col("centroid"),
               F.slice(q, F.col("subspace") * dsub + 1, dsub)).alias("d"))
    # Decimal accumulation: double addition is order-sensitive and the
    # m partial sums arrive in shuffle order — DECIMAL is exact, so the
    # result is bit-stable across engines/partitionings.
    return (codes.join(F.broadcast(lut), ["subspace", "code"])
            .groupBy(F.col(id_col))
            .agg(F.sum(F.col("d").cast("decimal(28,12)")).cast("double")
                 .alias("approx_dist"))
            .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
            .limit(k))
