"""Vector math vs NumPy ground truth; ranking/merge/rating formulas
vs hand-computed reference values (result_ranker.py, merging.py,
rating_system.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from memory_engine_spark.functions import vector as V
from memory_engine_spark.operators import ranking, similarity
from memory_engine_spark.operators.merging import (
    merged_ratings, merged_tags, updated_rating, updated_truthfulness, upsert,
)

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [1.0, 1.0, 0.0]),
    (4, [0.9, 0.1, 0.0]),
    (5, [0.0, 0.0, 0.0]),  # zero vector
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "id int, v array<double>")


def test_cosine_vs_numpy(vecs):
    got = {r["id"]: r["c"] for r in vecs.select(
        "id", V.cosine_similarity(F.col("v"), F.lit([1.0, 0.0, 0.0])).alias("c")).collect()}
    for i, v in VECS:
        v = np.array(v)
        expect = 0.0 if np.linalg.norm(v) < 1e-10 else float(
            v @ [1, 0, 0] / (np.linalg.norm(v) * 1.0))
        assert abs(got[i] - expect) < 1e-12


def test_l2_and_dot(vecs):
    r = vecs.filter("id = 3").select(
        V.dot(F.col("v"), F.lit([2.0, 3.0, 0.0])).alias("d"),
        V.l2_distance(F.col("v"), F.lit([0.0, 0.0, 0.0])).alias("l2"),
        V.l2_similarity(F.col("v"), F.lit([1.0, 1.0, 0.0])).alias("s"),
    ).collect()[0]
    assert r["d"] == 5.0
    assert abs(r["l2"] - math.sqrt(2)) < 1e-12
    assert r["s"] == 1.0  # identical → 1/(1+0)


def test_topk_brute_order(vecs):
    top = similarity.topk_brute(vecs, [1.0, 0.0, 0.0], k=3, id_col="id", vec_col="v").collect()
    assert [r["id"] for r in top] == [1, 4, 3]


def test_topk_threshold(vecs):
    top = similarity.topk_brute(vecs, [1.0, 0.0, 0.0], k=5, id_col="id", vec_col="v",
                                threshold=0.9).collect()
    assert {r["id"] for r in top} == {1, 4}


def test_neardup_pairs_bruteforce(vecs):
    pairs = {(r["a"], r["b"]) for r in
             similarity.neardup_pairs(vecs, 0.95, id_col="id", vec_col="v").collect()}
    assert pairs == {(1, 4)}


def test_crossjoin_topk(spark, vecs):
    qs = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (20, [0.0, 1.0, 0.0])],
        "query_id int, query_vec array<double>")
    out = similarity.crossjoin_topk(vecs, qs, k=1, id_col="id", vec_col="v")
    got = {(r["query_id"], r["id"]) for r in out.collect()}
    assert got == {(10, 1), (20, 2)}


def test_srp_lsh_neardup(spark):
    # near-identical pairs land in the same SRP bucket and are found;
    # exact verification keeps the jaccard... cosine values exact
    rows = [(i, [1.0 + 0.001 * i, 0.5, -0.2]) for i in range(5)] + \
           [(10, [-1.0, -0.5, 0.2])]  # antipodal: different bucket
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {(r["a"], r["b"]): r["cosine"] for r in
           similarity.lsh_neardup(df, 0.999, id_col="id", vec_col="v",
                                  n_bits=6).collect()}
    for i in range(4):
        assert (i, i + 1) in got and got[(i, i + 1)] > 0.999
    assert all(10 not in pair for pair in got)


def test_ivf_finds_neighbors(vecs):
    cents, assigned = similarity.build_ivf_flat(vecs, nlist=2, id_col="id",
                                                vec_col="v")
    top = similarity.topk_ivf(assigned, cents, [0.95, 0.05, 0.0], k=2, nprobe=2,
                              id_col="id", vec_col="v").collect()
    assert [r["id"] for r in top] == [1, 4]


# -- ranking formulas -------------------------------------------------------

def test_freshness_steps(spark):
    df = spark.createDataFrame([(0,), (5,), (20,), (60,), (200,), (999,)], "age int")
    got = [r["f"] for r in
           df.select(ranking.freshness_score(F.col("age")).alias("f")).orderBy("age").collect()]
    assert got == [1.0, 0.9, 0.7, 0.5, 0.3, 0.1]


def test_relevance_jaccard_capped(spark):
    df = spark.createDataFrame([(1, "spark join filter"), (2, "nothing shared here")],
                               "id int, body string")
    got = {r["id"]: r["rel"] for r in df.select(
        "id", ranking.relevance_score(F.col("body"), "spark join").alias("rel")).collect()}
    assert got[1] == 1.0  # jaccard 2/3 → ×2 capped
    assert got[2] == 0.0


def test_combined_score_normalization(spark):
    df = spark.createDataFrame([(1,)], "id int")
    s = df.select(ranking.combined_score(
        {"a": F.lit(1.0), "b": F.lit(0.0)}, {"a": 0.4, "b": 0.4}).alias("s")).collect()
    assert abs(s[0]["s"] - 0.5) < 1e-12


def test_greedy_diversity():
    rows = [{"t": "a b c d"}, {"t": "a b c e"}, {"t": "x y z w"}]
    kept = ranking.greedy_diversity_filter(rows, "t", max_similarity=0.5)
    assert kept == [{"t": "a b c d"}, {"t": "x y z w"}]


# -- merge + rating formulas ------------------------------------------------

def test_merge_semantics(spark):
    df = spark.createDataFrame(
        [Row(r1=0.3, r2=0.8, t1="b,a,c", t2="c,d")])
    out = df.select(
        merged_ratings(F.col("r1"), F.col("r2")).alias("r"),
        merged_tags(F.col("t1"), F.col("t2")).alias("t")).collect()[0]
    assert out["r"] == 0.8
    assert out["t"] == "a,b,c,d"  # sorted set union (merging.py:144-152)


def test_rating_update_clamps(spark):
    df = spark.createDataFrame([(0.9, 1.0, 0.0), (0.1, 0.0, 1.0), (0.5, 0.5, 0.25)],
                               "old double, conf double, contra double")
    got = [round(r["n"], 6) for r in df.select(
        updated_truthfulness(F.col("old"), F.col("conf"), F.col("contra")).alias("n"))
        .collect()]
    assert got == [1.0, 0.0, 0.55]  # clamp high, clamp low, exact formula
    got2 = df.select(updated_rating(F.col("old"), F.lit(1.0)).alias("n")).collect()
    assert round(got2[0]["n"], 6) == 1.0


def test_upsert(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    got = {r["id"]: r["v"] for r in upsert(base, upd, "id").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_bm25_matches_manual_computation(spark):
    import math

    from memory_engine_spark.operators.ranking import bm25_scores

    docs = [(1, "spark join spark filter"), (2, "spark stream"),
            (3, "gardening tulips only"), (4, "join join join join")]
    df = spark.createDataFrame(docs, "doc_id int, body string")
    out = {r["doc_id"]: r["score"] for r in
           bm25_scores(df, "body", "doc_id", ["spark", "join"]).collect()}
    # manual BM25: N=4, avgdl=(4+2+3+4)/4
    N, avgdl, k1, b = 4, 13 / 4, 1.2, 0.75

    def idf(dfr):
        return math.log(1 + (N - dfr + 0.5) / (dfr + 0.5))

    def s(tf, dl, dfr):
        return idf(dfr) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # doc1: spark tf=2 (df=2), join tf=1 (df=2); dl=4
    want1 = s(2, 4, 2) + s(1, 4, 2)
    assert abs(out[1] - round(want1, 6)) < 1e-6
    assert 3 not in out                       # no query term
    assert out[1] > out[2]                    # more matches rank higher


def test_tfidf_cosine_prefers_focused_match(spark):
    from memory_engine_spark.operators.ranking import tfidf_cosine_search
    docs = spark.createDataFrame(
        [(1, "spark spark spark"),                       # pure match
         (2, "spark and a lot of other words here now"), # diluted match
         (3, "nothing relevant at all in this one")],
        "doc_id long, text string")
    rows = tfidf_cosine_search(docs, "text", "doc_id", ["spark"]).collect()
    scores = {r["doc_id"]: r["score"] for r in rows}
    assert 3 not in scores                # no query term -> absent
    assert scores[1] > scores[2]          # full norm penalizes dilution
    assert abs(scores[1] - 1.0) < 1e-6    # one-term doc, one-term query


def test_rrf_fuse_combines_ranked_lists(spark):
    from memory_engine_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame([(1, 3.0), (2, 2.0), (3, 1.0)],
                              "doc_id long, score double")
    b = spark.createDataFrame([(3, 9.0), (2, 5.0), (4, 1.0)],
                              "doc_id long, score double")
    out = {r["doc_id"]: r for r in
           rrf_fuse([a, b], "doc_id", top_k=10).collect()}
    # doc 2: rank 2 in both lists; docs 1/4 appear once
    assert out[2]["n_systems"] == 2
    assert abs(out[2]["rrf_score"] - round(2 / 62, 6)) < 1e-9
    assert out[1]["n_systems"] == 1
    assert abs(out[1]["rrf_score"] - round(1 / 61, 6)) < 1e-9
    # doc 2 (two mid ranks) outranks any single-list doc
    assert out[2]["rrf_score"] > out[3]["rrf_score"] or \
        out[3]["n_systems"] == 2
    assert out[2]["rrf_score"] > out[1]["rrf_score"]


def test_diversify_topk_matches_driver_side_filter(spark):
    """The distributed unrolled selection must agree with the
    reference-shaped driver-side greedy filter on the same page."""
    from memory_engine_spark.operators import ranking

    docs = spark.createDataFrame(
        [(1, "spark join filter stream"),        # rel 1.0, rank 1
         (2, "spark join filter stream extra"),  # near-dup of 1
         (3, "spark banana apple pear plum"),    # diverse
         (4, "totally unrelated words here"),    # rel 0, diverse
         (5, "stream filter join spark")],        # permutation of 1
        "doc_id long, text string")
    out = ranking.diversify_topk(docs, "text", "doc_id",
                                 "spark join filter stream",
                                 k=4, top_n=5, max_similarity=0.7)
    rows = out.orderBy("picked_round").collect()
    kept_ids = [r["doc_id"] for r in rows]
    # rank order: 1 (rel 1.0) first; 2 and 5 dropped as near-dups of 1
    assert kept_ids[0] == 1
    assert 2 not in kept_ids and 5 not in kept_ids
    assert 3 in kept_ids and 4 in kept_ids
    assert [r["picked_round"] for r in rows] == list(
        range(1, len(rows) + 1))


def test_graph_beam_search_reaches_true_neighbor(spark):
    """Beam search over an exact kNN graph from a far entry point must
    walk to the query's true nearest neighbors."""
    from memory_engine_spark.operators.similarity import (
        graph_beam_search, knn_join_brute)

    # 1-D chain embedded in 2-D: vec i = (i, 1). Nearest to vec 0 are
    # small ids; entry at the far end forces multi-round descent.
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>")
    g = knn_join_brute(emb, k=2, id_col="vec_id").select("qid", "nid")
    # NSW-style BIDIRECTIONAL links: the directed kNN graph dead-ends
    # where cosine crowding skews neighbor sets (e.g. node 3's two
    # nearest are {4,5}), exactly why HNSW inserts reverse edges
    g = g.unionByName(g.select(F.col("nid").alias("qid"),
                               F.col("qid").alias("nid"))).distinct()
    # the k=2 chain graph advances the beam ~1 id per round; 10
    # rounds comfortably descends the 8-node chain from the far end
    out = graph_beam_search(g, emb, [0.0, 1.0], [7], beam=3,
                            n_iter=10, k=3, id_col="vec_id")
    ids = [r["vec_id"] for r in out.collect()]
    assert ids[0] == 0          # exact match found from the far end
    assert set(ids) == {0, 1, 2}


def test_hnsw_levels_geometric_and_deterministic(spark):
    from memory_engine_spark.operators.similarity import hnsw_levels

    emb = spark.createDataFrame(
        [(i, [1.0]) for i in range(4096)],
        "vec_id long, embedding array<float>")
    lv = {r["vec_id"]: r["level"]
          for r in hnsw_levels(emb, p=16).collect()}
    n1 = sum(1 for v in lv.values() if v >= 1)
    n2 = sum(1 for v in lv.values() if v >= 2)
    # geometric: ~1/16 at level>=1 (256 expected), ~1/256 at >=2 (16)
    assert 128 <= n1 <= 512 and 2 <= n2 <= 48
    # deterministic: a second draw is identical
    lv2 = {r["vec_id"]: r["level"]
           for r in hnsw_levels(emb, p=16).collect()}
    assert lv == lv2


def test_hnsw_search_descends_to_true_neighbor(spark):
    """Hierarchical search on the chain graph: the middle layer's own
    kNN links fast-forward the descent, and the base beam lands on the
    query's true neighbors even from an empty top layer (fallback
    entry = smallest upper-layer id)."""
    from memory_engine_spark.operators.similarity import (
        hnsw_search, knn_join_brute)

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(16)],
        "vec_id long, embedding array<float>")
    base = knn_join_brute(emb, k=2, id_col="vec_id").select("qid", "nid")
    base = base.unionByName(base.select(
        F.col("nid").alias("qid"), F.col("qid").alias("nid"))).distinct()
    # hand-assigned levels: every 4th node is upper-layer; none at top
    levels = spark.createDataFrame(
        [(i, 1 if i % 4 == 0 else 0) for i in range(16)],
        "vec_id long, level int")
    sub = emb.join(levels.filter("level >= 1"), "vec_id").select(
        "vec_id", "embedding")
    upper = knn_join_brute(sub, k=2, id_col="vec_id").select("qid", "nid")
    upper = upper.unionByName(upper.select(
        F.col("nid").alias("qid"), F.col("qid").alias("nid"))).distinct()
    out = hnsw_search(base, upper, levels, emb, [15.0, 1.0],
                      beam=3, n_iter=4, k=3, upper_beam=2, upper_iter=2)
    ids = [r["vec_id"] for r in out.collect()]
    assert ids[0] == 15
    assert set(ids) == {13, 14, 15}


def test_diversify_topk_parity_with_driver_filter(spark):
    """Property: on a randomized page the distributed unrolled rounds
    must select exactly the first-k rows the reference-shaped
    driver-side greedy filter keeps."""
    import random

    from memory_engine_spark.operators import ranking
    from memory_engine_spark.operators.dedup import tokens as _  # noqa

    rng = random.Random(7)
    vocab = ["spark", "join", "filter", "stream", "scan", "sort",
             "merge", "hash", "data", "row"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 8))))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    query = "spark join filter stream"
    out = ranking.diversify_topk(docs, "text", "doc_id", query,
                                 k=6, top_n=25, max_similarity=0.7)
    got = [r["doc_id"] for r in out.orderBy("picked_round").collect()]

    # driver-side reference: rank by (jaccard(query)*2 cap 1 desc, id),
    # then greedy keep-unless-similar over the top-25 page
    qt = set(query.split())

    def rel(t):
        ct = set(t.split())
        u = ct | qt
        return min(2.0 * len(ct & qt) / len(u), 1.0) if u else 0.0

    page = sorted(rows, key=lambda r: (-rel(r[1]), r[0]))[:25]
    page_dicts = [{"doc_id": i, "t": t} for i, t in page]
    kept = ranking.greedy_diversity_filter(page_dicts, "t",
                                           max_similarity=0.7)
    want = [d["doc_id"] for d in kept][:6]
    assert got == want


def test_topk_int8_recovers_brute_topk(spark):
    """int8 candidate generation + exact re-rank must return the same
    top-k (same ids, same micro-quantized scores) as the float brute
    force when candidates cover the true neighbors."""
    from memory_engine_spark.operators.similarity import (
        quantize_int8, topk_brute, topk_int8)

    import math
    emb = spark.createDataFrame(
        [(i, [math.cos(i / 7.0), math.sin(i / 7.0)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    qz = quantize_int8(emb, id_col="vec_id")
    qrow = [int(v) for v in
            qz.filter("vec_id = 5").first()["qvec"]]
    qvec = [float(x) for x in emb.filter("vec_id = 5").first()["embedding"]]
    got = [(r["vec_id"], r["score"]) for r in
           topk_int8(emb, qvec, qrow, k=5, n_candidates=15,
                     id_col="vec_id", prebuilt_qz=qz).collect()]
    brute = [(r["vec_id"], round(r["score"], 6)) for r in
             topk_brute(emb, qvec, k=5, id_col="vec_id").collect()]
    # ids AND micro-quantized scores (r05 ADVICE: ids alone let a
    # re-rank scoring regression pass): topk_int8's floor(x*1e6+0.5)/1e6
    # equals round(x, 6) away from exact half-microunit boundaries.
    assert got == brute


def test_topk_ivf_int8_recall_and_pruning(spark):
    """The composed IVF+int8 index: with all cells probed it must
    equal the float brute force exactly (ids AND micro-quantized
    scores); with a partial probe it must only return vectors from
    the probed cells (the partition-pruning contract) at reasonable
    recall."""
    import math

    from memory_engine_spark.operators.similarity import (
        build_ivf_flat, quantize_int8, topk_brute, topk_ivf_int8)

    emb = spark.createDataFrame(
        [(i, [math.cos(i / 9.0), math.sin(i / 9.0), (i % 5) / 5.0])
         for i in range(60)],
        "vec_id long, embedding array<float>")
    cents, assigned = build_ivf_flat(emb, nlist=6, id_col="vec_id")
    qz = quantize_int8(emb, id_col="vec_id")
    codes_cells = qz.select("vec_id", "qvec") \
        .join(assigned.select("vec_id", "cell"), "vec_id")
    qrow = [int(v) for v in qz.filter("vec_id = 7").first()["qvec"]]
    qvec = [float(x) for x in
            emb.filter("vec_id = 7").first()["embedding"]]

    full = [(r["vec_id"], r["score"]) for r in
            topk_ivf_int8(codes_cells, cents, qvec, qrow, emb,
                          k=5, nprobe=6, n_candidates=60,
                          id_col="vec_id").collect()]
    brute = [(r["vec_id"], round(r["score"], 6)) for r in
             topk_brute(emb, qvec, k=5, id_col="vec_id").collect()]
    assert full == brute

    partial = topk_ivf_int8(codes_cells, cents, qvec, qrow, emb,
                            k=5, nprobe=2, n_candidates=20,
                            id_col="vec_id")
    got_ids = {r["vec_id"] for r in partial.collect()}
    from memory_engine_spark.functions.vector import cosine_similarity
    probed = {r["cell"] for r in cents.select(
        "cell", cosine_similarity(
            F.col("centroid"),
            F.lit(qvec).cast("array<double>")).alias("s"))
        .orderBy(F.desc("s"), "cell").limit(2).collect()}
    allowed = {r["vec_id"] for r in
               assigned.filter(F.col("cell").isin(list(probed))).collect()}
    # every result must come from a probed cell; recall vs brute >= 3/5
    assert got_ids <= allowed
    assert len(got_ids & {i for i, _ in brute}) >= 3


def test_ir_eval_report_hand_computed(spark):
    """IR eval metrics against hand-computed values: graded nDCG with
    the quantized discount table, AP floor-div terms, a relevant doc
    that is never retrieved (recall < 1), and a query with zero
    retrieved rows (all metrics 0, n_rel still counted)."""
    from memory_engine_spark.operators.ranking import (ir_disc_u,
                                                       ir_eval_report)

    disc = ir_disc_u(10)
    assert disc[0] == 10 ** 9 and disc[2] == 500000000
    judged = spark.createDataFrame(
        [("a", 1, 3, 2), ("a", 2, 2, 0), ("a", 3, 1, 1),
         ("a", 4, 0, 1), ("a", 5, 0, 0),
         ("b", 1, 0, 1)],
        "qid string, doc_id long, score long, rel int")
    out = {r["qid"]: r for r in
           ir_eval_report(judged, qid_col="qid").collect()}
    a = out["a"]
    assert (a["n_rel"], a["n_ret"]) == (3, 3)
    assert a["mrr"] == 1.0
    assert a["p_at_10"] == 0.2
    assert a["r_at_10"] == round(2 / 3, 6)
    # dcg = 3*disc[0] + 1*disc[2]; idcg = 3*disc[0]+1*disc[1]+1*disc[2]
    assert a["dcg_u"] == 3 * disc[0] + disc[2]
    assert a["idcg_u"] == 3 * disc[0] + disc[1] + disc[2]
    assert a["ndcg_at_10"] == round(a["dcg_u"] / a["idcg_u"], 6)
    # AP terms: rank1 cum1 -> 1e9, rank3 cum2 -> floor(2e9/3)
    assert a["ap_u"] == 10 ** 9 + (2 * 10 ** 9) // 3
    assert a["map"] == round(a["ap_u"] / (10 ** 9 * 3), 6)
    b = out["b"]
    assert (b["n_rel"], b["n_ret"], b["mrr"], b["ndcg_at_10"],
            b["map"]) == (1, 0, 0.0, 0.0, 0.0)


def test_merge_into_clause_algebra(spark):
    """All five MERGE paths: matched update/delete, unmatched insert,
    the two no-op clauses (matched 'insert', unmatched 'delete'),
    and the Delta-style duplicate-source-key error."""
    import pytest

    from memory_engine_spark.operators.merging import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long")
    src = spark.createDataFrame(
        [(1, "a2", 11, "update"),
         (2, None, 0, "delete"),
         (3, "x", 99, "insert"),      # matched insert: no-op
         (5, "e", 50, "insert"),
         (6, None, 0, "delete")],     # unmatched delete: no-op
        "k long, name string, v long, _op string")
    got = {r["k"]: (r["name"], r["v"])
           for r in merge_into(target, src, "k").collect()}
    assert got == {1: ("a2", 11), 3: ("c", 30),
                   4: ("d", 40), 5: ("e", 50)}

    dup = src.unionByName(spark.createDataFrame(
        [(1, "z", 1, "update")], "k long, name string, v long, _op string"))
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(target, dup, "k")
    with pytest.raises(ValueError, match="exactly the target columns"):
        merge_into(target, src.drop("v"), "k")


def test_snapshot_diff_roundtrip_law(spark):
    """snapshot_diff emits the MINIMAL batch (unchanged rows absent,
    null-safe compare) and merge_into(old, diff) == new exactly."""
    from memory_engine_spark.operators.merging import (merge_into,
                                                       snapshot_diff)

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long")
    new = spark.createDataFrame(
        [(1, "a", 10),            # unchanged -> absent from diff
         (2, "b", None),          # unchanged w/ null -> absent
         (3, "c2", 30),           # update
         (5, "e", None)],         # insert; 4 deleted
        "k long, name string, v long")
    diff = snapshot_diff(old, new, "k")
    got = {r["k"]: (r["name"], r["v"], r["_op"]) for r in diff.collect()}
    assert got == {3: ("c2", 30, "update"), 4: ("d", 40, "delete"),
                   5: ("e", None, "insert")}
    replayed = merge_into(old, diff, "k")
    assert replayed.exceptAll(new).isEmpty()
    assert new.exceptAll(replayed).isEmpty()
