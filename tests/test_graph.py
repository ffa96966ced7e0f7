"""Graph operators on a hand-crafted graph with known BFS/shortest-path
answers (reference semantics: sqlite_storage.py:434-699,571-616)."""

from __future__ import annotations

import pytest

from memory_engine_spark.operators import graph

#   a -> b -> c -> d   (chain)
#   a -> e             (branch)
#   f                  (isolated, no edges)
#   hub: h -> x1..x4
EDGES = [
    ("a", "b", "next", 0.9),
    ("b", "c", "next", 0.8),
    ("c", "d", "next", 0.7),
    ("a", "e", "branch", 0.6),
    ("h", "x1", "spoke", 0.5),
    ("h", "x2", "spoke", 0.5),
    ("h", "x3", "spoke", 0.5),
    ("h", "x4", "spoke", 0.5),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(
        EDGES, "from_id string, to_id string, relation_type string, confidence_score double")


def test_neighbors_both_directions(edges):
    out = {(r["node_id"], r["neighbor_id"]) for r in
           graph.neighbors(edges, ["b"]).collect()}
    assert out == {("b", "a"), ("b", "c")}


def test_neighbors_relation_filter(edges):
    out = {r["neighbor_id"] for r in
           graph.neighbors(edges, ["a"], relation_type="branch").collect()}
    assert out == {"e"}


def test_k_hop_min_distance(edges):
    got = {r["node_id"]: r["hop_distance"] for r in
           graph.k_hop(edges, ["a"], max_depth=2).collect()}
    assert got == {"a": 0, "b": 1, "e": 1, "c": 2}


def test_k_hop_directed_vs_undirected(edges):
    directed = {r["node_id"] for r in
                graph.k_hop(edges, ["c"], 2, directed=True).collect()}
    assert directed == {"c", "d"}
    undirected = {r["node_id"] for r in graph.k_hop(edges, ["c"], 2).collect()}
    assert undirected == {"c", "b", "d", "a"}


def test_k_hop_min_confidence(edges):
    got = {r["node_id"] for r in
           graph.k_hop(edges, ["a"], 3, min_confidence=0.75, directed=True).collect()}
    assert got == {"a", "b", "c"}  # c->d (0.7) pruned


def test_shortest_path(edges):
    assert graph.shortest_path_length(edges, "a", "d") == 3
    assert graph.shortest_path_length(edges, "d", "a") == 3  # undirected
    assert graph.shortest_path_length(edges, "a", "d", max_hops=2) is None
    assert graph.shortest_path_length(edges, "a", "x1") is None  # disconnected


# -- driver-held walk vs distributed hops vs plain Python -------------------

# ids that a literal must carry as data, never as SQL text
ODD_IDS = ["o'brien", 'say "hi"', "back\\slash", "a,b", "ünï", "日本", "é'\\\""]


def _random_graph(seed: int = 7, n: int = 300):
    import random

    rng = random.Random(seed)
    ids = [f"v{i}" for i in range(n - len(ODD_IDS))] + ODD_IDS
    rows = []
    for _ in range(2 * n):
        a, b = rng.choice(ids), rng.choice(ids)
        rows.append((a, b, rng.choice("RS"), round(rng.random(), 3)))
    for a, b, _, _ in rows[:40]:                 # parallel edges
        rows.append((a, b, rng.choice("RS"), round(rng.random(), 3)))
    for a, b, _, _ in rows[40:80]:               # both orientations
        rows.append((b, a, rng.choice("RS"), round(rng.random(), 3)))
    rows += [(ODD_IDS[i], ODD_IDS[i + 1], "R", 0.9) for i in range(len(ODD_IDS) - 1)]
    return ids, rows


def _py_bfs(rows, seeds, depth, directed, rel, conf):
    adj: dict = {}
    for a, b, r, c in rows:
        if (rel is None or r == rel) and (conf is None or c >= conf):
            adj.setdefault(a, set()).add(b)
            if not directed:
                adj.setdefault(b, set()).add(a)
    dist = dict.fromkeys(seeds, 0)
    frontier = set(dist)
    for d in range(1, depth + 1):
        frontier = {n for u in frontier for n in adj.get(u, ())} - set(dist)
        dist.update(dict.fromkeys(frontier, d))
    return dist


@pytest.fixture(scope="module")
def random_graph(spark):
    ids, rows = _random_graph()
    df = spark.createDataFrame(
        rows, "from_id string, to_id string, relation_type string, "
              "confidence_score double").persist()
    yield ids, rows, df
    df.unpersist()


def _seed_lists(ids):
    return [[ids[0]], [ODD_IDS[0], ODD_IDS[2]], [ids[5], ids[5], ODD_IDS[4]],
            ["no-such-id", ids[9]], [], ["no-such-id"], ODD_IDS]


# each case walks depths 0-3 from seed lists starting at ``first``
@pytest.mark.parametrize("directed,rel,conf,first", [
    (False, None, None, 0), (False, "R", None, 4), (False, None, 0.5, 1),
    (True, None, None, 3), (True, "R", None, 2), (True, None, 0.5, 5)])
def test_k_hop_walks_agree_with_python_bfs(spark, random_graph, monkeypatch,
                                           directed, rel, conf, first):
    """The literal walk, a switch to distributed hops before the first
    hop (bound 0) and mid-walk (bound 2), and DataFrame seeds all give
    the plain-Python BFS."""
    ids, rows, edges = random_graph
    seed_lists = _seed_lists(ids)
    for depth in range(4):
        seeds = seed_lists[(first + depth) % len(seed_lists)]
        want = _py_bfs(rows, seeds, depth, directed, rel, conf)

        def run(start):
            out = graph.k_hop(edges, start, depth, relation_type=rel,
                              directed=directed, min_confidence=conf).collect()
            assert len(out) == len({r["node_id"] for r in out})
            return {r["node_id"]: r["hop_distance"] for r in out}

        assert run(seeds) == want, ("literal", depth, seeds)
        for bound in (0, 2):
            with monkeypatch.context() as m:
                m.setattr(graph, "LITERAL_FRONTIER_IDS", bound)
                assert run(seeds) == want, (bound, depth, seeds)
        # a seed frame lists each id once: k_hop keeps every seed row
        seed_df = spark.createDataFrame([(s,) for s in seeds], "node_id string")
        assert run(seed_df.distinct()) == want, ("dataframe", depth, seeds)


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_neighbors_agree_with_python(random_graph, direction):
    ids, rows, edges = random_graph
    for rel in (None, "R"):
        for seeds in _seed_lists(ids):
            want = set()
            for a, b, r, _ in rows:
                if rel is not None and r != rel:
                    continue
                if direction in ("out", "both") and a in seeds:
                    want.add((a, b, r))
                if direction in ("in", "both") and b in seeds:
                    want.add((b, a, r))
            out = graph.neighbors(edges, seeds, rel, direction).collect()
            got = {(r["node_id"], r["neighbor_id"], r["relation_type"]) for r in out}
            assert len(out) == len(got) and got == want, (direction, rel, seeds)


def test_shortest_path_agrees_with_python_bfs(random_graph, monkeypatch):
    ids, rows, edges = random_graph
    pairs = [(ids[0], ids[1]), (ODD_IDS[0], ODD_IDS[-1]), (ids[3], "no-such-id"),
             (ids[4], ids[4]), (ids[10], ODD_IDS[3])]
    cases = [(graph.LITERAL_FRONTIER_IDS, directed, pair)
             for directed in (False, True) for pair in pairs]
    cases += [(1, False, pair) for pair in pairs[:3]]   # switch mid-walk
    for bound, directed, (src, dst) in cases:
        monkeypatch.setattr(graph, "LITERAL_FRONTIER_IDS", bound)
        d = _py_bfs(rows, [src], 3, directed, None, None).get(dst)
        got = graph.shortest_path_length(edges, src, dst, max_hops=3,
                                         directed=directed)
        assert got == (d or None), (bound, directed, src, dst)


def test_degrees(edges):
    d = {r["node_id"]: (r["out_degree"], r["in_degree"], r["degree"])
         for r in graph.degrees(edges).collect()}
    assert d["h"] == (4, 0, 4)
    assert d["b"] == (1, 1, 2)
    assert d["d"] == (0, 1, 1)


def test_induced_subgraph(spark, edges):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "node_id string")
    got = {(r["from_id"], r["to_id"]) for r in
           graph.induced_subgraph(edges, ids).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_match_pattern(spark, edges):
    from pyspark.sql import functions as F
    nodes = spark.createDataFrame([(n,) for n in "abcdefh"], "node_id string")
    out = {r["node_id"] for r in
           graph.match_pattern(nodes, edges, F.lit(True),
                               required_out=["next"], required_in=["next"]).collect()}
    assert out == {"b", "c"}  # have both incoming and outgoing 'next'


def test_merge_nodes(spark, edges):
    nodes = spark.createDataFrame([(n,) for n in "abcdeh"], "node_id string")
    new_nodes, new_edges = graph.merge_nodes(nodes, edges, keep_id="a", drop_id="b")
    assert "b" not in {r["node_id"] for r in new_nodes.collect()}
    pairs = {(r["from_id"], r["to_id"]) for r in new_edges.collect()}
    assert ("a", "c") in pairs          # b->c rewritten
    assert ("a", "b") not in pairs      # a->b became self-loop, dropped


def test_pagerank_uniform_on_cycle(spark):
    # A 3-cycle is rank-symmetric: every node keeps exactly 1/3.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "from_id string, to_id string")
    ranks = {r["node_id"]: r["rank"]
             for r in graph.pagerank(edges, n_iter=4).collect()}
    assert set(ranks) == {"a", "b", "c"}
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-12
    # mass conserved (undirected view has no dangling nodes)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    # Star graph: the hub must out-rank every leaf, leaves tie.
    edges = spark.createDataFrame(
        [("h", x) for x in "abcd"], "from_id string, to_id string")
    ranks = {r["node_id"]: r["rank"]
             for r in graph.pagerank(edges, n_iter=5).collect()}
    hub, leaves = ranks.pop("h"), list(ranks.values())
    assert all(hub > lv for lv in leaves)
    assert max(leaves) - min(leaves) < 1e-12
    assert abs(hub + sum(leaves) - 1.0) < 1e-9


def test_label_propagation_separates_cliques(spark):
    from memory_engine_spark.operators.graph import label_propagation
    # two 4-cliques joined by nothing: every node must end up with its
    # clique's minimum id as label
    def clique(prefix, n):
        ids = [f"{prefix}{i}" for i in range(n)]
        return [(a, b) for a in ids for b in ids if a < b]
    edges = spark.createDataFrame(
        clique("a", 4) + clique("b", 4), "from_id string, to_id string")
    out = {r["node_id"]: r["label"] for r in
           label_propagation(edges, n_iter=4).collect()}
    assert all(out[f"a{i}"] == out["a0"] for i in range(4))
    assert all(out[f"b{i}"] == out["b0"] for i in range(4))
    assert out["a0"] != out["b0"]


def test_label_propagation_regimes_agree(spark):
    from memory_engine_spark.operators.graph import (label_propagation,
                                                     lpa_prepare)
    # broadcast (int-encoded, packed argmax) and shuffle (string
    # min_by) regimes must produce IDENTICAL labels — the dictionary
    # encoding is order-preserving so tie-breaks cannot diverge.
    # Barbell: two triangles bridged by one edge, plus a tail —
    # exercises ties (bridge endpoints see both communities).
    rows = [("a0", "a1"), ("a1", "a2"), ("a0", "a2"),
            ("b0", "b1"), ("b1", "b2"), ("b0", "b2"),
            ("a2", "b0"), ("b2", "c0"), ("c0", "c1")]
    edges = spark.createDataFrame(rows, "from_id string, to_id string")
    for n_iter in (1, 3):
        got_b = {r["node_id"]: r["label"] for r in label_propagation(
            edges, n_iter=n_iter, strategy="broadcast").collect()}
        got_s = {r["node_id"]: r["label"] for r in label_propagation(
            edges, n_iter=n_iter, strategy="shuffle").collect()}
        assert got_b == got_s
    # prepared-index entry point returns the same result as inline
    prep = lpa_prepare(edges)
    try:
        got_p = {r["node_id"]: r["label"] for r in label_propagation(
            None, n_iter=3, prepared=prep).collect()}
        assert got_p == got_s
    finally:
        prep["ids"].unpersist()
        prep["adj"].unpersist()


def test_label_propagation_directed_source_keeps_own_label(spark):
    from memory_engine_spark.operators.graph import label_propagation
    # directed chain s -> x -> y: s never receives a label, keeps own
    edges = spark.createDataFrame(
        [("s", "x"), ("x", "y")], "from_id string, to_id string")
    out = {r["node_id"]: r["label"] for r in
           label_propagation(edges, n_iter=2, directed=True).collect()}
    assert out["s"] == "s"
    assert out["x"] == "s"   # x's only in-neighbor is s


def test_k_core_peels_tendrils_keeps_clique(spark):
    from memory_engine_spark.operators.graph import k_core
    # a 4-clique (every node degree 3) with a pendant chain hanging
    # off it: the chain peels away, the clique survives k=3 exactly
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "x"), ("x", "y")]
    edges = spark.createDataFrame(clique + chain,
                                  "from_id string, to_id string")
    out = {r["node_id"]: r["degree"] for r in
           k_core(edges, k=3, n_iter=3).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert all(d == 3 for d in out.values())


def test_k_core_everything_below_k_vanishes(spark):
    from memory_engine_spark.operators.graph import k_core
    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "from_id string, to_id string")
    assert k_core(edges, k=2, n_iter=3).count() == 0


def test_weighted_sssp_picks_cheaper_longer_path(spark):
    from memory_engine_spark.operators.graph import weighted_sssp
    # direct edge s->t costs 10; the 3-hop detour costs 3 — with
    # enough rounds the detour wins
    edges = spark.createDataFrame(
        [("s", "t", 10.0), ("s", "a", 1.0), ("a", "b", 1.0),
         ("b", "t", 1.0)], "from_id string, to_id string, weight double")
    out = {r["node_id"]: r["dist"] for r in
           weighted_sssp(edges, "s", n_iter=4).collect()}
    assert out["t"] == 3.0
    assert out["a"] == 1.0 and out["b"] == 2.0 and out["s"] == 0.0


def test_weighted_sssp_bounded_rounds_upper_bound(spark):
    from memory_engine_spark.operators.graph import weighted_sssp
    # with only 1 round, the direct (expensive) edge is all we know
    edges = spark.createDataFrame(
        [("s", "t", 10.0), ("s", "a", 1.0), ("a", "b", 1.0),
         ("b", "t", 1.0)], "from_id string, to_id string, weight double")
    out = {r["node_id"]: r["dist"] for r in
           weighted_sssp(edges, "s", n_iter=1).collect()}
    assert out["t"] == 10.0  # the bound, not yet the optimum


def test_personalized_pagerank_concentrates_near_sources(spark):
    from memory_engine_spark.operators.graph import personalized_pagerank
    # two separate stars; personalizing on hub "a" must rank a's
    # satellites above the other component entirely
    edges = spark.createDataFrame(
        [("a", f"a{i}") for i in range(3)] + [("z", f"z{i}") for i in range(3)],
        "from_id string, to_id string")
    out = {r["node_id"]: r["rank"] for r in
           personalized_pagerank(edges, ["a"], n_iter=4).collect()}
    assert "z" not in out  # never reached: sparse vector stays local
    assert out["a"] > max(out[f"a{i}"] for i in range(3))
    # mass conservation: total ≈ 1 (teleport + walk, no dangling loss)
    assert abs(sum(out.values()) - 1.0) < 0.35  # finite-iter tail loss only


def test_hits_integer_rounds_hand_computed(spark):
    from memory_engine_spark.operators.graph import hits
    # u1,u2 -> m ; m -> t : after round 1, h(m)=1 (points at t),
    # h(u_i)=1 (point at m); a(m)=h(u1)+h(u2)=2, a(t)=h(m)=1.
    # Round 2: h(u_i)=a(m)=2, h(m)=a(t)=1; a(m)=h(u1)+h(u2)=4, a(t)=1.
    edges = spark.createDataFrame(
        [("u1", "m"), ("u2", "m"), ("m", "t")],
        "from_id string, to_id string")
    out = {r["node_id"]: (r["hub"], r["authority"]) for r in
           hits(edges, n_iter=2).collect()}
    assert out["m"] == (1, 4)
    assert out["t"] == (0, 1)
    assert out["u1"] == (2, 0) and out["u2"] == (2, 0)


def test_random_walks_deterministic_and_edge_following(spark):
    from memory_engine_spark.operators.graph import random_walks
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("b", "x")],
        "from_id string, to_id string")
    out = {r["walk_id"]: r["path"] for r in
           random_walks(edges, ["a"], walk_len=3,
                        walks_per_node=2).collect()}
    assert set(out) == {"a#0", "a#1"}
    for path in out.values():
        hops = path.split("->")
        assert hops[0] == "a" and len(hops) == 4
        # every consecutive pair is a real (symmetrized) edge
        sym = {("a", "b"), ("b", "c"), ("c", "d"), ("b", "x"),
               ("b", "a"), ("c", "b"), ("d", "c"), ("x", "b")}
        assert all((u, v) in sym for u, v in zip(hops, hops[1:]))
    # identical rerun -> identical corpus
    again = {r["walk_id"]: r["path"] for r in
             random_walks(edges, ["a"], walk_len=3,
                          walks_per_node=2).collect()}
    assert again == out


def test_random_walks_directed_dead_end_keeps_prefix(spark):
    from memory_engine_spark.operators.graph import random_walks
    edges = spark.createDataFrame(
        [("a", "b")], "from_id string, to_id string")
    out = {r["walk_id"]: r["path"] for r in
           random_walks(edges, ["a"], walk_len=5, walks_per_node=1,
                        directed=True).collect()}
    assert out == {"a#0": "a->b"}  # b has no out-edges: banked prefix


def test_diameter_estimate_exact_on_path_graph(spark):
    from memory_engine_spark.operators.graph import diameter_estimate
    # path a-b-c-d-e: diameter 4; sweep from the middle finds an end,
    # second sweep spans the whole path
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "from_id string, to_id string")
    row = diameter_estimate(edges, "c", max_depth=10).collect()[0]
    assert row["diameter_lb"] == 4
    assert row["sweep2_start"] in ("a", "e")
    assert row["n_reached"] == 5


def test_adamic_adar_scores_and_excludes_existing_edges(spark):
    import math
    from memory_engine_spark.operators.graph import adamic_adar
    # star: hub h connects a,b,c ; plus edge a-b. Candidates through h:
    # (a,c) and (b,c) score 1/ln(3); (a,b) is an existing edge -> out.
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b")],
        "from_id string, to_id string")
    rows = {(r["a"], r["b"]): r["score"] for r in
            adamic_adar(edges, top_k=10).collect()}
    expect = round(1.0 / math.log(3), 6)
    assert ("a", "b") not in rows
    assert abs(rows[("a", "c")] - expect) < 1e-6
    assert abs(rows[("b", "c")] - expect) < 1e-6
    # hub cap: degree-1 and over-cap apexes contribute nothing
    assert ("h", "a") not in rows  # adjacent anyway


def test_adamic_adar_prebuilt_matches_and_validates_cap(spark):
    import pytest
    from memory_engine_spark.operators.graph import (adamic_adar,
                                                     adamic_adar_prepare)

    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c"), ("a", "b")],
        "from_id string, to_id string")
    inline = sorted(map(tuple, adamic_adar(edges, top_k=10).collect()))
    prep = adamic_adar_prepare(edges, max_hub_degree=50)
    via_idx = sorted(map(tuple, adamic_adar(
        None, max_hub_degree=50, top_k=10, prebuilt=prep).collect()))
    assert inline == via_idx
    # an index built under a different cap silently changes scores —
    # must raise, not run
    with pytest.raises(ValueError, match="max_hub_degree"):
        adamic_adar(None, max_hub_degree=10, prebuilt=prep)


def test_k_core_prebuilt_adj_matches_inline(spark):
    from memory_engine_spark.operators.graph import k_core, symmetrize

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),      # triangle: 2-core
         ("c", "d")],                              # pendant: peeled
        "from_id string, to_id string")
    inline = {r["node_id"]: r["degree"]
              for r in k_core(edges, k=2, n_iter=3).collect()}
    pre = symmetrize(edges.select("from_id", "to_id")).persist()
    via_idx = {r["node_id"]: r["degree"]
               for r in k_core(None, k=2, n_iter=3,
                               prebuilt_adj=pre).collect()}
    pre.unpersist()
    assert inline == via_idx == {"a": 2, "b": 2, "c": 2}


def test_lpa_dispatch_guards(spark):
    import pytest

    from memory_engine_spark.operators.graph import (label_propagation,
                                                     lpa_prepare)

    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "from_id string, to_id string")
    prep = lpa_prepare(edges, directed=False)
    try:
        with pytest.raises(ValueError, match="shuffle"):
            label_propagation(edges, n_iter=1, prepared=prep,
                              strategy="shuffle")
        with pytest.raises(ValueError, match="directed"):
            label_propagation(edges, n_iter=1, directed=True,
                              prepared=prep)
    finally:
        prep["ids"].unpersist()
        prep["adj"].unpersist()


def test_pagerank_broadcast_matches_shuffle(spark):
    from memory_engine_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "from_id string, to_id string")
    sh = {r["node_id"]: round(r["rank"], 9)
          for r in pagerank(edges, n_iter=4,
                            strategy="shuffle").collect()}
    bc = {r["node_id"]: round(r["rank"], 9)
          for r in pagerank(edges, n_iter=4,
                            strategy="broadcast").collect()}
    assert sh.keys() == bc.keys()
    for n in sh:
        assert abs(sh[n] - bc[n]) < 1e-9


def _persistent_ids(spark):
    return {e.getKey() for e in
            spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()}


def test_diameter_own_build_does_not_kill_identical_plan_cache(spark):
    """Dataset.persist dedupes identical analyzed plans into ONE
    CacheManager entry, so an operator that persists + unpersists a
    scratch adjacency whose plan equals a resident session index's
    silently drops the index's storage (observed: sym_adj 37 MB -> 0
    mid-bench after diameter's own-build moved to the same
    defaultParallelism partitioning). The own-build path must
    therefore use localCheckpoint (plan-unique blocks)."""
    from pyspark.sql import functions as F

    from memory_engine_spark.operators.graph import (
        diameter_estimate, symmetrize,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "from_id string, to_id string")
    n_parts = spark.sparkContext.defaultParallelism
    resident = (symmetrize(edges.select("from_id", "to_id"))
                .repartition(n_parts, F.col("from_id")).persist())
    resident.count()
    try:
        assert resident.storageLevel.useMemory
        row = diameter_estimate(edges, "a", max_depth=6).collect()[0]
        assert row["diameter_lb"] == 3
        # the resident identical-plan cache must still be cached
        assert resident.storageLevel.useMemory
    finally:
        resident.unpersist()


def test_diameter_frees_its_checkpoint_blocks(spark):
    """Every sweep frontier and the own-build adjacency are
    localCheckpoint blocks with no CacheManager entry; the r06 ADVICE
    leak pinned ~2|V| rows per sweep until GC. diameter_estimate must
    leave the JVM persistent-RDD map exactly as it found it."""
    from memory_engine_spark.operators.graph import diameter_estimate

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(20)],
        "from_id string, to_id string")
    before = _persistent_ids(spark)
    diameter_estimate(edges, "n10", max_depth=25).collect()
    leaked = _persistent_ids(spark) - before
    assert leaked == set(), f"leaked persistent RDDs: {leaked}"


def test_graph_stats_hand_computed(spark):
    """Structural profile of a 4-node graph worked by hand: one
    reciprocal pair (reciprocity 2/5), one triangle over 5 wedges
    (gcc 0.6), and Newman assortativity -5/7 from the exact moment
    sums (disassortative: the hub links the leaf)."""
    from memory_engine_spark.operators.graph import graph_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (2, 3), (3, 4)],
        "from_id long, to_id long")
    r = graph_stats(edges).collect()[0]
    assert (r["n_nodes"], r["m_directed"], r["n_reciprocal"]) \
        == (4, 5, 2)
    assert r["reciprocity"] == 0.4
    assert (r["m_undirected"], r["triangles"], r["wedges"]) \
        == (4, 1, 5)
    assert r["gcc"] == 0.6
    assert (r["s_jk"], r["s_sum"], r["s_sq"]) == (38, 36, 88)
    # mu=2.25, num=4.75-5.0625, den=5.5-5.0625 -> -0.714286
    assert r["assortativity"] == round(-0.3125 / 0.4375, 6)
