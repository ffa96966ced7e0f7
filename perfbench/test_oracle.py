"""Each check accepts the independent answer and rejects a perturbed one.

    python3 -m pytest perfbench/test_oracle.py -q

No Spark session is started: the "program output" here is the oracle's
own answer, then the same answer with one thing changed.
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture(scope="module")
def graph(tmp_path_factory):
    d = tmp_path_factory.mktemp("serve")
    return gen.serve_graph(7, str(d), 400)


def _tables(g):
    t = g["tables"]
    return (t["nodes"].to_pydict(), t["edges"].to_pydict(), t["embeddings"])


QUERY = {"sources": ["src1", "src4", "src6"], "min_richness": 0.3,
         "sort": "rating_truthfulness", "asc": False, "offset": 20, "limit": 10,
         "fields": ["node_id", "source", "rating_richness", "rating_truthfulness"]}


def test_query_check(graph):
    import duckdb

    con = duckdb.connect()
    rows, total = oracle.duck_query(con, graph["nodes"], QUERY)
    assert len(rows) == 10 and total > 30
    assert oracle.check_rows((rows, total), (rows, total)) == []
    swapped = rows[:]
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert oracle.check_rows((swapped, total), (rows, total))
    assert oracle.check_rows((rows, total + 1), (rows, total))
    assert oracle.check_rows((rows[:-1], total), (rows, total))
    changed = copy.deepcopy(rows)
    changed[3]["rating_richness"] += 0.001
    assert oracle.check_rows((changed, total), (rows, total))


def test_aggregate_check(graph):
    import duckdb

    con = duckdb.connect()
    want = oracle.duck_aggregate(con, graph["nodes"], {"min_stability": 0.25})
    assert want[1] == len(gen.SOURCES)
    close = copy.deepcopy(want)
    close[0][2]["avg_rating_richness"] *= 1 + 1e-12
    assert oracle.check_rows(close, want, rel_tol=1e-9) == []
    off = copy.deepcopy(want)
    off[0][2]["avg_rating_richness"] *= 1 + 1e-6
    assert oracle.check_rows(off, want, rel_tol=1e-9)
    count = copy.deepcopy(want)
    count[0][5]["count"] += 1
    assert oracle.check_rows(count, want, rel_tol=1e-9)


def test_search_check(graph):
    nodes, edges, _ = _tables(graph)
    degree: dict = {}
    for a in edges["from_id"] + edges["to_id"]:
        degree[a] = degree.get(a, 0) + 1
    s = oracle.SearchOracle(nodes, degree)
    text = " ".join(graph["vocab"][:3])
    page, total = s.page(text, 0, 10)
    assert total == 400 and len(page) == 10
    assert all(a[1] >= b[1] for a, b in zip(page, page[1:]))
    assert oracle.check_search((page, total), (page, total)) == []
    bumped = [(i, v + 2e-6) if k == 4 else (i, v) for k, (i, v) in enumerate(page)]
    assert oracle.check_search((bumped, total), (page, total))
    assert oracle.check_search((page[::-1], total), (page, total))
    assert oracle.check_search((page, total - 1), (page, total))


def test_topk_check(graph):
    _, _, emb = _tables(graph)
    ids = emb.column("node_id").to_pylist()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    q = [float(x) for x in graph["centers"][0]]
    want = oracle.topk_cosine(ids, vecs, q, 20)
    got = list(want[0])
    assert oracle.check_topk(got, want, 20) == []
    outsider = next(i for i in ids if i not in {x for x, _ in got})
    wrong = got[:5] + [(outsider, got[5][1])] + got[6:]
    assert oracle.check_topk(wrong, want, 20)
    assert oracle.check_topk(got[:19], want, 20)
    shifted = got[:7] + [(got[7][0], got[7][1] - 1e-5)] + got[8:]
    assert oracle.check_topk(shifted, want, 20)
    # two ids whose scores tie within 1e-6 may come in either order
    tied_ids = ["a", "b", "c"]
    tied = np.array([[1, 0], [1, 1e-9], [0, 1]], dtype=np.float32)
    w = oracle.topk_cosine(tied_ids, tied, [1.0, 0.0], 2)
    assert oracle.check_topk([("b", w[0][0][1]), ("a", w[0][1][1])], w, 2) == []


def test_neighbors_and_bfs_checks():
    g = oracle.GraphOracle(["a", "b", "c", "d"], ["b", "c", "d", "a"],
                           ["R", "S", "R", "S"])
    assert g.neighbors(["a"]) == {("a", "b", "R"), ("a", "d", "S")}
    assert g.neighbors(["a"], "R") == {("a", "b", "R")}
    assert g.bfs(["a"], 2) == {"a": 0, "b": 1, "d": 1, "c": 2}
    assert oracle.check_equal("n", g.neighbors(["a"]), g.neighbors(["a"])) == []
    assert oracle.check_equal("n", g.neighbors(["a"]) | {("a", "c", "R")},
                              g.neighbors(["a"]))
    assert oracle.check_equal("t", {"a": 0, "b": 1, "d": 1, "c": 1},
                              g.bfs(["a"], 2))


def test_ingest_checks():
    docs = ["first sentence kalomi tesavo. another kalomi sentence here zipa! x.",
            "the first sentence kalomi tesavo again.\nlast line of a document"]
    units = oracle.batch_units(docs)
    assert "x" not in units.values()
    assert set(units) == {oracle.node_id(u) for d in docs for u in oracle.units_of(d)}
    assert oracle.node_id("abc") == "node_900150983cd24fb0d6963f7d28e17f72"
    assert oracle.unit_tags("Alpha beta gamma alpha delta epsilon zeta eta") == \
        ["alpha", "beta", "gamma", "delta", "epsilon"]
    good = [np.ones(64, np.float32) / 8.0] * 3
    assert oracle.check_embeddings(good, 64) == []
    assert oracle.check_embeddings(good + [np.ones(63) / np.sqrt(63)], 64)
    assert oracle.check_embeddings(good + [np.ones(64) * 0.2], 64)
    tags = {"n1": ["aaaa", "bbbb"], "n2": ["aaaa", "bbbb", "cccc"],
            "n3": ["dddd"], "n4": ["aaaa", "eeee", "ffff", "gggg"]}
    edges = oracle.tag_jaccard_edges(tags)
    assert edges == {("n1", "n2"): 0.666667}
    assert oracle.check_edges(edges, edges) == []
    assert oracle.check_edges({}, edges)
    assert oracle.check_edges({("n1", "n2"): 0.666, }, edges)
    assert oracle.check_edges(edges | {("n1", "n4"): 0.2}, edges)


@pytest.fixture(scope="module")
def analytics(tmp_path_factory):
    d = tmp_path_factory.mktemp("analytics")
    import pyarrow.parquet as pq

    inp = gen.analytics_inputs(5, str(d), 300, 80, 6)
    e = pq.read_table(inp["edges"])
    docs = pq.read_table(inp["docs"]).to_pydict()
    return (e.column("from_id").to_numpy(), e.column("to_id").to_numpy(),
            docs, inp["planted"])


def test_pagerank_check(analytics):
    src, dst, _, _ = analytics
    want = oracle.pagerank(src, dst, 10)
    assert abs(sum(want.values()) - 1.0) < 1e-12
    assert oracle.check_pagerank(dict(want), want) == []
    off = dict(want)
    k = next(iter(off))
    off[k] += 1e-8
    assert oracle.check_pagerank(off, want)
    missing = dict(want)
    missing.pop(k)
    assert oracle.check_pagerank(missing, want)


def test_components_kcore_triangles_checks(analytics):
    src, dst, _, _ = analytics
    comp = oracle.components(src, dst)
    assert all(v <= k for k, v in comp.items())
    assert oracle.components(np.array([3, 5, 9]), np.array([4, 6, 5])) == \
        {3: 3, 4: 3, 5: 5, 6: 5, 9: 5}
    bad = dict(comp)
    bad[max(bad)] = -1
    assert oracle.check_equal("components", bad, comp)
    core = oracle.k_core(src, dst, 3, 10)
    assert core and min(core.values()) >= 3
    # a 4-clique plus a pendant: the pendant peels in round one
    s4, d4 = np.array([1, 1, 1, 2, 2, 3, 4]), np.array([2, 3, 4, 3, 4, 4, 5])
    assert oracle.k_core(s4, d4, 3, 2) == {1: 3, 2: 3, 3: 3, 4: 3}
    assert oracle.check_equal("k-core", {**core, -5: 3}, core)
    tri = oracle.triangles(s4, d4)
    assert tri == (4, 15)
    ok = (4, 15, 0.8)
    assert oracle.check_triangles(ok, tri) == []
    assert oracle.check_triangles((5, 15, ok[2]), tri)
    assert oracle.check_triangles((4, 14, ok[2]), tri)


def test_neardup_check(analytics):
    _, _, docs, planted = analytics
    sh = {i: oracle.shingles(t) for i, t in zip(docs["doc_id"], docs["text"])}
    got = []
    for a, b in planted:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        assert j >= 0.7
        got.append((min(a, b), max(a, b), oracle.round6(j)))
    assert oracle.check_neardup(got, sh, planted, 0.7) == []
    assert oracle.check_neardup(got[1:], sh, planted, 0.7)
    wrong = [(got[0][0], got[0][1], got[0][2] - 0.01)] + got[1:]
    assert oracle.check_neardup(wrong, sh, planted, 0.7)
    far = (0, 1, oracle.round6(len(sh[0] & sh[1]) / len(sh[0] | sh[1])))
    assert oracle.check_neardup(got + [far], sh, planted, 0.7)
    assert oracle.check_neardup(got + [got[0]], sh, planted, 0.7)
