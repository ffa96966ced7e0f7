"""MemoryEngine facade: query lifecycle, cache, search ranking, command
router, rating mutation, connected components."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from memory_engine_spark.engine import MemoryEngine
from memory_engine_spark.operators.components import (
    cluster_density, connected_components,
)
from memory_engine_spark.plans.query_spec import QuerySpec
from memory_engine_spark.session import EngineSession


@pytest.fixture(scope="module")
def engine(spark):
    s = EngineSession(spark)
    nodes = spark.createDataFrame(
        [("n1", "spark joins data fast", "web", 1000.0, 0.9, 0.8, 0.5, "a,b"),
         ("n2", "python pandas slow loops", "web", 2000.0, 0.2, 0.3, 0.5, "b"),
         ("n3", "spark streaming windows", "book", 3000.0, 0.7, 0.9, 0.6, "c"),
         ("n4", "unrelated gardening topic", "book", 4000.0, 0.5, 0.5, 0.5, "")],
        "node_id string, content string, source string, creation_timestamp double, "
        "rating_richness double, rating_truthfulness double, rating_stability double, "
        "tags string")
    edges = spark.createDataFrame(
        [("n1", "n2", "RELATED", 0.5), ("n2", "n3", "RELATED", 0.6),
         ("n4", "n4x", "RELATED", 0.9)],
        "from_id string, to_id string, relation_type string, confidence_score double")
    s.register("nodes", nodes)
    s.register("edges", edges)
    return MemoryEngine(s)


def test_query_lifecycle_and_pagination(engine):
    spec = (QuerySpec("nodes").filter("source", "eq", "web")
            .sort("creation_timestamp", ascending=False).page(0, 1))
    resp = engine.query(spec, use_cache=False)
    assert resp.total_count == 2 and resp.has_more and resp.next_offset == 1
    assert resp.results[0]["node_id"] == "n2"
    assert any("executed" in s for s in resp.explanation)


def test_query_cache_roundtrip(engine):
    spec = QuerySpec("nodes").filter("source", "eq", "book").sort("node_id")
    r1 = engine.query(spec)
    r2 = engine.query(QuerySpec("nodes").filter("source", "eq", "book")
                      .sort("node_id"))
    assert not r1.from_cache and r2.from_cache
    assert [x["node_id"] for x in r2.results] == [x["node_id"] for x in r1.results]


def test_search_ranks_relevant_first(engine):
    resp = engine.search("spark data joins", entity="nodes", limit=3)
    ids = [r["node_id"] for r in resp.results]
    # n1: high overlap + quality; n3: one shared word; n4: quality only
    assert ids == ["n1", "n3", "n4"]
    assert all("combined_score" in r for r in resp.results)
    scores = [r["combined_score"] for r in resp.results]
    assert scores == sorted(scores, reverse=True)


def test_command_router(engine):
    ok = engine.execute_command({"action": "get_node", "node_id": "n1"})
    assert ok["status"] == "ok" and ok["node"]["content"].startswith("spark")
    missing = engine.execute_command({"action": "get_node", "node_id": "zz"})
    assert missing["status"] == "error"
    bad = engine.execute_command({"action": "nope"})
    assert bad["status"] == "error"
    no_param = engine.execute_command({"action": "get_node"})
    assert no_param["status"] == "error" and "missing parameter" in no_param["error"]
    lst = engine.execute_command({"action": "list_nodes", "limit": 2})
    assert lst["status"] == "ok" and len(lst["nodes"]) == 2 and lst["total"] == 4
    q = engine.execute_command({
        "action": "query", "entity": "nodes",
        "filters": [{"field": "content", "op": "contains", "value": "spark"}],
        "sorts": [{"field": "node_id"}]})
    assert [r["node_id"] for r in q["results"]] == ["n1", "n3"]
    nb = engine.execute_command({"action": "neighbors", "node_ids": ["n2"]})
    assert {x["neighbor_id"] for x in nb["neighbors"]} == {"n1", "n3"}
    tr = engine.execute_command({"action": "traverse", "node_ids": ["n1"],
                                 "max_depth": 2})
    assert {x["node_id"] for x in tr["nodes"]} == {"n1", "n2", "n3"}


def test_update_rating_formula(engine):
    engine.update_rating("n2", confirmation=1.0, contradiction=0.0,
                         richness_factor=0.5)
    row = engine.s.table("nodes").filter("node_id = 'n2'").collect()[0]
    assert abs(row["rating_truthfulness"] - 0.5) < 1e-9   # 0.3 + 0.2
    assert abs(row["rating_richness"] - 0.3) < 1e-9       # 0.2 + 0.1


def test_search_diversity_filter(spark):
    s = EngineSession(spark)
    nodes = spark.createDataFrame(
        [("d1", "alpha beta gamma delta", "w", 1.0, 0.9, 0.9, 0.9, ""),
         ("d2", "alpha beta gamma delta extra", "w", 1.0, 0.9, 0.9, 0.9, ""),
         ("d3", "totally different words here", "w", 1.0, 0.9, 0.9, 0.9, "")],
        "node_id string, content string, source string, creation_timestamp double, "
        "rating_richness double, rating_truthfulness double, rating_stability double, "
        "tags string")
    s.register("nodes", nodes)
    eng = MemoryEngine(s)
    resp = eng.search("alpha beta gamma", limit=3, diversity_filter=True)
    ids = [r["node_id"] for r in resp.results]
    assert "d1" in ids and "d3" in ids
    assert "d2" not in ids  # near-duplicate of d1 dropped by greedy MMR


def test_aggregate_composite_key_path(spark):
    from memory_engine_spark.operators.aggregates import Aggregation, aggregate
    df = spark.createDataFrame([("a", "x", 1.0), ("a", None, 2.0), ("b", "x", 3.0)],
                               "g1 string, g2 string, v double")
    out = aggregate(df, [Aggregation("sum", "v", "s")], group_by=["g1", "g2"],
                    composite_key=True)
    got = {r["group_key"]: r["s"] for r in out.collect()}
    assert got == {"a|x": 1.0, "a|null": 2.0, "b|x": 3.0}


def test_search_custom_weights_and_freshness(engine):
    # crank relevance weight to 1-ish: order must follow pure relevance
    resp = engine.search("spark joins data", limit=4,
                         custom_weights={"relevance": 1.0, "quality": 0.0,
                                         "relationships": 0.0})
    ids = [r["node_id"] for r in resp.results]
    assert ids[0] == "n1"
    # freshness activates with now_ts; newest node gets the 1.0 step
    resp2 = engine.search("spark", limit=4, now_ts=4000.0)
    assert any("freshness" not in r for r in resp2.results)  # column not leaked
    assert resp2.results  # ranked fine with 4 criteria


def test_stream_query_chunks(engine):
    spec = QuerySpec("nodes").sort("node_id")
    chunks = list(engine.stream_query(spec, chunk_size=3))
    assert len(chunks) == 2
    assert len(chunks[0]["rows"]) == 3 and not chunks[0]["done"]
    assert len(chunks[1]["rows"]) == 1 and chunks[1]["done"]
    assert chunks[1]["progress"] == 1.0
    ids = [r["node_id"] for c in chunks for r in c["rows"]]
    assert ids == sorted(ids)


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b", "r"), ("b", "c", "r"), ("d", "e", "r"), ("f", "g", "r"),
         ("g", "h", "r"), ("h", "f", "r")],
        "from_id string, to_id string, relation_type string")
    labels = {r["node_id"]: r["component"] for r in
              connected_components(edges).collect()}
    assert labels["a"] == labels["b"] == labels["c"] == "a"
    assert labels["d"] == labels["e"] == "d"
    assert labels["f"] == labels["g"] == labels["h"] == "f"
    dens = {r["component"]: r for r in
            cluster_density(edges, connected_components(edges)).collect()}
    assert dens["f"]["density"] == 1.0   # triangle: 3 edges / 3 possible
    assert dens["a"]["n_nodes"] == 3 and abs(dens["a"]["density"] - 2/3) < 1e-6


def test_concurrent_engines_multi_tenant(spark, tmp_path):
    """r10 verdict item 6 — the multi-tenant shape a shared cluster
    sees: TWO full MemoryEngine sessions (each with its own registered
    tables, query cache, checkpoint traffic, and a streaming
    subscriber) run CONCURRENTLY against the same SparkSession. Both
    engines issue byte-identical query payloads — so their cache KEYS
    collide by construction — and each carries a marker string in its
    data: any cross-session cache pollution, temp-view clobbering, or
    checkpoint-free race surfaces as the other tenant's marker (or a
    mismatch vs the solo baseline) in the results."""
    import threading

    from memory_engine_spark.streaming.events import EventBus, Subscriber

    def build(tag: str) -> MemoryEngine:
        s = EngineSession(spark)
        rows = [(f"{tag}{i}",
                 f"spark data {tag} topic{i % 5} engine pipelines",
                 "web" if i % 2 else "book",
                 1000.0 * (i + 1), 0.1 * (i % 10), 0.5, 0.5, tag)
                for i in range(40)]
        nodes = spark.createDataFrame(
            rows, "node_id string, content string, source string, "
                  "creation_timestamp double, rating_richness double, "
                  "rating_truthfulness double, rating_stability double, "
                  "tags string")
        edges = spark.createDataFrame(
            [(f"{tag}{i}", f"{tag}{(i * 7) % 40}", "RELATED", 0.5)
             for i in range(40)],
            "from_id string, to_id string, relation_type string, "
            "confidence_score double")
        s.register("nodes", nodes)
        s.register("edges", edges)
        return MemoryEngine(s)

    def suite(eng: MemoryEngine, tag: str, bus_root: str) -> dict:
        out: dict = {}
        spec = (QuerySpec("nodes").filter("source", "eq", "web")
                .sort("creation_timestamp", ascending=False).page(0, 5))
        r1 = eng.query(spec)                    # cold → fills cache
        r2 = eng.query(spec)                    # hit → MUST be own data
        out["q_rows"] = [r["node_id"] for r in r1.results]
        out["q_total"] = r1.total_count
        out["hit_rows"] = [r["node_id"] for r in r2.results]
        out["hit_from_cache"] = r2.from_cache
        s = eng.search("spark data", limit=3)
        out["search"] = [r["node_id"] for r in s.results]
        syn = eng.synthesize("balanced")
        out["synth"] = {k: v.count() for k, v in sorted(syn.items())}
        bus = EventBus(eng.s.spark, bus_root)
        import datetime as _dt
        ev = spark.createDataFrame(
            [(i, _dt.datetime(2024, 1, 1, 0, 0, i), i % 3, "click",
              float(i), tag) for i in range(10)],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string")
        bus.publish(ev.coalesce(1))
        seen: list = []
        bus.run_subscriber(
            Subscriber(f"sub_{tag}",
                       lambda df, bid: seen.append(
                           (df.count(),
                            df.agg(F.max("props")).first()[0]))),
            once=True)
        out["stream"] = sorted(x for x in seen if x[0])
        return out

    eng_a, eng_b = build("alpha"), build("beta")
    # solo baselines (fresh caches — invalidate between runs)
    solo_a = suite(eng_a, "alpha", str(tmp_path / "bus_a_solo"))
    solo_b = suite(eng_b, "beta", str(tmp_path / "bus_b_solo"))
    eng_a.s.invalidate_cache()
    eng_b.s.invalidate_cache()

    results: dict = {}
    errs: list = []

    def run(name, eng, tag):
        try:
            for rep in range(2):
                results[f"{name}{rep}"] = suite(
                    eng, tag, str(tmp_path / f"bus_{name}_{rep}"))
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errs.append((name, exc))

    ta = threading.Thread(target=run, args=("a", eng_a, "alpha"))
    tb = threading.Thread(target=run, args=("b", eng_b, "beta"))
    ta.start(); tb.start(); ta.join(120); tb.join(120)
    assert not errs, errs

    for rep in range(2):
        assert results[f"a{rep}"] == solo_a, f"tenant A diverged rep{rep}"
        assert results[f"b{rep}"] == solo_b, f"tenant B diverged rep{rep}"
    # the colliding-key cache hit stayed tenant-local
    assert all(n.startswith("alpha") for n in solo_a["hit_rows"])
    assert all(n.startswith("beta") for n in solo_b["hit_rows"])
    assert solo_a["hit_from_cache"] and solo_b["hit_from_cache"]


# -- one-job pages, driver-side response cache, single-scan rating update ----

@pytest.fixture(scope="module")
def pq_engine(spark, tmp_path_factory):
    """Engine over parquet-attached tables: ``nodes`` (12 rows, a
    ``tags`` array), ``rng`` (spark.range(1000)) and an empty table."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("pq_engine")
    pq.write_table(spark.createDataFrame(
        [(f"n{i:02d}", f"spark topic {i % 3}", ["web", "book", "blog"][i % 3],
          1000.0 * i, 0.05 * i, 0.3, 0.5, [f"t{i % 4}", "all"])
         for i in range(12)],
        "node_id string, content string, source string, creation_timestamp double, "
        "rating_richness double, rating_truthfulness double, "
        "rating_stability double, tags array<string>",
    ).toArrow(), str(d / "nodes.parquet"))
    s = EngineSession(spark)
    s.attach_dir(str(d), ["nodes"])
    s.register("rng", spark.range(1000))
    s.register("empty", spark.createDataFrame([], "id long, v double"))
    return MemoryEngine(s)


def _job_ids(spark, fn):
    """(fn's result, ids of the Spark jobs it submitted)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _web_page():
    return (QuerySpec("nodes").filter("source", "in", ["web", "blog"])
            .sort("rating_richness", ascending=False).sort("node_id").page(2, 3))


TOTAL_CASES = {
    "sorted_limit_parquet": lambda: _web_page(),
    "offset_past_end": lambda: QuerySpec("nodes").sort("node_id").page(50, 5),
    "limit_zero": lambda: QuerySpec("nodes").sort("node_id").page(0, 0),
    "filter_matches_nothing": lambda: (QuerySpec("nodes")
                                       .filter("source", "eq", "nowhere")
                                       .sort("node_id").page(0, 5)),
    # Catalyst drops a limit that cannot cut a 1000-row range, leaving a
    # global sort whose sampling pass re-reads the observed rows (a
    # descending sort: the range is already in ascending order)
    "range_limit_dropped": lambda: (QuerySpec("rng").sort("id", ascending=False)
                                    .page(995, 10)),
    "grouped_aggregate_no_limit": lambda: (QuerySpec("nodes").grouping("source")
                                           .agg("count").sort("source")),
    "grouped_aggregate_limit": lambda: (QuerySpec("nodes").grouping("source")
                                        .agg("count").sort("source").page(1, 1)),
    "no_limit_past_end": lambda: QuerySpec("nodes").sort("node_id").page(40),
    "unsorted_limit": lambda: (QuerySpec("nodes").filter("source", "eq", "web")
                               .page(0, 2)),
    "empty_input": lambda: QuerySpec("empty").sort("v").page(0, 5),
}


@pytest.mark.parametrize("case", sorted(TOTAL_CASES))
def test_query_total_count_is_exact(pq_engine, case):
    from memory_engine_spark.plans.compiler import compile_body

    spec = TOTAL_CASES[case]()
    resp = pq_engine.query(spec, use_cache=False)
    want = compile_body(pq_engine.s.table(spec.entity), spec).count()
    assert resp.total_count == want
    more = spec.limit is not None and spec.offset + spec.limit < want
    assert resp.has_more == more
    assert resp.next_offset == (spec.offset + spec.limit if more else None)
    assert len(resp.results) == max(0, min(
        want - spec.offset, want if spec.limit is None else spec.limit))


def test_search_total_count_is_exact(pq_engine):
    page = pq_engine.search("spark topic", limit=4, offset=3)
    every = pq_engine.search("spark topic", limit=None)
    assert page.total_count == every.total_count == len(every.results) == 12
    assert page.results == every.results[3:7]
    assert page.has_more and page.next_offset == 7


def test_sorted_page_query_runs_no_count_job(spark, pq_engine):
    resp, jobs = _job_ids(spark, lambda: pq_engine.query(_web_page(),
                                                         use_cache=False))
    assert len(jobs) == 1
    assert resp.total_count == 8 and len(resp.results) == 3
    # under adaptive execution: the aggregate's shuffle stage, then the page
    spec = QuerySpec("nodes").grouping("source").agg("count").sort("source").page(0, 2)
    resp, jobs = _job_ids(spark, lambda: pq_engine.query(spec, use_cache=False))
    assert len(jobs) == 2
    assert resp.total_count == 3 and len(resp.results) == 2


def test_cache_hit_runs_no_job_and_pins_nothing(spark, pq_engine):
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    spec = QuerySpec("nodes").sort("node_id").page(0, 4)
    first = pq_engine.query(spec, use_cache=True)
    assert not first.from_cache and first.results[0]["tags"] == ["t0", "all"]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    expected = [dict(r, tags=list(r["tags"])) for r in first.results]
    first.results[0]["tags"].append("changed")
    hit, jobs = _job_ids(spark, lambda: pq_engine.query(spec, use_cache=True))
    assert hit.from_cache and jobs == []
    assert hit.results == expected and hit.total_count == 12
    hit.results[0]["node_id"] = "changed"
    hit.results[1]["tags"].append("changed")
    again = pq_engine.query(spec, use_cache=True)
    assert again.from_cache and again.results == expected
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_response_cache_stays_bounded(spark, pq_engine, monkeypatch):
    from memory_engine_spark import session

    monkeypatch.setattr(session, "CACHE_MAX_ROWS", 10)
    s = EngineSession(spark)
    for i in range(100):
        s.put_cache(f"k{i}", [{"i": i}] * 3, 3)
        assert s._cache_rows <= 10
    # the newest responses fit; the oldest were dropped to make room
    assert list(s._cache) == ["k97", "k98", "k99"]
    assert s.cached("k99") == ([{"i": 99}] * 3, 3) and s.cached("k0") is None
    s.put_cache("huge", [{"i": 0}] * 11, 11)
    assert s.cached("huge") is None and s._cache_rows == 9
    # empty responses cost one row each, so their number is bounded too
    for i in range(50):
        s.put_cache(f"e{i}", [], 0)
    assert len(s._cache) == 10 and s._cache_rows == 10
    # expired entries are swept when a new one is stored
    clock = time.time() + s.cache_ttl + 1
    with monkeypatch.context() as m:
        m.setattr(time, "time", lambda: clock)
        s.put_cache("fresh", [{"i": 1}], 1)
    assert list(s._cache) == ["fresh"] and s._cache_rows == 1
    # through the engine: many distinct cached queries stay in budget
    monkeypatch.setattr(session, "CACHE_MAX_ROWS", 8)
    try:
        for off in range(12):
            pq_engine.query(QuerySpec("nodes").sort("node_id").page(off, 2))
            assert pq_engine.s._cache_rows <= 8
        assert pq_engine.query(QuerySpec("nodes").sort("node_id")
                               .page(11, 2)).from_cache
    finally:
        pq_engine.s.invalidate_cache()


def test_update_rating_keeps_one_scan(spark, tmp_path):
    from memory_engine_spark.operators.merging import (
        updated_rating, updated_truthfulness,
    )

    import pyarrow.parquet as pq

    pq.write_table(spark.createDataFrame(
        [("a", 0.3, 0.2), ("b", 0.6, 0.7)],
        "node_id string, rating_truthfulness double, rating_richness double",
    ).toArrow(), str(tmp_path / "nodes.parquet"))
    s = EngineSession(spark)
    s.attach_dir(str(tmp_path), ["nodes"])
    eng = MemoryEngine(s)
    for _ in range(5):
        merged = eng.update_rating("a", confirmation=0.5, contradiction=0.25,
                                   richness_factor=0.25)
    leaves = merged._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    assert leaves.apply(0).getClass().getSimpleName() == "LogicalRelation"
    want = spark.createDataFrame([(0.3, 0.2)], "t double, r double")
    for _ in range(5):
        want = want.select(
            updated_truthfulness(F.col("t"), F.lit(0.5), F.lit(0.25)).alias("t"),
            updated_rating(F.col("r"), F.lit(0.25)).alias("r"))
    t, r = want.first()
    got = {row["node_id"]: row for row in s.table("nodes").collect()}
    assert abs(got["a"]["rating_truthfulness"] - t) < 1e-9
    assert abs(got["a"]["rating_richness"] - r) < 1e-9
    assert (got["b"]["rating_truthfulness"], got["b"]["rating_richness"]) == (0.6, 0.7)


def test_graph_lookups_run_few_jobs_and_pin_nothing(spark, tmp_path):
    """A request-sized traverse or neighbors lookup is one filtered edge
    scan per hop: no join stages, no count action, and no persisted or
    checkpointed RDD outlives the call while its result is held."""
    import pyarrow.parquet as pq

    pq.write_table(spark.createDataFrame(
        [("g0", "g1", "R", 0.9), ("g1", "g2", "R", 0.8), ("g2", "g3", "S", 0.7),
         ("g4", "g0", "S", 0.6), ("g5", "g6", "R", 0.5)],
        "from_id string, to_id string, relation_type string, confidence_score double",
    ).toArrow(), str(tmp_path / "edges.parquet"))
    s = EngineSession(spark)
    s.attach_dir(str(tmp_path), ["edges"])
    eng = MemoryEngine(s)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()

    def run(lookup):
        df = lookup()
        return df, df.collect()

    (walk, rows), jobs = _job_ids(spark, lambda: run(lambda: eng.traverse(["g0"], 2)))
    assert len(jobs) <= 3
    assert {r["node_id"]: r["hop_distance"] for r in rows} == {
        "g0": 0, "g1": 1, "g4": 1, "g2": 2}
    assert persistent().size() == before
    (near, rows), jobs = _job_ids(spark, lambda: run(lambda: eng.neighbors(["g0", "g2"])))
    assert len(jobs) <= 2
    assert {(r["node_id"], r["neighbor_id"]) for r in rows} == {
        ("g0", "g1"), ("g0", "g4"), ("g2", "g1"), ("g2", "g3")}
    assert persistent().size() == before
    assert walk.count() == 4 and near.count() == 4
