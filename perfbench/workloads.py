"""The three workloads. Each one generates its inputs from the seed,
warms up on a small slice of them, runs whole rounds of the same
operations until the run time is spent, then checks every recorded
output against ``oracle``.

A workload keeps the outputs of its timed calls and checks them after
the timed section, so the checks cost no measured time.

Every workload reports the same metrics, taken over its timed
operations: an operation is one span, that is one request (serve), one
step of a batch (ingest) or one job (analytics).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle


def warm_up(fn, names) -> None:
    """Call ``fn`` once per name, all at once on a thread each: the
    first calls are dominated by JIT and code generation, which the
    JVM then does in parallel."""
    with ThreadPoolExecutor(len(names)) as pool:
        for f in [pool.submit(fn, n) for n in names]:
            f.result()


END_TO_END = {"ops_per_s": "1/s", "op_geomean_ms": "ms"}
# Span counters reported as a mean per operation (see spans.Tracer).
COUNTERS = ("jobs", "tasks", "plan_ms", "driver_ms", "stage_ms",
            "executor_cpu_ms", "shuffle_bytes", "spill_bytes")
PER_LAYER = {f"{c}_per_op": ("ms" if c.endswith("ms") else
                             "B" if c.endswith("bytes") else "count")
             for c in COUNTERS} | {
    "jvm_gc_ms_per_op": "ms", "persisted_rdds_end": "count",
    "host_throttle_ratio": "ratio"}


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = np.random.default_rng([seed, 100])
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def timed(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` of measured time are spent."""
        self.tracer.reset()
        self.round_s: list[float] = []
        self.unmeasured_s = 0.0
        while sum(self.round_s) < seconds:
            t0 = time.perf_counter()
            self.round(len(self.round_s))
            self.round_s.append(time.perf_counter() - t0 - self.unmeasured_s)
            self.unmeasured_s = 0.0

    unmeasured_s = 0.0

    def fail(self, op: str, errs: list[str]) -> int:
        if errs:
            self.errors.append(f"{op}: " + "; ".join(errs))
        return int(bool(errs))

    def end_to_end(self) -> dict:
        """Operations per second of their summed wall time, which the
        slow types dominate, and the geometric mean of their wall times,
        which weighs a 50 ms cache hit and a 2 s search alike."""
        ms = [w for _, w in self.tracer.walls]
        return {"ops_per_s": len(ms) / (sum(ms) / 1e3),
                "op_geomean_ms": math.exp(statistics.fmean(map(math.log, ms)))}

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        return {f"{c}_per_op": statistics.fmean(s[c] for s in spans)
                for c in COUNTERS}

    def op_medians(self) -> dict:
        """Median wall time of each operation type, for the log."""
        by: dict[str, list[float]] = {}
        for name, ms in self.tracer.walls:
            by.setdefault(name, []).append(ms)
        return {k: statistics.median(v) for k, v in by.items()}


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

SERVE_NODES = 10_000
SERVE_POOL = 16
OPS = ("query", "aggregate", "search", "semantic", "neighbors", "traverse",
       "cached_query")
# Requests of each type in one round: every type twice, and the cheap
# ones four times. A round takes 11-16 s on a 4 vCPU host.
PER_ROUND = {"query": 4, "aggregate": 2, "search": 2, "semantic": 4,
             "neighbors": 2, "traverse": 2, "cached_query": 4}
QUERY_FIELDS = ["node_id", "source", "rating_richness", "rating_truthfulness",
                "rating_stability", "creation_timestamp"]


class Serve(Workload):
    name = "serve"

    def generate(self) -> None:
        self.inputs = gen.serve_graph(self.seed, os.path.join(self.work, "serve"),
                                      SERVE_NODES)
        nodes = pq.read_table(self.inputs["nodes"])
        self.ids = nodes.column("node_id").to_pylist()
        rng = self.rng
        hot = self.inputs["vocab"][:200]
        srcs = gen.SOURCES
        self.pool = {
            "query": [{
                "sources": sorted(rng.choice(srcs, int(rng.integers(2, 5)),
                                             replace=False).tolist()),
                "min_richness": round(float(rng.choice(np.arange(0.1, 0.7, 0.05))), 2),
                "sort": str(rng.choice(["rating_truthfulness", "creation_timestamp",
                                        "rating_stability"])),
                "asc": bool(rng.integers(0, 2)),
                "offset": int(rng.integers(0, 10)) * 20, "limit": 20,
                "fields": QUERY_FIELDS} for _ in range(SERVE_POOL)],
            "aggregate": [{"min_stability": round(float(rng.uniform(0.0, 0.6)), 2)}
                          for _ in range(SERVE_POOL)],
            "search": [{"text": " ".join(rng.choice(hot, int(rng.integers(2, 4)),
                                                    replace=False)),
                        "offset": int(rng.integers(0, 2)) * 10, "limit": 10}
                       for _ in range(SERVE_POOL)],
            "semantic": [{"vec": self._query_vec(rng), "k": 20}
                         for _ in range(SERVE_POOL)],
            "neighbors": [{"ids": rng.choice(self.ids, int(rng.integers(1, 4)),
                                             replace=False).tolist(),
                           "relation": (None if rng.integers(0, 2) else
                                        str(rng.choice(gen.RELATIONS)))}
                          for _ in range(SERVE_POOL)],
            "traverse": [{"start": str(rng.choice(self.ids)), "depth": 2}
                         for _ in range(SERVE_POOL)],
        }
        self.cached_spec = self.pool["query"][0] | {"offset": 0}
        one_round = [op for op in OPS for _ in range(PER_ROUND[op])]
        self.order = [list(rng.permutation(one_round)) for _ in range(SERVE_POOL)]
        self.outputs: list[tuple[str, dict, object]] = []

    def _query_vec(self, rng) -> list[float]:
        c = self.inputs["centers"][int(rng.integers(0, gen.EMB_CLUSTERS))]
        v = c + 0.3 * rng.standard_normal(gen.EMB_DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    # -- engine calls --------------------------------------------------------
    def _spec(self, p: dict):
        from memory_engine_spark.plans.query_spec import QuerySpec

        spec = (QuerySpec("nodes").filter("source", "in", p["sources"])
                .filter("rating_richness", "gte", p["min_richness"])
                .sort(p["sort"], p["asc"]).sort("node_id")
                .page(p["offset"], p["limit"]))
        return spec.select(*p["fields"])

    def call(self, engine, op: str, p: dict):
        from memory_engine_spark.operators import similarity
        from memory_engine_spark.plans.query_spec import QuerySpec

        if op == "query":
            r = engine.query(self._spec(p), use_cache=False)
            return r.results, r.total_count
        if op == "cached_query":
            r = engine.query(self._spec(p), use_cache=True)
            return r.results, r.total_count, r.from_cache
        if op == "aggregate":
            spec = (QuerySpec("nodes").filter("rating_stability", "gte",
                                              p["min_stability"])
                    .grouping("source").agg("count").agg("avg", "rating_richness")
                    .agg("max", "rating_truthfulness").sort("source"))
            r = engine.query(spec, use_cache=False)
            return r.results, r.total_count
        if op == "search":
            r = engine.search(p["text"], limit=p["limit"], offset=p["offset"])
            return [(x["node_id"], x["combined_score"]) for x in r.results], \
                r.total_count
        if op == "semantic":
            rows = similarity.topk_brute(engine.s.table("embeddings"), p["vec"],
                                         k=p["k"]).collect()
            return [(r["node_id"], r["score"]) for r in rows]
        if op == "neighbors":
            rows = engine.neighbors(p["ids"], p["relation"]).collect()
            return {(r["node_id"], r["neighbor_id"], r["relation_type"]) for r in rows}
        if op == "traverse":
            rows = engine.traverse([p["start"]], p["depth"]).collect()
            return {r["node_id"]: r["hop_distance"] for r in rows}
        raise ValueError(op)

    def _engine(self, directory: str):
        from memory_engine_spark.engine import MemoryEngine
        from memory_engine_spark.session import EngineSession

        s = EngineSession(self.spark)
        s.attach_dir(directory, ["nodes", "edges", "embeddings"])
        return MemoryEngine(s)

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.engine = self._engine(os.path.dirname(self.inputs["nodes"]))
        # Warm up on the full graph: a warm-up on a 1,000-node slice left
        # the first timed round 1.2-1.4x slower than the second.
        warm_up(lambda op: self.call(self.engine, op, self.cached_spec
                                     if op == "cached_query" else self.pool[op][-1]),
                OPS)
        self.engine.s.invalidate_cache()
        for _ in range(2):   # first call fills the cache, second reads it
            self.call(self.engine, "cached_query", self.cached_spec)

    def round(self, r: int) -> None:
        seen: dict[str, int] = {}
        for op in self.order[r % SERVE_POOL]:
            k = seen[op] = seen.get(op, -1) + 1
            p = (self.cached_spec if op == "cached_query"
                 else self.pool[op][(r * PER_ROUND[op] + k) % SERVE_POOL])
            with self.tracer.span(op, request=len(self.outputs)):
                out = self.call(self.engine, op, p)
            self.outputs.append((op, p, out))

    # -- checks --------------------------------------------------------------
    def check(self) -> None:
        import duckdb

        nodes = pq.read_table(self.inputs["nodes"]).to_pydict()
        edges = pq.read_table(self.inputs["edges"]).to_pydict()
        emb = pq.read_table(self.inputs["embeddings"])
        degree: dict = {}
        for a in edges["from_id"] + edges["to_id"]:
            degree[a] = degree.get(a, 0) + 1
        search = oracle.SearchOracle(nodes, degree)
        graph = oracle.GraphOracle(edges["from_id"], edges["to_id"],
                                   edges["relation_type"])
        vec_ids = emb.column("node_id").to_pylist()
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
        con = duckdb.connect()
        path = self.inputs["nodes"]
        want_cache: dict = {}

        def want(op, p):
            key = (op, repr(p))
            if key not in want_cache:
                if op in ("query", "cached_query"):
                    want_cache[key] = oracle.duck_query(con, path, p)
                elif op == "aggregate":
                    want_cache[key] = oracle.duck_aggregate(con, path, p)
                elif op == "search":
                    want_cache[key] = search.page(p["text"], p["offset"], p["limit"])
                elif op == "semantic":
                    want_cache[key] = oracle.topk_cosine(vec_ids, vecs, p["vec"], p["k"])
                elif op == "neighbors":
                    want_cache[key] = graph.neighbors(p["ids"], p["relation"])
                elif op == "traverse":
                    want_cache[key] = graph.bfs([p["start"]], p["depth"])
            return want_cache[key]

        failed = 0
        for op, p, out in self.outputs:
            w = want(op, p)
            if op == "query":
                errs = oracle.check_rows(out, w)
            elif op == "cached_query":
                errs = oracle.check_rows(out[:2], w)
                if not out[2]:
                    errs.append("not served from the session cache")
            elif op == "aggregate":
                errs = oracle.check_rows(out, w, rel_tol=1e-9)
            elif op == "search":
                errs = oracle.check_search(out, w)
            elif op == "semantic":
                errs = oracle.check_topk(out, w, p["k"])
            else:
                errs = oracle.check_equal(op, out, w)
            failed += self.fail(op, errs)
        con.close()
        self.attempted, self.failed = len(self.outputs), failed


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

INGEST_BATCH_DOCS = 800
INGEST_ROUND_BATCHES = 3     # a round takes 11-15 s on a 4 vCPU host
INGEST_WARM_DOCS = 200
INGEST_WARM_BATCHES = 2
INGEST_DIM = 64


class Ingest(Workload):
    name = "ingest"

    def generate(self) -> None:
        self.docs = gen.DocStream(self.seed, os.path.join(self.work, "docs"))
        self.store = os.path.join(self.work, "store")
        self.ids: set[str] = set()

    def setup(self, spark, tracer) -> None:
        """The warm-up is two small batches: the initial load (batch 0,
        no upsert) and an upsert into it, so every step, ``upsert``
        included, has run once before the timed batches."""
        self.spark, self.tracer = spark, tracer
        for b in range(INGEST_WARM_BATCHES):
            self._ingest(b, INGEST_WARM_DOCS)

    def _batch(self, path: str, store: str, b: int) -> dict:
        """One batch: extract → nodes → embed → similar_tags → upsert,
        writing the batch's edges and the next version of the node
        table. Each step is one operation. Returns what the check needs."""
        from memory_engine_spark.operators import discovery, ingestion, merging

        spark, span = self.spark, self.tracer.span
        rec: dict = {"batch": b}
        docs = spark.read.parquet(path)
        with span("extract", request=b):
            units = ingestion.extract_units(docs, "text", "source").persist()
            units.count()
        with span("embed", request=b):
            nodes = ingestion.embed_column(ingestion.units_to_nodes(units),
                                           "content", dim=INGEST_DIM).persist()
            rec["nodes"] = nodes.count()
        edges_dir = os.path.join(store, "edges", f"batch{b:04d}")
        with span("discover", request=b):
            discovery.similar_tags(nodes, "tags", "node_id").write.parquet(edges_dir)
        version = os.path.join(store, f"nodes_v{b:04d}")
        prev = os.path.join(store, f"nodes_v{b - 1:04d}")
        with span("upsert_write", request=b):
            merged = (merging.upsert(spark.read.parquet(prev), nodes, "node_id")
                      if b else nodes)
            merged.write.parquet(version)
        units.unpersist()
        nodes.unpersist()
        if b:
            shutil.rmtree(prev)
        rec["edges_dir"], rec["version"] = edges_dir, version
        return rec

    def round(self, r: int) -> None:
        first = INGEST_WARM_BATCHES + r * INGEST_ROUND_BATCHES
        for b in range(first, first + INGEST_ROUND_BATCHES):
            self._ingest(b, INGEST_BATCH_DOCS)

    def _ingest(self, b: int, n_docs: int) -> None:
        t0 = time.perf_counter()
        path = self.docs.batch(b, n_docs)
        texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        self.unmeasured_s += time.perf_counter() - t0
        rec = self._batch(path, self.store, b)
        t0 = time.perf_counter()
        self._check_batch(rec, texts)
        self.unmeasured_s += time.perf_counter() - t0

    def _check_batch(self, rec: dict, texts: list[str]) -> None:
        """Checked as each batch lands: ids, embeddings, tag edges and
        the union count of the written node table."""
        self.attempted += 1
        want = oracle.batch_units(texts)
        table = pq.read_table(rec["version"])
        ids = table.column("node_id").to_pylist()
        errs = oracle.check_equal("node ids", set(ids), self.ids | set(want))
        if len(ids) != len(set(ids)):
            errs.append(f"{len(ids) - len(set(ids))} duplicate node rows")
        if rec["nodes"] != len(want):
            errs.append(f"batch nodes {rec['nodes']} want {len(want)}")
        new = table.filter(pc.is_in(table.column("node_id"),
                                    value_set=pa.array(list(want), pa.string())))
        errs += oracle.check_embeddings(new.column("embedding").to_pylist(),
                                        INGEST_DIM)
        tags = {i: oracle.unit_tags(c) for i, c in want.items()}
        edges = pq.read_table(rec["edges_dir"]).to_pydict()
        got = dict(zip(zip(edges["a"], edges["b"]), edges["confidence"]))
        errs += oracle.check_edges(got, oracle.tag_jaccard_edges(tags))
        if set(edges["relation_type"]) - {"SIMILAR_TAGS"}:
            errs.append("relation types other than SIMILAR_TAGS")
        self.ids = set(ids)
        self.failed += self.fail(f"batch {rec['batch']}", errs)

    def check(self) -> None:
        """Each batch was checked as it landed."""


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

ANALYTICS_NODES = 6_000
ANALYTICS_DOCS = 600
ANALYTICS_PLANTED = 30
PAGERANK_ITERS = 10
KCORE_K = 3
KCORE_ROUNDS = 3
NEARDUP_THRESHOLD = 0.7
WARM_ITERS = 3
JOBS = ("pagerank", "components", "kcore", "triangles", "neardup")


class Analytics(Workload):
    name = "analytics"

    def generate(self) -> None:
        self.inputs = gen.analytics_inputs(
            self.seed, os.path.join(self.work, "analytics"), ANALYTICS_NODES,
            ANALYTICS_DOCS, ANALYTICS_PLANTED)
        self.warm = gen.analytics_inputs(
            self.seed + 1_000_003, os.path.join(self.work, "analytics_warm"),
            ANALYTICS_NODES // 40, ANALYTICS_DOCS // 40, ANALYTICS_PLANTED // 20)
        self.outputs: list[tuple[str, object]] = []

    def call(self, job: str, edges, docs, iters: int | None = None):
        """Run one job and collect its result. ``iters`` shortens the
        fixed-round loops for warm-up."""
        from memory_engine_spark.operators import components, dedup, graph

        if job == "pagerank":
            rows = graph.pagerank(edges, n_iter=iters or PAGERANK_ITERS).collect()
            return {r["node_id"]: r["rank"] for r in rows}
        if job == "components":
            rows = components.connected_components(edges).collect()
            return {r["node_id"]: r["component"] for r in rows}
        if job == "kcore":
            rows = graph.k_core(edges, KCORE_K, n_iter=iters or KCORE_ROUNDS).collect()
            return {r["node_id"]: r["degree"] for r in rows}
        if job == "triangles":
            r = graph.triangle_count(edges).collect()[0]
            return (r["triangles"], r["wedges"], r["global_clustering"])
        if job == "neardup":
            res = dedup.minhash_neardup(docs, "text", "doc_id",
                                        threshold=NEARDUP_THRESHOLD)
            rows = res.collect()
            # The result comes back cached; releasing it keeps the next
            # round from being answered out of that cache.
            res.unpersist()
            return [(r["a"], r["b"], r["jaccard"]) for r in rows]
        raise ValueError(job)

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        we = spark.read.parquet(self.warm["edges"])
        wd = spark.read.parquet(self.warm["docs"])
        warm_up(lambda job: self.call(job, we, wd, iters=WARM_ITERS), JOBS)
        self.edges = spark.read.parquet(self.inputs["edges"])
        self.docs = spark.read.parquet(self.inputs["docs"])

    def round(self, r: int) -> None:
        for job in JOBS:
            with self.tracer.span(job, request=len(self.outputs)):
                out = self.call(job, self.edges, self.docs)
            self.outputs.append((job, out))

    def check(self) -> None:
        e = pq.read_table(self.inputs["edges"])
        src = e.column("from_id").to_numpy()
        dst = e.column("to_id").to_numpy()
        docs = pq.read_table(self.inputs["docs"]).to_pydict()
        want = {
            "pagerank": oracle.pagerank(src, dst, PAGERANK_ITERS),
            "components": oracle.components(src, dst),
            "kcore": oracle.k_core(src, dst, KCORE_K, KCORE_ROUNDS),
            "triangles": oracle.triangles(src, dst),
        }
        sh = {i: oracle.shingles(t) for i, t in zip(docs["doc_id"], docs["text"])}
        failed = 0
        for job, out in self.outputs:
            if job == "pagerank":
                errs = oracle.check_pagerank(out, want[job])
            elif job in ("components", "kcore"):
                errs = oracle.check_equal(job, out, want[job])
            elif job == "triangles":
                errs = oracle.check_triangles(out, want[job])
            else:
                errs = oracle.check_neardup(out, sh, self.inputs["planted"],
                                            NEARDUP_THRESHOLD)
            failed += self.fail(job, errs)
        self.attempted, self.failed = len(self.outputs), failed


WORKLOADS = {w.name: w for w in (Serve, Ingest, Analytics)}
