"""MemoryEngine — the user-facing facade: structured query API, search,
ingestion, analytics, MCP-style command routing.

Mirrors the reference's three entry points (SURVEY.md §3):
- AdvancedQueryEngine.query(QueryRequest)
  (/root/reference/memory_core/query/query_engine.py:88-253): cache
  probe → (NL parse) → optimize → execute → filter → rank → paginate →
  aggregate → respond with explanation.
- GraphQL-like QuerySpec processor
  (/root/reference/memory_core/orchestrator/query_language.py:343-466).
- MCP command router
  (/root/reference/memory_core/mcp_integration/mcp_endpoint.py:329-390):
  actions ingest_text / get_node / search / update_rating / list_nodes
  plus the enhanced analytics actions (enhanced_mcp_endpoint.py:1595-1705).

The whole lifecycle stays ONE lazy DataFrame plan until materialization;
"optimize" is Catalyst plus the reference's two semantic rewrites
(threshold clamp, depth clamp — plans/compiler.py). The explanation is
the reference's step trace + Spark's own formatted plan.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memory_engine_spark.operators import graph
from memory_engine_spark.operators.merging import (
    updated_rating, updated_truthfulness,
)
from memory_engine_spark.operators.ranking import (
    combined_score, greedy_diversity_filter, quality_rating_score, relevance_score,
)
from memory_engine_spark.operators.sorting import collect_page, slice_rows
from memory_engine_spark.plans.compiler import (
    clamp_depth, clamp_similarity_threshold, compile_body, compile_page,
    compile_query,
)
from memory_engine_spark.plans.query_spec import QuerySpec
from memory_engine_spark.session import EngineSession

NODE_FIELDS = ["node_id", "content", "source", "creation_timestamp",
               "rating_richness", "rating_truthfulness", "rating_stability",
               "tags"]


@dataclass
class QueryResponse:
    """query_types.py:238-269 shape."""

    results: list[dict]
    total_count: int
    offset: int
    limit: int | None
    explanation: list[str] = field(default_factory=list)
    from_cache: bool = False

    @property
    def has_more(self) -> bool:
        return self.limit is not None and self.offset + self.limit < self.total_count

    @property
    def next_offset(self) -> int | None:
        return self.offset + self.limit if self.has_more else None


class MemoryEngine:
    """Facade over an EngineSession with registered core tables
    (``nodes``, ``edges``, ``embeddings``, …)."""

    def __init__(self, session: EngineSession):
        self.s = session

    # -- GraphQL-like structured query (query_language.py:343-466) ----------
    def query(self, spec: QuerySpec, use_cache: bool = True,
              explain: bool = False) -> QueryResponse:
        steps = [f"entity={spec.entity}"]
        key = self.s.cache_key({
            "entity": spec.entity,
            "filters": [(f.field, f.op, str(f.value)) for f in spec.filters],
            "sorts": [(x.field, x.ascending) for x in spec.sorts],
            "limit": spec.limit, "offset": spec.offset,
            "include": spec.include_fields, "group": spec.group_by,
            "aggs": [(a.op, a.field) for a in spec.aggregations],
        })
        hit = self.s.cached(key) if use_cache else None
        if hit is not None:
            rows, total = hit
            return QueryResponse(rows, total, spec.offset, spec.limit,
                                 ["cache hit"], from_cache=True)

        t0 = time.time()
        body = compile_body(self.s.table(spec.entity), spec)
        steps.append(f"filters={len(spec.filters)} sorts={len(spec.sorts)}")
        page = collect_page(body, lambda d: compile_page(d, spec),
                            spec.offset, spec.limit)
        rows = [r.asDict(recursive=True) for r in page.rows]
        steps.append(f"executed in {time.time() - t0:.3f}s; total={page.total_count}")
        if explain:
            # query_explainer.py analogue: step trace + the real physical
            # plan Catalyst chose
            steps.append(page.df._jdf.queryExecution().executedPlan().toString())
        if use_cache:
            self.s.put_cache(key, rows, page.total_count)
        return QueryResponse(rows, page.total_count, spec.offset, spec.limit, steps)

    # -- ranked search (query_engine.py:334-447 + result_ranker) -------------
    def search(self, query_text: str, entity: str = "nodes",
               text_col: str = "content", limit: int = 10, offset: int = 0,
               similarity_threshold: float = 0.7,
               diversity_filter: bool = False,
               custom_weights: dict[str, float] | None = None,
               now_ts: float | None = None) -> QueryResponse:
        """Text search → multi-criteria rank → paginate. The reference's
        semantic path swaps word-relevance for embedding similarity at
        the same seam (operators/similarity.topk_brute).

        Criteria activate on available columns/tables, mirroring
        result_ranker.py: relevance (always), quality (rating columns),
        freshness (timestamp + now_ts), relationship-count (edges table
        registered). ``custom_weights`` overrides per request
        (result_ranker.py:26,563-566)."""
        threshold = clamp_similarity_threshold(similarity_threshold)
        df = self.s.table(entity)
        cols = dict(df.dtypes)
        parts = {"relevance": relevance_score(F.col(text_col), query_text)}
        weights = {"relevance": 0.4}
        if "rating_richness" in cols:
            parts["quality"] = quality_rating_score(
                "rating_richness", "rating_truthfulness", "rating_stability")
            weights["quality"] = 0.3
        if now_ts is not None and "creation_timestamp" in cols:
            from memory_engine_spark.operators.ranking import freshness_score
            age_days = (F.lit(now_ts) - F.col("creation_timestamp")) / 86400.0
            parts["freshness"] = freshness_score(age_days)
            weights["freshness"] = 0.1
        if "edges" in self.s.tables and "node_id" in cols:
            # relationship-count scoring (result_ranker.py:438-457):
            # 0 edges→0.2, else 0.5+0.1·degree capped 1.0 — degree table
            # joined in, not recomputed per row
            from memory_engine_spark.operators.graph import degrees
            deg = degrees(self.s.table("edges")).select("node_id", "degree")
            df = df.join(deg, "node_id", "left").fillna(0, ["degree"])
            parts["relationships"] = (
                F.when(F.col("degree") == 0, 0.2)
                .otherwise(F.least(0.5 + 0.1 * F.col("degree"), F.lit(1.0))))
            weights["relationships"] = 0.1
        if custom_weights:
            weights = {k: custom_weights.get(k, v) for k, v in weights.items()}
        scored = df.withColumn("combined_score",
                               F.round(combined_score(parts, weights), 6))
        scored = scored.filter(F.col("combined_score") > 0)
        order = [F.col("combined_score").desc(), F.col(df.columns[0]).asc()]
        page = collect_page(
            scored, lambda d: slice_rows(d.orderBy(*order), offset, limit),
            offset, limit)
        rows = [r.asDict(recursive=True) for r in page.rows]
        if diversity_filter:
            rows = greedy_diversity_filter(rows, text_col)
        return QueryResponse(rows, page.total_count, offset, limit,
                             [f"search '{query_text}' threshold={threshold}"])

    def semantic_search(self, query_text: str, k: int = 50,
                        similarity_threshold: float = 0.7,
                        id_col: str = "node_id",
                        vec_col: str = "embedding") -> DataFrame:
        """SEMANTIC_SEARCH dispatch (query_engine.py:334-373): embed the
        query with the registered provider (deterministic hashed
        projection by default), exact top-k against the ``embeddings``
        table. Thresholds are clamped like the reference's optimizer
        (query_optimizer.py:235-243)."""
        from memory_engine_spark.operators.ingestion import embed_text
        from memory_engine_spark.operators.similarity import topk_brute

        emb = self.s.table("embeddings")
        dim = len(emb.select(vec_col).first()[0])
        qv = [float(x) for x in embed_text(query_text, dim)]
        threshold = clamp_similarity_threshold(similarity_threshold)
        return topk_brute(emb, qv, k=k, id_col=id_col, vec_col=vec_col,
                          threshold=threshold)

    # -- graph ops -----------------------------------------------------------
    def neighbors(self, node_ids: list[str], relation_type: str | None = None,
                  direction: str = "both") -> DataFrame:
        return graph.neighbors(self.s.table("edges"), node_ids, relation_type,
                               direction)

    def traverse(self, start_ids: list[str], max_depth: int = 2,
                 limit: int | None = None, **kw) -> DataFrame:
        depth = clamp_depth(max_depth, limit)
        return graph.k_hop(self.s.table("edges"), start_ids, depth, **kw)

    # -- mutation (mcp_endpoint update_rating; rating_system.py:61-91) --------
    def update_rating(self, node_id: str, confirmation: float = 0.0,
                      contradiction: float = 0.0, richness_factor: float = 0.0):
        """One projection over ``nodes``: the plan keeps a single scan
        however many updates are applied (an anti-join upsert re-read
        the previous plan twice per call)."""
        hit = F.col("node_id") == node_id
        truth, rich = F.col("rating_truthfulness"), F.col("rating_richness")
        merged = self.s.table("nodes").withColumns({
            "rating_truthfulness": F.when(hit, updated_truthfulness(
                truth, F.lit(confirmation), F.lit(contradiction))).otherwise(truth),
            "rating_richness": F.when(hit, updated_rating(
                rich, F.lit(richness_factor))).otherwise(rich),
        })
        self.s.register("nodes", merged)
        self.s.invalidate_cache()
        return merged

    # -- natural-language query (query_engine.py:117-136 NL path) --------------
    def nl_query(self, question: str, entity: str = "nodes",
                 text_col: str = "content", llm_parse=None) -> QueryResponse:
        """NATURAL_LANGUAGE dispatch: regex parse (plans/nlq.py, with the
        optional llm_parse provider seam) → structured query for
        aggregation/temporal/filter intents, ranked search otherwise."""
        from memory_engine_spark.plans.nlq import parse_nl_query

        parsed = parse_nl_query(question, entity, llm_parse)
        if parsed.intent in ("text_search", "semantic_search") and parsed.search_terms:
            resp = self.search(parsed.search_terms, entity=entity,
                               text_col=text_col)
        else:
            resp = self.query(parsed.spec, use_cache=False)
        resp.explanation.insert(0, f"nl intent={parsed.intent} "
                                   f"confidence={parsed.confidence}")
        return resp

    # -- chunked streaming results (orchestrator/enhanced_mcp.py:139-213) ------
    def stream_query(self, spec: QuerySpec, chunk_size: int = 100):
        """Generator of result chunks with progress metadata — the
        reference's streaming-query endpoint (chunked batches +
        progress + cancellation; cancellation = stop iterating).
        Executes ONE job and drains it incrementally via
        ``toLocalIterator`` (partition-at-a-time to the driver), so
        memory is bounded by a partition, not the result."""
        df = compile_query(self.s.table(spec.entity), spec)
        total = df.count()
        sent = 0
        chunk: list[dict] = []
        for row in df.toLocalIterator():
            chunk.append(row.asDict(recursive=True))
            if len(chunk) >= chunk_size:
                sent += len(chunk)
                yield {"rows": chunk, "progress": sent / max(total, 1),
                       "done": sent >= total}
                chunk = []
        if chunk or sent == 0:
            sent += len(chunk)
            yield {"rows": chunk, "progress": sent / max(total, 1) if total else 1.0,
                   "done": True}

    # -- synthesis orchestrator (knowledge_synthesis_engine.py:36-103) ---------
    def synthesize(self, mode: str = "balanced", text_col: str = "content",
                   id_col: str = "node_id", ts_col: str | None = None,
                   question: str | None = None) -> dict[str, Any]:
        """Comprehensive synthesis: orchestrates insights per mode —
        fast = patterns only; balanced = + trends/anomalies;
        comprehensive = + contradictions and QA (when a question is
        given). Returns a dict of result DataFrames / answer dicts.

        CONTRACT (relied on by q141's cross-mode count memoization):
        for a given insight key, every mode that emits it returns the
        SAME lazy plan — the modes only add/remove keys, never vary an
        insight's parameters by mode. If a future change makes an
        insight mode-dependent (e.g. a threshold varied by mode), give
        it a NEW key; `test_synthesis_modes_share_plans` enforces this
        via DataFrame.sameSemantics."""
        from memory_engine_spark.operators import qa as qa_mod
        from memory_engine_spark.operators import synthesis

        nodes = self.s.table("nodes")
        edges = self.s.table("edges")
        out: dict[str, Any] = {
            "patterns": synthesis.term_cooccurrence(nodes, text_col, id_col),
        }
        if mode in ("balanced", "comprehensive"):
            out["structural_anomalies"] = synthesis.structural_anomalies(
                edges, nodes.select(id_col))
            if ts_col is not None:
                out["trend"] = synthesis.monthly_trend(nodes, ts_col)
        if mode == "comprehensive":
            out["contradictions"] = synthesis.detect_contradictions(
                nodes, text_col, id_col)
            if question:
                out["answer"] = qa_mod.answer(question, nodes, edges,
                                              text_col, id_col)
        return out

    # -- MCP-style command router (mcp_endpoint.py:329-390) --------------------
    def execute_command(self, command: dict[str, Any]) -> dict[str, Any]:
        action = command.get("action")
        try:
            if action == "get_node":
                rows = (self.s.table("nodes")
                        .filter(F.col("node_id") == command["node_id"]).collect())
                if not rows:
                    return {"status": "error", "error": "node not found"}
                return {"status": "ok", "node": rows[0].asDict(recursive=True)}
            if action == "list_nodes":
                spec = QuerySpec("nodes").page(command.get("offset", 0),
                                               command.get("limit", 50))
                spec.sorts = []
                resp = self.query(spec.sort("node_id"))
                return {"status": "ok", "nodes": resp.results,
                        "total": resp.total_count}
            if action == "search":
                resp = self.search(command["query"],
                                   limit=command.get("limit", 10))
                return {"status": "ok", "results": resp.results,
                        "total": resp.total_count}
            if action == "query":
                spec = QuerySpec(command.get("entity", "nodes"))
                for f_ in command.get("filters", []):
                    spec.filter(f_["field"], f_["op"], f_.get("value"))
                for s_ in command.get("sorts", []):
                    spec.sort(s_["field"], s_.get("ascending", True))
                spec.page(command.get("offset", 0), command.get("limit"))
                resp = self.query(spec)
                return {"status": "ok", "results": resp.results,
                        "total": resp.total_count}
            if action == "update_rating":
                self.update_rating(command["node_id"],
                                   command.get("confirmation", 0.0),
                                   command.get("contradiction", 0.0),
                                   command.get("richness_factor", 0.0))
                return {"status": "ok"}
            if action == "neighbors":
                rows = self.neighbors(command["node_ids"],
                                      command.get("relation_type")).collect()
                return {"status": "ok",
                        "neighbors": [r.asDict() for r in rows]}
            if action == "traverse":
                rows = self.traverse(command["node_ids"],
                                     command.get("max_depth", 2),
                                     command.get("limit")).collect()
                return {"status": "ok", "nodes": [r.asDict() for r in rows]}
            return {"status": "error", "error": f"unknown action {action!r}"}
        except KeyError as exc:
            return {"status": "error", "error": f"missing parameter: {exc}"}
