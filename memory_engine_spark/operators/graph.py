"""Graph operators: neighbors, k-hop BFS, shortest path, degree,
induced subgraph, pattern matching, node merge.

Reference semantics:
- 1-hop neighbors, both directions, optional relation filter:
  /root/reference/memory_core/storage/backends/sqlite/sqlite_storage.py:434-488
- k-hop BFS with hop_distance annotation (undirected, visited set):
  sqlite_storage.py:662-699;
  /root/reference/memory_core/mcp_integration/enhanced_mcp_endpoint.py:76-172
- shortest path (unweighted, undirected, ≤ max_hops): sqlite_storage.py:571-616
- induced subgraph (edges with both endpoints in the set):
  enhanced_mcp_endpoint.py:234-263
- graph pattern matching (root constraints + required relations):
  enhanced_mcp_endpoint.py:270-345
- merge nodes (rewrite edges, dedup): sqlite_storage.py:798-840

Spark-first design (not a translation): the reference walks adjacency
row-at-a-time in Python/Gremlin; here a lookup touches only its active
frontier (GraphX's superstep rule, OSDI'14) and pays for one small
Spark job per hop. ``neighbors`` is one filtered scan of the edge
table. A BFS started from a list of ids keeps the visited map and the
frontier on the driver; each hop is one edge scan filtered by the
frontier as a literal id set, collected, and the driver drops the ids
it has already seen. Only a frontier above ``LITERAL_FRONTIER_IDS``
ids, or seeds given as a DataFrame, continue as distributed hops: one
hash join between the frontier and the (symmetrized) edge table, with
a left-anti join against the visited set, and a ``localCheckpoint``
per hop so plans stay O(1) per hop instead of O(depth). At cluster
scale the edge table should be pre-partitioned (bucketed) on
``from_id`` so every such join reuses the same partitioning and only
the frontier shuffles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Shared tracked-localCheckpoint lifecycle (moved to a package-level
# module so streaming/events.py's DLQ compaction reuses it — round-7
# ADVICE). The underscore aliases keep this module's call sites and
# external importers unchanged.
from ..checkpoint import lc as _lc
from ..checkpoint import lc_free as _lc_free
from ..checkpoint import lc_lazy as _lc_lazy
from ..checkpoint import lc_tracked as _lc_tracked


def _is_cached(df: DataFrame) -> bool:
    try:
        return df.storageLevel.useMemory or df.storageLevel.useDisk
    except Exception:  # pragma: no cover
        return False


# Frontier rows above which BFS stops forcing a broadcast join and lets
# AQE pick the strategy. On a connected graph a deep frontier approaches
# |V|; force-broadcasting that OOMs the driver at cluster scale, while
# small frontiers (the common case) still get the shuffle-free plan.
# ~1M short ids ≈ 30-60 MB broadcast — the safe ceiling.
BROADCAST_FRONTIER_ROWS = 1_000_000


def _maybe_broadcast(frontier: DataFrame, n_rows: int,
                     limit: int = BROADCAST_FRONTIER_ROWS) -> DataFrame:
    """Broadcast-hint a frontier only when its known row count is under
    ``limit``; larger frontiers go unhinted so AQE chooses (and can
    still pick broadcast from real runtime stats)."""
    return frontier.hint("broadcast") if n_rows <= limit else frontier


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: each edge plus its reverse."""
    rev = edges.select(
        F.col("to_id").alias("from_id"),
        F.col("from_id").alias("to_id"),
        *[c for c in edges.columns if c not in ("from_id", "to_id")],
    )
    return edges.unionByName(rev)


def neighbors(edges: DataFrame, node_ids: list[str],
              relation_type: str | None = None,
              direction: str = "both") -> DataFrame:
    """1-hop neighbor ids for a list of nodes.

    One scan of ``edges`` filtered by the ids as literals (the
    reference's per-node point lookup, for the whole id set at once).
    Each edge is emitted once per side that matched ``direction``
    (``out``: from_id, ``in``: to_id, ``both``: either).
    Returns distinct (node_id, neighbor_id, relation_type).
    """
    if relation_type is not None:
        edges = edges.filter(F.col("relation_type") == relation_type)
    ids = [F.lit(i) for i in dict.fromkeys(node_ids)]
    sides = {"out": [("from_id", "to_id")], "in": [("to_id", "from_id")],
             "both": [("from_id", "to_id"), ("to_id", "from_id")]}[direction]
    hits = [F.col(near).isin(*ids) for near, _ in sides]
    pairs = F.array(*[
        F.when(hit, F.struct(F.col(near).alias("node_id"),
                             F.col(far).alias("neighbor_id")))
        for hit, (near, far) in zip(hits, sides)])
    return (
        edges.filter(reduce(lambda a, b: a | b, hits))
        .select(F.explode(pairs).alias("p"), "relation_type")
        .filter(F.col("p").isNotNull())
        .select("p.node_id", "p.neighbor_id", "relation_type")
        .distinct()
    )


# Frontier ids up to which a BFS hop filters the edge table by a literal
# id set instead of joining a distributed frontier. The literal path
# pays about 0.45 ms of driver-side Py4J per id to build the filter;
# switching to distributed hops pays a fixed ~1.6 s (seed frame,
# broadcast join, two shuffles, checkpoint). One hop over a 200k-edge
# parquet table on a 4 vCPU host, min of 3: 1,000 ids 0.70 s literal vs
# 1.74 s distributed, 2,000 ids 1.23 vs 1.73 s, 3,000 ids 1.50 vs 1.61 s.
# The bound sits below that ~3,000-id break-even because a frontier that
# large usually keeps growing, and the literal path collects every
# matching edge's endpoints (frontier × degree rows) to the driver.
LITERAL_FRONTIER_IDS = 2_000


def _filter_edges(edges: DataFrame, relation_type: str | None,
                  min_confidence: float | None) -> DataFrame:
    if relation_type is not None:
        edges = edges.filter(F.col("relation_type") == relation_type)
    if min_confidence is not None:
        edges = edges.filter(F.col("confidence_score") >= min_confidence)
    return edges


def _far_ends(edges: DataFrame, frontier: list, directed: bool) -> list:
    """One filtered edge scan: the far endpoint of every edge whose near
    endpoint is in ``frontier`` (from_id → to_id when ``directed``).
    Undirected, both ends of each matching edge come back; the near one
    is a frontier id, which the caller has already visited."""
    ids = [F.lit(i) for i in frontier]
    hit = F.col("from_id").isin(*ids)
    ends = ["to_id"]
    if not directed:
        hit, ends = hit | F.col("to_id").isin(*ids), ["from_id", "to_id"]
    return [v for row in edges.filter(hit).select(*ends).collect() for v in row]


def _bfs(edges: DataFrame, start_ids: list, max_depth: int, directed: bool,
         stop_at: str | None = None) -> dict | DataFrame:
    """BFS from a list of ids with the visited map and the frontier on
    the driver, one ``_far_ends`` scan per hop; stops when the frontier
    drains, at ``max_depth`` or once ``stop_at`` is reached. Returns
    {node_id: hop_distance}, or, when a frontier outgrows
    ``LITERAL_FRONTIER_IDS``, the (node_id, hop_distance) frame of the
    walk continued by ``_bfs_joins`` from the driver state."""
    dist = dict.fromkeys(start_ids, 0)
    frontier = list(dist)
    for depth in range(max_depth):
        if not frontier or (stop_at is not None and stop_at in dist):
            break
        if len(frontier) > LITERAL_FRONTIER_IDS:
            visited = edges.sparkSession.createDataFrame(
                list(dist.items()), "node_id string, hop_distance int")
            return _bfs_joins(edges, visited, depth, len(frontier), max_depth,
                              directed, stop_at)
        frontier = [i for i in dict.fromkeys(_far_ends(edges, frontier, directed))
                    if i not in dist]
        dist.update(dict.fromkeys(frontier, depth + 1))
    return dist


def _bfs_joins(edges: DataFrame, visited: DataFrame, depth: int,
               n_frontier: int, max_depth: int, directed: bool,
               stop_at: str | None = None) -> DataFrame:
    """Distributed BFS hops ``depth``+1 … ``max_depth`` over ``visited``
    (node_id, hop_distance), whose rows at ``depth`` (``n_frontier`` of
    them) are the frontier. Each hop = one hash join frontier⋈edges +
    one left-anti join vs visited; early-exits when the frontier drains
    or contains ``stop_at``. localCheckpoint per hop keeps lineage flat."""
    # Cache the DIRECTED edge list once (narrowest form): the edge table
    # may be a derived plan (unions, distincts) that must not recompute
    # per hop. The symmetrized view is a cheap union over the cached
    # rows, so it is NOT persisted — persisting it would double the
    # materialized footprint for no per-hop win.
    cached_here = not _is_cached(edges)
    base = edges.select("from_id", "to_id")
    if cached_here:
        base = base.persist()
    adj = base if directed else symmetrize(base)
    frontier = visited.filter(F.col("hop_distance") == depth)
    prev_frontier = visited.filter(F.col("hop_distance") == depth - 1)
    try:
        for hop in range(depth + 1, max_depth + 1):
            if directed:
                # arbitrary back-edges: must exclude the FULL visited set
                seen = visited.select("node_id")
            else:
                # undirected: a neighbor of a depth-d node has distance
                # d-1, d, or d+1 — nothing older can reappear, so the
                # anti-join needs only the LAST TWO frontiers (the
                # GraphFrames/Pregel BFS trick). Ships O(|f_d|+|f_{d-1}|)
                # rows instead of the whole O(|V|) visited set per hop.
                seen = (frontier.select("node_id")
                        .unionByName(prev_frontier.select("node_id")))
            nxt = (
                adj.join(_maybe_broadcast(frontier, n_frontier),
                         adj.from_id == frontier.node_id)
                .select(F.col("to_id").alias("node_id"))
                .distinct()
                # deliberately UN-hinted: a broadcast hint here triggers
                # PushDownLeftSemiAntiJoin, which pushes the anti-join
                # BELOW the distinct and the expansion join — anti-
                # probing every adjacency row per hop (30% slower at 10×
                # scale, worse with graph size). Left as a shuffle join,
                # the left side reuses distinct's partitioning, only the
                # frontier-sized seen set ships, and AQE still converts
                # to broadcast at runtime without the pushdown.
                .join(seen, "node_id", "left_anti")
                .withColumn("hop_distance", F.lit(hop))
                # lazy checkpoint + count = ONE job per hop: the count
                # action materializes the checkpoint blocks as it runs,
                # instead of an eager-checkpoint job followed by a
                # separate (if cheap) cached-block count job
                .transform(_lc_lazy)
            )
            n_frontier = nxt.count()
            if n_frontier == 0:
                break
            # Union of already-checkpointed frontiers: no re-materialize
            # of the growing visited set each hop (that copy is
            # O(|V|·depth) over the whole walk); the union plan depth
            # grows by one node per hop over cached blocks, which is flat
            # lineage for any practical max_depth.
            visited = visited.unionByName(nxt)
            if stop_at is not None and \
                    not nxt.filter(F.col("node_id") == stop_at).isEmpty():
                break
            prev_frontier, frontier = frontier, nxt
        return visited
    finally:
        if cached_here:
            base.unpersist()


def k_hop(edges: DataFrame, start_ids: DataFrame | list[str], max_depth: int,
          relation_type: str | None = None, directed: bool = False,
          min_confidence: float | None = None) -> DataFrame:
    """BFS to ``max_depth``; returns (node_id, hop_distance) with the
    MINIMUM hop distance per reachable node (start nodes at 0), matching
    the reference's visited-set BFS (sqlite_storage.py:662-699).

    Seeds given as a list walk on the driver (``_bfs``): one filtered
    edge scan per hop, no join, persist or checkpoint, and the result is
    built from the driver's visited map. Seeds given as a DataFrame
    (a ``node_id`` column), and any walk whose frontier outgrows
    ``LITERAL_FRONTIER_IDS``, take distributed hops (``_bfs_joins``).
    """
    edges = _filter_edges(edges, relation_type, min_confidence)
    if isinstance(start_ids, DataFrame):
        visited = start_ids.select("node_id", F.lit(0).alias("hop_distance")).transform(_lc)
        return _bfs_joins(edges, visited, 0, visited.count(), max_depth, directed)
    reached = _bfs(edges, start_ids, max_depth, directed)
    if isinstance(reached, DataFrame):
        return reached
    return edges.sparkSession.createDataFrame(
        list(reached.items()), "node_id string, hop_distance int")


def k_hop_paths(edges: DataFrame, start_ids: DataFrame | list[str], max_depth: int,
                relation_type: str | None = None, min_confidence: float | None = None,
                directed: bool = False) -> DataFrame:
    """BFS that also materializes one shortest PATH per reached node
    (enhanced_mcp_endpoint.py:76-172 returns paths + nodes-by-distance).
    Returns (node_id, hop_distance, path array<string>). The path column
    rides along the frontier via ``concat(path, array(node))``; ties
    (multiple shortest paths) break toward the lexicographically
    smallest path for determinism."""
    spark = edges.sparkSession
    if isinstance(start_ids, list):
        start_ids = spark.createDataFrame([(i,) for i in start_ids], "node_id string")
    if relation_type is not None:
        edges = edges.filter(F.col("relation_type") == relation_type)
    if min_confidence is not None:
        edges = edges.filter(F.col("confidence_score") >= min_confidence)
    base = edges.select("from_id", "to_id").persist()
    adj = base if directed else symmetrize(base)
    try:
        visited = start_ids.select(
            "node_id", F.lit(0).alias("hop_distance"),
            F.array("node_id").alias("path")).transform(_lc)
        frontier, n_frontier = visited, visited.count()
        for depth in range(1, max_depth + 1):
            # Path rows are ~depth× wider than bare ids — shrink the
            # broadcast ceiling accordingly.
            fr = _maybe_broadcast(frontier, n_frontier,
                                  BROADCAST_FRONTIER_ROWS // (depth + 1))
            stepped = (
                adj.join(fr, adj.from_id == frontier.node_id)
                .select(F.col("to_id").alias("node_id"),
                        F.concat(F.col("path"), F.array(F.col("to_id"))).alias("path"))
            )
            nxt = (
                stepped.groupBy("node_id").agg(F.min("path").alias("path"))
                .join(visited.select("node_id"), "node_id", "left_anti")
                .withColumn("hop_distance", F.lit(depth))
                .select("node_id", "hop_distance", "path")
                .transform(_lc)
            )
            n_frontier = nxt.count()
            if n_frontier == 0:
                break
            visited = visited.unionByName(nxt)  # frontiers already checkpointed
            frontier = nxt
        return visited
    finally:
        base.unpersist()


def shortest_path_length(edges: DataFrame, src: str, dst: str, max_hops: int = 6,
                         directed: bool = False) -> int | None:
    """Unweighted shortest-path length src→dst (sqlite_storage.py:571-616).
    The ``k_hop`` walk from ``src``, stopped at the hop that first
    reaches ``dst``; None if not within max_hops (or if dst is src)."""
    reached = _bfs(edges, [src], max_hops, directed, stop_at=dst)
    if isinstance(reached, DataFrame):
        row = reached.filter(F.col("node_id") == dst).first()
        return row["hop_distance"] if row else None
    return reached.get(dst) or None


def degrees(edges: DataFrame) -> DataFrame:
    """(node_id, out_degree, in_degree, degree). ONE shuffle total:
    each edge emits two (node, out?, in?) increments map-side and a
    single partial-aggregated groupBy sums them — strictly cheaper at
    scale than per-direction groupBys + a full-outer join (two
    exchanges + an SMJ). Used by structural anomaly detection
    (insight_discovery.py:1499-1577: isolated/hub nodes)."""
    incr = edges.select(F.explode(F.array(
        F.struct(F.col("from_id").alias("node_id"),
                 F.lit(1).alias("o"), F.lit(0).alias("i")),
        F.struct(F.col("to_id").alias("node_id"),
                 F.lit(0).alias("o"), F.lit(1).alias("i")),
    )).alias("x")).select("x.*")
    return (
        incr.groupBy("node_id")
        .agg(F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree"))
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def pagerank(edges: DataFrame, damping: float = 0.85, n_iter: int = 5,
             directed: bool = False,
             prebuilt: tuple[DataFrame, DataFrame, int] | None = None,
             strategy: str = "auto",
             broadcast_max_nodes: int = 4_000_000) -> DataFrame:
    """Fixed-iteration PageRank over the edge table; returns
    (node_id, rank) after ``n_iter`` power iterations with uniform
    1/N start and teleport (1-d)/N.

    The reference ranks nodes only by degree (hub detection,
    insight_discovery.py:1499-1577); PageRank is the eigenvector
    upgrade of that same structural-importance question, expressed as
    the classic iterative-dataflow formulation (GraphX staticPageRank
    semantics: fixed iterations, NO dangling-mass redistribution —
    with the default undirected view every node has out-edges, so
    nothing leaks anyway and no per-iteration scalar action is
    needed).

    Scale design: the out-degree-weighted edge list is built once
    (``pagerank_prepare`` — or pass its materialized triple via
    ``prebuilt`` to reuse an offline-built index and skip the build
    entirely), hash-partitioned on from_id, and persisted — per
    iteration ONLY the rank vector (|V| rows) shuffles to meet it,
    then one groupBy shuffle re-keys contributions to to_id; the
    |E|-row table never moves again. localCheckpoint every SECOND
    iteration keeps the plan shallow while halving per-iteration job
    count (each eager checkpoint is a job); the final iteration stays
    un-checkpointed so the caller's own action computes it exactly
    once. Driver-side state is two scalars (N, iteration counter).

    Like label_propagation, TWO regimes under ``strategy``:
    ``"shuffle"`` (above) is the 100 TB path; ``"broadcast"`` is the
    small-|V| fast path — the checkpointed rank vector broadcasts
    each iteration instead of shuffling, so with ``weighted``
    partitioned on **to_id** the whole iteration (map-side join +
    partial/final sum) is ONE exchange-free stage. ``"auto"`` picks
    broadcast when |V| ≤ ``broadcast_max_nodes`` (driver holds one
    |V|-row float vector per broadcast — the same bound as LPA's
    label vector). A from_id-partitioned ``prebuilt`` stays correct
    under broadcast (the groupBy adds one bounded exchange) — pass a
    to_id-partitioned index for the exchange-free plan.
    """
    prebuilt_here = prebuilt is None
    if prebuilt_here:
        # explicit broadcast gets the exchange-free to_id layout; auto
        # builds the shuffle-optimal from_id layout (still correct
        # under broadcast, one bounded exchange) — only an offline
        # index builder knows |V| cheaply enough to pick per-regime
        weighted, nodes, n = pagerank_prepare(
            edges, directed,
            part_key="to_id" if strategy == "broadcast" else "from_id")
    else:
        weighted, nodes, n = prebuilt
    use_broadcast = strategy == "broadcast" or (
        strategy == "auto" and n <= broadcast_max_nodes)
    try:
        teleport = (1.0 - damping) / n
        ranks = nodes.select("node_id", F.lit(1.0 / n).alias("rank"))
        if use_broadcast:
            ranks = ranks.transform(_lc)
            for it in range(n_iter):
                contrib = (weighted.alias("e")
                           .join(F.broadcast(ranks.alias("r")),
                                 F.col("e.from_id") == F.col("r.node_id"))
                           .select(F.col("e.to_id").alias("to_id"),
                                   (F.col("r.rank") * F.col("e.w"))
                                   .alias("c"))
                           .groupBy("to_id").agg(F.sum("c").alias("s")))
                new_rank = (F.lit(teleport) + F.lit(damping)
                            * F.coalesce(F.col("s"), F.lit(0.0)))
                if directed:
                    ranks = (nodes.alias("n")
                             .join(F.broadcast(contrib.alias("c")),
                                   F.col("n.node_id") == F.col("c.to_id"),
                                   "left")
                             .select(F.col("n.node_id").alias("node_id"),
                                     new_rank.alias("rank")))
                else:
                    ranks = contrib.select(
                        F.col("to_id").alias("node_id"),
                        new_rank.alias("rank"))
                # every iteration: the next broadcast needs the vector
                # materialized anyway, and one eager checkpoint IS the
                # iteration's single job
                ranks = ranks.transform(_lc)
            return ranks
        for it in range(n_iter):
            # shuffle_hash: the checkpointed rank vector re-shuffles to
            # the edges' from_id layout each round (|V| rows — the
            # design cost), instead of a driver collect + broadcast
            # rebuild per iteration, which is both the local bottleneck
            # and a cluster anti-pattern for a growing-|V| graph.
            # string aliases, not DataFrame attributes: on the
            # un-checkpointed iterations ranks' lineage contains
            # weighted, and only alias-scoped resolution keeps the
            # self-join unambiguous
            contrib = (weighted.alias("e")
                       .join(ranks.alias("r").hint("shuffle_hash"),
                             F.col("e.from_id") == F.col("r.node_id"))
                       .select(F.col("e.to_id").alias("to_id"),
                               (F.col("r.rank") * F.col("e.w")).alias("c"))
                       .groupBy("to_id").agg(F.sum("c").alias("s")))
            new_rank = (F.lit(teleport)
                        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)))
            if directed:
                # nodes without in-edges never appear in contrib
                ranks = (nodes.alias("n")
                         .join(contrib.alias("c"),
                               F.col("n.node_id") == F.col("c.to_id"), "left")
                         .select(F.col("n.node_id").alias("node_id"),
                                 new_rank.alias("rank")))
            else:
                # symmetrized graph: every node has in-edges, contrib
                # already covers all of them — skip the re-join
                ranks = (contrib
                         .select(F.col("to_id").alias("node_id"),
                                 new_rank.alias("rank")))
            # every 2nd iteration + always the last: callers typically
            # run >1 action over the result (count + collect), so the
            # final vector must be materialized exactly once
            if it % 2 == 1 or it == n_iter - 1:
                ranks = ranks.transform(_lc)
        return ranks
    finally:
        if prebuilt_here:
            weighted.unpersist()


def pagerank_prepare(edges: DataFrame, directed: bool = False,
                     part_key: str = "from_id"
                     ) -> tuple[DataFrame, DataFrame, int]:
    """The offline half of pagerank: (weighted, nodes, n) where
    ``weighted`` is the out-degree-weighted edge list, hash-partitioned
    on ``part_key`` and persisted (materialized), and ``nodes`` is the
    checkpointed endpoint set. ``part_key="from_id"`` serves the
    shuffle regime and personalized_pagerank's sparse-frontier joins;
    ``"to_id"`` makes the broadcast regime's per-iteration
    groupBy(to_id) exchange-free. This is an INDEX in the same sense as
    the IVF cell assignment — build once per corpus snapshot,
    materialize (e.g. parquet in a .derived dir), iterate many times;
    pass the triple to ``pagerank(..., prebuilt=...)`` and the query
    pays only the 2 |V|-row shuffles per iteration.

    ONE shuffle prepares everything: degrees() of the directed list
    yields the full endpoint set AND per-node degrees (symmetrized
    out-degree = out+in), so no second pass over the 2× symmetrized
    edges is ever needed."""
    spark = edges.sparkSession
    base = edges.select("from_id", "to_id")
    n_parts = spark.sparkContext.defaultParallelism
    deg = degrees(base).persist()
    n = deg.count()
    nodes = deg.select("node_id").transform(_lc)
    od = F.col("degree") if not directed else F.col("out_degree")
    adj = base if directed else symmetrize(base)
    weighted = (adj.join(deg.select("node_id", od.alias("_od")),
                         adj.from_id == F.col("node_id"))
                .filter(F.col("_od") > 0)
                .select("from_id", "to_id",
                        (F.lit(1.0) / F.col("_od")).alias("w"))
                .repartition(n_parts, F.col(part_key))
                .persist())
    weighted.count()
    deg.unpersist()
    return weighted, nodes, n


def induced_subgraph(edges: DataFrame, node_ids: DataFrame) -> DataFrame:
    """Edges whose BOTH endpoints are in node_ids
    (enhanced_mcp_endpoint.py:234-263) — two semi-joins."""
    ids = node_ids.select("node_id")
    return (
        edges.join(ids.withColumnRenamed("node_id", "from_id"), "from_id", "left_semi")
        .join(ids.withColumnRenamed("node_id", "to_id"), "to_id", "left_semi")
    )


def match_pattern(nodes: DataFrame, edges: DataFrame,
                  node_predicate, required_out: list[str] = (),
                  required_in: list[str] = ()) -> DataFrame:
    """Graph pattern matching (enhanced_mcp_endpoint.py:270-345): nodes
    satisfying ``node_predicate`` that have at least one outgoing edge of
    every type in required_out and one incoming of every type in
    required_in. Each requirement is a semi-join (motif-style)."""
    out = nodes.filter(node_predicate)
    for rel in required_out:
        req = edges.filter(F.col("relation_type") == rel).select(
            F.col("from_id").alias("node_id"))
        out = out.join(req, "node_id", "left_semi")
    for rel in required_in:
        req = edges.filter(F.col("relation_type") == rel).select(
            F.col("to_id").alias("node_id"))
        out = out.join(req, "node_id", "left_semi")
    return out


def merge_nodes(nodes: DataFrame, edges: DataFrame, keep_id: str,
                drop_id: str) -> tuple[DataFrame, DataFrame]:
    """Fold drop_id's edges into keep_id and delete drop_id
    (sqlite_storage.py:798-840): rewrite endpoints, drop self-loops,
    dedup, anti-delete the node."""
    rewritten = (
        edges.withColumn("from_id", F.when(F.col("from_id") == drop_id, keep_id)
                         .otherwise(F.col("from_id")))
        .withColumn("to_id", F.when(F.col("to_id") == drop_id, keep_id)
                    .otherwise(F.col("to_id")))
        .filter(F.col("from_id") != F.col("to_id"))
        .dropDuplicates(["from_id", "to_id", "relation_type"])
    )
    return nodes.filter(F.col("node_id") != drop_id), rewritten


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle census of the undirected graph: one row
    (triangles, wedges, global_clustering).

    Degree-oriented node-iterator (Schank & Wagner, WEA 2005): each
    canonical edge is oriented from its lower-(degree, id) endpoint to
    the higher, so every wedge is generated at its lowest-degree apex
    and the per-node fan-out is bounded by O(sqrt(|E|)) — the skew
    guard that makes the wedge self-join survive power-law graphs at
    100 TB. Every triangle is counted exactly once (its apex node is
    unique under a total order), and both joins are equi-joins: the
    wedge join on the shared apex, the closure join on the oriented
    (b, c) pair. Nothing here is quadratic in a hub's neighborhood
    EXCEPT the wedge fan-out of the *lowest*-degree corner, which is
    the minimum possible.

    wedges = sum_v deg(v)·(deg(v)-1)/2 (paths of length 2);
    global_clustering = 3·triangles / wedges (0.0 when wedge-free).
    """
    canon = (edges
             .select(F.least("from_id", "to_id").alias("u"),
                     F.greatest("from_id", "to_id").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct())
    deg = (degrees(canon.select(F.col("u").alias("from_id"),
                                F.col("v").alias("to_id")))
           .select("node_id", "degree"))
    ed = (canon
          .join(deg.select(F.col("node_id").alias("u"),
                           F.col("degree").alias("du")), "u")
          .join(deg.select(F.col("node_id").alias("v"),
                           F.col("degree").alias("dv")), "v"))
    lower_first = (F.col("du") < F.col("dv")) | \
                  ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    ).persist()
    try:
        e1, e2 = oriented.alias("e1"), oriented.alias("e2")
        wedge_pred = ((F.col("e1.ddeg") < F.col("e2.ddeg"))
                      | ((F.col("e1.ddeg") == F.col("e2.ddeg"))
                         & (F.col("e1.dst") < F.col("e2.dst"))))
        # Closure key: the wedge stream is ~10-50× the edge set, so
        # its shuffle dominates the census. Packing (b, c) into ONE
        # long (b·2³² + c) halves the shuffled key width and replaces
        # the two-column hash/compare with a single-long one — r09
        # stage probe at sf0.1: closure 3.9-5.9 s two-column →
        # 1.7-2.7 s packed (tools/q79_stages.py). Packing is
        # injective only for non-negative integral ids < 2³¹, so the
        # id bounds (one scan of the persisted 1.2M-row edge frame,
        # not of the wedges) gate it; wider / negative / non-integral
        # ids keep the two-column join. The dtype gate matters twice
        # (round-9 ADVICE): StringType ids ('c_1') would make the
        # driver-side `< (1 << 31)` compare raise TypeError, and
        # IntegerType ids fed straight into shiftleft would hit the
        # JVM's 5-bit shift-amount mask (shift-by-32 on an int is a
        # no-op → bc degenerates to dst+dst, silent collisions) —
        # hence the explicit cast('long') BEFORE the shift.
        dts = dict(oriented.dtypes)
        integral = {"tinyint", "smallint", "int", "bigint"}
        packed_ok = dts["src"] in integral and dts["dst"] in integral
        if packed_ok:
            lo, hi = oriented.agg(
                F.min(F.least("src", "dst")),
                F.max(F.greatest("src", "dst"))).collect()[0]
            packed_ok = (hi is not None and hi < (1 << 31)
                         and lo is not None and lo >= 0)
        if packed_ok:
            wedges = (e1.join(e2, F.col("e1.src") == F.col("e2.src"))
                      .filter(wedge_pred)
                      .select((F.shiftleft(
                          F.col("e1.dst").cast("long"), 32)
                               + F.col("e2.dst")).alias("bc")))
            ekeys = oriented.select(
                (F.shiftleft(F.col("src").cast("long"), 32)
                 + F.col("dst")).alias("bc"))
            tri = (wedges.join(ekeys, "bc", "left_semi")
                   .agg(F.count(F.lit(1)).cast("long")
                        .alias("triangles")))
        else:
            wedges = (e1.join(e2, F.col("e1.src") == F.col("e2.src"))
                      .filter(wedge_pred)
                      .select(F.col("e1.dst").alias("b"),
                              F.col("e2.dst").alias("c")))
            tri = (wedges.join(oriented,
                               (F.col("b") == F.col("src"))
                               & (F.col("c") == F.col("dst")),
                               "left_semi")
                   .agg(F.count(F.lit(1)).cast("long")
                        .alias("triangles")))
        wtot = deg.agg((F.sum(F.col("degree").cast("long")
                              * (F.col("degree") - 1)) / 2)
                       .cast("long").alias("wedges"))
        out = (tri.crossJoin(wtot)
               .select("triangles", "wedges",
                       F.when(F.col("wedges") > 0,
                              F.round(3.0 * F.col("triangles")
                                      / F.col("wedges"), 6))
                       .otherwise(F.lit(0.0)).alias("global_clustering")))
        out = out.transform(_lc)
        return out
    finally:
        oriented.unpersist()


LPA_SHIFT = 1 << 33  # packed argmax: key = -cnt·2³³ + nid


def lpa_prepare(edges: DataFrame, directed: bool = False
                ) -> dict[str, DataFrame]:
    """Build the broadcast-regime LPA index once: an ORDER-PRESERVING
    dense integer id map (node_id → nid, ranked by node_id so the
    min-label tie-break survives the encoding) plus the int-encoded
    adjacency, hash-partitioned on the per-round grouping key and
    persisted. Order-preservation is what makes the encoded argmax
    bit-identical to the string semantics; the global row_number sort
    is acceptable exactly because this index only exists in the
    broadcast regime (|V| bounded by ``broadcast_max_nodes``) — the
    shuffle regime needs no encoding at all. Returns
    ``{"ids": (node_id, nid), "adj": (src, dst), "directed": bool}``,
    frames persisted; caller owns unpersist (or materializes them to
    parquet, like the pagerank index). The ``directed`` flag records
    how the adjacency was built — ``_lpa_broadcast`` asserts it
    matches the call, because an undirected-built (symmetrized,
    src-partitioned) index silently computes the wrong communities
    under ``directed=True``."""
    from pyspark.sql import Window as W

    base = edges.select("from_id", "to_id")
    sym = base if directed else symmetrize(base)
    nodes = (sym.select(F.col("from_id").alias("node_id"))
             .unionByName(sym.select(F.col("to_id").alias("node_id")))
             .distinct())
    ids = nodes.select(
        "node_id",
        (F.row_number().over(W.orderBy("node_id")) - 1)
        .cast("long").alias("nid")).persist()
    ids.count()
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    # undirected groups by src (labels looked up on dst — symmetric, so
    # "received from in-neighbors" ≡ "received from out-neighbors");
    # directed must group by dst (only in-neighbors send)
    part_key = "dst" if directed else "src"
    adj = (sym.join(ids, sym.from_id == ids.node_id)
           .select(F.col("nid").alias("src"), "to_id")
           .join(ids.select(F.col("node_id").alias("_tn"),
                            F.col("nid").alias("dst")),
                 F.col("to_id") == F.col("_tn"))
           .select("src", "dst")
           .repartition(n_parts, part_key).persist())
    adj.count()
    return {"ids": ids, "adj": adj, "directed": directed}


def label_propagation(edges: DataFrame, n_iter: int = 5,
                      directed: bool = False,
                      prebuilt_adj: DataFrame | None = None,
                      prepared: dict[str, DataFrame] | None = None,
                      strategy: str = "auto",
                      broadcast_max_nodes: int = 4_000_000) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the GraphFrames ``labelPropagation`` shape) with fully
    DETERMINISTIC semantics so it is oracle-checkable: labels start as
    the node id; each round every node adopts the most frequent label
    among its (symmetrized by default) neighbors, ties broken toward
    the SMALLEST label; fixed ``n_iter`` rounds (no convergence test —
    async/random variants are not reproducible cross-engine). The
    reference clusters only by shared domain tags
    (insight_discovery.py cluster patterns); this is the structural
    upgrade of that grouping. Returns (node_id, label) where label =
    community representative id.

    Two execution regimes, chosen by ``strategy``:

    - ``"shuffle"`` — the 100 TB path: adjacency persists once,
      hash-partitioned; per round ONLY the |V|-row label vector
      shuffles to meet it (shuffle_hash — the pagerank discipline),
      the (node, label) count table reduces map-side, and the argmax
      is one min_by aggregate.
    - ``"broadcast"`` — the small-|V| fast path (a 186k-node graph on
      32 cores is scheduler-bound, not data-bound): node ids are
      dictionary-encoded to dense longs (``lpa_prepare``), the label
      vector broadcasts each round, and because the int adjacency is
      pre-partitioned on the grouping key BOTH aggregations run
      exchange-free — a round is one stage with two long-keyed
      HashAggregates, zero shuffles. The argmax packs into one BIGINT
      min (key = -cnt·2³³ + nid, exact while cnt < 2³⁰ and
      |V| < 2³³ — guaranteed by the regime bound). Per-round label
      checkpoint + driver collect is the explicit broadcast cost.
    - ``"auto"`` — broadcast when |V| ≤ ``broadcast_max_nodes``
      (≈100 MB of driver state), else shuffle: the same small-side
      decision AQE makes for joins, lifted to the algorithm level.
    """
    if prepared is not None and strategy == "shuffle":
        raise ValueError(
            "label_propagation: prepared= is a broadcast-regime index; "
            "strategy='shuffle' cannot use it (pass prebuilt_adj=)")
    if prepared is not None or (
            strategy == "broadcast") or (
            strategy == "auto" and prebuilt_adj is None and
            _lpa_small_enough(edges, directed, broadcast_max_nodes)):
        return _lpa_broadcast(edges, n_iter, directed, prepared)
    return _lpa_shuffle(edges, n_iter, directed, prebuilt_adj)


def _lpa_small_enough(edges: DataFrame, directed: bool,
                      cap: int) -> bool:
    base = edges.select("from_id", "to_id")
    n = (base.select(F.col("from_id").alias("n"))
         .unionByName(base.select(F.col("to_id").alias("n")))
         .distinct().count())
    return n <= cap


def _lpa_broadcast(edges: DataFrame, n_iter: int, directed: bool,
                   prepared: dict[str, DataFrame] | None) -> DataFrame:
    built_here = prepared is None
    if built_here:
        prepared = lpa_prepare(edges, directed)
    elif prepared.get("directed", False) != directed:
        raise ValueError(
            f"label_propagation: prepared index was built with "
            f"directed={prepared.get('directed', False)} but the call "
            f"asked directed={directed}; rebuild via lpa_prepare(..., "
            f"directed={directed}) — a symmetrized index under "
            f"directed=True silently yields wrong communities")
    ids, adj = prepared["ids"], prepared["adj"]
    try:
        labels = (ids.select(F.col("nid").alias("node"),
                             F.col("nid").alias("label"))
                  .transform(_lc))
        for _ in range(n_iter):
            if directed:
                recv, grp = "src", "dst"
            else:
                recv, grp = "dst", "src"
            counts = (adj.alias("e")
                      .join(F.broadcast(labels.alias("l")),
                            F.col(f"e.{recv}") == F.col("l.node"))
                      .groupBy(F.col(f"e.{grp}").alias("node"),
                               F.col("l.label").alias("label"))
                      .agg(F.count(F.lit(1)).alias("cnt")))
            winners = (counts.groupBy("node")
                       .agg(F.pmod(F.min(-F.col("cnt") * LPA_SHIFT
                                         + F.col("label")),
                                   F.lit(LPA_SHIFT)).alias("label")))
            if directed:
                # pure sources never RECEIVE a label — keep their own
                winners = (ids.select(F.col("nid").alias("node")).alias("n")
                           .join(F.broadcast(winners.alias("w")),
                                 "node", "left")
                           .select("node",
                                   F.coalesce(F.col("w.label"),
                                              F.col("n.node"))
                                   .alias("label")))
            # eager EVERY round: the next round's broadcast collects
            # labels to the driver anyway — an unmaterialized chain
            # would re-execute all prior rounds per broadcast build
            labels = winners.transform(_lc)
        out = (labels.join(ids, labels.node == ids.nid)
               .select("node_id", F.col("label").alias("_il"))
               .join(ids.select(F.col("nid").alias("_il"),
                                F.col("node_id").alias("label")), "_il")
               .select("node_id", "label"))
        if built_here:
            # pin the decoded result before the index unpersists below —
            # otherwise every caller action re-runs the id-map sort
            out = out.transform(_lc)
        return out
    finally:
        if built_here:
            ids.unpersist()
            adj.unpersist()


def _lpa_shuffle(edges: DataFrame, n_iter: int, directed: bool,
                 prebuilt_adj: DataFrame | None) -> DataFrame:
    # hash-partitioned on the join key and persisted, like pagerank's
    # prepared index: per round only the label vector shuffles to meet
    # the edges — without this BOTH sides re-exchange every round.
    # Pass ``prebuilt_adj`` (an already-persisted, already-symmetrized
    # adjacency) to amortize that build across calls, exactly like
    # pagerank's ``prebuilt``.
    built_here = prebuilt_adj is None
    adj_ids: set = set()
    if built_here:
        base = edges.select("from_id", "to_id")
        n_parts = edges.sparkSession.sparkContext.defaultParallelism
        # localCheckpoint, not persist — identical-plan CacheManager
        # dedupe vs the _sym_adj session index (see diameter_estimate).
        adj, adj_ids = _lc_tracked(
            (base if directed else symmetrize(base))
            .repartition(n_parts, F.col("from_id")))
    else:
        adj = prebuilt_adj
    nodes = (adj.select(F.col("from_id").alias("node_id"))
             .unionByName(adj.select(F.col("to_id").alias("node_id")))
             .distinct())
    labels = (nodes.select("node_id", F.col("node_id").alias("label"))
              .transform(_lc))
    try:
        for it in range(n_iter):
            counts = (adj.alias("e")
                      .join(labels.alias("l").hint("shuffle_hash"),
                            F.col("e.from_id") == F.col("l.node_id"))
                      .groupBy(F.col("e.to_id").alias("node_id"),
                               F.col("l.label").alias("label"))
                      .agg(F.count(F.lit(1)).alias("cnt")))
            # argmax(cnt) with min-label tie-break as ONE hash
            # aggregate: min of struct(-cnt, label) — no window sort
            # (the row_number formulation sorted the full count table
            # per round; 8.8 s → under budget at sf0.1)
            winners = (counts.groupBy("node_id")
                       .agg(F.min_by("label", F.struct(
                           (-F.col("cnt")).alias("nc"),
                           F.col("label"))).alias("label")))
            if directed:
                # isolated under directed=True: a pure source never
                # RECEIVES a label — keep its own
                labels = (nodes.alias("n")
                          .join(winners.alias("w2"), "node_id", "left")
                          .select("node_id",
                                  F.coalesce(F.col("w2.label"),
                                             F.col("n.node_id"))
                                  .alias("label")))
            else:
                # symmetrized graph: every node receives
                labels = winners
            if it == n_iter - 1 or it % 2 == 1:
                labels = labels.transform(_lc)  # eager
        return labels
    finally:
        if built_here:
            _lc_free(edges.sparkSession, adj_ids)


def k_core(edges: DataFrame, k: int, n_iter: int = 3,
           directed: bool = False,
           prebuilt_adj: DataFrame | None = None,
           round_log: list | None = None) -> DataFrame:
    """k-core peeling (Seidman 1983; the degeneracy-ordering workhorse
    for community/cohesion analysis): repeatedly delete nodes with
    degree < k, ``n_iter`` synchronous rounds. Fixed rounds keep the
    operator deterministic and oracle-unrollable (like pagerank/LPA);
    converged ⇒ the exact k-core, else a superset that one more round
    would shrink (callers needing exactness raise n_iter — each round
    is cheap). Returns surviving (node_id, degree) with degrees in the
    final peeled graph.

    Scale shape: the adjacency persists ONCE (pass an
    already-symmetrized, hash-partitioned frame via ``prebuilt_adj``
    to reuse a session index; ``directed`` is then ignored); the
    per-round state is only the |V|-row SURVIVOR SET — each round is
    two semi-joins of the resident adjacency against the (broadcast-
    sized) survivor set feeding one map-side-combined degree groupBy,
    and only the survivor ids checkpoint. Nothing |E|-sized ever
    re-materializes per round (the r04 shape checkpointed the filtered
    edge list every round — 3 full |E| writes that dominated the
    query), which is also the 100 TB-correct state discipline:
    iterative node state must be O(|V|), never O(|E|).

    ``round_log`` (r07 verdict item 7): pass a list to receive the
    per-round survivor counts, making an anomalous probe ratio's
    composition (fixed dispatch rounds vs data-dependent survivor
    growth) visible in the bench output. Peeling is deletion-only, so
    survivor sets shrink monotonically — an unchanged COUNT therefore
    means an unchanged SET, and the loop early-exits at that fixpoint
    (output-identical to running the remaining rounds; the count is
    free because each round's survivor set materializes eagerly
    anyway). Stale rounds' checkpoint blocks are freed by RDD id as
    the fixpoint walk advances; the final round's set stays pinned
    until the returned frame is dropped.
    """
    spark = (edges if prebuilt_adj is None else prebuilt_adj) \
        .sparkSession
    built_here = prebuilt_adj is None
    if built_here:
        base = edges.select("from_id", "to_id")
        adj = (base if directed else symmetrize(base)).persist()
    else:
        adj = prebuilt_adj.select("from_id", "to_id")
    try:
        survivors = None  # None = all nodes (round 1 needs no filter)
        surv_ids: set = set()
        prev_n = -1
        for _ in range(n_iter):
            cur = adj
            if survivors is not None:
                cur = (cur.join(survivors, "from_id", "left_semi")
                       .join(survivors
                             .withColumnRenamed("from_id", "to_id"),
                             "to_id", "left_semi"))
            deg = cur.groupBy("from_id").agg(
                F.count(F.lit(1)).alias("_d"))
            new_surv, new_ids = _lc_tracked(
                deg.filter(F.col("_d") >= k).select("from_id"))
            n_surv = new_surv.count()
            if round_log is not None:
                round_log.append(n_surv)
            _lc_free(spark, surv_ids)
            survivors, surv_ids = new_surv, new_ids
            if n_surv == prev_n:
                break  # deletion-only ⇒ equal count ⇒ fixpoint
            prev_n = n_surv
        final = adj.join(survivors, "from_id", "left_semi") \
            .join(survivors.withColumnRenamed("from_id", "to_id"),
                  "to_id", "left_semi")
        out = (final.groupBy("from_id")
               .agg(F.count(F.lit(1)).alias("degree"))
               .select(F.col("from_id").alias("node_id"),
                       F.col("degree").cast("long").alias("degree")))
        if built_here:
            # materialize before releasing the call-local adjacency —
            # the lazy plan must not recompute it post-unpersist
            out = out.transform(_lc)
        return out
    finally:
        if built_here:
            adj.unpersist(False)


def weighted_sssp(edges: DataFrame | None, source: str, n_iter: int = 4,
                  weight_col: str = "weight",
                  directed: bool = False,
                  prebuilt_adj: DataFrame | None = None) -> DataFrame:
    """Single-source WEIGHTED shortest distances via ``n_iter`` rounds
    of synchronous Bellman-Ford relaxation — the weighted upgrade of
    the reference's unweighted shortest path (sqlite_storage.py:
    571-616), in the iterative-dataflow form (one relax = one join;
    Pregel's SSSP example). Fixed rounds: exact for all paths of ≤
    n_iter edges, an upper bound beyond (raise n_iter to the graph
    diameter for exactness — each round is one join + one min-groupBy).
    Deterministic and oracle-unrollable: distances accumulate in path
    order, so equal plans produce bit-identical doubles on any engine.
    Returns (node_id, dist) for nodes reached within n_iter hops.

    Scale shape: the weighted adjacency persists once; per round only
    the reached-distance vector (≤ |V| rows) joins it, and the
    min-groupBy is map-side combined. Distances eagerly checkpoint per
    round (two consumers: the next relax join and the union).
    ``prebuilt_adj`` takes a RESIDENT adjacency — (from_id, to_id, _w),
    ALREADY symmetrized if undirected traversal is wanted, ideally
    hash-partitioned on from_id — so each relax join reuses the
    resident partitioning and only the distance vector shuffles (the
    weighted graph is an ingest artifact, like _pr_index's edge list).
    """
    own = prebuilt_adj is None
    if own:
        base = edges.select("from_id", "to_id",
                            F.col(weight_col).alias("_w"))
        if not directed:
            base = base.unionByName(
                base.select(F.col("to_id").alias("from_id"),
                            F.col("from_id").alias("to_id"), "_w"))
        adj = base.persist()
    else:
        adj = prebuilt_adj.select("from_id", "to_id", "_w")
    spark = adj.sparkSession
    dist = spark.createDataFrame([(source, 0.0)], "node_id string, dist double") \
        .transform(_lc)
    try:
        for _ in range(n_iter):
            relax = (adj.join(dist.withColumnRenamed("node_id", "from_id")
                              .hint("shuffle_hash"), "from_id")
                     .select(F.col("to_id").alias("node_id"),
                             (F.col("dist") + F.col("_w")).alias("dist")))
            dist = (dist.unionByName(relax)
                    .groupBy("node_id").agg(F.min("dist").alias("dist"))
                    .transform(_lc))
        return dist
    finally:
        if own:
            adj.unpersist()


def personalized_pagerank(edges: DataFrame, sources: list[str],
                          damping: float = 0.85, n_iter: int = 5,
                          directed: bool = False,
                          prebuilt: tuple[DataFrame, DataFrame, int] | None = None
                          ) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SOURCE
    set — the recommendation/similar-entities upgrade of q74's global
    rank; Haveliwala WWW'02 topic-sensitive formulation): teleport
    mass (1−d)/|S| flows only to ``sources``, so rank concentrates in
    their neighborhoods. SPARSE by construction: a node appears only
    once a walk reaches it — rank' rows = d·contributions ∪ teleport
    rows, summed — so the per-iteration vector is the reached set, not
    |V| (the property that makes per-user PPR fan-out viable at
    scale). Fixed iterations, plain-double sums, round-6 output:
    oracle-unrollable exactly like pagerank. Returns (node_id, rank).
    """
    if prebuilt is None:
        weighted, _nodes, _n = pagerank_prepare(edges, directed)
    else:
        weighted, _nodes, _n = prebuilt
    spark = edges.sparkSession if edges is not None else weighted.sparkSession
    s = len(sources)
    teleport = spark.createDataFrame(
        [(x, (1.0 - damping) / s) for x in sources],
        "node_id string, rank double").transform(_lc)
    ranks = spark.createDataFrame(
        [(x, 1.0 / s) for x in sources],
        "node_id string, rank double").transform(_lc)
    for it in range(n_iter):
        contrib = (weighted.alias("e")
                   .join(ranks.alias("r").hint("shuffle_hash"),
                         F.col("e.from_id") == F.col("r.node_id"))
                   .select(F.col("e.to_id").alias("node_id"),
                           (F.lit(damping) * F.col("r.rank")
                            * F.col("e.w")).alias("rank")))
        ranks = (contrib.unionByName(teleport)
                 .groupBy("node_id").agg(F.sum("rank").alias("rank")))
        if it % 2 == 1 or it == n_iter - 1:
            ranks = ranks.transform(_lc)
    return ranks


def hits(edges: DataFrame | None, n_iter: int = 2,
         prebuilt_adj: dict | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99) in the UNNORMALIZED
    integer formulation: a₀ = 1 for every node, then ``n_iter`` rounds
    of h(u) = Σ_{u→v} a(v); a(v) = Σ_{u→v} h(u). With integer starts
    every score stays an exact BIGINT (these are directed-walk counts),
    so the operator is bit-exact cross-engine with NO float-ordering
    hazard — normalization (score/max) happens once at readout where a
    single rounded division is safe. Scores grow like (avg degree)^2k:
    fine for ``n_iter`` ≤ 3 on any graph whose degree² · |walks| fits
    int64 — the documented cap; ranking is invariant to the missing
    normalization at every round.

    Directed by definition (hub points, authority is pointed at).
    Returns (node_id, hub bigint, authority bigint).

    Scale shape: per round two map-side-combined groupBys over the
    persisted edge list joined with the |V|-row score vector — the
    pagerank shuffle discipline with integer payloads. ``prebuilt_adj``
    takes a resident dual-layout index ``{"from": adj partitioned on
    from_id, "to": adj partitioned on to_id, "nodes": node ids}`` (the
    _pr_index secondary-layout trade): each round's two joins then
    reuse the resident partitioning and only the |V|-row score vector
    shuffles — without it the |E|-row adjacency re-exchanges twice per
    round.
    """
    if not 1 <= n_iter <= 3:
        raise ValueError(
            "hits: n_iter must be in [1, 3] — hub is produced inside the "
            "loop (0 rounds has no readout) and unnormalized integer "
            "scores overflow int64 beyond 3 rounds on dense graphs")
    own = prebuilt_adj is None
    if own:
        adj = edges.select("from_id", "to_id").persist()
        adj_from = adj_to = adj
        nodes = (adj.select(F.col("from_id").alias("node_id"))
                 .unionByName(adj.select(F.col("to_id").alias("node_id")))
                 .distinct())
    else:
        adj_from, adj_to = prebuilt_adj["from"], prebuilt_adj["to"]
        nodes = prebuilt_adj["nodes"]
    auth = nodes.select("node_id", F.lit(1).cast("long").alias("a")) \
        .transform(_lc)
    hub = None
    try:
        for _ in range(n_iter):
            hub = (adj_to.alias("e")
                   .join(auth.alias("a").hint("shuffle_hash"),
                         F.col("e.to_id") == F.col("a.node_id"))
                   .groupBy(F.col("e.from_id").alias("node_id"))
                   .agg(F.sum("a.a").alias("h"))
                   .transform(_lc))
            auth = (adj_from.alias("e")
                    .join(hub.alias("h").hint("shuffle_hash"),
                          F.col("e.from_id") == F.col("h.node_id"))
                    .groupBy(F.col("e.to_id").alias("node_id"))
                    .agg(F.sum("h.h").alias("a"))
                    .transform(_lc))
        return (nodes.alias("n")
                .join(hub.alias("h"), "node_id", "left")
                .join(auth.alias("a"), "node_id", "left")
                .select("node_id",
                        F.coalesce(F.col("h.h"), F.lit(0)).cast("long")
                        .alias("hub"),
                        F.coalesce(F.col("a.a"), F.lit(0)).cast("long")
                        .alias("authority")))
    finally:
        if own:
            adj.unpersist()


def random_walks(edges: DataFrame, start_ids: list[str], walk_len: int,
                 walks_per_node: int = 1, directed: bool = False,
                 salt: str = "walk") -> DataFrame:
    """Deterministic random-walk corpus generation (the node2vec /
    DeepWalk input step with p=q=1, Grover & Leskovec KDD'16 —
    sequences for a downstream skip-gram embedding): from each start
    node, ``walks_per_node`` walks of ``walk_len`` steps, where each
    step's neighbor is chosen by the SMALLEST md5(salt:walk:step:cand)
    draw — a uniform choice that is reproducible on any engine and
    partitioning (the repo's A-ES trick applied to neighbor
    selection), so the walk corpus is oracle-checkable and resumable.
    Returns (walk_id, start, path) with path as an
    '->'-joined string.

    Scale shape: the walk frontier is |walks| rows; each step is one
    join against the persisted adjacency (hash-partitioned on
    from_id) plus one min_by groupBy — map-side combined, nothing
    edge-sized ever re-shuffles. Dead ends (directed only) terminate
    early and keep their prefix.
    """
    spark = edges.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    base = edges.select("from_id", "to_id")
    # localCheckpoint, not persist: the undirected plan is identical
    # to the _sym_adj-style session index, and Dataset.persist dedupes
    # identical plans into one CacheManager entry — the finally-block
    # unpersist would drop the resident index's storage with it
    # (see diameter_estimate).
    adj, adj_ids = _lc_tracked(
        (base if directed else symmetrize(base))
        .repartition(n_parts, F.col("from_id")))
    try:
        rows = [(f"{s}#{w}", s) for s in start_ids
                for w in range(walks_per_node)]
        walks = (spark.createDataFrame(rows, "walk_id string, start string")
                 .select("walk_id", "start",
                         F.col("start").alias("cur"),
                         F.col("start").alias("path"))
                 .transform(_lc))
        done = None
        for step in range(1, walk_len + 1):
            cand = (adj.join(walks.hint("shuffle_hash"),
                             adj.from_id == walks.cur)
                    .select("walk_id", "start", "path",
                            F.col("to_id").alias("nxt"),
                            F.md5(F.concat_ws(
                                ":", F.lit(salt), F.col("walk_id"),
                                F.lit(str(step)), F.col("to_id")))
                            .alias("_draw")))
            stepped = (cand.groupBy("walk_id")
                       .agg(F.first("start").alias("start"),
                            F.min_by(F.struct(
                                F.col("nxt"), F.col("path")),
                                F.struct("_draw", "nxt")).alias("_pick"))
                       .select("walk_id", "start",
                               F.col("_pick.nxt").alias("cur"),
                               F.concat_ws("->", F.col("_pick.path"),
                                           F.col("_pick.nxt"))
                               .alias("path"))
                       .transform(_lc))
            if directed:
                # dead ends vanish from the join: bank their prefix
                ended = walks.join(stepped.select("walk_id"),
                                   "walk_id", "left_anti") \
                    .select("walk_id", "start", "path")
                done = ended if done is None else done.unionByName(ended)
            walks = stepped
        out = walks.select("walk_id", "start", "path")
        return out if done is None else out.unionByName(done)
    finally:
        _lc_free(spark, adj_ids)




def _bfs_sweep(adj: DataFrame, start_id: str, max_depth: int
               ) -> tuple[DataFrame, set, int, int]:
    """One latency-tuned BFS sweep over an ALREADY-SYMMETRIZED (and
    ideally resident, from_id-partitioned) adjacency. Returns
    ``(last_nonempty_frontier, frontier_lc_ids, depth_reached,
    n_reached)`` — the pieces the double-sweep diameter heuristic
    needs — without materializing a visited union. The escaped
    frontier is a tracked localCheckpoint: the CALLER must pass
    ``frontier_lc_ids`` to ``_lc_free`` once done with the frontier,
    or its checkpoint blocks stay pinned until ContextCleaner GC.

    Why a second BFS shape next to ``k_hop``: deep sweeps are bound by
    PER-HOP DISPATCH, not data (measured at sf0.1: an 11-row frontier
    hop costs the same ~0.5 s as a 105k-row one). Each broadcast hint
    spawns a build sub-job (~0.3 s), and AQE turns every exchange into
    its own job. This sweep instead uses ``shuffle_hash``-hinted joins
    — the frontier-side exchange is tiny, the adjacency side reuses the
    resident partitioning — so a hop is ONE job whose stages pipeline
    inside the DAG scheduler. A/B at sf0.1 (8 hops, 186k reached):
    broadcast+AQE 4.7 s/sweep → shuffle-hash+AQE-off 2.5 s/sweep.
    2-hop fusion was also tried and REVERTED: recomputing the shared
    inner-frontier subtree cost more than the dispatch it saved
    (5.5 s/sweep). Caller owns the conf window (AQE off, anti-join
    pushdown excluded, reduced shuffle partitions).
    """
    spark = adj.sparkSession
    frontier, f_ids = _lc_tracked(
        spark.createDataFrame([(start_id,)], "node_id string"))
    prev, p_ids = None, set()
    depth_reached, n_reached = 0, 1
    for depth in range(1, max_depth + 1):
        # undirected last-two-frontiers anti-join (the k_hop argument)
        seen = (frontier if prev is None
                else frontier.unionByName(prev))
        f = frontier.select(F.col("node_id").alias("from_id")) \
            .hint("shuffle_hash")
        nxt, n_ids = _lc_tracked(
            adj.join(f, "from_id")
            .select(F.col("to_id").alias("node_id")).distinct()
            .join(seen.hint("shuffle_hash"), "node_id", "left_anti"),
            eager=False)
        n = nxt.count()
        if n == 0:
            # the empty checkpoint and the current prev both leave the
            # window; only `frontier` (+ its ids) escapes to the caller.
            _lc_free(spark, n_ids | p_ids)
            break
        depth_reached, n_reached = depth, n_reached + n
        # prev's predecessor is outside the two-frontier seen window
        # after this hop — free its checkpoint BLOCKS now (by JVM RDD
        # id; Dataset.unpersist is a no-op on checkpoints) instead of
        # pinning ~2|V| rows per sweep until ContextCleaner GC
        # (round-6 ADVICE).
        dead_ids = p_ids
        prev, p_ids = frontier, f_ids
        frontier, f_ids = nxt, n_ids
        _lc_free(spark, dead_ids)
    else:
        _lc_free(spark, p_ids)
    return frontier, f_ids, depth_reached, n_reached


def diameter_estimate(edges: DataFrame, start_id: str,
                      max_depth: int = 12,
                      prebuilt_adj: DataFrame | None = None) -> DataFrame:
    """Graph diameter LOWER BOUND by the classic double-BFS sweep
    (2-sweep heuristic, Magnien/Latapy/Habib JEA'09 — exact on trees,
    typically tight on real graphs): BFS from ``start_id``, take the
    farthest reached node (ties → smallest id, deterministic), BFS
    again from it; the second eccentricity is the bound. Returns one
    row (sweep2_start, diameter_lb, n_reached).

    ``prebuilt_adj`` takes a RESIDENT symmetrized adjacency
    (from_id, to_id), ideally hash-partitioned on from_id — the
    ``_sym_adj``-style ingest artifact — so neither sweep pays the
    symmetrize/persist build.

    Latency design (the ~16 sequential hops are dispatch-bound on
    local mode, not data-bound): both sweeps run inside one conf
    window that (a) REDUCES ``spark.sql.shuffle.partitions`` (fewer
    reduce tasks per tiny stage, same plans), (b) disables AQE (its
    per-exchange job materialization is pure dispatch overhead at
    frontier sizes; plans here are explicitly hinted so there is
    nothing for it to re-plan), and (c) excludes
    ``PushDownLeftSemiAntiJoin`` (it would push the visited anti-join
    below the distinct and the expansion join, anti-probing every
    adjacency row per hop — the measured 30% regression documented in
    ``k_hop``). All three restore on exit. The farthest pick needs no
    full-visited sort: it is the smallest id in the LAST nonempty
    frontier, and (diameter_lb, n_reached) accumulate driver-side from
    the per-hop counts the loop already takes — the final aggregate
    job disappears. At sf0.1 this is warm ~12 s → ~5 s.
    """
    spark = edges.sparkSession if edges is not None \
        else prebuilt_adj.sparkSession
    own = prebuilt_adj is None
    if own:
        # Partition count follows the cluster (defaultParallelism), not
        # a literal — a hardcoded 8 would funnel the whole symmetrized
        # adjacency through 8 partitions on a 1000-executor cluster.
        # localCheckpoint, NOT persist: this plan is byte-identical to
        # the _sym_adj session index's, and Dataset.persist dedupes
        # identical analyzed plans into ONE CacheManager entry — the
        # finally-block unpersist would then silently drop the
        # resident index's storage too (observed: sym_adj 37 MB -> 0
        # mid-bench; every later _sym_adj consumer recomputes).
        # Checkpoint blocks are per-RDD, never plan-shared.
        npart = spark.sparkContext.defaultParallelism
        adj, adj_ids = _lc_tracked(
            symmetrize(edges.select("from_id", "to_id"))
            .repartition(npart, F.col("from_id")))
    else:
        # CONTRACT: prebuilt_adj must already be SYMMETRIZED —
        # _bfs_sweep's two-frontier anti-join is only correct on
        # undirected adjacency; a directed one silently inflates
        # diameter_lb/n_reached via depth<=d-2 revisits. _sym_adj is
        # the intended producer; _dir_adj is NOT valid here.
        adj = prebuilt_adj.select("from_id", "to_id")
    k_shuf = "spark.sql.shuffle.partitions"
    k_aqe = "spark.sql.adaptive.enabled"
    k_excl = "spark.sql.optimizer.excludedRules"
    old_shuf = spark.conf.get(k_shuf)
    old_aqe = spark.conf.get(k_aqe)
    old_excl = spark.conf.get(k_excl, None)
    rule = ("org.apache.spark.sql.catalyst.optimizer."
            "PushDownLeftSemiAntiJoin")
    try:
        # Frontier stages are dispatch-bound, not data-bound: at sf0.1
        # the whole sweep moves ≤105k rows/hop, so fewer reduce tasks
        # per tiny stage wins. Measured warm (2 sweeps, 16 hops):
        # 32 shuffle partitions 5.9 s, 8 → 5.35 s, 4 → 4.72 s,
        # 2 → 4.92 s, 1 → 6.23 s (too few tasks for the 105k-row
        # hops). //8 keeps the choice proportional on a cluster where
        # the session default is sized to real data.
        spark.conf.set(k_shuf, str(max(4, int(old_shuf) // 8)))
        spark.conf.set(k_aqe, "false")
        spark.conf.set(k_excl, rule if not old_excl
                       else old_excl + "," + rule)
        last1, l1_ids, _, _ = _bfs_sweep(adj, start_id, max_depth)
        far = (last1.orderBy(F.col("node_id").asc())
               .limit(1).collect())
        far_id = far[0]["node_id"] if far else start_id
        _lc_free(spark, l1_ids)
        _, l2_ids, ecc, n_reached = _bfs_sweep(adj, far_id, max_depth)
        _lc_free(spark, l2_ids)
        return spark.createDataFrame(
            [(far_id, ecc, n_reached)],
            "sweep2_start string, diameter_lb int, n_reached long")
    finally:
        spark.conf.set(k_shuf, old_shuf)
        spark.conf.set(k_aqe, old_aqe)
        # Restore an explicit prior value verbatim (including an
        # explicit empty string); unset only if it was truly absent.
        # NOTE: the conf window mutates session-wide settings — this
        # call is not safe to run concurrently with other queries on
        # the same SparkSession (fine for the single-threaded bench
        # harness; a multi-tenant deployment would clone the session).
        if old_excl is not None:
            spark.conf.set(k_excl, old_excl)
        else:
            spark.conf.unset(k_excl)
        if own:
            _lc_free(spark, adj_ids)


def adamic_adar_prepare(edges: DataFrame,
                        max_hub_degree: int = 50) -> dict:
    """Build the Adamic–Adar wedge input offline: ``canon`` (distinct
    undirected edges, u < v) and ``nb`` (per mid-degree apex w: its
    BIGINT micro-unit addend ``floor(1e6/ln d + 0.5)`` and each
    neighbor x). Both are |E|-scale frames whose construction costs
    three full shuffles (distinct, degree agg, join) — ingest-time
    work by the same argument as ``pagerank_prepare``: amortize across
    calls, so the query pays only the wedge self-join + aggregate.
    The dict records ``max_hub_degree``; ``adamic_adar`` asserts it
    matches (an index built under a different cap silently changes
    scores — the LPA ``directed``-flag lesson)."""
    canon = (edges.select(F.least("from_id", "to_id").alias("u"),
                          F.greatest("from_id", "to_id").alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())
    adj = symmetrize(canon.select(F.col("u").alias("from_id"),
                                  F.col("v").alias("to_id")))
    deg = adj.groupBy("from_id").agg(F.count(F.lit(1)).alias("d"))
    mids = (deg.filter((F.col("d") >= 2) & (F.col("d") <= max_hub_degree))
            .select(F.col("from_id").alias("w"),
                    F.floor(F.lit(1e6) / F.log(F.col("d").cast("double"))
                            + F.lit(0.5)).cast("long").alias("aa")))
    nb = (adj.join(mids, adj.from_id == mids.w)
          .select("w", "aa", F.col("to_id").alias("x")))
    return {"nb": nb, "canon": canon, "max_hub_degree": max_hub_degree}


def adamic_adar(edges: DataFrame | None, max_hub_degree: int = 50,
                top_k: int = 30, prebuilt: dict | None = None) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar, SocNets 2003):
    score non-adjacent pairs by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — the
    classic common-neighbor feature for edge recommendation, weighted
    so rare shared neighbors count more. Returns the ``top_k``
    (a, b, score) candidate pairs, a < b, EXCLUDING existing edges.

    Scale shape: candidates come from the wedge join at the shared
    neighbor — per-w quadratic in deg(w), so ``max_hub_degree`` caps
    the apex degree (the same skew guard as max_shingle_freq; a
    super-hub's wedges are also the least informative, 1/ln(deg)→0).
    The wedge input is persisted hash-partitioned on w, so the
    self-join is exchange-free; the wedge MULTISET then aggregates
    FIRST (map-side partial sums compress it before its one (u,v)
    shuffle) and the existing-edge anti-join runs on the far smaller
    aggregated pair set, reusing the groupBy partitioning. Per-wedge
    addends are BIGINT micro-units (``floor(1e6/ln d + 0.5)``, pure
    double arithmetic — see corpus.dsir_importance for why hashed
    ln-derived values must never pass through engine ROUND/DECIMAL)
    and the score is their exact integer sum divided once by 1e6.

    ``prebuilt`` takes the :func:`adamic_adar_prepare` dict (already
    partitioned/persisted by the caller's index layer); without it the
    wedge input builds per call and is unpersisted before returning.
    """
    own = prebuilt is None
    if own:
        spark = edges.sparkSession
        n_parts = spark.sparkContext.defaultParallelism
        prebuilt = adamic_adar_prepare(edges, max_hub_degree)
        prebuilt["nb"] = (prebuilt["nb"]
                          .repartition(n_parts, "w").persist())
    elif prebuilt.get("max_hub_degree") != max_hub_degree:
        raise ValueError(
            f"prebuilt adamic-adar index was built with max_hub_degree="
            f"{prebuilt.get('max_hub_degree')}, call asked for "
            f"{max_hub_degree}")
    nb, canon = prebuilt["nb"], prebuilt["canon"]
    try:
        pairs = (nb.alias("l").join(nb.alias("r"), ["w", "aa"])
                 .filter(F.col("l.x") < F.col("r.x"))
                 .select(F.col("l.x").alias("u"), F.col("r.x").alias("v"),
                         "aa"))
        agg = pairs.groupBy("u", "v").agg(F.sum("aa").alias("_s"))
        scored = agg.join(canon, ["u", "v"], "left_anti")
        return (scored.select(F.col("u").alias("a"),
                              F.col("v").alias("b"),
                              (F.col("_s").cast("double") / F.lit(1e6))
                              .alias("score"))
                .orderBy(F.col("score").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(top_k)
                .transform(_lc))
    finally:
        if own:
            nb.unpersist(False)


def graph_stats(edges: DataFrame) -> DataFrame:
    """One-row structural profile of a DIRECTED graph — the summary
    a graph pipeline computes before choosing algorithms/partition
    strategies: node/edge counts, reciprocity (fraction of directed
    edges whose reverse exists), the exact triangle census + global
    clustering coefficient (via `triangle_count`'s degree-oriented
    wedge join), and Newman degree assortativity (Phys. Rev. E 67,
    2003) computed from EXACT integer moment sums over the
    both-directions edge list (S1=Σjk, S2=Σ(j+k), S3=Σ(j²+k²),
    M=2·|E_und|) — so only the closed-form final expression is
    float, replayable term-for-term in SQL. Every piece is an
    equi-join or a one-row aggregate; the only super-linear step is
    the wedge join, already skew-bounded at its lowest-degree
    corner. Reference parity: relationship_metrics' density/degree
    summary (memory_core analytics) without any driver loop."""
    # One materialization each for the directed and canonical edge
    # sets: six aggregate branches read them, and the caller's edge
    # derivation (often a fact-table self-join) must not re-run per
    # branch. localCheckpoint truncates lineage; blocks are reclaimed
    # by the ContextCleaner when the result goes out of scope.
    dedup = (edges.select("from_id", "to_id")
             .filter(F.col("from_id") != F.col("to_id")).distinct()
             .transform(_lc))
    rev = dedup.select(F.col("to_id").alias("from_id"),
                       F.col("from_id").alias("to_id"))
    m_dir = dedup.agg(F.count(F.lit(1)).cast("long")
                      .alias("m_directed"))
    n_recip = (dedup.join(rev, ["from_id", "to_id"], "left_semi")
               .agg(F.count(F.lit(1)).cast("long")
                    .alias("n_reciprocal")))
    nodes = (dedup.select(F.explode(F.array("from_id", "to_id"))
                          .alias("n"))
             .agg(F.countDistinct("n").cast("long").alias("n_nodes")))

    # canon's checkpoint is LAZY (r16): its lineage past the eager
    # dedup blocks is one cheap distinct, so materializing it inside
    # the caller's single 6-branch action saves a driver action
    # (~0.3 s local dispatch) without re-running the expensive edge
    # derivation (that is what dedup's EAGER checkpoint pins).
    canon = (dedup.select(F.least("from_id", "to_id").alias("u"),
                          F.greatest("from_id", "to_id").alias("v"))
             .distinct().transform(_lc_lazy))
    m_und = canon.agg(F.count(F.lit(1)).cast("long")
                      .alias("m_undirected"))
    tri = (triangle_count(canon.select(
        F.col("u").alias("from_id"), F.col("v").alias("to_id")))
        .select(F.col("triangles").cast("long"),
                F.col("wedges").cast("long")))

    deg = (canon.select(F.col("u").alias("n"))
           .unionAll(canon.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).cast("long")
                             .alias("deg")))
    bd = canon.unionAll(canon.select(F.col("v").alias("u"),
                                     F.col("u").alias("v")))
    j = (bd.join(deg.select(F.col("n").alias("u"),
                            F.col("deg").alias("dj")), "u")
         .join(deg.select(F.col("n").alias("v"),
                          F.col("deg").alias("dk")), "v"))
    mom = j.agg(
        F.sum(F.col("dj") * F.col("dk")).cast("long").alias("s_jk"),
        F.sum(F.col("dj") + F.col("dk")).cast("long").alias("s_sum"),
        F.sum(F.col("dj") * F.col("dj")
              + F.col("dk") * F.col("dk")).cast("long").alias("s_sq"),
        F.count(F.lit(1)).cast("long").alias("m2"))

    out = (nodes.crossJoin(m_dir).crossJoin(n_recip)
           .crossJoin(m_und).crossJoin(tri).crossJoin(mom))
    mu = F.col("s_sum") / (2 * F.col("m2"))
    num = F.col("s_jk") / F.col("m2") - mu * mu
    den = F.col("s_sq") / (2 * F.col("m2")) - mu * mu
    return out.select(
        "n_nodes", "m_directed", "n_reciprocal",
        F.round(F.when(F.col("m_directed") > 0,
                       F.col("n_reciprocal") / F.col("m_directed"))
                .otherwise(F.lit(0.0)), 6).alias("reciprocity"),
        "m_undirected", "triangles", "wedges",
        F.round(F.when(F.col("wedges") > 0,
                       (3 * F.col("triangles")) / F.col("wedges"))
                .otherwise(F.lit(0.0)), 6).alias("gcc"),
        "s_jk", "s_sum", "s_sq",
        F.round(F.when(den != 0, num / den).otherwise(F.lit(0.0)), 6)
        .alias("assortativity"))


def bounded_scc(edges: DataFrame, n_iter: int = 3,
                from_col: str = "from_id",
                to_col: str = "to_id",
                merge_labels: bool = False,
                exhaustive: bool = False,
                max_pivots: int = 4,
                peel_shortcuts: int = 2,
                max_peel_rounds: int = 256,
                include_cert: bool = False) -> DataFrame:
    """k-BOUNDED strongly-connected-component labeling for DIRECTED
    graphs — the forward-backward min-label certificate (the
    FW-BW/Multistep family's first phase, fixed rounds like this
    module's pagerank/LPA/k_core so the oracle can unroll it):

    - fmin_r(u) = min node id REACHABLE FROM u within r hops
      (fmin_0 = u; fmin_{r+1}(u) = min(fmin_r(u), min over u→v of
      fmin_r(v)))
    - bmin_r(u) = the same along REVERSED edges (min id that reaches u)

    If fmin_k(u) == bmin_k(u) == m then u reaches m and m reaches u,
    so u provably belongs to SCC(m) — THAT is the guarantee: a
    non-(-1) label m certifies u ∈ SCC(m). It does NOT certify that
    m is the SCC's global minimum, so two nodes of the same SCC can
    carry DIFFERENT labels when the SCC's true minimum lies beyond
    the hop budget (round-8 ADVICE: a 9-cycle at k=3 can label node
    50 as SCC 50 while node 10 gets SCC 10). Two hazard reducers run
    on top of the k rounds:

    - a VERIFICATION round: a node keeps its label only if one extra
      propagation round improves neither fmin nor bmin (the round-8
      advisor's demotion rule — it demotes exactly the nodes provably
      mislabeled at k+1, e.g. the 9-cycle's node 50, whose fmin drops
      to 10 in round 4);
    - ``merge_labels=True`` (round-9 verdict item 2): every certified
      pair (u, m) IS a proven same-SCC relation, so min-label
      connected components over the undirected relation graph
      collapses each chained certificate class to one key — u
      certified to m and m certified to m0 end up with the same
      scc_id (= the class minimum). A label node that was itself
      DEMOTED but is named by someone's certificate is healed the
      same way (m ∈ SCC(m) trivially, and u's certificate proves the
      class), so the merge strictly refines the labeling.

    The merged scc_id is a usable component KEY: any two certified
    nodes whose certificates chain through shared labels agree on it.
    ``exhaustive=True`` (round-10 verdict item 3) adds the FW-BW
    family's DESCENT phase on what the certificates left behind: up
    to ``max_pivots`` times, pick the smallest still-unresolved node
    as pivot, run one forward+backward reachability fixpoint over the
    WHOLE graph (rounds until both frontiers empty, both directions
    advanced in the SAME join per round), and assign every node in
    F ∩ B — the pivot's EXACT SCC, certified members included — the
    set's true minimum. The two flags compose but neither implies the
    other: the peel alone starts from the verified certificate labels
    (each pivot peel is exact regardless); add ``merge_labels=True``
    to also collapse chained certificate classes in SCCs the K pivots
    never reach. This closes the never-touching-classes split
    (two far-apart self-certified local minima on a very long cycle:
    the cycle's demoted nodes are residual, the first pivot's F ∩ B
    is the whole cycle, and the override re-keys both minima to the
    one true min) and resolves residual singleton SCCs (DAG nodes) to
    themselves, one pivot each. The residual is now bounded by K
    pivots: after ``max_pivots`` peels, only DEMOTED nodes in SCCs
    that no pivot reached still report -1. Exactness is per-source:
    a key assigned by a peel is the true minimum of that pivot's
    complete SCC, and with ``merge_labels=True`` chained certificate
    classes collapse to one key; but certified nodes in SCCs the K
    pivots never reach keep their certificate keys, which are
    ∈-same-SCC WITNESSES, not canonical minima — two such nodes in
    one unpeeled SCC can legitimately disagree until a later peel
    (or a larger ``max_pivots``) re-keys them.
    ``peel_shortcuts`` squares the adjacency that many times before
    the BFS (u→w added when u→v→w exists — reachability-preserving),
    trading |E| growth bounded by avg-degree^s for diameter/2^s
    rounds — the per-round driver-dispatch floor (q104) is the cost
    model, so fewer, fatter rounds win at local scale and on a real
    cluster alike. Everything unresolved reports the explicit
    residual (scc_id = -1). Returns (node_id, scc_id);
    ``include_cert=True`` adds the phase-1 verified certificate label
    as ``cert_scc`` (witness provenance — and it lets one call gate
    both phases instead of paying the certificate rounds twice).

    Scale shape: per round ONE equi-join of the (reused) adjacency
    against the |V|-row label vector + a map-side-combined min — the
    O(|V|) iterative-state discipline; both directions share the
    same adjacency with the join key flipped. Works on integer node
    ids (min is taken in the id's native ordering)."""
    # localCheckpoint (not persist): every certificate/merge/peel
    # round re-optimizes the full edges subtree under a mere persist —
    # ~17 driver actions x Catalyst planning of the feeder plan is
    # real wall at the local dispatch floor; the checkpoint truncates
    # the logical plan to a leaf.
    adj, adj_ids = _lc_tracked(edges.select(from_col, to_col))
    try:
        nodes = (adj.select(F.col(from_col).alias("node_id"))
                 .unionByName(adj.select(F.col(to_col).alias("node_id")))
                 .distinct())
        lab = nodes.select("node_id",
                           F.col("node_id").alias("fmin"),
                           F.col("node_id").alias("bmin"))
        lab, lab_ids = _lc_tracked(lab)

        def _round(cur: DataFrame) -> DataFrame:
            fwd = (adj.join(cur.select(F.col("node_id").alias(to_col),
                                       F.col("fmin").alias("_nf")), to_col)
                   .groupBy(from_col)
                   .agg(F.min("_nf").alias("_mf")))
            bwd = (adj.join(cur.select(F.col("node_id").alias(from_col),
                                       F.col("bmin").alias("_nb")), from_col)
                   .groupBy(to_col)
                   .agg(F.min("_nb").alias("_mb")))
            return (cur
                    .join(fwd.withColumnRenamed(from_col, "node_id"),
                          "node_id", "left")
                    .join(bwd.withColumnRenamed(to_col, "node_id"),
                          "node_id", "left")
                    .select("node_id",
                            F.least("fmin", F.coalesce("_mf", "fmin"))
                            .alias("fmin"),
                            F.least("bmin", F.coalesce("_mb", "bmin"))
                            .alias("bmin")))

        for _ in range(n_iter):
            # eager lc_tracked already materializes the round — no
            # extra count() action needed (r10: 6 redundant jobs cut)
            nxt, nxt_ids = _lc_tracked(_round(lab))
            _lc_free(adj.sparkSession, lab_ids)
            lab, lab_ids = nxt, nxt_ids
        # Verification round (round-8 ADVICE demotion rule): one more
        # propagation; a node whose fmin or bmin would still improve is
        # provably not converged, so its round-k label is demoted to -1
        # rather than shipped as a component key. Same per-round cost —
        # one adjacency join + map-side min per direction.
        ver = (_round(lab)
               .select("node_id", F.col("fmin").alias("_vf"),
                       F.col("bmin").alias("_vb")))
        out = (lab.join(ver, "node_id")
               .select(
                   "node_id",
                   F.when((F.col("fmin") == F.col("bmin"))
                          & (F.col("fmin") == F.col("_vf"))
                          & (F.col("bmin") == F.col("_vb")),
                          F.col("fmin"))
                   .otherwise(F.lit(-1)).alias("scc_id")))
        def _with_cert(final: DataFrame) -> DataFrame:
            if not include_cert:
                return final
            return (final.join(
                out.select("node_id",
                           F.col("scc_id").alias("cert_scc")),
                "node_id")
                .select("node_id", "cert_scc", "scc_id"))

        def _peel(labels: DataFrame, lab2_ids: set) -> DataFrame:
            # ---- FW-BW DESCENT (phase 2, r10 verdict item 3) --------
            # Peel up to max_pivots SCCs off the residual. Per pivot:
            # one forward+backward reachability fixpoint over the
            # WHOLE graph (F∩B from p = exactly SCC(p)), both
            # directions advanced in the SAME join per round via a
            # direction tag — the per-round driver dispatch is the
            # local cost floor (q104), so halving the round count
            # beats halving the per-round volume. Shortcut squaring
            # (u→w when u→v→w) preserves reachability and lets each
            # round advance 2^s hops; growth is bounded by
            # avg-degree^s. All frames lazily checkpointed: ONE count
            # action per round materializes frontier AND the reached
            # union.
            spark = adj.sparkSession
            fwd = adj.select(F.col(from_col).alias("src"),
                             F.col(to_col).alias("dst")).distinct()
            for _ in range(peel_shortcuts):
                fwd = (fwd.unionByName(
                    fwd.alias("a").join(
                        fwd.alias("b"),
                        F.col("a.dst") == F.col("b.src"))
                    .select(F.col("a.src").alias("src"),
                            F.col("b.dst").alias("dst")))
                    .distinct())
            bi = (fwd.withColumn("_dir", F.lit("f"))
                  .unionByName(fwd.select(F.col("dst").alias("src"),
                                          F.col("src").alias("dst"))
                               .withColumn("_dir", F.lit("b"))))
            # lazy: the first BFS round's count materializes it — one
            # fewer driver dispatch (the local floor, q104).
            bi, bi_ids = _lc_tracked(bi, eager=False)
            dirs = spark.createDataFrame([("f",), ("b",)],
                                         "_dir string")
            try:
                for _ in range(max_pivots):
                    pv = (labels.filter(F.col("scc_id") == -1)
                          .agg(F.min("node_id")).first()[0])
                    if pv is None:
                        break
                    # seed = 2 rows off the checkpointed labels — not
                    # worth its own checkpoint dispatch
                    seed = (labels.filter(F.col("node_id") == pv)
                            .select("node_id").crossJoin(dirs))
                    reached, r_ids = seed, set()
                    frontier, f_ids = seed, set()
                    prev = 2
                    rounds = 0
                    while True:
                        rounds += 1
                        if rounds > max_peel_rounds:
                            raise RuntimeError(
                                "bounded_scc exhaustive peel: "
                                "frontier not empty after "
                                f"{max_peel_rounds} rounds — raise "
                                "max_peel_rounds (SCC diameter "
                                "exceeds 2^peel_shortcuts * "
                                "max_peel_rounds hops)")
                        # (measured negative, r11: broadcasting
                        # frontier/reached here made the round SLOWER
                        # — 5.8 → 6.7 s for the whole query; per-round
                        # broadcast construction costs more than the
                        # 2-partition exchanges it removes.)
                        nxt = (bi.join(frontier.withColumnRenamed(
                                           "node_id", "src"),
                                       ["src", "_dir"])
                               .select(F.col("dst").alias("node_id"),
                                       "_dir").distinct()
                               .join(reached, ["node_id", "_dir"],
                                     "left_anti"))
                        nxt, n_ids = _lc_tracked(nxt, eager=False)
                        new_reached, nr_ids = _lc_tracked(
                            reached.unionByName(nxt), eager=False)
                        # ONE action: materializes nxt AND the union;
                        # reached ∩ nxt = ∅ (anti-join), so growth ==
                        # |nxt|.
                        cnt = new_reached.count()
                        if cnt == prev:              # frontier empty
                            _lc_free(spark, n_ids | nr_ids | f_ids)
                            break
                        _lc_free(spark, r_ids | f_ids)
                        reached, r_ids = new_reached, nr_ids
                        frontier, f_ids = nxt, n_ids
                        prev = cnt
                    # SCC(p) = nodes reached in BOTH directions.
                    scc = (reached.groupBy("node_id")
                           .agg(F.countDistinct("_dir").alias("_nd"))
                           .filter(F.col("_nd") == 2)
                           .select("node_id"))
                    key = scc.agg(F.min("node_id")).first()[0]
                    relab = (labels.join(
                        scc.withColumn("_in", F.lit(1)),
                        "node_id", "left")
                        .select("node_id",
                                F.when(F.col("_in") == 1, F.lit(key))
                                .otherwise(F.col("scc_id"))
                                .alias("scc_id")))
                    relab, relab_ids = _lc_tracked(relab)
                    _lc_free(spark, lab2_ids | r_ids)
                    labels, lab2_ids = relab, relab_ids
                return _with_cert(labels)
            finally:
                _lc_free(spark, bi_ids)

        if not (merge_labels or exhaustive):
            # checkpoint before the finally frees adj — out's lazy
            # plan references the adjacency
            out = _lc(out)
            _lc_free(adj.sparkSession, lab_ids)
            if include_cert:
                return out.select("node_id",
                                  F.col("scc_id").alias("cert_scc"),
                                  "scc_id")
            return out
        # Label-merge closure (see docstring). The certified relation
        # is FUNCTIONAL — each node carries exactly one label, and
        # labels strictly decrease (scc_id ≤ node_id since fmin only
        # shrinks from its own id) — so the relation graph is a
        # forest and the class minimum is simply each chain's
        # terminal. A pointer-doubling label chase reaches it in
        # O(log chain-depth) self-joins, each round ONE action (lazy
        # checkpoint materialized by the convergence count) — general
        # min-label CC would pay ~3× the driver actions for the same
        # answer. Seeding every NAMED label m with (m, m) heals
        # demoted-but-named labels (m ∈ SCC(m), and the naming
        # certificate proves the class), exactly like CC over the
        # symmetrized relations would. ``out`` feeds two branches —
        # checkpoint so the 2·(k+1)-join labeling plan is computed
        # once, not re-derived per branch.
        out = _lc(out)
        # out's eager checkpoint truncated its lineage — the
        # certificate rounds' final label frame is dead; free its
        # blocks now instead of pinning 3|V| rows until GC.
        _lc_free(adj.sparkSession, lab_ids)
        spark = adj.sparkSession
        if not merge_labels:
            # exhaustive without the merge: the descent operates on
            # the verified certificate labels directly — every pivot
            # peel is exact regardless (F∩B re-keys certified members
            # too), and skipping the chase saves ~4 driver actions at
            # the local dispatch floor. Pass merge_labels=True as well
            # to ALSO collapse chained classes the pivots never reach.
            # out is already checkpointed — no second dispatch needed.
            return _peel(out, set())
        cert = out.filter(F.col("scc_id") >= 0)
        base = cert.select("node_id", F.col("scc_id").alias("key"))
        seeds = base.select(F.col("key").alias("node_id"),
                            F.col("key").alias("key"))
        res = (base.unionByName(seeds)
               .groupBy("node_id").agg(F.min("key").alias("key")))
        res, res_ids = _lc_tracked(res)
        # Backstop (r10 ADVICE): convergence rests on the relation
        # being functional with strictly-decreasing keys (scc_id ≤
        # node_id ⇒ forest ⇒ chains halve per doubling round). Chain
        # depth ≤ |V| < 2^63, so > 63 doubling rounds proves the
        # invariant was broken upstream — fail loudly instead of
        # looping forever on a cyclic label relation.
        rounds = 0
        while True:
            rounds += 1
            if rounds > 63:
                raise RuntimeError(
                    "bounded_scc merge_labels: pointer-doubling chase "
                    "did not converge in 63 rounds — the certificate "
                    "label relation is no longer a strictly-decreasing "
                    "forest (scc_id > node_id somewhere?)")
            hop = res.select(F.col("node_id").alias("_k"),
                             F.col("key").alias("_v"))
            nxt = (res.join(hop, res["key"] == F.col("_k"), "left")
                   .select("node_id",
                           F.coalesce("_v", "key").alias("key"),
                           (F.coalesce("_v", "key") != F.col("key"))
                           .alias("_chg")))
            nxt, nxt_ids = _lc_tracked(nxt, eager=False)
            changed = nxt.filter("_chg").count()   # materializes too
            _lc_free(spark, res_ids)
            res, res_ids = nxt.drop("_chg"), nxt_ids
            if changed == 0:
                break
        merged = (out.join(res.withColumnRenamed("key", "_m"),
                           "node_id", "left")
                  .select("node_id",
                          F.coalesce("_m", "scc_id").alias("scc_id")))
        if not exhaustive:
            return _with_cert(merged)
        labels, lab2_ids = _lc_tracked(merged)
        _lc_free(spark, res_ids)
        return _peel(labels, lab2_ids)
    finally:
        _lc_free(edges.sparkSession, adj_ids)
