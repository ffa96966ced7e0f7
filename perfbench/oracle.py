"""Independent answers for every benchmarked call, and the checks that
compare the engine's output with them.

Nothing here imports the engine: answers come from DuckDB over the
generated parquet, numpy, networkx or plain Python. Each ``check_*``
returns a list of error strings; an empty list means the output is
correct.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_NON_WORD = re.compile(r"[^a-z0-9]+")


def round6(x: float) -> float:
    """SQL ``round(x, 6)``: half-up on the shortest decimal form."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"),
                                                   ROUND_HALF_UP))


def words(text: str) -> list[str]:
    return [t for t in _NON_WORD.sub(" ", text.lower()).split(" ") if t]


def _diff(name: str, got, want) -> list[str]:
    if got == want:
        return []
    return [f"{name}: got {str(got)[:200]} want {str(want)[:200]}"]


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def query_sql(nodes_path: str, p: dict) -> tuple[str, str]:
    """(page SQL, count SQL) for a structured-query request."""
    srcs = ", ".join(f"'{s}'" for s in p["sources"])
    where = (f"source IN ({srcs}) AND rating_richness >= {p['min_richness']}")
    order = (f"{p['sort']} {'ASC NULLS FIRST' if p['asc'] else 'DESC NULLS LAST'}"
             ", node_id ASC NULLS FIRST")
    cols = ", ".join(p["fields"])
    src = f"read_parquet('{nodes_path}')"
    return (f"SELECT {cols} FROM {src} WHERE {where} ORDER BY {order} "
            f"LIMIT {p['limit']} OFFSET {p['offset']}",
            f"SELECT count(*) FROM {src} WHERE {where}")


def duck_query(con, nodes_path: str, p: dict) -> tuple[list[dict], int]:
    page_sql, count_sql = query_sql(nodes_path, p)
    cur = con.execute(page_sql)
    names = [d[0] for d in cur.description]
    rows = [dict(zip(names, r)) for r in cur.fetchall()]
    return rows, con.execute(count_sql).fetchone()[0]


def duck_aggregate(con, nodes_path: str, p: dict) -> tuple[list[dict], int]:
    cur = con.execute(
        f"SELECT source, count(*) AS count, "
        f"coalesce(avg(rating_richness), 0.0) AS avg_rating_richness, "
        f"max(rating_truthfulness) AS max_rating_truthfulness "
        f"FROM read_parquet('{nodes_path}') "
        f"WHERE rating_stability >= {p['min_stability']} "
        f"GROUP BY source ORDER BY source ASC NULLS FIRST")
    names = [d[0] for d in cur.description]
    rows = [dict(zip(names, r)) for r in cur.fetchall()]
    return rows, len(rows)


def check_rows(got: tuple[list[dict], int], want: tuple[list[dict], int],
               rel_tol: float = 0.0) -> list[str]:
    """Ordered row lists and total counts equal; floats within
    ``rel_tol`` (0 = exact)."""
    (g_rows, g_total), (w_rows, w_total) = got, want
    errs = _diff("total_count", g_total, w_total)
    if len(g_rows) != len(w_rows):
        return errs + [f"rows: got {len(g_rows)} want {len(w_rows)}"]
    for i, (g, w) in enumerate(zip(g_rows, w_rows)):
        if set(g) != set(w):
            errs.append(f"row {i} columns {sorted(g)} != {sorted(w)}")
            continue
        for k, wv in w.items():
            gv = g[k]
            if isinstance(wv, float) and isinstance(gv, float):
                ok = math.isclose(gv, wv, rel_tol=rel_tol, abs_tol=0.0) \
                    if rel_tol else gv == wv
            else:
                ok = gv == wv
            if not ok:
                errs.append(f"row {i} {k}: got {gv!r} want {wv!r}")
    return errs[:5]


class SearchOracle:
    """numpy recomputation of ``MemoryEngine.search``'s documented
    score: relevance = min(2 * token Jaccard, 1); quality =
    0.4 richness + 0.4 truthfulness + 0.2 stability; relationships =
    0.2 for an edge-less node, else min(0.5 + 0.1 degree, 1); weights
    0.4 / 0.3 / 0.1, normalized to sum 1."""

    def __init__(self, nodes: dict, degree: dict):
        self.ids = list(nodes["node_id"])
        self.tok = [set(words(c)) for c in nodes["content"]]
        r, t, s = (np.asarray(nodes[c], dtype=np.float64) for c in
                   ("rating_richness", "rating_truthfulness", "rating_stability"))
        self.quality = 0.4 * r + 0.4 * t + 0.2 * s
        deg = np.array([degree.get(i, 0) for i in self.ids], dtype=np.float64)
        self.rel = np.where(deg == 0, 0.2, np.minimum(0.5 + 0.1 * deg, 1.0))

    def page(self, text: str, offset: int, limit: int) -> tuple[list, int]:
        q = set(words(text))
        jac = np.array([len(c & q) / len(c | q) if (c | q) else 0.0
                        for c in self.tok])
        relevance = np.minimum(jac * 2.0, 1.0)
        score = ((0.0 + relevance * (0.4 / 0.8)) + self.quality * (0.3 / 0.8)) \
            + self.rel * (0.1 / 0.8)
        ranked = sorted(((-round6(v), i) for v, i in zip(score, self.ids)
                         if round6(v) > 0))
        return ([(i, -ns) for ns, i in ranked[offset:offset + limit]],
                len(ranked))


def check_search(got: tuple[list, int], want: tuple[list, int]) -> list[str]:
    (g_page, g_total), (w_page, w_total) = got, want
    errs = _diff("total_count", g_total, w_total)
    errs += _diff("page ids", [i for i, _ in g_page], [i for i, _ in w_page])
    for (i, gs), (_, ws) in zip(g_page, w_page):
        if abs(gs - ws) > 1e-6 + 1e-12:
            errs.append(f"score of {i}: got {gs} want {ws}")
    return errs[:5]


def topk_cosine(ids: list[str], vecs: np.ndarray, q, k: int) -> list:
    v = vecs.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    s = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    order = sorted(range(len(ids)), key=lambda j: (-s[j], ids[j]))[:k]
    return [(ids[j], float(s[j])) for j in order], dict(zip(ids, s))


def check_topk(got: list, want: tuple[list, dict], k: int) -> list[str]:
    """Scores agree to 1e-6 rank by rank; an id may differ from numpy's
    only where the two scores tie within 1e-6."""
    w_list, all_scores = want
    if len(got) != min(k, len(all_scores)):
        return [f"top-k length {len(got)} want {min(k, len(all_scores))}"]
    errs = []
    for r, ((gi, gs), (wi, ws)) in enumerate(zip(got, w_list)):
        if abs(gs - ws) > 1e-6:
            errs.append(f"rank {r}: score {gs} want {ws}")
        if gi != wi and (gi not in all_scores or abs(all_scores[gi] - ws) > 1e-6):
            errs.append(f"rank {r}: id {gi} want {wi}")
    if len({i for i, _ in got}) != len(got):
        errs.append("duplicate ids in top-k")
    return errs[:5]


class GraphOracle:
    """Adjacency of the typed edge list, for 1-hop neighbors and BFS."""

    def __init__(self, from_ids, to_ids, rels):
        self.und = defaultdict(set)
        self.typed = defaultdict(set)
        for a, b, r in zip(from_ids, to_ids, rels):
            self.und[a].add(b)
            self.und[b].add(a)
            self.typed[a].add((b, r))
            self.typed[b].add((a, r))

    def neighbors(self, node_ids, relation=None) -> set:
        return {(n, b, r) for n in node_ids for b, r in self.typed.get(n, ())
                if relation is None or r == relation}

    def bfs(self, starts, depth: int) -> dict:
        dist = {s: 0 for s in starts}
        frontier = list(starts)
        for d in range(1, depth + 1):
            nxt = []
            for u in frontier:
                for v in self.und.get(u, ()):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        return dist


def check_equal(name: str, got, want) -> list[str]:
    if got == want:
        return []
    if isinstance(got, (set, dict)) and isinstance(want, (set, dict)):
        g, w = set(got.items() if isinstance(got, dict) else got), \
            set(want.items() if isinstance(want, dict) else want)
        return [f"{name}: {len(g - w)} unexpected, {len(w - g)} missing, "
                f"e.g. {sorted(g - w)[:2]} / {sorted(w - g)[:2]}"]
    return _diff(name, got, want)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def units_of(text: str) -> list[str]:
    """The documented unit split: sentence spans of at least 20
    characters, trimmed."""
    return [s.strip() for s in re.split(r"[.!?\n]+", text)
            if len(s.strip()) >= 20]


def node_id(content: str) -> str:
    return "node_" + hashlib.md5(content.encode()).hexdigest()


def unit_tags(content: str, max_tags: int = 5) -> list[str]:
    toks = [t for t in _NON_WORD.sub(" ", content.lower()).split(" ")
            if len(t) >= 4]
    return list(dict.fromkeys(toks))[:max_tags]


def batch_units(texts) -> dict[str, str]:
    """node_id → content for one batch of documents."""
    return {node_id(u): u for t in texts for u in units_of(t)}


def tag_jaccard_edges(tags_by_id: dict[str, list[str]],
                      threshold: float = 0.3) -> dict[tuple, float]:
    """Inverted-index tag Jaccard: {(a, b): round6(j)} for a < b with
    j > threshold."""
    sets = {i: set(t) for i, t in tags_by_id.items() if t}
    index = defaultdict(list)
    for i, s in sets.items():
        for t in s:
            index[t].append(i)
    common = defaultdict(int)
    for ids in index.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                common[(ids[x], ids[y])] += 1
    out = {}
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j > threshold:
            out[(a, b)] = round6(j)
    return out


def check_edges(got: dict[tuple, float], want: dict[tuple, float]) -> list[str]:
    errs = check_equal("edge pairs", set(got), set(want))
    for k, w in want.items():
        if k in got and abs(got[k] - w) > 1e-6 + 1e-12:
            errs.append(f"confidence {k}: got {got[k]} want {w}")
    return errs[:5]


def check_embeddings(vectors, dim: int) -> list[str]:
    errs = []
    for i, v in enumerate(vectors):
        if v is None or len(v) != dim:
            errs.append(f"embedding {i}: dim {None if v is None else len(v)}")
        elif abs(float(np.linalg.norm(np.asarray(v, np.float64))) - 1.0) > 1e-5:
            errs.append(f"embedding {i}: norm {np.linalg.norm(v)}")
        if len(errs) >= 3:
            break
    return errs


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

def pagerank(src: np.ndarray, dst: np.ndarray, n_iter: int,
             damping: float = 0.85) -> dict:
    """Power iteration over the undirected multigraph (each edge row in
    both directions), uniform 1/N start, teleport (1-d)/N, no dangling
    redistribution."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    s, d = inv[: len(src)], inv[len(src):]
    frm = np.concatenate([s, d])
    to = np.concatenate([d, s])
    deg = np.bincount(frm, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.bincount(to, weights=rank[frm] / deg[frm], minlength=n)
        rank = (1.0 - damping) / n + damping * contrib
    return dict(zip(nodes.tolist(), rank.tolist()))


def check_pagerank(got: dict, want: dict) -> list[str]:
    errs = check_equal("pagerank nodes", set(got), set(want))
    if errs:
        return errs
    worst = max(abs(got[k] - want[k]) for k in want)
    if worst > 1e-9:
        errs.append(f"pagerank max abs error {worst:.3g} > 1e-9")
    total = math.fsum(got.values())
    if abs(total - 1.0) > 1e-9:
        errs.append(f"ranks sum to {total!r}")
    return errs


def components(src, dst) -> dict:
    """Union-find; each node labelled with its component's minimum id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def k_core(src, dst, k: int, rounds: int) -> dict:
    """Synchronous peeling for ``rounds`` rounds over the undirected
    multigraph, then degrees in the surviving subgraph."""
    pairs = list(zip(src.tolist(), dst.tolist()))
    alive = None
    for _ in range(rounds):
        deg = defaultdict(int)
        for a, b in pairs:
            if alive is None or (a in alive and b in alive):
                deg[a] += 1
                deg[b] += 1
        alive = {v for v, c in deg.items() if c >= k}
    deg = defaultdict(int)
    for a, b in pairs:
        if a in alive and b in alive:
            deg[a] += 1
            deg[b] += 1
    return dict(deg)


def triangles(src, dst) -> tuple[int, int]:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in zip(src.tolist(), dst.tolist()) if a != b)
    tri = sum(nx.triangles(g).values()) // 3
    wedges = sum(d * (d - 1) // 2 for _, d in g.degree())
    return tri, wedges


def check_triangles(got: tuple, want: tuple[int, int]) -> list[str]:
    tri, wedges = want
    gc = round6(3.0 * tri / wedges) if wedges else 0.0
    return _diff("triangles, wedges, clustering", tuple(got), (tri, wedges, gc))


def shingles(text: str, n: int = 3) -> set[str]:
    toks = words(text)
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def check_neardup(got: list[tuple], shingle_sets: dict, planted: list[tuple],
                  threshold: float) -> list[str]:
    errs = []
    for a, b, j in got:
        sa, sb = shingle_sets[a], shingle_sets[b]
        exact = len(sa & sb) / len(sa | sb)
        if abs(round6(exact) - j) > 1e-6 + 1e-12 or exact < threshold:
            errs.append(f"pair ({a}, {b}): jaccard {j} exact {exact}")
    found = {(min(a, b), max(a, b)) for a, b, _ in got}
    missing = [p for p in planted if (min(p), max(p)) not in found]
    if missing:
        errs.append(f"{len(missing)} planted pairs missing, e.g. {missing[:2]}")
    if len(found) != len(got):
        errs.append("duplicate pairs")
    return errs[:5]
