"""Seeded input generators. Every table is a numpy/pyarrow build written
as one parquet file; the engine sees only those files.

The vocabulary is fixed (it does not depend on the seed), so every seed
draws from the same word population and only the draws change.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = [f"src{i}" for i in range(8)]
RELATIONS = ["RELATED", "CITES", "PART_OF", "SIMILAR_TO"]
EMB_DIM = 64
EMB_CLUSTERS = 32

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa",
        "do", "fe", "gu", "hi", "jo", "ba", "ce", "xu", "wy", "qi"]


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase words of 4-10 letters (fixed draw)."""
    rng = np.random.default_rng(20240917)
    seen: dict[str, None] = {}
    while len(seen) < n:
        k = int(rng.integers(2, 6))
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), k))
        seen.setdefault(w, None)
    return list(seen)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def power_law_edges(rng, n: int, mean_out: float, max_out: int,
                    in_skew: float, min_out: int = 1,
                    hubs_first: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Directed edge endpoints (index arrays) with Pareto out-degree
    (shape 1.6, clipped to [``min_out``, ``max_out``]) and
    Zipf(``in_skew``) preferential targets; self-loops and repeated
    pairs removed. ``hubs_first`` gives the most-cited nodes the lowest
    ids, as when early nodes gather the most links."""
    raw = (rng.pareto(1.6, n) + 1.0) * (mean_out * 0.75 / 1.6)
    out_deg = np.clip(np.floor(raw).astype(np.int64), min_out, max_out)
    src = np.repeat(np.arange(n), out_deg)
    order = np.arange(n) if hubs_first else rng.permutation(n)  # node of each rank
    dst = order[rng.choice(n, size=len(src), p=_zipf_weights(n, in_skew))]
    keep = src != dst
    src, dst = src[keep], dst[keep]
    pair = np.unique(src * n + dst)
    return pair // n, pair % n


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# serve: nodes, edges, embeddings of one knowledge graph
# ---------------------------------------------------------------------------

def serve_graph(seed: int, out_dir: str, n_nodes: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary(3000))
    wp = _zipf_weights(len(vocab), 0.9)
    ids = np.array([f"n{i:06d}" for i in range(n_nodes)])
    lens = rng.integers(8, 21, n_nodes)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=wp)
    cuts = np.cumsum(lens)[:-1]
    content = [" ".join(vocab[w]) for w in np.split(words, cuts)]
    tag_idx = rng.choice(200, size=(n_nodes, 3), p=_zipf_weights(200, 0.8))
    tags = [",".join(vocab[1000 + t] for t in sorted(set(row)))
            for row in tag_idx]
    src, dst = power_law_edges(rng, n_nodes, mean_out=4.0, max_out=400,
                               in_skew=0.8)
    centers = rng.standard_normal((EMB_CLUSTERS, EMB_DIM))
    assign = rng.integers(0, EMB_CLUSTERS, n_nodes)
    vecs = centers[assign] + 0.35 * rng.standard_normal((n_nodes, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    nodes = pa.table({
        "node_id": ids,
        "content": content,
        "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n_nodes)],
        "creation_timestamp": np.round(
            1.6e9 + rng.uniform(0, 3e7, n_nodes), 3),
        "rating_richness": np.round(rng.uniform(0, 1, n_nodes), 3),
        "rating_truthfulness": np.round(rng.uniform(0, 1, n_nodes), 3),
        "rating_stability": np.round(rng.uniform(0, 1, n_nodes), 3),
        "tags": tags,
    })
    edges = pa.table({
        "from_id": ids[src],
        "to_id": ids[dst],
        "relation_type": np.array(RELATIONS)[rng.integers(0, len(RELATIONS),
                                                          len(src))],
        "confidence_score": np.round(rng.uniform(0.1, 1.0, len(src)), 3),
    })
    emb = pa.table({
        "node_id": ids,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    os.makedirs(out_dir, exist_ok=True)
    return {
        "tables": {"nodes": nodes, "edges": edges, "embeddings": emb},
        "nodes": _write(nodes, os.path.join(out_dir, "nodes.parquet")),
        "edges": _write(edges, os.path.join(out_dir, "edges.parquet")),
        "embeddings": _write(emb, os.path.join(out_dir, "embeddings.parquet")),
        "centers": centers,
        "vocab": vocab,
    }


# ---------------------------------------------------------------------------
# ingest: documents arriving in batches
# ---------------------------------------------------------------------------

# Tag words come from a flat-ish Zipf(0.6) law over 20k words, so the
# largest tag stays near 4% of a batch's units; a Zipf(1.05) head over a small
# vocabulary makes similar_tags' blocked pair join quadratic in the hot
# tag (see CHANGES.md, FOUND on discovery.similar_tags).
INGEST_VOCAB = 20000
INGEST_SKEW = 0.6
REPEAT_SHARE = 0.1      # sentences re-sent from earlier batches
VARIANT_SHARE = 0.15    # sentences that reword one of the same batch


class DocStream:
    """Batches of (doc_id, source, text), one parquet file each, made
    on demand: batch ``b`` depends only on the seed and the batches
    before it. A tenth of the sentences repeat a sentence of an earlier
    batch, so upserts replace existing nodes as well as adding new
    ones; 15% reword an earlier sentence of the same batch (one or two
    of its first six words replaced), so tag discovery finds pairs."""

    def __init__(self, seed: int, out_dir: str, sentences_per_doc: int = 3):
        self.seed, self.out_dir = seed, out_dir
        self.per_doc = sentences_per_doc
        self.vocab = np.array(vocabulary(INGEST_VOCAB))
        self.p = _zipf_weights(len(self.vocab), INGEST_SKEW)
        self.pool: list[str] = []
        os.makedirs(out_dir, exist_ok=True)

    def batch(self, b: int, n_docs: int) -> str:
        rng = np.random.default_rng([self.seed, 2, b])
        n_sent = n_docs * self.per_doc
        lens = rng.integers(6, 13, n_sent)
        words = rng.choice(len(self.vocab), size=int(lens.sum()), p=self.p)
        sents = [" ".join(self.vocab[w]) for w in np.split(words, np.cumsum(lens)[:-1])]
        for i in np.flatnonzero(rng.random(n_sent) < VARIANT_SHARE):
            if i == 0:
                continue
            w = sents[int(rng.integers(0, i))].split(" ")
            for pos in rng.choice(6, int(rng.integers(1, 3)), replace=False):
                w[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
            sents[i] = " ".join(w)
        if self.pool:
            rep = rng.random(n_sent) < REPEAT_SHARE
            picks = rng.integers(0, len(self.pool), n_sent)
            sents = [self.pool[p] if r else s for s, r, p in zip(sents, rep, picks)]
        self.pool.extend(sents[:n_docs])
        docs = [". ".join(sents[i:i + self.per_doc]) + "."
                for i in range(0, n_sent, self.per_doc)]
        t = pa.table({
            "doc_id": [f"d{b:04d}_{i:05d}" for i in range(n_docs)],
            "source": np.array(SOURCES)[rng.integers(0, len(SOURCES), n_docs)],
            "text": docs,
        })
        return _write(t, os.path.join(self.out_dir, f"batch{b:04d}.parquet"))


# ---------------------------------------------------------------------------
# analytics: a larger power-law graph plus a corpus with planted near-dups
# ---------------------------------------------------------------------------

def analytics_inputs(seed: int, out_dir: str, n_nodes: int, n_docs: int,
                     n_planted: int, doc_words: int = 60) -> dict:
    rng = np.random.default_rng([seed, 3])
    # Every node sends at least two edges and the hubs hold the lowest
    # ids, so the minimum label reaches every node in a few hops and the
    # rounds connected components needs do not swing with the seed.
    src, dst = power_law_edges(rng, n_nodes, mean_out=4.0, max_out=1000,
                               in_skew=0.7, min_out=2, hubs_first=True)
    edges = pa.table({"from_id": src.astype(np.int64),
                      "to_id": dst.astype(np.int64)})
    vocab = np.array(vocabulary(5000))
    words = rng.choice(len(vocab), size=(n_docs, doc_words))
    planted = []
    bases = rng.choice(n_docs - n_planted, size=n_planted, replace=False)
    for j, base in enumerate(bases):
        dup = n_docs - n_planted + j
        words[dup] = words[base]
        pos = rng.integers(0, doc_words)
        words[dup, pos] = (words[dup, pos] + 1 + rng.integers(0, 100)) % len(vocab)
        planted.append((int(base), int(dup)))
    docs = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                     "text": [" ".join(vocab[w]) for w in words]})
    os.makedirs(out_dir, exist_ok=True)
    return {
        "edges": _write(edges, os.path.join(out_dir, "edges.parquet")),
        "docs": _write(docs, os.path.join(out_dir, "docs.parquet")),
        "planted": planted,
    }
