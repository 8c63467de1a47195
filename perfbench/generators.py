"""Seeded input generators for the link-graph benchmark.

The engine never sees a seed: each generator turns the benchmark's
``--seed`` into plain input data (a relabelled lineitem table, delta
batches of edges), and only that data reaches the engine. Everything
here is numpy/pyarrow on the driver; nothing imports Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# seed 0 is the reference labelling: the relabel is the identity, so the
# published sf0.1 values (Q, passes) can be checked against it
REFERENCE_SEED = 0


def dense_permutation(ids: np.ndarray, seed: int) -> dict[str, np.ndarray]:
    """A seeded bijection of the id set ``ids`` onto itself.

    Returns ``{"old": sorted ids, "new": image of each}``. The image set
    equals the input set, so a dense 0..N-1 labelling stays dense.
    ``REFERENCE_SEED`` gives the identity.
    """
    old = np.unique(np.asarray(ids, dtype=np.int64))
    if seed == REFERENCE_SEED:
        return {"old": old, "new": old.copy()}
    perm = np.random.default_rng([seed, 0x5EED]).permutation(len(old))
    return {"old": old, "new": old[perm]}


def relabel(values: np.ndarray, mapping: dict[str, np.ndarray]) -> np.ndarray:
    """Apply a ``dense_permutation`` mapping to every element of ``values``."""
    values = np.asarray(values, dtype=np.int64)
    pos = np.searchsorted(mapping["old"], values)
    if not np.array_equal(mapping["old"][np.minimum(pos, len(mapping["old"]) - 1)], values):
        raise ValueError("relabel: value outside the permuted id set")
    return mapping["new"][pos]


def write_relabelled_lineitem(
    src_path: str, dst_path: str, seed: int, order_stride: int = 1
) -> int:
    """Copy the (l_orderkey, l_partkey) table with part ids permuted.

    Two parts share an edge of the co-order graph iff they share an
    order, so permuting ``l_partkey`` relabels the graph's vertices and
    leaves its structure (components, triangles, edge count) unchanged.
    ``order_stride`` keeps only orders whose key is a multiple of it;
    the permutation is drawn over every part either way, so the strided
    graph is a subgraph of the full one at the same seed. Returns the
    number of parts.
    """
    t = pq.read_table(src_path, columns=["l_orderkey", "l_partkey"])
    parts = t.column("l_partkey").to_numpy()
    mapping = dense_permutation(parts, seed)
    keep = t.column("l_orderkey").to_numpy() % order_stride == 0
    out = pa.table(
        {
            "l_orderkey": t.column("l_orderkey").filter(pa.array(keep)),
            "l_partkey": pa.array(relabel(parts[keep], mapping), pa.int64()),
        }
    )
    pq.write_table(out, dst_path)
    return len(mapping["old"])


class DeltaBatches:
    """Seeded crawl-update batches over a fixed undirected edge set.

    Batch ``k`` inserts ``size`` fresh undirected pairs and deletes the
    pairs batch ``k-1`` inserted, so after batch 0 every batch changes
    the graph by the same amount and the graph never drifts from the
    base. A fresh pair is not a self-loop, not in the base graph and not
    currently inserted. Pairs are canonical (``src < dst``); the store
    symmetrizes them.
    """

    def __init__(self, base_src, base_dst, ids, seed: int, size: int):
        src = np.asarray(base_src, dtype=np.int64)
        dst = np.asarray(base_dst, dtype=np.int64)
        self.ids = np.unique(np.asarray(ids, dtype=np.int64))
        self.n = int(self.ids.max()) + 1 if len(self.ids) else 0
        lo, hi = np.minimum(src, dst), np.maximum(src, dst)
        self.base = np.unique(lo * self.n + hi)
        self.size = int(size)
        self.rng = np.random.default_rng([seed, 0xBA7C])
        self.live = np.empty(0, dtype=np.int64)

    def _fresh(self) -> np.ndarray:
        if len(self.ids) < 2:
            raise ValueError("DeltaBatches: need at least two vertices")
        picked = np.empty(0, dtype=np.int64)
        while len(picked) < self.size:
            uv = self.rng.choice(self.ids, size=(2 * self.size, 2))
            lo, hi = uv.min(axis=1), uv.max(axis=1)
            key = lo[lo != hi] * self.n + hi[lo != hi]
            key = key[~np.isin(key, self.base) & ~np.isin(key, self.live)]
            # keep first occurrences, in draw order, so the batch is a
            # pure function of the seed
            picked = np.concatenate([picked, key])
            _, first = np.unique(picked, return_index=True)
            picked = picked[np.sort(first)]
        return picked[: self.size]

    def next(self) -> dict[str, np.ndarray]:
        """Return ``{"ins_src", "ins_dst", "del_src", "del_dst"}`` arrays."""
        dels = self.live
        ins = self._fresh()
        self.live = ins
        return {
            "ins_src": ins // self.n, "ins_dst": ins % self.n,
            "del_src": dels // self.n, "del_dst": dels % self.n,
        }


def batch_rows(batch: dict[str, np.ndarray]) -> pa.Table:
    """A batch as an Arrow table in the store's delta schema
    ``(op string, src long, dst long, w double)``."""
    n_ins, n_del = len(batch["ins_src"]), len(batch["del_src"])
    return pa.table(
        {
            "op": pa.array(["ins"] * n_ins + ["del"] * n_del, pa.string()),
            "src": pa.array(np.concatenate([batch["ins_src"], batch["del_src"]]), pa.int64()),
            "dst": pa.array(np.concatenate([batch["ins_dst"], batch["del_dst"]]), pa.int64()),
            "w": pa.array(np.ones(n_ins + n_del), pa.float64()),
        }
    )
