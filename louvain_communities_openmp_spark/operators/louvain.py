"""Louvain community detection — PySpark-native.

Re-expresses the reference's algorithm (louvain.hxx) as iterative
DataFrame super-steps + a CSR-blocked vectorized kernel. Two modes:

- ``exact``: the *sequential reference semantics* end-to-end: the
  serial finish below on the whole input, with no size bound — one
  Arrow collect, the ``edge_csr`` prologue (operators/serial.py) and
  the faithful oracle (ascending-id sweep, immediate updates, first-max
  tie-break, community-0 quirk — oracle/louvain_seq.py, each rule cited
  to louvain.hxx there). This is the test-scale mode that satisfies
  "community assignments exact vs the reference's sequential Louvain".

- ``dist``: the scale mode (the analog of louvainMoveOmpW,
  louvain.hxx:587-609). The edge table is hash-bucketed by src once
  per pass and never moves again; each local-move iteration runs an
  asynchronous sequential sweep *within each block* (block ≙ OpenMP
  thread chunk: threads read stale remote state, exactly like
  `schedule(dynamic,2048)` threads do). Two state-distribution
  strategies, switched on vertex count:
  * V ≤ serial.BROADCAST_VERTICES: driver-coordinated (_driver_rounds) —
    membership/vtot/ctot live as numpy arrays on the driver (≙ the
    reference's shared arrays) and reach each task as one ~33 B/vertex
    broadcast per round; an iteration is ONE zero-shuffle Spark job
    and an O(V) numpy merge. In local mode the tasks read their blocks
    from a per-pass npz cache (_file_state_kernel_factory); on a
    cluster they stream the cached edge partitions
    (_bcast_state_kernel_factory).
  * larger: routed (_routed_rounds) — vertex state is routed to the
    blocks that reference it and cogrouped against the static edge
    buckets (_cogroup_kernel_factory, in local mode and on a cluster
    alike) — per-iteration shuffle is vertex-sized, never edge-sized.
  Both gates run one block body (_sweep_from_positions → _sweep_core)
  and one round loop with one set of stop rules (_run_rounds).
  Between iterations membership/ctot re-sync globally (≙ the
  reference's atomics). Aggregation phase is a pure DataFrame
  contraction: edges ⋈ membership(src) ⋈ membership(dst) →
  groupBy(csrc,cdst).sum(w)   (louvain.hxx:865-912), dense renumber in
  ascending-community order (louvain.hxx:923-928), dendrogram flatten
  via one hash join per pass (louvain.hxx:825-829).

- ``auto``: dist passes while the graph is large, then the same serial
  finish once the coarsened graph is at most ``serial.SERIAL_EDGES``
  directed edges (the reference itself swaps graph representations
  between passes, louvain.hxx:1174-1176).

Every pass checkpoints coarsened edges + flattened membership +
metrics/lineage to a RunDir, so any pass is resumable (north rule).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle.louvain_seq import louvain_seq_fast
from ..plans.run import RunDir
from . import serial
from .properties import modularity as modularity_op
from .properties import total_weight_m, vertex_weights
from .serial import EdgeCSR, collect_bounded


# target vertices per CSR block — the distributed analog of the
# reference's `schedule(dynamic, 2048)` chunk (louvain.hxx:594). Actual
# blocks per pass = min(num_blocks, ceil(vertices/this)): coarsened
# passes run fewer, larger blocks, whose in-block asynchrony converges
# like the sequential reference instead of oscillating through gated
# synchronous rounds.
BLOCK_VERTICES = 2048


@dataclass
class LouvainOptions:
    """Defaults mirror the reference (louvain.hxx:60-61)."""

    resolution: float = 1.0
    tolerance: float = 1e-2
    tolerance_drop: float = 10.0
    max_iterations: int = 20
    max_passes: int = 10
    aggregation_tolerance: float = 0.8
    mode: str = "auto"  # exact | dist | auto
    num_blocks: int | None = None
    run_dir: str | None = None
    resume: bool = False
    # dynamic/warm-start Louvain (L10): seed pass-0 membership from a
    # previous run instead of singletons — the DYNAMIC path's
    # louvainInitializeFromW (louvain.hxx:305-318, DYNAMIC flag
    # louvain.hxx:1009). Vertices absent from the frame start as their
    # own singleton. vtot/ctot are always recomputed from the CURRENT
    # edge table (louvainUpdateWeightsFromU semantics,
    # louvain.hxx:330-389 — after a batch update the weights must
    # reflect the new graph, only the membership carries over).
    # Supported by dist/auto modes; exact mode ignores it.
    initial_membership: DataFrame | None = None
    # frontier-seeded DYNAMIC marking (louvain.hxx:305-389 + DYNAMIC
    # louvain.hxx:1009): with a warm start, mark only these vertex ids
    # (one column ``id``) affected at pass 0 instead of flooding vaff —
    # the batch-update contract is "endpoints of changed edges"; any
    # move still flags its neighbors in-kernel, so the frontier grows
    # exactly where communities actually shift. Ignored without
    # initial_membership (a cold start must flood). Later passes
    # re-flood on the coarse graph, like the reference.
    affected_vertices: DataFrame | None = None


@dataclass
class LouvainResult:
    membership: DataFrame  # (id long, com long)
    modularity: float
    passes: int
    iterations: int
    pass_log: list = field(default_factory=list)


MEMBERSHIP_SCHEMA = "id long, com long"
# kernel emission (cogroup path): one row per block-owned vertex
# (authoritative com) plus rows flagging movers' neighbors (com null).
# vaff = affected flag for the NEXT iteration (louvain.hxx:534-539).
_MOVE_SCHEMA = "id long, com long, gain double, vaff boolean"
# kernel emission (driver-coordinated path): owned rows as above
# (com never null) plus ONE trailer row per block (id = -1) whose
# ``ext`` blob packs the flagged non-owned vertex ids as little-endian
# int64 bytes — movers flag O(E/B) cross-block neighbors per round,
# and a single binary cell ships them without per-row Arrow overhead.
_MOVE_SCHEMA_B = "id long, com long, gain double, vaff boolean, ext binary"

_EMPTY_OWNED = pd.DataFrame(
    {
        "id": pd.Series(dtype="int64"),
        "com": pd.Series(dtype="int64"),
        "gain": pd.Series(dtype="float64"),
        "vaff": pd.Series(dtype="bool"),
    }
)


def louvain_exact(edges: DataFrame, opts: LouvainOptions | None = None) -> DataFrame:
    """Sequential-reference-semantics Louvain membership: ``louvain`` in
    ``mode="exact"``. Ids need not be dense: the kernel remaps through
    ascending-id order (order-preserving, so on dense inputs it is
    bit-identical to the reference's indexing). Returned community ids
    are dense ranks."""
    return louvain(edges, replace(opts or LouvainOptions(), mode="exact")).membership


def _mix64(x: int) -> int:
    """splitmix64 finalizer (same as oracle.graphs._mix64)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _sweep_core(
    ls,
    ld,
    w,
    ids,
    cids,
    comm,
    ctot,
    vtot,
    rnd: int,
    gate: int,
    m: float,
    resolution: float,
):
    """Asynchronous local-move sweep within one block (≙ one OpenMP
    thread chunk, louvain.hxx:594-605), on locally dense state.

    ``ls``/``ld``/``w`` are the block's edges in sorted (src, dst) order
    as local vertex indices; ``ids``/``cids`` map local vertex/community
    indices back to global labels; ``comm``, ``ctot``, ``vtot`` are the
    local round-start snapshot. Local vertices that own edges = distinct
    src in the block (each vertex's full out-adjacency is present
    because blocking is by src). Remote community state is the snapshot
    taken at round start; local moves update the local view immediately
    (async semantics).

    ``gate`` > 1 makes only vertices with hash(u, rnd) % gate == 0
    attempt a move this round — the distributed substitute for the
    reference's atomics: synchronous rounds would otherwise let two
    neighbors swap communities forever (both compute a gain assuming
    the other stays put). A round-varying deterministic hash breaks the
    symmetry while keeping the run reproducible.

    Deterministic: ascending-src sweep, tie-break (max ΔQ, min com).

    Fully vectorized (no per-row Python in the hot path). Two phases:

    1. *Proposal* (numpy, C speed): per-(u, neighbor-community) weight
       sums from the round-start snapshot via lexsort + reduceat, ΔQ
       for every candidate in one vectorized expression, per-u argmax
       with (max ΔQ, min com) tie-break via lexsort.
    2. *Validation* (sequential over PROPOSERS only, ascending id —
       the async sweep of louvainMoveOmpW, louvain.hxx:587-609): each
       proposer's gain is recomputed exactly against the *current*
       in-block state (numpy ops on its adjacency slice), so earlier
       in-block moves are visible — no intra-block flip-flop, and late
       rounds validate only a vanishing few vertices.

    Frontier bookkeeping is fused into the kernel (no extra Spark jobs):
    processing clears a vertex's flag, a move flags all its neighbors —
    in-block AND out-of-block (returned as ``ext_ids``) — and gated
    vertices keep their flag (still unprocessed). Returns (owned
    emissions, ext_ids).
    """
    import numpy as np

    nloc = len(ids)
    ncom = len(cids)
    run_starts = np.flatnonzero(np.r_[True, ls[1:] != ls[:-1]])
    run_ends = np.r_[run_starts[1:], len(ls)]
    owned_l = ls[run_starts]  # local ids of block-owned vertices
    # adjacency slice lookup for owned vertices
    adj_lo = np.zeros(nloc, dtype=np.int64)
    adj_hi = np.zeros(nloc, dtype=np.int64)
    adj_lo[owned_l] = run_starts
    adj_hi[owned_l] = run_ends

    if gate > 1:
        g = (ids[owned_l] * 1_000_003 + rnd) % (1 << 63)
        gmask = np.array(
            [_mix64(int(x)) % gate == 0 for x in g], dtype=bool
        )
    else:
        gmask = np.ones(len(owned_l), dtype=bool)
    active_l = owned_l[gmask]  # processed this round
    gated_l = owned_l[~gmask]

    # ---- phase 1: vectorized proposals from the round-start snapshot
    nonself = ls != ld  # SELF=false scan (louvain.hxx:407)
    act = np.zeros(nloc, dtype=bool)
    act[active_l] = True
    active_mask_edge = act[ls] & nonself  # O(E) lookup, no isin sort
    es, ec, ew = ls[active_mask_edge], comm[ld[active_mask_edge]], w[active_mask_edge]
    # sum weights per (u, c): lexsort then reduceat over group bounds
    if len(es):
        key = es * ncom + ec
        order = np.argsort(key, kind="stable")
        key_s, ew_s = key[order], ew[order]
        grp = np.flatnonzero(np.r_[True, key_s[1:] != key_s[:-1]])
        kuc = np.add.reduceat(ew_s, grp)
        gu = (key_s[grp] // ncom).astype(np.int64)  # u per group
        gc = (key_s[grp] % ncom).astype(np.int64)  # candidate c per group
    else:
        kuc = np.empty(0, dtype=np.float64)
        gu = gc = np.empty(0, dtype=np.int64)
    # k_{u,d}: weight to own community (0 where u has no such group)
    kud = np.zeros(nloc, dtype=np.float64)
    own = gc == comm[gu]
    kud[gu[own]] = kuc[own]
    cand = ~own
    cu, cc, ckuc = gu[cand], gc[cand], kuc[cand]
    dq = (ckuc - kud[cu]) / m - resolution * vtot[cu] * (
        vtot[cu] + ctot[cc] - ctot[comm[cu]]
    ) / (2.0 * m * m)
    pos = dq > 0.0
    cu, cc, dq = cu[pos], cc[pos], dq[pos]
    # per-u argmax, tie-break min c: sort by (u, -dq, c), keep first
    if len(cu):
        o2 = np.lexsort((cc, -dq, cu))
        cu, cc, dq = cu[o2], cc[o2], dq[o2]
        first = np.flatnonzero(np.r_[True, cu[1:] != cu[:-1]])
        prop_u, prop_c, prop_e = cu[first], cc[first], dq[first]
    else:
        prop_u = prop_c = np.empty(0, dtype=np.int64)
        prop_e = np.empty(0, dtype=np.float64)

    # ---- phase 2: sequential validation over proposers (ascending id)
    gain_by_u = np.zeros(nloc, dtype=np.float64)
    vaff = np.zeros(nloc, dtype=bool)
    vaff[gated_l] = True  # gated: still marked (unprocessed)
    changed_v = np.zeros(nloc, dtype=bool)  # moved earlier this sweep
    dirty_com = np.zeros(ncom, dtype=bool)  # ctot changed this sweep
    any_moved = False
    for u, c0, e0 in zip(prop_u, prop_c, prop_e):
        lo, hi = adj_lo[u], adj_hi[u]
        nb = ld[lo:hi]
        nw = w[lo:hi]
        sl = nb != u
        nb, nw = nb[sl], nw[sl]
        d = comm[u]
        ncs = comm[nb]  # CURRENT neighbor communities (async)
        # fast path: if no earlier in-block move touched u's view — no
        # neighbor re-homed, no adjacent community's ctot changed, own
        # community untouched — the validation recompute would see
        # exactly the round-start snapshot and reproduce the phase-1
        # proposal (same inputs, same formula, same (max ΔQ, min c)
        # tie-break; with integer weights bit-identical), so accept it
        # directly. Late proposers near earlier movers still take the
        # full recompute below.
        if not (
            dirty_com[d]
            or changed_v[nb].any()
            or dirty_com[ncs].any()
        ):
            best_c, best_e = int(c0), float(e0)
        else:
            kud_c = nw[ncs == d].sum()
            # re-argmax over current neighbor communities (cheap: one
            # degree-sized pass), matching the reference's fresh scan
            uc = np.unique(ncs)
            uc = uc[uc != d]
            if len(uc) == 0:
                continue
            kuc_c = np.array([nw[ncs == c].sum() for c in uc]) if len(uc) <= 8 else None
            if kuc_c is None:
                o3 = np.argsort(ncs, kind="stable")
                ncs_s, nw_s = ncs[o3], nw[o3]
                b3 = np.flatnonzero(np.r_[True, ncs_s[1:] != ncs_s[:-1]])
                sums = np.add.reduceat(nw_s, b3)
                cs3 = ncs_s[b3]
                keep = cs3 != d
                uc, kuc_c = cs3[keep], sums[keep]
            e = (kuc_c - kud_c) / m - resolution * vtot[u] * (
                vtot[u] + ctot[uc] - ctot[d]
            ) / (2.0 * m * m)
            bi = np.lexsort((uc, -e))[0]
            if e[bi] <= 0.0:
                continue
            best_c, best_e = int(uc[bi]), float(e[bi])
        ctot[d] -= vtot[u]
        ctot[best_c] += vtot[u]
        comm[u] = best_c
        changed_v[u] = True
        dirty_com[d] = True
        dirty_com[best_c] = True
        gain_by_u[u] = best_e
        vaff[nb] = True  # a move flags every neighbor (louvain.hxx:538)
        vaff[u] = False
        any_moved = True

    # processed vertices cleared unless re-flagged by a later mover
    # (vaff starts False for them); assemble emissions
    out_l = owned_l
    owned = pd.DataFrame(
        {
            "id": pd.Series(ids[out_l], dtype="int64"),
            "com": pd.Series(cids[comm[out_l]], dtype="int64"),
            "gain": pd.Series(gain_by_u[out_l], dtype="float64"),
            "vaff": pd.Series(vaff[out_l], dtype="bool"),
        }
    )
    if any_moved:
        ext = vaff.copy()
        ext[owned_l] = False  # non-owned flagged vertices only
        ext_ids = ids[np.flatnonzero(ext)]
    else:
        ext_ids = np.empty(0, dtype=np.int64)
    return owned, ext_ids


def _cogroup_kernel_factory(rnd: int, gate: int, m: float, resolution: float):
    """Kernel for the routed gate: one (edge-block, state-block)
    cogroup → the shared block body _state_edges_sweep."""

    def kernel(_key, epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(epdf) == 0 or len(spdf) == 0:
            return _EMPTY_OWNED.astype({"com": "Int64"})
        return _state_edges_sweep(
            epdf["src"].to_numpy(dtype=np.int64),
            epdf["dst"].to_numpy(dtype=np.int64),
            epdf["w"].to_numpy(dtype=np.float64),
            spdf, rnd, gate, m, resolution,
        )

    return kernel


def _state_edges_sweep(
    src, dst, w, spdf: pd.DataFrame, rnd, gate, m, resolution
) -> pd.DataFrame:
    """Routed-gate block body: map the block's static (src, dst, w)
    arrays to positions in the routed vertex state's sorted ids (the
    in-kernel equivalent of the five annotation joins) and run the
    broadcast gate's _sweep_from_positions over the routed rows. Each
    routed row carries its community's ctot, so the community labels
    and their ctot come from the first row of each community. Returns
    the ``_MOVE_SCHEMA`` emissions: owned rows, plus com-null rows for
    flagged vertices of other blocks."""
    import numpy as np

    sid = spdf["id"].to_numpy(dtype=np.int64)
    o = np.argsort(sid, kind="stable")
    sid = sid[o]
    com = spdf["com"].to_numpy(dtype=np.int64)[o]
    vt = spdf["vtot"].to_numpy(dtype=np.float64)[o]
    va = spdf["vaff"].to_numpy(dtype=bool)[o]
    clab, first = np.unique(com, return_index=True)
    ctot = spdf["ctot"].to_numpy(dtype=np.float64)[o][first]
    si = np.searchsorted(sid, src)
    di = np.searchsorted(sid, dst)
    # routing covers every endpoint in the block by construction;
    # fail loudly if the invariant ever breaks
    if not (
        bool(np.all(si < len(sid)))
        and bool(np.all(sid[si] == src))
        and bool(np.all(di < len(sid)))
        and bool(np.all(sid[di] == dst))
    ):
        raise RuntimeError(
            "louvain routing invariant violated: edge endpoint "
            "missing from the block's routed vertex state"
        )
    # the caller sorts each block by (src, dst) once per pass; the
    # sweep needs that order (contiguous adjacency), so re-sort only if
    # the cogroup ever delivers the rows otherwise
    ds = np.diff(si)
    if bool(((ds < 0) | ((ds == 0) & (np.diff(di) < 0))).any()):
        o = np.lexsort((di, si))
        si, di, w = si[o], di[o], w[o]
    r = _sweep_from_positions(
        si, di, w, None, (sid, vt, clab), (com, va, ctot),
        rnd, gate, m, resolution,
    )
    if r is None:
        return _EMPTY_OWNED.astype({"com": "Int64"})
    owned, ext_ids = r
    owned = owned.astype({"com": "Int64"})
    if len(ext_ids) == 0:
        return owned
    extf = pd.DataFrame(
        {
            "id": pd.Series(ext_ids, dtype="int64"),
            "com": pd.array([None] * len(ext_ids), dtype="Int64"),
            "gain": pd.Series(np.zeros(len(ext_ids)), dtype="float64"),
            "vaff": pd.Series(np.ones(len(ext_ids), dtype=bool)),
        }
    )
    return pd.concat([owned, extf], ignore_index=True)


def _sweep_from_positions(
    si, di, w, remap, static, state, rnd: int, gate: int, m: float, resolution: float
):
    """The block body both gates share: ``si``/``di`` are edge
    endpoints as positions into the sorted id array of ``static`` =
    (ids, vtot, community labels); ``state`` = (com, vaff, ctot) is the
    round-start snapshot, vertex-indexed except ctot, which is indexed
    like the labels. Prunes by the frontier flag, remaps to locally
    dense indices and runs _sweep_core. Returns (owned, ext_ids), or
    None when the whole block is frontier-pruned. ``remap``, if given,
    is the precomputed full-block local remap (lids, ls, ld) — valid
    only when no edge is frontier-pruned, which is the common case in
    early rounds; a shrunken frontier falls back to recomputing the
    remap on the pruned subset."""
    import numpy as np

    ids, vt_g, clab = static
    com_g, vaff_g, ctot_g = state
    keep = vaff_g[si]  # frontier pruning (vaff semantics, in-kernel)
    if not bool(keep.any()):
        return None
    if remap is not None and bool(keep.all()):
        lids, ls, ld = remap
        wk = w
    else:
        sk, dk = si[keep], di[keep]
        # local dense remap straight from the state arrays; (src, dst)
        # sort order is preserved by the keep mask, so the core's
        # contiguous-adjacency invariant holds
        lids = np.unique(np.concatenate([sk, dk]))  # → global positions
        ls = np.searchsorted(lids, sk)
        ld = np.searchsorted(lids, dk)
        wk = w[keep]
    com_gl = com_g[lids]
    cid_g = np.unique(com_gl)
    return _sweep_core(
        ls,
        ld,
        wk,
        ids[lids],
        cid_g,
        np.searchsorted(cid_g, com_gl),
        ctot_g[np.searchsorted(clab, cid_g)],
        vt_g[lids],
        rnd,
        gate,
        m,
        resolution,
    )


def _pack_emission(owned: pd.DataFrame, ext_ids) -> pd.DataFrame:
    """Attach the packed cross-block frontier blob (``_MOVE_SCHEMA_B``
    trailer row) to a block's owned emissions."""
    owned["ext"] = None
    if len(ext_ids):
        owned = pd.concat(
            [
                owned,
                pd.DataFrame(
                    {
                        "id": pd.Series([-1], dtype="int64"),
                        "com": pd.Series([-1], dtype="int64"),
                        "gain": pd.Series([0.0], dtype="float64"),
                        "vaff": pd.Series([False]),
                        "ext": [ext_ids.astype("<i8").tobytes()],
                    }
                ),
            ],
            ignore_index=True,
        )
    return owned


def _bcast_state_kernel_factory(
    bcs, bcv, rnd: int, gate: int, m: float, resolution: float
):
    """mapInPandas kernel over the bucketed edge DataFrame (the
    cluster-shaped variant of the driver-coordinated round: each
    iteration streams its cached JVM partition through Arrow — a
    per-executor-constant cost on a real cluster). ``bcs`` broadcasts
    the pass-static arrays, ``bcv`` the per-round ones."""

    def kernel(batches):
        import numpy as np

        chunks = list(batches)
        if not chunks:
            return
        if len(chunks) == 1:
            src = chunks[0]["src"].to_numpy(dtype=np.int64)
            dst = chunks[0]["dst"].to_numpy(dtype=np.int64)
            w = chunks[0]["w"].to_numpy(dtype=np.float64)
        else:
            # column-wise numpy concatenate (pd.concat of many
            # Arrow-backed chunks is far slower than the memcpy)
            src = np.concatenate([c["src"].to_numpy(dtype=np.int64) for c in chunks])
            dst = np.concatenate([c["dst"].to_numpy(dtype=np.int64) for c in chunks])
            w = np.concatenate([c["w"].to_numpy(dtype=np.float64) for c in chunks])
        ids = bcs.value[0]
        r = _sweep_from_positions(
            np.searchsorted(ids, src), np.searchsorted(ids, dst), w, None,
            bcs.value, bcv.value, rnd, gate, m, resolution,
        )
        if r is None:
            return
        yield _pack_emission(*r)

    return kernel


def _write_block_cache(edges_b: DataFrame, cache_dir: str, bcs) -> None:
    """One job: dump each bucketed edge partition to an executor-local
    ``.npz`` (the Python-side CSR block cache — the analog of the
    reference's per-pass CSR rebuild, louvain.hxx:1174-1176). LOCAL
    MODE ONLY: all tasks share one filesystem, so any later task can
    read any block. The point: after this, an iteration's input is a
    page-cache-warm memcpy instead of a JVM→Arrow→pandas re-serialize
    of every edge — in single-box local mode that per-iteration Arrow
    hop is pure shared-bus traffic and is what caps multi-worker
    scaling (see bench.py membw probe). On a real cluster the Arrow
    hop is per-executor-constant (scales with executor count), so the
    DataFrame kernel is used there instead.

    Endpoints are stored as POSITIONS into the pass-static global id
    array, together with the full-block local remap — both pass-
    invariant, so full-frontier iterations skip every per-edge
    searchsorted/unique."""
    from pyspark import TaskContext

    def writer(batches):
        import numpy as np

        chunks = list(batches)
        pid = TaskContext.get().partitionId()
        if chunks:
            ids, _, _ = bcs.value
            src = np.concatenate([c["src"].to_numpy(dtype=np.int64) for c in chunks])
            dst = np.concatenate([c["dst"].to_numpy(dtype=np.int64) for c in chunks])
            w = np.concatenate(
                [c["w"].to_numpy(dtype=np.float64) for c in chunks]
            )
            si = np.searchsorted(ids, src)
            di = np.searchsorted(ids, dst)
            # establish the (src, dst) contiguous-adjacency order here
            # (packed-key stable argsort) so the JVM partition sort can
            # be skipped on the cache path; no-op permutations are
            # detected cheaply
            key = si * np.int64(len(ids)) + di
            if len(key) > 1 and bool((key[1:] < key[:-1]).any()):
                order = np.argsort(key, kind="stable")
                si, di, w = si[order], di[order], w[order]
            lids = np.unique(np.concatenate([si, di]))
            np.savez(
                os.path.join(cache_dir, f"b{pid}.npz"),
                si=si,
                di=di,
                w=w,
                lids=lids,
                ls=np.searchsorted(lids, si),
                ld=np.searchsorted(lids, di),
            )
        yield pd.DataFrame({"pid": pd.Series([pid], dtype="int64")})

    edges_b.mapInPandas(writer, "pid long").collect()


def _file_state_kernel_factory(
    cache_dir: str, bcs, bcv, rnd: int, gate: int, m: float, resolution: float
):
    """mapInPandas kernel over a block-index frame: each task loads its
    block's arrays from the npz cache (page-cache memcpy) and runs the
    same _sweep_from_positions as the DataFrame kernel."""

    def kernel(batches):
        import numpy as np

        for c in batches:
            for pid in c["id"].tolist():
                path = os.path.join(cache_dir, f"b{int(pid)}.npz")
                if not os.path.exists(path):
                    continue  # empty block
                z = np.load(path)
                r = _sweep_from_positions(
                    z["si"], z["di"], z["w"],
                    (z["lids"], z["ls"], z["ld"]),
                    bcs.value, bcv.value, rnd, gate, m, resolution,
                )
                if r is not None:
                    yield _pack_emission(*r)

    return kernel


def _block_caches(spark) -> bool:
    """Whether the broadcast gate's rounds read their edges from a
    per-pass npz block cache (_write_block_cache). Only in local mode,
    where every task shares the driver's filesystem; a cluster runs
    _bcast_state_kernel_factory instead. The routed gate runs
    _cogroup_kernel_factory everywhere: a raw-edge cache for it did
    not beat the cogroup in local mode."""
    return spark.sparkContext.master.startswith("local")


def _warm_start(ids, opts: LouvainOptions):
    """(labels, frontier) for the ascending vertex ids ``ids`` from
    ``opts.initial_membership`` and ``opts.affected_vertices``
    (louvainInitializeFromW, louvain.hxx:305-318; frontier-seeded
    DYNAMIC marking, louvain.hxx:305-389 + 1009).

    Provided labels are kept as int64 values. Vertices the membership
    does not mention get FRESH singleton labels max + 1 + arange in
    ascending-id order (over the provided labels of this vertex set):
    own-id labels would collide with provided labels and silently merge
    the vertex into an unrelated community. The frontier is a mask of
    the affected ids present here (ids outside the vertex set cannot be
    scanned), or None without ``affected_vertices``; repeated ids do no
    harm. Both frames are read under ``serial.BROADCAST_VERTICES`` rows
    (``serial.vertex_columns``: held columns, else a collect); over it
    this raises ValueError."""
    import numpy as np

    n = len(ids)

    def matched(df, cols):
        arrs = serial.vertex_columns(df, cols, serial.BROADCAST_VERTICES)
        if arrs is None:
            raise ValueError(
                f"louvain warm start: more than {serial.BROADCAST_VERTICES} "
                f"rows of ({', '.join(cols)}) to collect"
            )
        pos = np.searchsorted(ids, arrs[0])
        ok = (pos < n) & (ids[np.minimum(pos, n - 1)] == arrs[0])
        return pos[ok], [a[ok] for a in arrs[1:]]

    pos, (prov,) = matched(opts.initial_membership, ["id", "com"])
    com = np.empty(n, dtype=np.int64)
    com[pos] = prov
    absent = np.ones(n, dtype=bool)
    absent[pos] = False
    base = int(prov.max()) + 1 if len(prov) else 0
    com[absent] = base + np.arange(int(absent.sum()), dtype=np.int64)
    if opts.affected_vertices is None:
        return com, None
    pos, _ = matched(opts.affected_vertices, ["id"])
    aff = np.zeros(n, dtype=bool)
    aff[pos] = True
    return com, aff


def _run_rounds(opts: LouvainOptions, E: float, gate: int, step):
    """Run local-move rounds ``step(rnd) -> Σ gains`` until a stop rule
    fires; both dist gates loop here. Returns (iterations, Σ gains,
    per-round wall times — the localMove phase split, main.cxx:70-76).
    """
    el_pass = 0.0
    round_times: list[float] = []
    low_rounds = stall_rounds = 0
    prev_el = float("inf")
    while len(round_times) < opts.max_iterations:
        t_it = time.time()
        el = step(len(round_times))
        el_pass += el
        round_times.append(round(time.time() - t_it, 3))
        # gated rounds: require two consecutive below-tolerance rounds
        # (each round only half the vertices may move); single-block
        # sweeps use the reference's single check (louvain.hxx:541)
        low_rounds = low_rounds + 1 if el <= E else 0
        if low_rounds >= (1 if gate == 1 else 2) or el == 0.0:
            break
        # plateau break: gated synchronous rounds bottom out at a
        # flip-flop noise floor above tiny tolerances — once el stops
        # decreasing (<5% improvement twice in a row), more rounds only
        # burn time without modularity progress
        stall_rounds = stall_rounds + 1 if el > 0.95 * prev_el else 0
        prev_el = el
        if len(round_times) >= 3 and stall_rounds >= 2:
            break
    return len(round_times), el_pass, round_times


def _driver_rounds(
    spark,
    edges_b: DataFrame,
    ids,
    vt,
    warm: bool,
    opts: LouvainOptions,
    m_total: float,
    E: float,
    gate: int,
    blocks_pass: int,
):
    """Local-move iterations with the vertex state held on the DRIVER
    as numpy arrays — the Spark analog of the reference's shared
    membership/vtot/ctot arrays (louvainMoveOmpW, louvain.hxx:587-609:
    OpenMP threads read the shared arrays; here every task reads the
    same broadcast snapshot).

    One Spark job per iteration: the statically bucketed edge table
    flows through the shared block body (_sweep_from_positions) and
    only vertex-sized emissions come back; membership/ctot/frontier
    merging is O(V) numpy on the driver, not a shuffle. Compared with
    expressing the same round as broadcast joins + groupBy merge +
    checkpoint + ctot aggregation, this removes every per-iteration
    serial cost except one broadcast (~33 B/vertex) and one
    vertex-sized collect — the costs that otherwise cap N→4N scaling
    efficiency, because they do not shrink with more cores.

    Only used while V ≤ ``serial.BROADCAST_VERTICES`` (5M ⇒ ~200 MB
    of driver state — the same bound the broadcast-join formulation
    had); above that the routed gate (_routed_rounds) takes over and
    nothing vertex-sized ever materializes on the driver.
    ``ids``/``vt`` are the collected vtot frame; ``warm`` seeds pass 0
    (_warm_start).

    Returns (persisted membership DataFrame, iterations, Σ gains,
    #communities, per-round wall times, vertex scans, driver-side Q of
    the pass's membership or None).
    """
    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids, vt = ids[order], vt[order]
    n = len(ids)
    vaff = None
    if warm:
        # ctot is re-accumulated from the CURRENT vtot every round
        # (louvainUpdateWeightsFromU semantics, louvain.hxx:330-389)
        com, vaff = _warm_start(ids, opts)
        clab = np.unique(com)
    else:
        com = ids.copy()  # init singletons (louvain.hxx:621)
        clab = ids
    if vaff is None:
        vaff = np.ones(n, dtype=bool)  # all marked (static fm)
    processed = 0  # vertex scans performed — DYNAMIC work metric
    sc = spark.sparkContext
    bcs = sc.broadcast((ids, vt, clab))  # pass-static arrays
    # local mode: Python-side CSR block cache (see _write_block_cache);
    # iterations then run over a block-INDEX frame and the edges never
    # cross the JVM→Python boundary again this pass
    cache_dir = None
    idx_df = None
    if _block_caches(spark):
        import tempfile

        cache_dir = tempfile.mkdtemp(prefix="louvain_blocks_")
        _write_block_cache(edges_b, cache_dir, bcs)
        # one block id per partition, aligned 1:1 with the cache files
        idx_df = spark.range(0, blocks_pass, 1, blocks_pass)
    bcv = None

    def step(rnd: int) -> float:
        nonlocal vaff, bcv, processed
        processed += int(vaff.sum())
        # fresh ctot per round: deterministic ascending-id
        # accumulation (bincount), so block-order float
        # nondeterminism cannot leak into tie-breaks
        ci = np.searchsorted(clab, com)
        ctot = np.bincount(ci, weights=vt, minlength=len(clab))
        bcv = sc.broadcast((com, vaff, ctot))
        if cache_dir is not None:
            em = idx_df.mapInPandas(
                _file_state_kernel_factory(
                    cache_dir, bcs, bcv, rnd, gate, m_total, opts.resolution
                ),
                _MOVE_SCHEMA_B,
            ).toPandas()
        else:
            em = edges_b.mapInPandas(
                _bcast_state_kernel_factory(
                    bcs, bcv, rnd, gate, m_total, opts.resolution
                ),
                _MOVE_SCHEMA_B,
            ).toPandas()
        bcv.destroy()
        eid = em["id"].to_numpy(dtype=np.int64)
        owned_m = eid >= 0  # trailer rows carry id = -1 (ext blobs)
        oid = eid[owned_m]
        # ownership invariant: each vertex's full out-adjacency lives
        # in exactly one block (bucketing is by src), so exactly one
        # block may emit an authoritative com — fail loudly if a plan
        # change ever splits an adjacency across partitions
        if len(oid) != len(np.unique(oid)):
            raise RuntimeError(
                "louvain block-ownership invariant violated: a vertex "
                "received authoritative community emissions from more "
                "than one block (adjacency split across partitions)"
            )
        com[np.searchsorted(ids, oid)] = em["com"].to_numpy(dtype=np.int64)[owned_m]
        vaff = np.zeros(n, dtype=bool)
        fl = oid[em["vaff"].to_numpy(dtype=bool)[owned_m]]
        if len(fl):
            vaff[np.searchsorted(ids, fl)] = True
        if not owned_m.all():
            blobs = em["ext"].to_numpy()[~owned_m]
            ext = np.frombuffer(b"".join(blobs), dtype="<i8")
            vaff[np.searchsorted(ids, ext)] = True
        return float(em["gain"].sum())

    try:
        iters, el_pass, round_times = _run_rounds(opts, E, gate, step)
        # driver-side modularity of THIS pass's membership over THIS
        # pass's edges, straight from the npz block cache (~0.05s of
        # numpy) — the caller uses it to skip the final membership
        # double-join job when this pass IS the whole solve. Identical
        # formula to properties.modularity (csrc grouping, ctot from
        # vertex weights); summation-order drift ~1e-15.
        if cache_dir is not None:
            clab_f, cidx = np.unique(com, return_inverse=True)
            C = len(clab_f)
            cin = np.zeros(C, dtype=np.float64)
            for fname in sorted(os.listdir(cache_dir)):
                z = np.load(os.path.join(cache_dir, fname))
                si, di, wb = z["si"], z["di"], z["w"]
                same = cidx[si] == cidx[di]
                cin += np.bincount(
                    cidx[si][same], weights=wb[same], minlength=C
                )
            ctot_f = np.bincount(cidx, weights=vt, minlength=C)
            two_m = 2.0 * m_total
            q_cand = float(
                (cin / two_m - opts.resolution * (ctot_f / two_m) ** 2).sum()
            )
        else:
            q_cand = None
    finally:
        # cleanup on ALL paths (incl. ownership-invariant RuntimeError /
        # task failures) — a mid-loop exception must not leak the temp
        # block-cache dir or the broadcasts for the session's lifetime
        if bcv is not None:
            try:
                bcv.destroy()
            except Exception:
                pass
        try:
            bcs.destroy()
        except Exception:
            pass
        if cache_dir is not None:
            import shutil

            shutil.rmtree(cache_dir, ignore_errors=True)
    mem = spark.createDataFrame(
        pd.DataFrame({"id": ids, "com": com}), MEMBERSHIP_SCHEMA
    ).persist()
    return (
        mem, iters, el_pass, int(len(np.unique(com))), round_times,
        processed, q_cand,
    )


def _routed_rounds(
    edges_b: DataFrame,
    vtot: DataFrame,
    warm: bool,
    opts: LouvainOptions,
    m_total: float,
    E: float,
    gate: int,
    probe,
):
    """Local-move iterations with the vertex state kept distributed —
    the routed gate, for vertex counts above ``serial.BROADCAST_VERTICES``.
    Builds the pass's routing table (vertex → blocks that reference
    it, over the ``block``-bucketed ``edges_b``) and the initial state,
    then runs _local_move_round per round. ``warm`` seeds pass 0 from
    the warm-start fields; ``probe`` (a _ShuffleProbe or None) records
    the setup and per-round shuffle bytes.

    Same return shape as _driver_rounds; #communities and the
    driver-side Q are None, and so are the vertex scans unless
    ``affected_vertices`` seeds a warm pass (counting the frontier
    costs one job per round).
    """
    # eager localCheckpoint rather than persist: it is re-read every
    # iteration AND it truncates lineage back to edges_b (sharing
    # lineage would make the per-iteration cogroup an ambiguous
    # self-join on `block`)
    # repartition("id") BEFORE the checkpoint: the per-iteration
    # state⋈routing join is on id, and the checkpoint pins this
    # partitioning — without it the (block,id)-partitioned distinct()
    # output re-exchanges all V·r routing rows by id EVERY iteration;
    # with it only the vertex-sized state side moves (the routing side
    # is the big one: hubs appear in up to num_blocks blocks)
    routing = (
        edges_b.select("block", F.col("src").alias("id"))
        .unionByName(edges_b.select("block", F.col("dst").alias("id")))
        .distinct()
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    if probe:
        # routing rows = V·r (r = mean blocks per vertex) — the row
        # count each iteration's exchange is proportional to. Emitted
        # so the shuffle-byte evidence can be tied to routed-state
        # volume, not edge volume: bytes per routed row should be
        # constant across fixtures while bytes per edge varies with
        # density.
        probe.routing_rows = routing.count()
    if warm:
        # warm start (louvainInitializeFromW): provided membership;
        # absent vertices get FRESH singleton labels base+id OUTSIDE
        # the provided (dense 0..C-1) range — own-id labels would
        # collide with provided labels and silently merge into
        # unrelated communities. base+id is unique, zero-shuffle, and
        # order-isomorphic to the driver path's base+arange, so
        # tie-breaks ((maxΔQ, min c)) agree across modes. ctot is
        # re-accumulated from the CURRENT vtot
        # (louvainUpdateWeightsFromU)
        # base from initial_membership rows MATCHED to the graph's
        # vertex set — the driver path derives its base from matched
        # rows only, so computing it over ALL provided rows here would
        # make fresh labels value-divergent across modes whenever the
        # membership mentions vertices absent from the graph
        # (order-isomorphism held, value parity did not)
        init_mem = opts.initial_membership
        mx = (
            init_mem.join(vtot.select("id"), "id")
            .agg(F.max("com").alias("m"))
            .first()["m"]
        )
        base = int(mx) + 1 if mx is not None else 0
        mem = (
            vtot.select("id")
            .join(init_mem.select("id", "com"), "id", "left")
            .select(
                "id",
                F.coalesce("com", F.col("id") + F.lit(base)).alias("com"),
            )
            .localCheckpoint(eager=True)
        )
        ctot = vtot.join(mem, "id").groupBy("com").agg(F.sum("vtot").alias("ctot"))
    else:
        mem = vtot.select("id", F.col("id").alias("com")).localCheckpoint(eager=True)
        ctot = vtot.select(F.col("id").alias("com"), F.col("vtot").alias("ctot"))
    frontier: DataFrame | None = None  # None ≙ all marked
    processed: int | None = None
    # frontier-seeded DYNAMIC marking (louvain.hxx:305-389): with a
    # warm start + affected set, round 0 scans only the changed-edge
    # endpoints; moves re-flag neighbors in-kernel
    if warm and opts.affected_vertices is not None:
        # each graph id once: out-of-graph and repeated ids drop out
        frontier = (
            vtot.select("id")
            .join(opts.affected_vertices.select("id"), "id", "left_semi")
            .localCheckpoint(eager=True)
        )
        processed = 0
    if probe:
        # setup = edge bucketing + routing build (edge-sized, once per
        # pass); everything after is per-iteration
        probe.mark_setup()

    def step(rnd: int) -> float:
        nonlocal mem, frontier, ctot, processed
        if processed is not None:
            processed += frontier.count()
        state, el = _local_move_round(
            edges_b, mem, vtot, ctot, m_total, opts.resolution,
            rnd=rnd, gate=gate, frontier=frontier, routing=routing,
        )
        # state is checkpointed: these are zero-cost projections
        mem = state.select("id", "com")
        frontier = state.where("vaff").select("id")
        ctot = vtot.join(mem, "id").groupBy("com").agg(F.sum("vtot").alias("ctot"))
        if probe:
            probe.mark_round()
        return el

    iters, el_pass, round_times = _run_rounds(opts, E, gate, step)
    return mem, iters, el_pass, None, round_times, processed, None


def _local_move_round(
    edges: DataFrame,
    membership: DataFrame,
    vtot: DataFrame,
    ctot: DataFrame,
    m: float,
    resolution: float,
    rnd: int = 0,
    gate: int = 1,
    frontier: DataFrame | None = None,
    routing: DataFrame | None = None,
):
    """One distributed local-move iteration → (state, Σ gains) — the
    100×-scale (non-broadcast) path, for vertex counts too large to
    hold on the driver.

    The cogroup/aggregate formulation of louvainScanCommunitiesW
    (louvain.hxx:405-438). The edge table — bucketed by ``block`` once
    per pass by the caller — never shuffles: vertex state (membership
    ⋈ vtot ⋈ ctot ⋈ frontier flag) is routed to each block that
    references the vertex (``routing``, built once per pass) and
    cogrouped against the static edge buckets; the kernel reconstructs
    the per-edge annotation with searchsorted. Per-iteration shuffle
    volume is O(V·r) (r = mean blocks per vertex) instead of O(E) per
    join — the difference between a web-scale pass being vertex-bound
    and edge-bound.

    Returned ``state`` is a single eagerly-checkpointed frame
    (id, com, vaff, gain) — the whole iteration is ONE Spark job (plus
    the trivial gain sum over the checkpointed result). This matters:
    the driver loop runs O(passes × iterations) rounds, so per-round
    job count, not data size, dominates latency on all but the largest
    graphs.
    """
    # each iteration ships only VERTEX-sized frames: membership⋈vtot⋈
    # ctot assembled co-partitioned by id, ctot re-keyed by com
    # (community-sized), then routed to the blocks that reference each
    # vertex. The cogroup kernel rebuilds the per-edge annotation with
    # numpy searchsorted — the in-executor equivalent of the five
    # annotation joins, at zero shuffle cost for the edges.
    # id-keyed joins first (membership/vtot/frontier are co-partitioned
    # by id from the previous round's checkpoint — no exchange), THEN
    # the single re-key to com for ctot: joining ctot in the middle
    # would ping-pong the frame id→com→id and add a vertex-sized
    # exchange per iteration
    state_v = membership.join(vtot, "id")
    if frontier is not None:
        state_v = (
            state_v.join(
                frontier.withColumn("_f", F.lit(True)), "id", "left"
            )
            .withColumn("vaff", F.coalesce("_f", F.lit(False)))
            .drop("_f")
        )
    else:
        state_v = state_v.withColumn("vaff", F.lit(True))
    state_v = state_v.join(ctot, "com").select(
        "id", "com", "vtot", "ctot", "vaff"
    )
    routed = state_v.join(routing, "id")
    emitted = (
        edges.groupby("block")
        .cogroup(routed.groupby("block"))
        .applyInPandas(
            _cogroup_kernel_factory(rnd, gate, m, resolution),
            _MOVE_SCHEMA,
        )
    )
    # merge kernel emissions: authoritative com from the owning block
    # (max over exactly one non-null), vaff = any block flagged it
    agg = emitted.groupBy("id").agg(
        F.max("com").alias("_nc"),
        F.sum("gain").alias("_gain"),
        F.max("vaff").alias("_vaff"),
        # ownership invariant: each vertex's full out-adjacency lives in
        # exactly one block (blocking is by src), so exactly one block
        # may emit an authoritative (non-null) com. If a plan change
        # ever split an adjacency across partitions, two blocks would
        # emit conflicting coms with double-counted gains — detect and
        # fail loudly instead of letting max(com) merge them silently.
        F.sum(F.when(F.col("com").isNotNull(), 1).otherwise(0)).alias("_ncom"),
    )
    # localCheckpoint truncates the logical plan — without it every
    # iteration's plan embeds all previous iterations and Catalyst
    # planning time grows superlinearly with rounds
    state = (
        membership.join(agg, "id", "left")
        .select(
            "id",
            F.coalesce("_nc", "com").alias("com"),
            F.coalesce("_vaff", F.lit(False)).alias("vaff"),
            F.coalesce("_gain", F.lit(0.0)).alias("gain"),
            F.coalesce("_ncom", F.lit(0)).alias("_viol"),
        )
        .localCheckpoint(eager=True)
    )
    row = state.agg(
        F.sum("gain").alias("el"), F.max("_viol").alias("mv")
    ).collect()[0]
    if int(row["mv"] or 0) > 1:
        raise RuntimeError(
            "louvain block-ownership invariant violated: a vertex "
            "received authoritative community emissions from "
            f"{int(row['mv'])} blocks (adjacency split across partitions)"
        )
    return state, float(row["el"] or 0.0)


def _renumber(membership: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """Dense renumber, ascending old community id — the same order as
    the reference's exclusive scan over the existence bitmap
    (louvain.hxx:923-928). Returns the renumbered membership and the
    cache the id assignment holds (dense_ids_cached), to be released
    once the membership is materialized."""
    from ..sources.edges import dense_ids_cached

    mapping, cache = dense_ids_cached(membership.select("com"), "com", "new_com")
    return membership.join(mapping, "com").select(
        "id", F.col("new_com").alias("com")
    ), cache


def _contract(edges: DataFrame, membership: DataFrame) -> DataFrame:
    """Graph coarsening: groupBy-community edge contraction, SELF=true
    (self-loops kept so total weight is conserved, louvain.hxx:874)."""
    ms = membership.select(F.col("id").alias("src"), F.col("com").alias("csrc"))
    md = membership.select(F.col("id").alias("dst"), F.col("com").alias("cdst"))
    return (
        edges.join(ms, "src")
        .join(md, "dst")
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def _shuffle_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle_read_bytes, shuffle_write_bytes) across all
    completed stages, read from the local UI REST API.

    Evidence hook for the routed gate's scale claim (_local_move_round):
    sampled before/after an iteration it measures the iteration's
    actual exchange volume, showing per-iteration shuffle is O(V·r)
    (vertex-sized routed state), not O(E) (the bucketed edges), at
    BIGDIST scale. Returns (0, 0) when the UI is disabled (the default
    session config) or unreachable — louvain() samples it through
    _ShuffleProbe only under LOUVAIN_SHUFFLE_PROBE, and probe runs
    enable the UI.
    """
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return (0, 0)
    try:
        with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5) as f:
            app_id = _json.load(f)[0]["id"]
        url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=15) as f:
            stages = _json.load(f)
        return (
            sum(int(s.get("shuffleReadBytes", 0)) for s in stages),
            sum(int(s.get("shuffleWriteBytes", 0)) for s in stages),
        )
    except Exception:
        return (0, 0)


class _ShuffleProbe:
    """One dist pass's shuffle bytes (LOUVAIN_SHUFFLE_PROBE): the
    one-time setup, then one entry per ``mark_round`` — the
    ``shuffle_probe`` record of ``pass_log``."""

    def __init__(self, spark):
        self.spark = spark
        self.last = _shuffle_totals(spark)
        self.setup: tuple | None = None
        self.rounds: list = []
        self.routing_rows: int | None = None

    def _delta(self) -> tuple[int, int]:
        cur = _shuffle_totals(self.spark)
        d = (cur[0] - self.last[0], cur[1] - self.last[1])
        self.last = cur
        return d

    def mark_setup(self) -> None:
        self.setup = self._delta()

    def mark_round(self, **extra) -> None:
        read, write = self._delta()
        self.rounds.append({**extra, "read": read, "write": write})


def _compose(ucom: DataFrame | None, mem: DataFrame) -> DataFrame:
    """ucom ∘ mem: re-point original vertices through the current level
    (dendrogram flatten, louvain.hxx:825-829). ucom=None ≡ identity."""
    if ucom is None:
        return mem
    lvl = mem.select(F.col("id").alias("com"), F.col("com").alias("_c2"))
    return ucom.join(lvl, "com").select("id", F.col("_c2").alias("com"))


def _serial_finish(
    spark, g: EdgeCSR, t0: float, opts: LouvainOptions, p: int = 0, warm: bool = False
) -> LouvainResult:
    """Solve the edge frame whose resident graph (serial.local_graph)
    is ``g`` on the driver with the sequential kernel from pass ``p``
    on — the analog of the reference's representation swap
    (louvain.hxx:1174-1176). ``mode="exact"`` runs it on the whole
    input; auto runs it once a pass's graph is within
    ``serial.SERIAL_EDGES``. ``warm`` seeds pass 0 from the warm-start
    fields (_warm_start). The membership is over the ids of ``g``,
    persisted and carrying its ``(id, com)`` arrays
    (``serial.hold_columns``), and the modularity is its Q over ``g``;
    an empty or zero-weight graph returns an empty result with an empty
    pass_log.

    The pass_log record splits ``t_local`` into its phases, like the
    reference's phase report (main.cxx:70-76): ``t_collect`` (from
    ``t0``, taken before the caller's ``local_graph``: the edge collect
    and CSR prologue, 0 when the graph was resident), ``t_csr`` (warm
    start), ``t_solve`` (louvain_seq_fast, which also scores Q) and
    ``t_q`` (the membership frame)."""
    import numpy as np

    t_collect = time.time()
    if len(g.src) == 0 or float(g.w.sum()) <= 0.0:
        return LouvainResult(
            spark.createDataFrame([], MEMBERSHIP_SCHEMA), 0.0, 0, 0, []
        )
    init_com = init_aff = None
    if warm:
        com, aff = _warm_start(g.ids, opts)
        # the kernel takes dense labels: provided labels in value
        # order, then the fresh singletons in ascending-id order
        init_com = np.unique(com, return_inverse=True)[1]
        if aff is not None:
            init_aff = np.flatnonzero(aff)
    t_csr = time.time()
    r = louvain_seq_fast(
        g,
        resolution=opts.resolution,
        tolerance=opts.tolerance / (opts.tolerance_drop ** p),
        tolerance_drop=opts.tolerance_drop,
        max_iterations=opts.max_iterations,
        max_passes=opts.max_passes - p,
        aggregation_tolerance=opts.aggregation_tolerance,
        init_com=init_com,
        init_aff=init_aff,
    )
    t_solve = time.time()
    mem = spark.createDataFrame(
        pd.DataFrame({"id": g.ids, "com": r.membership}), MEMBERSHIP_SCHEMA
    ).persist()
    serial.hold_columns(mem, {"id": g.ids, "com": r.membership})
    t_end = time.time()
    return LouvainResult(mem, r.modularity, r.passes, r.iterations, [{
        "pass": p, "mode": "local_finish", "edges": len(g.src),
        "local_passes": r.passes,
        # vertex scans actually performed across the serial passes —
        # the work metric frontier-seeded marking (affected_vertices)
        # is judged by
        "processed": sum(e.get("processed", 0) for e in r.pass_log),
        "t_local": round(t_end - t0, 3),
        "t_collect": round(t_collect - t0, 3),
        "t_csr": round(t_csr - t_collect, 3),
        "t_solve": round(t_solve - t_csr, 3),
        "t_q": round(t_end - t_solve, 3),
    }])


def louvain(edges: DataFrame, opts: LouvainOptions | None = None) -> LouvainResult:
    """Run Louvain over a symmetric edge DataFrame (src, dst, w).

    Pass-loop orchestration mirrors louvainInvoke (louvain.hxx:1009-1106):
    init singletons → local-move to tolerance → stop on m≤1 / p≥P /
    CN/GN ≥ aggregationTolerance → renumber → flatten → contract →
    re-init → E /= toleranceDrop.
    """
    opts = opts or LouvainOptions()
    spark = edges.sparkSession
    if opts.mode == "exact":
        t0 = time.time()
        res = _serial_finish(spark, serial.local_graph(edges, None), t0, opts)
        if not res.pass_log:
            res.membership.persist().count()
        return res

    run = RunDir(opts.run_dir) if opts.run_dir else None
    num_blocks = opts.num_blocks or max(
        int(spark.conf.get("spark.sql.shuffle.partitions")), 1
    )
    original_edges = edges
    # M is only needed by the distributed paths (the serial auto finish
    # computes it from the arrays it already collected) — deferred so
    # an auto run that collapses into the driver saves one aggregate
    # job over the full edge table (guide §1.2: don't compute what the
    # chosen path throws away)
    m_total: float | None = None

    p = 0
    ucom: DataFrame | None = None  # original vertex → current-level vertex
    if opts.resume and run is not None:
        last = run.last_completed_pass()
        if last is not None:
            edges, ucom, manifest = run.load_pass(spark, last)
            edges = edges.persist()
            ucom = ucom.persist()
            if manifest.get("done"):
                q = modularity_op(original_edges, ucom, opts.resolution)
                return LouvainResult(
                    ucom, q, last + 1, manifest.get("total_iterations", -1),
                    [{"resumed_finished": True}],
                )
            p = last + 1

    pass_log: list = []
    total_iters = 0
    final_mem: DataFrame | None = None
    q_fast: float | None = None  # driver-computed Q (pure-serial solve)
    # the breaking dist pass's vtot and membership: final_mem is built
    # from them, so they are released once it is materialized
    held: tuple = ()
    while p < opts.max_passes:
        E = opts.tolerance / (opts.tolerance_drop ** p)
        # ---- auto fast path: solve the coarsened remainder in the
        # driver with the sequential kernel (reference semantics; no
        # per-iteration Spark round-trips). The graph is collected
        # once and handed on; over the bound, the count that decided
        # is the pass's edge count (an unpersisted frame's bounded
        # collect does not count it, so it is counted here).
        t0 = time.time()
        g, n_edges = (
            serial.graph_or_count(edges, serial.SERIAL_EDGES)
            if opts.mode == "auto" else (None, None)
        )
        if n_edges is None:
            n_edges = edges.count()
        if g is not None:
            res = _serial_finish(
                spark, g, t0, opts, p, warm=p == 0 and opts.initial_membership is not None
            )
            if not res.pass_log:
                return res  # empty/zero-weight graph
            if ucom is None:
                # the whole solve collapsed into pass 0 over the input
                # edge table: Q over the arrays already in hand
                final_mem = res.membership
                q_fast = res.modularity
            else:
                final_mem = _compose(ucom, res.membership).persist()
                held = (res.membership,)
            total_iters += res.iterations
            pass_log += res.pass_log
            p += res.passes
            break

        t0 = time.time()
        vtot = vertex_weights(edges).persist()
        # vertex count + (on the broadcast path) the driver copy of
        # vtot in ONE job: the bounded collect either returns the
        # complete frame (≤ gate ⇒ it IS the copy the driver rounds
        # need) or proves V > gate — replacing a count() + toPandas()
        vt_arrs = collect_bounded(vtot, ["id", "vtot"], serial.BROADCAST_VERTICES)
        broadcast = vt_arrs is not None
        gn = len(vt_arrs[0]) if broadcast else vtot.count()
        if m_total is None:
            # M = Σw/2 = Σvtot/2: when the full vtot frame is already on
            # the driver this is a free numpy sum instead of another
            # edge-table aggregate job (contraction preserves Σw, so
            # this equals M of the original graph on any pass).
            if broadcast:
                m_total = float(vt_arrs[1].sum()) / 2.0
            else:
                m_total = total_weight_m(original_edges)
            if m_total <= 0:
                return LouvainResult(
                    spark.createDataFrame([], MEMBERSHIP_SCHEMA), 0.0, 0, 0, []
                )
        # evidence probe (see _shuffle_totals): per-pass setup vs
        # per-iteration shuffle volume, recorded into pass_log
        probe = (
            _ShuffleProbe(spark)
            if os.environ.get("LOUVAIN_SHUFFLE_PROBE") else None
        )
        # blocks sized by vertex count (reference chunk geometry);
        # a single block with gate=1 IS the sequential reference sweep
        blocks_pass = max(1, min(num_blocks, gn // BLOCK_VERTICES or 1))
        gate = 1 if blocks_pass == 1 else 2
        warm = p == 0 and opts.initial_membership is not None
        # partition + sort the edge table by kernel block ONCE per
        # pass (the analog of the reference's per-pass CSR rebuild,
        # louvain.hxx:1174-1176): no iteration ever shuffles or
        # re-sorts it again.
        if broadcast:
            # driver-coordinated rounds: vertex state lives on the
            # driver (the analog of the reference's shared arrays) and
            # reaches tasks as ONE broadcast per round; edges hash
            # srcs straight into partitions (one extra pmod layer
            # would funnel 32 block values through murmur3 and leave
            # ~⅓ of partitions empty — balls-in-bins)
            # local mode: the npz block cache re-sorts each block in
            # numpy (packed-key argsort inside the writer — cheaper
            # than the JVM per-partition sort it replaces); the
            # cluster-shaped path still sorts in the JVM because the
            # per-iteration kernels need the contiguous-adjacency order
            # on every read
            eb_ = edges.repartition(blocks_pass, "src")
            if not _block_caches(spark):
                eb_ = eb_.sortWithinPartitions("src", "dst")
            edges_b = eb_.persist()
            if probe:
                # force the shuffle here only when measuring, so the
                # setup-bytes attribution stays exact; otherwise the
                # first consumer (block-cache writer / round 0)
                # materializes the persist without an extra scan
                edges_b.count()
                probe.mark_setup()
            rounds = _driver_rounds(
                spark, edges_b, *vt_arrs, warm, opts, m_total, E, gate,
                blocks_pass,
            )
            if probe:
                # driver-coordinated rounds are zero-shuffle by design:
                # one total across ALL iterations, expected ≈ 0
                probe.mark_round(iters=rounds[1])
        else:
            # routed gate: explicit block column so the per-iteration
            # cogroup can align routed vertex state with the static
            # edge buckets. (At this vertex count blocks_pass ≫
            # shuffle partitions, so the pmod→murmur3 balls-in-bins
            # skew of a small block domain doesn't apply.)
            edges_b = (
                edges.withColumn(
                    "block", F.pmod(F.hash("src"), F.lit(blocks_pass))
                )
                .repartition(blocks_pass, "block")
                .sortWithinPartitions("src", "dst")
                .persist()
            )
            edges_b.count()
            rounds = _routed_rounds(
                edges_b, vtot, warm, opts, m_total, E, gate, probe
            )
        mem, iters, el_pass, cn, round_times, processed, q_cand = rounds
        edges_b.unpersist()
        t_move = time.time() - t0
        total_iters += iters
        rec = {"pass": p, "iterations": iters, "edges": n_edges,
               "vertices": gn, "t_move": round(t_move, 3),
               # vertex scans performed (DYNAMIC work metric; None when
               # not tracked on the cogroup path)
               "processed": processed,
               # per-round localMove wall times (phase split,
               # main.cxx:70-76); t_move additionally includes the
               # one-time pass setup (bucketing ≙ CSR rebuild, vtot)
               "t_rounds": round_times}
        if probe:
            rec["shuffle_probe"] = {
                "setup_bytes": probe.setup,
                "round_bytes": probe.rounds,
                "routing_rows": probe.routing_rows,
                "blocks": blocks_pass,
            }
        p += 1
        # pass made essentially no progress → stop (reference's m≤1,
        # louvain.hxx:1186, adapted to gated rounds)
        if el_pass <= E or p >= opts.max_passes:
            final_mem = _compose(ucom, mem).persist()
            held = (vtot, mem)
            if ucom is None:
                q_fast = q_cand  # this pass IS the whole solve
            pass_log.append(rec)
            break
        if cn is None:
            cn = mem.select("com").distinct().count()
        rec["communities"] = cn
        pass_log.append(rec)
        if cn / gn >= opts.aggregation_tolerance:
            final_mem = _compose(ucom, mem).persist()
            held = (vtot, mem)
            if ucom is None:
                q_fast = q_cand
            break
        t1 = time.time()
        mem_r, ranks = _renumber(mem)
        mem_r = mem_r.persist()
        # eager localCheckpoints: truncate cross-pass lineage (the
        # DataFrame analog of the reference's per-pass CSR rebuild,
        # louvain.hxx:1174-1176)
        new_ucom = _compose(ucom, mem_r).localCheckpoint(eager=True)
        new_edges = _contract(edges, mem_r).localCheckpoint(eager=True)
        rec["t_agg"] = round(time.time() - t1, 3)
        if run is not None:
            run.save_pass(
                p - 1, new_edges, new_ucom,
                {"iterations": iters, "communities": cn, "total_iterations": total_iters},
            )
        if ucom is not None:
            ucom.unpersist()
        ucom = new_ucom
        edges = new_edges
        vtot.unpersist()
        mem.unpersist()
        mem_r.unpersist()
        if ranks is not None:
            ranks.unpersist()

    if final_mem is None:
        final_mem = (ucom if ucom is not None else edges.sparkSession.createDataFrame([], MEMBERSHIP_SCHEMA)).persist()
    if run is not None:
        run.save_pass(p - 1, edges, final_mem, {"done": True, "total_iterations": total_iters})
    try:
        if q_fast is not None:
            # materialize the persisted membership (modularity_op used
            # to force it as a side effect of the skipped join job);
            # one that carries its arrays is read from them, so its
            # cache fills at its first Spark read, if any
            if serial.held_columns(final_mem) is None:
                final_mem.count()
            q = q_fast
        else:
            q = modularity_op(original_edges, final_mem, opts.resolution)
    finally:
        for df in held:
            df.unpersist()
    return LouvainResult(final_mem, q, p, total_iters, pass_log)
