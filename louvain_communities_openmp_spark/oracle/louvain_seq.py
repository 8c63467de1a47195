"""Sequential Louvain oracle — faithful port of the reference semantics.

Ground truth for the "community assignments exact vs the reference's
sequential Louvain" criterion. Every behavioral detail below is pinned
to the reference (puzzlef/louvain-communities-openmp):

- local-move sweep in ascending vertex id, immediate (asynchronous)
  vcom/ctot updates            → louvain.hxx:527-545 (louvainMoveW)
- community scan skips self-loops (SELF=false)
                               → louvain.hxx:405-411
- ΔQ = (k_uc − k_ud)/M − R·vtot_u·(vtot_u + ctot_c − ctot_d)/(2M²)
                               → properties.hxx:253-256 (deltaModularity)
- argmax keeps the FIRST strict maximum in community-scan insertion
  order (hashtable keys `vcs` are pushed at first encounter while
  scanning the adjacency)      → louvain.hxx:454-464
- a vertex never moves TO community 0: `if (c)` treats cmax==0 as
  "no move" (cmax initialized to K()==0), although its phantom gain
  still feeds the convergence l1-norm
                               → louvain.hxx:456-461, 538-540
- affected-vertex pruning: processing clears vaff[u]; a move flags all
  neighbors               → louvain.hxx:534, 538-539
- convergence: Σ gains ≤ E after each sweep; iteration count returned
  as 0 when converged on entry → louvain.hxx:541-544 (`l>1||el? l: 0`)
- pass loop: stop on m≤1, p≥maxPasses, or CN/GN ≥ aggregationTolerance;
  renumber communities densely in ascending old-id order (exclusive
  scan of the existence bitmap); flatten the first-pass membership
  through the current level; contract edges with SELF=true, scanning
  communities 0..C-1, member vertices ascending, adjacency in graph
  order; re-init singletons on the coarse graph; E /= toleranceDrop
                               → louvain.hxx:1009-1106 (louvainInvoke),
                                 louvain.hxx:865-879, 923-928
- defaults: resolution 1.0, tolerance 1e-2, toleranceDrop 10,
  maxIterations 20, maxPasses 10, aggregationTolerance 0.8
                               → louvain.hxx:60-61

The coarse-graph adjacency preserves *insertion order* (the reference
writes CSR rows in `vcs` scan order, louvain.hxx:876-877) — this is
what makes tie-breaking reproducible across passes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ._cmove import contract_c, local_move_c


@dataclass
class LouvainSeqResult:
    membership: list          # ucom — final per-vertex community
    vertex_weight: list       # utot — Σ out-edge weight per vertex (pass 0)
    iterations: int           # total local-move iterations across passes
    passes: int               # passes performed
    modularity: float         # re-scored vs the ORIGINAL graph
    pass_log: list = field(default_factory=list)  # per-pass dicts


def _local_move(adj, vcom, ctot, vaff, vtot, M, R, L, E):
    """One local-moving phase; mutates vcom/ctot/vaff. → louvainMoveW."""
    l = 0
    el = 0.0
    while l < L:
        el = 0.0
        for u in range(len(adj)):
            if not vaff[u]:
                continue
            d = vcom[u]
            vcout: dict = {}  # insertion-ordered == reference vcs order
            for v, w in adj[u]:
                if u == v:
                    continue  # SELF=false scan (louvain.hxx:407)
                c = vcom[v]
                vcout[c] = vcout.get(c, 0.0) + w
            kud = vcout.get(d, 0.0)
            cmax, emax = 0, 0.0
            for c, kuc in vcout.items():
                if c == d:
                    continue
                e = (kuc - kud) / M - R * vtot[u] * (vtot[u] + ctot[c] - ctot[d]) / (2.0 * M * M)
                if e > emax:
                    emax, cmax = e, c
            if cmax:  # the reference's `if (c)` — community 0 never a target
                ctot[d] -= vtot[u]
                ctot[cmax] += vtot[u]
                vcom[u] = cmax
                for v, _ in adj[u]:
                    vaff[v] = 1
            vaff[u] = 0
            el += emax
        l += 1
        if el <= E:
            break
    return l if (l > 1 or el != 0.0) else 0


def louvain_seq(
    adj,
    resolution: float = 1.0,
    tolerance: float = 1e-2,
    tolerance_drop: float = 10.0,
    max_iterations: int = 20,
    max_passes: int = 10,
    aggregation_tolerance: float = 0.8,
) -> LouvainSeqResult:
    """Run sequential Louvain on adjacency ``adj[u] = [(v, w), ...]``.

    ``adj`` must be the symmetric digraph with pass-0 rows sorted by
    destination (see oracle.graphs.adjacency).
    """
    S = len(adj)
    R = resolution
    utot = [sum(w for _, w in row) for row in adj]
    M = sum(utot) / 2.0
    ucom = list(range(S))
    ctot = utot[:]
    vaff = [1] * S
    pass_log = []

    y = None          # coarse graph (insertion-ordered adjacency)
    vcom: list = []   # membership at current coarse level
    vtot_y: list = []
    E = tolerance
    l_total, p = 0, 0
    while M > 0 and max_passes > 0:
        is_first = p == 0
        if is_first:
            m = _local_move(adj, ucom, ctot, vaff, utot, M, R, max_iterations, E)
        else:
            m = _local_move(y, vcom, ctot, vaff, vtot_y, M, R, max_iterations, E)
        l_total += max(m, 1)
        p += 1
        cur_adj = adj if is_first else y
        cur = ucom if is_first else vcom
        pass_log.append({"pass": p, "iterations": m, "graph_order": len(cur_adj)})
        if m <= 1 or p >= max_passes:
            break
        GN = len(cur_adj)
        coms = sorted(set(cur))
        CN = len(coms)
        pass_log[-1]["communities"] = CN
        if CN / GN >= aggregation_tolerance:
            break
        # renumber densely, ascending old community id (exclusive scan)
        remap = {c: i for i, c in enumerate(coms)}
        for u in range(len(cur)):
            cur[u] = remap[cur[u]]
        if not is_first:
            for u in range(S):
                ucom[u] = vcom[ucom[u]]
        # contract: community member lists ascending; SELF=true scan;
        # coarse adjacency keeps first-encounter insertion order
        members: list = [[] for _ in range(CN)]
        for u in range(len(cur)):
            members[cur[u]].append(u)
        newadj = []
        for c in range(CN):
            acc: dict = {}
            for u in members[c]:
                for v, w in cur_adj[u]:
                    dc = cur[v]
                    acc[dc] = acc.get(dc, 0.0) + w
            newadj.append(list(acc.items()))
        y = newadj
        vtot_y = [sum(w for _, w in row) for row in y]
        vcom = list(range(CN))
        ctot = vtot_y[:]
        vaff = [1] * CN
        E /= tolerance_drop

    if p > 1:
        for u in range(S):
            ucom[u] = vcom[ucom[u]]

    q = modularity(adj, ucom, M, R) if M > 0 else 0.0
    return LouvainSeqResult(ucom, utot, l_total, p, q, pass_log)


# degree cutoff between the dict-walk and numpy-grouping paths of
# _local_move_fast. The walk is O(deg) with ~0.1µs/edge constants; the
# numpy grouping is O(deg·log deg) with ~2µs fixed overhead — the walk
# wins everywhere except mega-hubs, where the two roughly tie (zipf
# fixture with a 296k-degree hub: walk-only ≈ numpy-at-hubs within
# noise). Both paths are bit-identical, so this is purely a speed knob.
_SMALL_DEG = 4096


def _local_move_fast(indptr, indices, weights, vcom, ctot, vaff, vtot, M, R, L, E):
    """Vectorized-per-vertex _local_move: same sweep order, same
    immediate updates, same first-max/insertion-order tie-break and
    community-0 quirk — bit-identical membership. Returns
    (iterations, processed) where ``processed`` counts vertex scans
    actually performed (vaff-marked) — the work metric frontier-seeded
    dynamic marking (louvain.hxx:305-389 DYNAMIC) is judged by.

    Two per-vertex paths, chosen by degree:

    - deg ≤ _SMALL_DEG: a plain dict walk over Python-list mirrors of
      the CSR. This IS the slow oracle's accumulation (_local_move,
      above) verbatim — insertion-ordered dict, adjacency-order float
      adds, the same ΔQ expression tree — so it is bit-identical by
      construction, and ~5× faster than the numpy grouping at the
      power-law-typical degree ~10, where per-call numpy overhead
      (≈10 array ops on 10-element arrays) dominates.
    - deg > _SMALL_DEG (hubs): the numpy grouping, whose bincount
      accumulates k_uc in the same adjacency order (proven identical
      on every fixture in tests/test_oracle.py).

    vcom/ctot live in BOTH a numpy array (the hub path's fancy
    indexing, and the caller's contract step) and a Python-list mirror
    (the walk path's reads); every move writes both.
    """
    import numpy as np

    n = len(indptr) - 1
    ptr = indptr.tolist()
    idx = indices.tolist()
    wts = weights.tolist()
    vcom_l = vcom.tolist()
    ctot_l = ctot.tolist()
    vtot_l = vtot.tolist()
    M22 = 2.0 * M * M  # same association as the inline (2.0 * M * M)
    l = 0
    el = 0.0
    processed = 0  # vertices actually scanned (vaff-marked) — the
    # work metric frontier-seeded dynamic marking is judged by
    while l < L:
        el = 0.0
        for u in range(n):
            if not vaff[u]:
                continue
            processed += 1
            lo, hi = ptr[u], ptr[u + 1]
            if hi - lo <= _SMALL_DEG:
                vaff[u] = 0
                d = vcom_l[u]
                vcout: dict = {}  # insertion-ordered == reference vcs
                for v, wt in zip(idx[lo:hi], wts[lo:hi]):
                    if v == u:
                        continue  # SELF=false scan (louvain.hxx:407)
                    c = vcom_l[v]
                    vcout[c] = vcout.get(c, 0.0) + wt
                if not vcout:
                    continue
                kud = vcout.get(d, 0.0)
                vt = vtot_l[u]
                cd = ctot_l[d]
                cmax, emax = 0, 0.0
                for c, kuc in vcout.items():
                    if c == d:
                        continue
                    e = (kuc - kud) / M - R * vt * (vt + ctot_l[c] - cd) / M22
                    if e > emax:
                        emax, cmax = e, c
                el += emax
                if cmax:  # the reference's `if (c)` community-0 quirk
                    ctot[d] -= vt
                    ctot[cmax] += vt
                    ctot_l[d] -= vt
                    ctot_l[cmax] += vt
                    vcom[u] = cmax
                    vcom_l[u] = cmax
                    vaff[indices[lo:hi]] = 1
                    vaff[u] = 0
                continue
            nb = indices[lo:hi]
            ws = weights[lo:hi]
            mask = nb != u  # SELF=false scan (louvain.hxx:407)
            ncs = vcom[nb[mask]]
            d = vcom[u]
            vaff[u] = 0
            if len(ncs) == 0:
                continue
            # exact replica of np.unique(return_index, return_inverse)
            # with ~30% less per-call overhead: stable argsort ⇒ first
            # occurrence per group; inverse scattered back so bincount
            # accumulates the k_uc sums in ORIGINAL adjacency order —
            # bit-identical floats to the slow oracle's dict walk
            o = np.argsort(ncs, kind="stable")
            sn = ncs[o]
            grp = np.empty(len(sn), dtype=bool)
            grp[0] = True
            np.not_equal(sn[1:], sn[:-1], out=grp[1:])
            starts = np.flatnonzero(grp)
            uniq = sn[starts]
            first_idx = o[starts]
            inv = np.empty(len(sn), dtype=np.int64)
            inv[o] = np.cumsum(grp) - 1
            sums = np.bincount(inv, weights=ws[mask])
            ins = np.argsort(first_idx, kind="stable")  # insertion order
            cs = uniq[ins]
            k = sums[ins]
            dpos = np.flatnonzero(cs == d)
            kud = k[dpos[0]] if len(dpos) else 0.0
            e = (k - kud) / M - R * vtot[u] * (
                vtot[u] + ctot[cs] - ctot[d]
            ) / (2.0 * M * M)
            if len(dpos):
                e[dpos[0]] = -np.inf
            bi = int(np.argmax(e))  # first max in insertion order
            emax = float(e[bi])
            if emax > 0.0:
                el += emax
                cmax = int(cs[bi])
                if cmax:  # the reference's `if (c)` community-0 quirk
                    ctot[d] -= vtot[u]
                    ctot[cmax] += vtot[u]
                    ctot_l[d] = float(ctot[d])
                    ctot_l[cmax] = float(ctot[cmax])
                    vcom[u] = cmax
                    vcom_l[u] = cmax
                    vaff[nb] = 1
                    vaff[u] = 0
        l += 1
        if el <= E:
            break
    return (l if (l > 1 or el != 0.0) else 0), processed


def _contract_fast(indptr, indices, weights, cur, CN, src_idx):
    """Vectorized contraction preserving the reference's coarse-row
    insertion order (members ascending, adjacency order within member,
    first-encounter order of destination communities). The fallback
    when no C compiler is available: ``louvain_seq_fast`` uses the
    native ``contract_c`` (oracle/_cmove.py), which returns the same
    arrays bit for bit, including reduceat's summation order (numpy's
    pairwise sum), pinned by tests/test_cmove.py.

    One stable lexsort by (cu, cv) replaces the previous
    sort-by-(cu, member) + np.unique-over-composite-key double sort:
    stability keeps ascending ORIGINAL position within each (cu, cv)
    group, so (a) reduceat accumulates each group's weights in exactly
    the order bincount did (bit-identical float sums), and (b) the
    group's first element carries the minimum original position, which
    reproduces the first-encounter row order (original CSR position
    order == (member ascending, adjacency within member)).

    ``src_idx`` is the per-edge source-vertex array aligned with
    ``indices`` (the caller carries it across passes — the previous
    pass's g_cu IS the next pass's src_idx), replacing a per-call
    O(E) ``np.repeat`` materialization. Returns
    (new_indptr, g_cv, sums, g_cu); g_cu doubles as the coarse graph's
    src_idx for the next contraction."""
    import numpy as np

    cu = cur[src_idx]  # community of each edge's source
    cv = cur[indices]
    E = len(cv)
    if E == 0:
        return np.zeros(CN + 1, dtype=np.int64), cv, weights, cu
    # packed single int64 key (cu major, cv minor) + stable argsort:
    # numpy's stable sort on integers is a radix sort, ~5× cheaper than
    # the equivalent two-key lexsort at these sizes, and yields the
    # IDENTICAL permutation (same key order, same stability), so the
    # reduceat sums below are bit-for-bit the lexsort path's. cu,cv <
    # CN, so the key fits int64 for any CN < 3e9.
    order = np.argsort(cu * np.int64(CN) + cv, kind="stable")
    cu_s, cv_s, w_s = cu[order], cv[order], weights[order]
    grp = np.empty(E, dtype=bool)
    grp[0] = True
    grp[1:] = (cu_s[1:] != cu_s[:-1]) | (cv_s[1:] != cv_s[:-1])
    starts = np.flatnonzero(grp)
    sums = np.add.reduceat(w_s, starts)
    g_cu = cu_s[starts]
    g_cv = cv_s[starts]
    first_pos = order[starts]  # min original position of each group
    # first-encounter order within each coarse row: stable radix on the
    # packed (g_cu, first_pos) key — identical to
    # np.lexsort((first_pos, g_cu)); first_pos < E+1 bounds the minor
    g_order = np.argsort(
        g_cu * np.int64(E + 1) + first_pos, kind="stable"
    )
    g_cu, g_cv, sums = g_cu[g_order], g_cv[g_order], sums[g_order]
    new_indptr = np.zeros(CN + 1, dtype=np.int64)
    new_indptr[1:] = np.cumsum(np.bincount(g_cu, minlength=CN))
    return new_indptr, g_cv, sums, g_cu


def louvain_seq_fast(
    src,
    dst,
    w,
    resolution: float = 1.0,
    tolerance: float = 1e-2,
    tolerance_drop: float = 10.0,
    max_iterations: int = 20,
    max_passes: int = 10,
    aggregation_tolerance: float = 0.8,
    init_com=None,
    init_aff=None,
) -> LouvainSeqResult:
    """Numpy implementation of louvain_seq with identical semantics
    (asserted equal on every fixture in tests/test_oracle.py).

    Input: parallel edge arrays of the symmetric digraph, sorted by
    (src, dst) — matching oracle.graphs.adjacency row order. Vertices
    are dense 0..max id.

    ``init_com`` (optional, len S, values in [0, S)): warm-start
    membership — the DYNAMIC path's louvainInitializeFromW
    (louvain.hxx:305-318): vcom seeded from the previous run, ctot
    accumulated from it (louvainCommunityWeightsW semantics) instead of
    singleton initialization.

    ``init_aff`` (optional, vertex-id array): frontier-seeded DYNAMIC
    marking — only these vertices start vaff-marked in pass 0 (the
    reference's affected-vertex seeding after a batch update,
    louvain.hxx:305-389 + DYNAMIC louvain.hxx:1009: endpoints of
    changed edges; any move still flags all its neighbors, so the
    frontier grows exactly where communities actually shift). Requires
    ``init_com``; coarse passes re-flood like the reference. Each
    pass_log entry carries ``processed`` (vertex scans performed) so
    callers can verify the work saving.
    """
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)
    # sort with w as the minor key so the max-w duplicate of each
    # (src, dst) lands last: the collapse below is then ORDER-INDEPENDENT
    # (callers reach here through repartition/concat paths whose row
    # order is partition-arrival dependent; a stable "keep last input
    # row" would make exact mode nondeterministic when duplicate keys
    # carry unequal weights). Policy matches sources/mtx.py: max(w) —
    # coincides with the reference's addEdge overwrite on its own
    # equal-weight corpus (Graph.hxx LazyBitset).
    if len(src) > 1:
        # skip the single-threaded O(E log E) lexsort when the caller
        # already delivered (src, dst, w)-lex-sorted rows (the Spark
        # local-finish path sorts distributed before collecting) — the
        # check is three vectorized passes
        eq_s = src[1:] == src[:-1]
        eq_d = dst[1:] == dst[:-1]
        presorted = bool(
            (
                (src[1:] > src[:-1])
                | (eq_s & (dst[1:] > dst[:-1]))
                | (eq_s & eq_d & (w[1:] >= w[:-1]))
            ).all()
        )
        if not presorted:
            order = np.lexsort((w, dst, src))
            src, dst, w = src[order], dst[order], w[order]
            eq_s = src[1:] == src[:-1]
            eq_d = dst[1:] == dst[:-1]
        dup = eq_s & eq_d
        if bool(dup.any()):
            keep = np.r_[~dup, True]  # max-w occurrence of each key
            src, dst, w = src[keep], dst[keep], w[keep]
    S = int(max(src.max(), dst.max())) + 1 if len(src) else 0
    if S == 0:
        return LouvainSeqResult([], [], 0, 0, 0.0, [])
    indptr = np.zeros(S + 1, dtype=np.int64)
    indptr[1:] = np.cumsum(np.bincount(src, minlength=S))
    indices, weights = dst, w
    R = resolution
    utot = np.bincount(src, weights=w, minlength=S)
    M = float(utot.sum()) / 2.0
    if init_com is not None:
        ucom = np.asarray(init_com, dtype=np.int64).copy()
        if len(ucom) != S:
            raise ValueError(f"init_com length {len(ucom)} != vertices {S}")
        ctot = np.bincount(ucom, weights=utot, minlength=S)
    else:
        ucom = np.arange(S, dtype=np.int64)
        ctot = utot.copy()
    if init_aff is not None:
        if init_com is None:
            raise ValueError("init_aff requires init_com (warm start)")
        vaff = np.zeros(S, dtype=np.int8)
        aff = np.asarray(init_aff, dtype=np.int64)
        vaff[aff[(aff >= 0) & (aff < S)]] = 1
    else:
        vaff = np.ones(S, dtype=np.int8)
    vtot = utot
    pass_log = []

    E = tolerance
    l_total, p = 0, 0
    cur = ucom  # membership at the current coarse level
    src_arr = src  # per-edge source vertex, carried across contractions
    first = True
    while M > 0 and max_passes > 0:
        # native sweep when available (oracle/_cmove.py: the identical
        # insertion-ordered walk compiled to C, ~10× less per-edge cost;
        # bit-identity pinned by tests/test_oracle.py) — falls back to
        # the pure-Python sweep on any unavailability
        moved = local_move_c(
            indptr, np.ascontiguousarray(indices),
            np.ascontiguousarray(weights), cur, ctot, vaff, vtot,
            M, R, max_iterations, E,
        )
        if moved is not None:
            m, scanned = moved
        else:
            m, scanned = _local_move_fast(
                indptr, indices, weights, cur, ctot, vaff, vtot, M, R,
                max_iterations, E,
            )
        l_total += max(m, 1)
        p += 1
        GN = len(indptr) - 1
        pass_log.append({"pass": p, "iterations": m, "graph_order": GN,
                         "processed": scanned})
        if m <= 1 or p >= max_passes:
            break
        coms = np.unique(cur)
        CN = len(coms)
        pass_log[-1]["communities"] = CN
        if CN / GN >= aggregation_tolerance:
            break
        cur_r = np.searchsorted(coms, cur)  # dense renumber, ascending
        if first:
            ucom = cur_r.copy()
            first = False
        else:
            ucom = cur_r[ucom]
        # native contraction when available (oracle/_cmove.py
        # louvain_contract: bit-identical arrays, pinned by
        # tests/test_cmove.py)
        coarse = contract_c(indptr, indices, weights, cur_r, CN)
        if coarse is None:
            coarse = _contract_fast(indptr, indices, weights, cur_r, CN, src_arr)
        indptr, indices, weights, src_arr = coarse
        # src_arr (g_cu) is sorted by source community, so this is the
        # same array np.repeat(arange(CN), diff(indptr)) produced —
        # identical bincount accumulation, no O(E) repeat
        vtot = np.bincount(src_arr, weights=weights, minlength=CN)
        cur = np.arange(CN, dtype=np.int64)
        ctot = vtot.copy()
        vaff = np.ones(CN, dtype=np.int8)
        E /= tolerance_drop

    if first:
        ucom = cur.copy()
    elif p > 1:
        ucom = cur[ucom]

    # re-score vs original graph
    cin_mask = ucom[src] == ucom[dst]
    M0 = float(w.sum()) / 2.0
    cin = np.bincount(ucom[src][cin_mask], weights=w[cin_mask])
    ctot_f = np.bincount(ucom[src], weights=w)
    ncf = max(len(cin), len(ctot_f))
    cin = np.pad(cin, (0, ncf - len(cin)))
    ctot_f = np.pad(ctot_f, (0, ncf - len(ctot_f)))
    q = float((cin / (2.0 * M0) - R * (ctot_f / (2.0 * M0)) ** 2).sum())
    return LouvainSeqResult(
        ucom.tolist(), utot.tolist(), l_total, p, q, pass_log
    )


def modularity(adj, com, M: float | None = None, R: float = 1.0) -> float:
    """Q = Σ_c [cin_c/(2M) − R·(ctot_c/(2M))²].

    cin counts both directions of every intra-community edge and
    self-loops (reference: properties.hxx:177-233 modularityBy,
    123-126 modularityCommunity).
    """
    if M is None:
        M = sum(w for row in adj for _, w in row) / 2.0
    cin: dict = {}
    ctot: dict = {}
    for u, row in enumerate(adj):
        cu = com[u]
        for v, w in row:
            if cu == com[v]:
                cin[cu] = cin.get(cu, 0.0) + w
            ctot[cu] = ctot.get(cu, 0.0) + w
    q = 0.0
    for c, tot in ctot.items():
        q += cin.get(c, 0.0) / (2.0 * M) - R * (tot / (2.0 * M)) ** 2
    return q
