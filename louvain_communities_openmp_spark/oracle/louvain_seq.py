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
    # (both are numpy arrays from louvain_seq_fast)
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


def _local_move_fast(indptr, indices, weights, vcom, ctot, vaff, vtot, M, R, L, E):
    """The sweep of ``louvain_seq_fast`` when the native kernel is
    unavailable (``local_move_c`` returned None): the slow oracle's
    dict walk (_local_move, above) over Python-list mirrors of the CSR
    arrays — insertion-ordered dict, adjacency-order float adds, the
    same ΔQ expression tree — so it is bit-identical by construction.
    Mutates ``vcom``/``ctot``/``vaff`` in place, like the native sweep.
    Returns (iterations, processed), where ``processed`` counts vertex
    scans actually performed (vaff-marked) — the work metric
    frontier-seeded dynamic marking (louvain.hxx:305-389 DYNAMIC) is
    judged by."""
    n = len(indptr) - 1
    ptr = indptr.tolist()
    idx = indices.tolist()
    wts = weights.tolist()
    vcom_l = vcom.tolist()
    ctot_l = ctot.tolist()
    vaff_l = vaff.tolist()
    vtot_l = vtot.tolist()
    M22 = 2.0 * M * M  # same association as the inline (2.0 * M * M)
    l = 0
    el = 0.0
    processed = 0
    while l < L:
        el = 0.0
        for u in range(n):
            if not vaff_l[u]:
                continue
            processed += 1
            vaff_l[u] = 0
            lo, hi = ptr[u], ptr[u + 1]
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
                ctot_l[d] -= vt
                ctot_l[cmax] += vt
                vcom_l[u] = cmax
                for v in idx[lo:hi]:
                    vaff_l[v] = 1
                vaff_l[u] = 0
        l += 1
        if el <= E:
            break
    vcom[:] = vcom_l
    ctot[:] = ctot_l
    vaff[:] = vaff_l
    return (l if (l > 1 or el != 0.0) else 0), processed


def _contract_fast(indptr, indices, weights, cur, CN, src_idx):
    """Contract the CSR ``(indptr, indices, weights)`` by the dense
    membership ``cur`` (labels in [0, CN)). The fallback when no C
    compiler is available: ``louvain_seq_fast`` uses the native
    ``contract_c`` (oracle/_cmove.py), which returns the same arrays
    bit for bit (pinned by tests/test_cmove.py).

    Coarse rows follow the reference's scan (louvainAggregateEdgesW,
    louvain.hxx:865-912): communities ascending, members ascending,
    each member's adjacency in CSR order; a destination community
    becomes an entry of the row at its first encounter. Within one
    source community that scan is CSR position order, so
    ``np.bincount`` over each edge's entry index, which adds element
    by element, sums every entry left to right in scan order — the
    reference's and the slow oracle's ``acc[dc] += w``.

    ``src_idx`` is the source vertex of each entry of ``indices``
    (the caller carries it across passes: one contraction's g_cu is
    the next one's src_idx). Returns the coarse CSR as arrays
    (new_indptr, g_cv, sums, g_cu), g_cu being each entry's source
    community."""
    import numpy as np

    cu = cur[src_idx]  # community of each edge's source
    cv = cur[indices]
    E = len(cv)
    if E == 0:
        return np.zeros(CN + 1, dtype=np.int64), cv, weights, cu
    # stable radix sort on the packed (cu, cv) key: it groups each
    # entry's edges, so a group's first element is its first
    # encounter. cu, cv < CN, so the key fits int64 for any CN < 3e9.
    key = cu * np.int64(CN) + cv
    order = np.argsort(key, kind="stable")
    grp = np.empty(E, dtype=bool)
    grp[0] = True
    key = key[order]
    np.not_equal(key[1:], key[:-1], out=grp[1:])
    entry = np.empty(E, dtype=np.int64)
    entry[order] = np.cumsum(grp) - 1
    sums = np.bincount(entry, weights=weights)
    first_pos = order[grp]  # each entry's first edge position
    g_cu, g_cv = cu[first_pos], cv[first_pos]
    # first-encounter order within each coarse row: stable radix on the
    # packed (g_cu, first_pos) key; first_pos < E + 1 bounds the minor
    g_order = np.argsort(g_cu * np.int64(E + 1) + first_pos, kind="stable")
    g_cu, g_cv, sums = g_cu[g_order], g_cv[g_order], sums[g_order]
    new_indptr = np.zeros(CN + 1, dtype=np.int64)
    new_indptr[1:] = np.cumsum(np.bincount(g_cu, minlength=CN))
    return new_indptr, g_cv, sums, g_cu


def louvain_seq_fast(
    g,
    resolution: float = 1.0,
    tolerance: float = 1e-2,
    tolerance_drop: float = 10.0,
    max_iterations: int = 20,
    max_passes: int = 10,
    aggregation_tolerance: float = 0.8,
    init_com=None,
    init_aff=None,
) -> LouvainSeqResult:
    """Numpy implementation of louvain_seq with identical semantics:
    membership, passes, iterations and pass log bit-identical on every
    fixture in tests/test_oracle.py, float-weighted ones included.

    Input: ``g``, the ``EdgeCSR`` of the symmetric digraph
    (operators/serial.py: ``edge_csr``, or the resident graph of
    ``serial.local_graph``), whose rows are sorted by (src, dst, w)
    over dense vertex positions 0..n-1 — oracle.graphs.adjacency's row
    order. Rows sharing (src, dst) collapse to the max-w one, the last
    of them in that order, so the result never depends on the order
    the rows were collected in (sources/mtx.py's policy; it coincides
    with the reference's addEdge overwrite on its own equal-weight
    corpus, Graph.hxx LazyBitset). ``g`` is only read.

    Output: ``membership`` (int64) and ``vertex_weight`` (float64) are
    arrays over the positions of ``g``; ``modularity`` is
    ``modularity_arrays`` of the membership over the rows of ``g`` as
    given.

    ``init_com`` (optional, len n, values in [0, n)): warm-start
    membership — the DYNAMIC path's louvainInitializeFromW
    (louvain.hxx:305-318): vcom seeded from the previous run, ctot
    accumulated from it (louvainCommunityWeightsW semantics) instead of
    singleton initialization.

    ``init_aff`` (optional, vertex-position array): frontier-seeded
    DYNAMIC marking — only these vertices start vaff-marked in pass 0
    (the reference's affected-vertex seeding after a batch update,
    louvain.hxx:305-389 + DYNAMIC louvain.hxx:1009: endpoints of
    changed edges; any move still flags all its neighbors, so the
    frontier grows exactly where communities actually shift). Requires
    ``init_com``; coarse passes re-flood like the reference. Each
    pass_log entry carries ``processed`` (vertex scans performed) so
    callers can verify the work saving.
    """
    import numpy as np

    S = len(g.indptr) - 1
    src, indices, weights, indptr = g.src, g.dst, g.w, g.indptr
    # edge_csr orders rows sharing (src, dst) by ascending w: the last
    # row of each run is its max-w duplicate
    dup = (src[1:] == src[:-1]) & (indices[1:] == indices[:-1])
    if dup.any():
        keep = np.r_[~dup, True]
        src, indices, weights = src[keep], indices[keep], weights[keep]
        indptr = np.zeros(S + 1, dtype=np.int64)
        indptr[1:] = np.cumsum(np.bincount(src, minlength=S))
    R = resolution
    utot = np.bincount(src, weights=weights, minlength=S)
    # cumsum adds left to right, as the slow oracle's sum(utot)
    M = float(np.cumsum(utot)[-1]) / 2.0 if S else 0.0
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
    while M > 0 and max_passes > 0:
        # native sweep when available (oracle/_cmove.py: the identical
        # insertion-ordered walk compiled to C, ~10× less per-edge cost)
        moved = local_move_c(
            indptr, indices, weights, cur, ctot, vaff, vtot,
            M, R, max_iterations, E,
        )
        if moved is None:
            moved = _local_move_fast(
                indptr, indices, weights, cur, ctot, vaff, vtot, M, R,
                max_iterations, E,
            )
        m, scanned = moved
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
        ucom = cur_r if p == 1 else cur_r[ucom]
        coarse = contract_c(indptr, indices, weights, cur_r, CN)
        if coarse is None:
            coarse = _contract_fast(indptr, indices, weights, cur_r, CN, src_arr)
        indptr, indices, weights, src_arr = coarse
        # src_arr (g_cu) is sorted by source community, so this adds
        # each coarse row's weights left to right, as the slow oracle
        vtot = np.bincount(src_arr, weights=weights, minlength=CN)
        cur = np.arange(CN, dtype=np.int64)
        ctot = vtot.copy()
        vaff = np.ones(CN, dtype=np.int8)
        E /= tolerance_drop

    if p > 1:  # flatten through the last coarse level
        ucom = cur[ucom]
    q = modularity_arrays(g.src, g.dst, g.w, ucom, R)
    return LouvainSeqResult(ucom, utot, l_total, p, q, pass_log)


def modularity_arrays(src_pos, dst_pos, w, com, resolution: float = 1.0, m: float | None = None) -> float:
    """Q = Σ_c [cin_c/(2M) − R·(ctot_c/(2M))²] of the edge rows
    ``(src_pos, dst_pos, w)`` over vertex positions, ``com[p]`` being
    the community of position p; M is Σw/2 unless ``m`` is given. A
    zero or negative total scores 0. The driver-side twin of
    ``operators.properties.modularity``'s plan (summation-order drift
    ~1e-15)."""
    import numpy as np

    two_m = float(w.sum()) if m is None else 2.0 * m
    if two_m <= 0.0:
        return 0.0
    k = len(com)
    if k and (int(com.min()) < 0 or int(com.max()) >= k):
        com = np.unique(com, return_inverse=True)[1]
    cu = com[src_pos]
    same = cu == com[dst_pos]
    cin = np.bincount(cu[same], weights=w[same], minlength=k)
    ctot = np.bincount(cu, weights=w, minlength=k)
    return float((cin / two_m - resolution * (ctot / two_m) ** 2).sum())


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
