"""Deterministic-Luby MIS: independence, maximality, convergence."""

from louvain_communities_openmp_spark.operators.mis import (
    EXCLUDED,
    IN_SET,
    UNDECIDED,
    mis_rounds,
)
from louvain_communities_openmp_spark.oracle import karate, two_cliques
from louvain_communities_openmp_spark.oracle.graphs import power_law
from louvain_communities_openmp_spark.sources.edges import edges_from_list


def _adj(edge_list):
    a: dict = {}
    for u, v, _ in edge_list:
        a.setdefault(u, set()).add(v)
        a.setdefault(v, set()).add(u)
    return a


def _check_mis(edge_list, status: dict, require_maximal: bool):
    adj = _adj(edge_list)
    in_set = {v for v, s in status.items() if s == IN_SET}
    # independence: no two adjacent members
    for v in in_set:
        assert not (adj[v] & in_set), f"adjacent members at {v}"
    for v, s in status.items():
        if s == EXCLUDED:
            assert adj[v] & in_set, f"{v} excluded with no member neighbor"
    if require_maximal:
        assert UNDECIDED not in status.values()
        # maximal: every non-member has a member neighbor
        for v in set(adj) - in_set:
            assert adj[v] & in_set, f"{v} could still join — not maximal"


def test_mis_converged_karate(spark):
    el = karate()
    st = {
        r["id"]: r["status"]
        for r in mis_rounds(edges_from_list(spark, el), rounds=64).collect()
    }
    _check_mis(el, st, require_maximal=True)


def test_mis_converged_power_law(spark):
    el = power_law(n=300)
    st = {
        r["id"]: r["status"]
        for r in mis_rounds(edges_from_list(spark, el), rounds=64).collect()
    }
    _check_mis(el, st, require_maximal=True)


def test_mis_bounded_rounds_monotone(spark):
    """A 1-round prefix never contradicts the converged run: decided
    statuses are final (the decided set only grows)."""
    el = two_cliques()
    e = edges_from_list(spark, el)
    one = {r["id"]: r["status"] for r in mis_rounds(e, rounds=1).collect()}
    full = {r["id"]: r["status"] for r in mis_rounds(e, rounds=64).collect()}
    _check_mis(el, one, require_maximal=False)
    for v, s in one.items():
        if s != UNDECIDED:
            assert full[v] == s
