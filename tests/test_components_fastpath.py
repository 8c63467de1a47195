"""Serial-finish parity: components, label propagation and triangles.

Under ``serial.SERIAL_EDGES`` directed edges (the bound Louvain auto
also uses) these operators finish on the driver. Each test forces the distributed rounds by patching that
constant and pins that both paths give IDENTICAL result frames and
iteration counts, that the gate falls through to the distributed path
when the bound is exceeded, and that the regime above
``serial.BROADCAST_VERTICES`` (edges partitioned on the join key,
nothing broadcast) gives the same answers too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators.components import (
    connected_components,
)
from louvain_communities_openmp_spark.operators.labelprop import (
    label_propagation,
)
from louvain_communities_openmp_spark.operators.transforms import symmetricize
from louvain_communities_openmp_spark.sources.edges import edges_from_list


def _fixture_edges(spark):
    # two components, a hub, a path (stresses multi-round convergence),
    # plus a self-loop and an isolated-by-self-loop vertex
    ew = [
        (0, 1, 1.0), (1, 2, 2.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0),
        (0, 2, 3.0), (0, 3, 1.0), (0, 4, 1.0),
        (10, 11, 1.0), (11, 12, 1.0), (12, 10, 2.0),
        (7, 7, 5.0),
    ]
    return symmetricize(edges_from_list(spark, ew))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _forced(monkeypatch, run, edges=0, vertices=serial.BROADCAST_VERTICES):
    """``run()`` with the serial bound set to ``edges`` directed edges
    (0 forces the distributed rounds) and the broadcast bound to
    ``vertices``."""
    with monkeypatch.context() as mp:
        mp.setattr(serial, "SERIAL_EDGES", edges)
        mp.setattr(serial, "BROADCAST_VERTICES", vertices)
        return run()


def test_components_fastpath_matches_distributed(spark, monkeypatch):
    e = _fixture_edges(spark).persist()
    fast = connected_components(e)  # bound >> fixture → numpy path
    dist = _forced(monkeypatch, lambda: connected_components(e))
    assert _rows(fast.components, ["id", "comp"]) == _rows(
        dist.components, ["id", "comp"]
    )
    assert fast.iterations == dist.iterations
    e.unpersist()


def test_labelprop_fastpath_matches_distributed(spark, monkeypatch):
    e = _fixture_edges(spark).persist()
    for iters in (1, 2, 4, 10):
        fast = label_propagation(e, max_iter=iters)
        dist = _forced(monkeypatch, lambda: label_propagation(e, max_iter=iters))
        assert _rows(fast.labels, ["id", "label"]) == _rows(
            dist.labels, ["id", "label"]
        ), f"max_iter={iters}"
        assert fast.iterations == dist.iterations, f"max_iter={iters}"
    e.unpersist()


def test_fastpath_gate_falls_through(spark, monkeypatch):
    e = _fixture_edges(spark)
    n = e.count()
    # bound below the edge count → must take the distributed path and
    # still produce the same answers
    fast = connected_components(e)
    gated = _forced(monkeypatch, lambda: connected_components(e), max(1, n - 1))
    assert _rows(fast.components, ["id", "comp"]) == _rows(
        gated.components, ["id", "comp"]
    )


def test_triangles_fastpath_matches_distributed(spark, monkeypatch):
    from louvain_communities_openmp_spark.operators.triangles import (
        triangle_count_total,
    )
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    e = _fixture_edges(spark).persist()
    assert triangle_count_total(e) == _forced(
        monkeypatch, lambda: triangle_count_total(e)
    )
    e.unpersist()
    p = synthetic_powerlaw_edges(spark, 400, 3000).persist()
    assert triangle_count_total(p) == _forced(
        monkeypatch, lambda: triangle_count_total(p)
    )
    p.unpersist()


def test_components_fastpath_powerlaw_parity(spark, monkeypatch):
    # a denser deterministic fixture: hash-generated power-law graph
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    e = synthetic_powerlaw_edges(spark, 500, 4000).persist()
    fast = connected_components(e)
    dist = _forced(monkeypatch, lambda: connected_components(e))
    assert _rows(fast.components, ["id", "comp"]) == _rows(
        dist.components, ["id", "comp"]
    )
    assert fast.iterations == dist.iterations
    lp_f = label_propagation(e, max_iter=4)
    lp_d = _forced(monkeypatch, lambda: label_propagation(e, max_iter=4))
    assert _rows(lp_f.labels, ["id", "label"]) == _rows(
        lp_d.labels, ["id", "label"]
    )
    assert lp_f.iterations == lp_d.iterations
    e.unpersist()


def test_over_vertex_bound_regime_matches_serial(spark, monkeypatch):
    # above the broadcast bound the rounds partition the edges on the
    # join key and broadcast nothing; the answers must not change
    e = _fixture_edges(spark).persist()
    fast_cc = connected_components(e)
    fast_lp = label_propagation(e, max_iter=4)
    cc = _forced(monkeypatch, lambda: connected_components(e), vertices=0)
    lp = _forced(monkeypatch, lambda: label_propagation(e, max_iter=4), vertices=0)
    assert _rows(cc.components, ["id", "comp"]) == _rows(
        fast_cc.components, ["id", "comp"]
    )
    assert cc.iterations == fast_cc.iterations
    assert _rows(lp.labels, ["id", "label"]) == _rows(
        fast_lp.labels, ["id", "label"]
    )
    assert lp.iterations == fast_lp.iterations
    e.unpersist()
