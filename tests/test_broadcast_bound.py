"""Every operator gated on ``serial.BROADCAST_VERTICES`` gives the same
rows above the bound — vertex state joined by partitioning the edges on
the join key, nothing broadcast — as under it. The bound is read at call
time, so each test patches it to 0 to force that regime on a small
directed graph with a cycle, sinks, a source and a second SCC.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from louvain_communities_openmp_spark.operators import serial
from louvain_communities_openmp_spark.operators.centrality import (
    absorb_fixed,
    eigenvector_fixed,
    katz_fixed,
)
from louvain_communities_openmp_spark.operators.components import connected_components
from louvain_communities_openmp_spark.operators.hits import hits_fixed
from louvain_communities_openmp_spark.operators.mis import mis_rounds
from louvain_communities_openmp_spark.operators.pagerank import (
    pagerank,
    pagerank_dangling_fixed,
    pagerank_fixed,
    personalized_pagerank_fixed,
)
from louvain_communities_openmp_spark.operators.scc import (
    bowtie_classes,
    strongly_connected_components,
)
from louvain_communities_openmp_spark.operators.webstructure import salsa_fixed
from louvain_communities_openmp_spark.sources.edges import edges_from_list

# core cycle 0→1→2→0, OUT chain 2→3→4→7 with sinks 7 and 64, IN chain
# 6→5→0, a second SCC {8, 9}; 0 and 64 are absorb_fixed's targets
_EDGES = [
    (0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (2, 3, 3.0), (3, 4, 1.0),
    (4, 7, 2.0), (3, 64, 1.0), (5, 0, 1.0), (6, 5, 2.0), (8, 9, 1.0),
    (9, 8, 1.0), (4, 1, 1.0),
]


def _warm_components(e):
    """Warm-started components (they skip the serial finish), with the
    iteration count as a column."""
    seed = e.sparkSession.createDataFrame([(1, 0), (2, 0), (9, 8)], "id long, comp long")
    res = connected_components(e, initial_components=seed)
    return res.components.withColumn("iterations", F.lit(res.iterations))


def _scc(e):
    """SCC labels with both round counts as columns."""
    res = strongly_connected_components(e)
    return res.components.select(
        "id",
        "scc",
        F.lit(res.outer_rounds).alias("outer"),
        F.lit(res.closure_rounds).alias("closure"),
    )


OPS = {
    "pagerank": lambda e: pagerank(e, max_iter=2).ranks.select(
        "id", F.round("rank", 12).alias("rank")
    ),
    "pagerank_fixed": pagerank_fixed,
    "personalized_pagerank_fixed": lambda e: personalized_pagerank_fixed(
        e, e.sparkSession.createDataFrame([(0,), (3,)], "id long")
    ),
    "pagerank_dangling_fixed": pagerank_dangling_fixed,
    "hits_fixed": hits_fixed,
    "salsa_fixed": salsa_fixed,
    "katz_fixed": katz_fixed,
    "absorb_fixed": absorb_fixed,
    "eigenvector_fixed": eigenvector_fixed,
    "mis_rounds": mis_rounds,
    "connected_components_warm": _warm_components,
    "strongly_connected_components": _scc,
    # runs strongly_connected_components under the same bound first
    "bowtie_classes": bowtie_classes,
}


@pytest.mark.parametrize("name", list(OPS))
def test_over_broadcast_bound_matches_default(spark, monkeypatch, name):
    e = edges_from_list(spark, _EDGES)
    if name == "pagerank_fixed":
        # its serial finish would otherwise take both runs
        monkeypatch.setattr(serial, "SERIAL_EDGES", 0)
    want = sorted(tuple(r) for r in OPS[name](e).collect())
    monkeypatch.setattr(serial, "BROADCAST_VERTICES", 0)
    got = sorted(tuple(r) for r in OPS[name](e).collect())
    assert len(want) > 0
    assert got == want
