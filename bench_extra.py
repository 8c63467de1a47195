#!/usr/bin/env python
"""r6 isolation benchmarks (guide §1.4): per-query noop-style timing of
the operators the round optimized, with sentinel context, independent
of the frozen canonical bench.py. Cited by OPTIMIZATION_r06.md.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py
Prints one JSON line with per-operator best-of-3 seconds plus the
bracketing sentinels.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


def _sentinel() -> float:
    import numpy as np

    a = np.random.RandomState(1).rand(4_000_000)
    t0 = time.time()
    np.sort(a)
    return round(time.time() - t0, 3)


@contextmanager
def _forced_dist():
    """Run the distributed rounds: serial-finish bound patched to 0."""
    from louvain_communities_openmp_spark.operators import serial

    saved = serial.SERIAL_EDGES
    serial.SERIAL_EDGES = 0
    try:
        yield
    finally:
        serial.SERIAL_EDGES = saved


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from louvain_communities_openmp_spark.operators.components import (
        connected_components,
    )
    from louvain_communities_openmp_spark.operators.labelprop import (
        label_propagation,
    )
    from louvain_communities_openmp_spark.operators.louvain import (
        LouvainOptions,
        louvain,
    )
    from louvain_communities_openmp_spark.operators.properties import modularity
    from louvain_communities_openmp_spark.operators.triangles import (
        triangle_count_total,
    )
    from louvain_communities_openmp_spark.session import get_spark
    from louvain_communities_openmp_spark.sources.edges import (
        coorder_edges,
        edges_from_pages,
    )
    from louvain_communities_openmp_spark.sources.pages import make_pages

    spark = get_spark(
        app_name="bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    edges = coorder_edges(spark, sf).persist()
    edges.count()
    n_pages = (
        edges.agg(F.max(F.greatest("src", "dst")).alias("m")).first()["m"] + 1
    )
    pages = make_pages(spark, edges, n=int(n_pages)).persist()
    pages.count()

    runs = {
        "louvain_auto": lambda: louvain(edges, LouvainOptions(mode="auto")),
        "louvain_dist_pass0": lambda: louvain(
            edges, LouvainOptions(mode="dist", max_passes=1)
        ),
        "components": lambda: connected_components(edges).components.count(),
        "components_forced_dist": _forced_dist()(
            lambda: connected_components(edges).components.count()
        ),
        "labelprop4": lambda: label_propagation(
            edges, max_iter=4
        ).labels.count(),
        "labelprop4_forced_dist": _forced_dist()(
            lambda: label_propagation(edges, max_iter=4).labels.count()
        ),
        "triangles": lambda: triangle_count_total(edges),
        "triangles_forced_dist": _forced_dist()(
            lambda: triangle_count_total(edges)
        ),
        "pages_extract": lambda: edges_from_pages(pages, symmetric=False)[
            0
        ].count(),
    }
    # louvain membership for modularity isolation
    mem = louvain(edges, LouvainOptions(mode="auto")).membership
    runs["modularity_eval"] = lambda: modularity(edges, mem)

    # the serial finishes share one driver-resident graph per persisted
    # frame (operators/serial.py): re-persisting the frame before each
    # of these makes it time its own collect, not a memo hit
    cold = {"louvain_auto", "components", "labelprop4", "triangles"}

    for fn in runs.values():  # warm-up lap (JIT, C-kernel build, cache)
        fn()
    out: dict = {"sf": sf, "sentinels": [_sentinel()]}
    best: dict = {}
    for rep in range(3):
        for name, fn in runs.items():
            if name in cold:
                edges.unpersist(blocking=True)
                edges.persist().count()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            best[name] = min(best.get(name, float("inf")), dt)
        out["sentinels"].append(_sentinel())
    out["queries_min"] = best
    out["host_noise"] = round(
        max(out["sentinels"]) / max(min(out["sentinels"]), 1e-9), 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
