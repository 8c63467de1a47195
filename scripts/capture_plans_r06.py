#!/usr/bin/env python
"""Capture before/after physical plans for the round-6 optimization
evidence (plans/r06/). "Before" plans are reproduced from the same tree
by forcing the pre-r6 path (small_graph_edges=0 / m=... overrides);
queries whose r6 path is driver-side numpy/C get a file that shows the
LIMIT-probe plan plus a description of the driver kernel, since there
is no Spark plan to print for driver-side work.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from louvain_communities_openmp_spark.session import get_spark  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r06")


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write(name: str, text: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, name), "w") as f:
        f.write(text)
    print("wrote", name)


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plans-r06", master="local[8]",
                      shuffle_partitions=8)
    from louvain_communities_openmp_spark.operators.components import (
        connected_components,
    )
    from louvain_communities_openmp_spark.operators.labelprop import (
        label_propagation,
    )
    from louvain_communities_openmp_spark.operators.triangles import (
        _oriented, _triangles,
    )
    from louvain_communities_openmp_spark.sources.edges import (
        coorder_edges, dense_ids,
    )
    from louvain_communities_openmp_spark.sources.pages import make_pages

    edges = coorder_edges(spark, sf).persist()
    edges.count()

    # ---- components: BEFORE = distributed round body; AFTER = probe +
    # driver kernel description
    plans: list = []
    res = connected_components(edges, small_graph_edges=0, max_iter=1)
    # the round body is not directly exposed; capture the components
    # frame of a 1-round run (shows the hash-min join + pointer jump)
    write("components_before.txt",
          "# Distributed rounds (pre-r6 default path), 1 round shown.\n"
          "# Per round: edge⋈frontier hash-min join + vertex-sized\n"
          "# pointer-jump self-join + 2 eager localCheckpoints + count.\n"
          + formatted(res.components))
    probe = edges.select("src", "dst").limit(4_000_001)
    write("components_after.txt",
          "# r6 path at <= 4M directed edges: ONE CollectLimit probe job\n"
          "# (plan below) collects the edge set; the hash-min + pointer-\n"
          "# jump fixpoint runs in numpy on the driver (components.py\n"
          "# _components_local) — identical per-round label states, zero\n"
          "# further Spark jobs. Above the bound the probe short-circuits\n"
          "# and the BEFORE plan runs unchanged (the 100 TB path).\n"
          + formatted(probe))

    # ---- labelprop
    dbg: list = []
    label_propagation(edges, max_iter=1, debug_plans=dbg)
    write("labelprop4_before.txt",
          "# Distributed round body (pre-r6 default path; still the\n"
          "# >4M-edge path), executed plan of one round's `best` frame:\n\n"
          + (dbg[0] if dbg else "(debug plan unavailable)\n"))
    probe = edges.select("src", "dst", "w").limit(4_000_001)
    write("labelprop4_after.txt",
          "# r6 path at <= 4M directed edges: ONE CollectLimit probe job\n"
          "# (plan below); the synchronous rounds run as a native C\n"
          "# stamp-walk over a CSR (oracle/_cmove.py labelprop_rounds,\n"
          "# numpy fallback in labelprop.py _labelprop_local) —\n"
          "# identical per-round labels and iteration counts (pinned by\n"
          "# tests/test_components_fastpath.py). Above the bound the\n"
          "# BEFORE plan runs unchanged.\n"
          + formatted(probe))

    # ---- triangles
    o = _oriented(edges)
    write("triangles_before.txt",
          "# Distributed plan (pre-r6 default; still the >2M-canonical-\n"
          "# pair path): oriented table + adjacency joins +\n"
          "# array_intersect.\n" + formatted(_triangles(o)))
    probe = edges.select("src", "dst").where(F.col("src") < F.col("dst")).limit(2_000_001)
    write("triangles_after.txt",
          "# r6 path at <= 2M canonical pairs: ONE CollectLimit probe job\n"
          "# (plan below); orientation + CSR in numpy, count via the C\n"
          "# sorted-merge kernel (oracle/_cmove.py triangle_count_csr)\n"
          "# — identical total (tests/test_components_fastpath.py).\n"
          "# Above the bound the BEFORE plan runs unchanged.\n"
          + formatted(probe))

    # ---- pages_extract: dense_ids scalable plan (the extraction plan
    # shape is pinned by tests/test_extract_and_edges.py instead)
    n_pages = edges.agg(F.max(F.greatest("src", "dst")).alias("m")).first()["m"] + 1
    pages = make_pages(spark, edges, n=int(n_pages)).persist()
    pages.count()
    ids_before = dense_ids(pages.select("url"), "url", collect_bound=0)
    write("pages_extract_ids_before.txt",
          "# dense_ids scalable plan (pre-r6 default; still the >2M-\n"
          "# distinct path): range partition + per-partition window +\n"
          "# offset join (5 jobs incl. persist/collect).\n"
          + formatted(ids_before))
    pages.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
