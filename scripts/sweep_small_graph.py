#!/usr/bin/env python
"""Measure the auto-mode crossover: a ``serial.SERIAL_EDGES`` sweep at sf0.1.

The serial local-finish tail was the biggest louvain line item in the
round-3 canonical bench (22.6s of 54.7s) while distributed rounds cost
~1-2s/iteration at the same size — this sweep measures total louvain
wall + phase split per threshold, interleaved min-of-k (host noise
protocol), to pick the default by data instead of by guess.

    python scripts/sweep_small_graph.py [k]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from louvain_communities_openmp_spark.operators import serial  # noqa: E402
from louvain_communities_openmp_spark.operators.louvain import (  # noqa: E402
    LouvainOptions,
    louvain,
)
from louvain_communities_openmp_spark.session import get_spark  # noqa: E402
from louvain_communities_openmp_spark.sources.edges import coorder_edges  # noqa: E402

# 4M ≙ all-serial at sf0.1 (2.7M directed edges): the dict-walk oracle
# is ~1µs/edge, so full-serial is a real contender against
# distributed-first-pass + serial tail at this size
THRESHOLDS = [4_000_000, 2_000_000, 1_000_000, 500_000, 200_000]


def main():
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="sweep", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    edges = coorder_edges(spark, sf).persist()
    edges.count()
    # warm-up (JIT, python workers) — discarded
    louvain(edges, LouvainOptions(mode="auto"))
    best: dict = {}
    for rep in range(k):
        for th in THRESHOLDS:
            serial.SERIAL_EDGES = th
            # re-persist so the call times its own edge collect, not the
            # graph the previous call left resident (serial.local_graph)
            edges.unpersist(blocking=True)
            edges.persist().count()
            t0 = time.time()
            res = louvain(edges, LouvainOptions(mode="auto"))
            dt = round(time.time() - t0, 3)
            move = sum(r.get("t_move", 0.0) for r in res.pass_log)
            agg = sum(r.get("t_agg", 0.0) for r in res.pass_log)
            loc = sum(r.get("t_local", 0.0) for r in res.pass_log)
            row = {
                "threshold": th,
                "total_sec": dt,
                "move_sec": round(move, 3),
                "agg_sec": round(agg, 3),
                "local_finish_sec": round(loc, 3),
                "passes": res.passes,
                "modularity": round(res.modularity, 6),
            }
            print(f"rep{rep} {json.dumps(row)}", flush=True)
            if th not in best or dt < best[th]["total_sec"]:
                best[th] = row
    print("BEST " + json.dumps(list(best.values())))
    spark.stop()


if __name__ == "__main__":
    main()
