#!/usr/bin/env python
"""Benchmark driver.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus throughput extras}.

--scaling: additionally runs an identical fixed-work Louvain pass-0
job at local[N] and local[4N] (default N=2) on the same
deterministically generated input, each level in a FRESH subprocess
(a reused JVM gateway contaminates the second measurement), and
reports throughput at both plus efficiency = (T_N / T_4N) / 4 — the
sandbox substitute for the north rule's N vs 4N executor-cluster
criterion (BASELINE.md). A memory-bandwidth microbenchmark
(parallel numpy sorts) is reported alongside: this single-VM host
saturates its memory bus near 8 concurrent workers, which bounds any
local-mode efficiency measurement above that point — real N vs 4N
executor CLUSTERS scale their memory buses with the executors.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _sf_tag(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(spark, sf_dir: str) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from louvain_communities_openmp_spark.operators.components import (
        connected_components,
    )
    from louvain_communities_openmp_spark.operators.dedup import (
        dedup_exact,
        minhash_signatures,
    )
    from louvain_communities_openmp_spark.operators.labelprop import label_propagation
    from louvain_communities_openmp_spark.operators.louvain import (
        LouvainOptions,
        louvain,
    )
    from louvain_communities_openmp_spark.operators.pagerank import pagerank_fixed
    from louvain_communities_openmp_spark.operators.properties import modularity
    from louvain_communities_openmp_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from louvain_communities_openmp_spark.operators.triangles import (
        triangle_count_total,
    )
    from louvain_communities_openmp_spark.sources.edges import coorder_edges

    times: dict = {}
    extras: dict = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 3)
        return out

    edges = timed(
        "edge_build",
        lambda: coorder_edges(spark, sf_dir).persist(),
    )
    n_edges = edges.count()
    extras["n_edges_directed"] = n_edges

    # the mandated front door (north rule: hyperlinks extracted from
    # html via vectorized Arrow UDFs): synthesize the pages table whose
    # anchors encode this graph (untimed — generation isn't the
    # operator), then time html → links → dense ids → edge aggregation
    from louvain_communities_openmp_spark.sources.edges import edges_from_pages
    from louvain_communities_openmp_spark.sources.pages import make_pages

    import pyspark.sql.functions as F

    n_pages = (
        edges.agg(F.max(F.greatest("src", "dst")).alias("m")).first()["m"] + 1
    )
    pages = make_pages(spark, edges, n=int(n_pages)).persist()
    extras["n_pages"] = pages.count()
    extras["n_links_extracted"] = timed(
        "pages_extract",
        lambda: edges_from_pages(pages, symmetric=False)[0].count(),
    )
    pages.unpersist()

    res = timed(
        "louvain",
        lambda: louvain(edges, LouvainOptions(mode="auto")),
    )
    extras["louvain_modularity"] = round(res.modularity, 6)
    extras["louvain_passes"] = res.passes
    extras["louvain_edges_per_sec"] = round(n_edges / times["louvain"], 1)
    # per-phase split, the analog of the reference's per-run
    # marking/init/firstPass/localMove/aggregation report
    # (main.cxx:70-76, process.js:8) from the collected pass_log
    move = [r.get("t_move", 0.0) for r in res.pass_log]
    aggs = [r.get("t_agg", 0.0) for r in res.pass_log]
    local = [r.get("t_local", 0.0) for r in res.pass_log]
    extras["louvain_phase_split"] = {
        "first_pass_sec": round(move[0] if move else 0.0, 3),
        "local_move_sec": round(sum(move), 3),
        "aggregation_sec": round(sum(aggs), 3),
        "local_finish_sec": round(sum(local), 3),
        "pass_log": res.pass_log,
    }

    # forced-distributed kernel datapoint (r4 verdict #2): at sf0.1 the
    # auto headline resolves via the serial local-finish (the
    # measured-optimal plan at this size), which would leave
    # _driver_rounds/_local_move_round with no round-over-round
    # regression signal in the canonical suite. mode="dist" with
    # max_passes=1 runs pass-0 local-move to tolerance through the
    # distributed kernel (broadcast path at this vertex count — the
    # same plan a 100×-scale pass 0 uses under the gate); membership
    # parity dist-vs-fallback is pytest-pinned
    # (test_louvain_spark.py::test_broadcast_gate_parity).
    res_d = timed(
        "louvain_dist_pass0",
        lambda: louvain(edges, LouvainOptions(mode="dist", max_passes=1)),
    )
    dr = res_d.pass_log[0].get("t_rounds", []) if res_d.pass_log else []
    extras["louvain_dist_pass0"] = {
        "iterations": res_d.iterations,
        "sec_per_round": dr,
        "modularity_p0": round(res_d.modularity, 6),
    }

    mem = res.membership
    timed("modularity_eval", lambda: modularity(edges, mem))
    timed("pagerank5", lambda: pagerank_fixed(edges, iters=5).count())
    timed("components", lambda: connected_components(edges).components.count())
    timed("labelprop4", lambda: label_propagation(edges, max_iter=4).labels.count())
    extras["n_triangles"] = timed("triangles", lambda: triangle_count_total(edges))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    extras["n_docs"] = docs.count()
    timed("dedup_exact", lambda: dedup_exact(docs).count())
    timed("minhash_sig8", lambda: minhash_signatures(docs, k=5, num_hashes=8).count())

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    queries = emb.orderBy("vec_id").limit(10)
    timed("cosine_topk", lambda: cosine_topk_bruteforce(emb, queries, k=10).count())

    edges.unpersist()
    docs.unpersist()
    emb.unpersist()
    return times, extras


def _louvain_pass0_throughput(cpus: int, sf_dir: str) -> dict:  # noqa: ARG001
    """One dist-mode Louvain pass-0 on local[cpus] → edges/sec.

    Fresh SparkSession per parallelism level; same input, same plan.
    The input is a deterministic hash-generated power-law graph, sized
    so the run is compute-bound rather than overhead-bound — the
    sandbox stand-in for the north rule's N vs 4N executor criterion
    (generation is excluded from the timed window).
    """
    from louvain_communities_openmp_spark.operators.louvain import (
        LouvainOptions,
        louvain,
    )
    from louvain_communities_openmp_spark.session import get_spark
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    # sized so per-iteration compute dominates fixed per-job latency:
    # flat wall time across core counts would otherwise mask scaling
    n_vertices = int(os.environ.get("SPARK_GRAFT_SCALE_VERTICES", "400000"))
    n_gen = int(os.environ.get("SPARK_GRAFT_SCALE_EDGES", "6000000"))
    # finer blocks pack the wave schedule better on a noisy host (a
    # straggler task wastes (cores-1)·overrun at the stage barrier);
    # identical at every level so the logical work stays comparable
    n_blocks = int(os.environ.get("SPARK_GRAFT_SCALE_BLOCKS", "32"))
    spark = get_spark(
        app_name=f"scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    try:
        edges = synthetic_powerlaw_edges(spark, n_vertices, n_gen).persist()
        n = edges.count()
        # discarded warm-up round: spins up the Python workers and
        # touches every cached partition once, so the measured window
        # compares steady-state compute at both levels (the analog of
        # the reference's REPEAT_METHOD=5 in-process repeats, which
        # likewise measure warm caches — main.cxx:27-29)
        louvain(
            edges,
            LouvainOptions(
                mode="dist", num_blocks=n_blocks,
                max_iterations=1, max_passes=1, tolerance=0.0,
            ),
        )
        t0 = time.time()
        res = louvain(
            edges,
            # IDENTICAL logical work at every parallelism level: same
            # kernel blocks, same FIXED iteration count (tolerance 0
            # disables early convergence — without it the 4x-data weak
            # run can converge in fewer iterations and the throughput
            # ratio compares unlike work) — only the core count varies,
            # so the wall-time ratio isolates scaling
            LouvainOptions(
                mode="dist",
                num_blocks=n_blocks,
                max_iterations=3,
                max_passes=1,
                tolerance=0.0,
            ),
        )
        res.membership.count()
        dt = time.time() - t0
        # the north-rule metric is wall-time per Louvain PASS /
        # local-move throughput (BASELINE.json "wall-time per Louvain
        # pass"); t_rounds is the localMove phase split the reference
        # itself reports per run (main.cxx:70-76) — total wall
        # additionally carries one-time setup (graph gen excluded,
        # bucketing ≙ the reference's untimed CSR build, JVM/session)
        t_rounds = res.pass_log[0].get("t_rounds", []) if res.pass_log else []
        t_move = sum(t_rounds) or dt
        return {
            "cpus": cpus,
            "edges": n,
            "seconds": round(dt, 2),
            "move_seconds": round(t_move, 2),
            "sec_per_iteration": [round(t, 2) for t in t_rounds],
            "edges_per_sec": round(n * res.iterations / t_move, 1),
            "edges_per_sec_incl_setup": round(n * res.iterations / dt, 1),
            "iterations": res.iterations,
            "modularity": round(res.modularity, 6),
        }
    finally:
        spark.stop()


def _bigdist_run(
    broadcast_vertices: int,
    n_vertices: int | None = None,
    n_gen: int | None = None,
) -> dict:
    """One dist-mode Louvain pass-0 on a ≥20M-directed-edge synthetic
    power-law graph, with ``serial.BROADCAST_VERTICES`` set to
    ``broadcast_vertices`` for the run.

    broadcast_vertices=0 forces the non-broadcast scale path (per-pass
    edge bucketing + per-iteration vertex-state routing via cogroup) —
    the plan that runs at 100×-scale vertex counts. Compared against
    the broadcast path on the identical input to show the fallback is
    vertex-bound, not edge-bound. The parent runs a small DISCARDED
    warm-up first: the first Louvain in a fresh JVM pays JIT +
    page-cache costs (~1.6× per-iteration, measured) that would
    otherwise be misattributed to whichever variant runs first.
    """
    from louvain_communities_openmp_spark.operators import serial
    from louvain_communities_openmp_spark.operators.louvain import (
        LouvainOptions,
        louvain,
    )
    from louvain_communities_openmp_spark.session import get_spark
    from louvain_communities_openmp_spark.sources.edges import (
        synthetic_powerlaw_edges,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if n_vertices is None:
        n_vertices = int(os.environ.get("SPARK_GRAFT_BIGDIST_VERTICES", "3000000"))
    if n_gen is None:
        n_gen = int(os.environ.get("SPARK_GRAFT_BIGDIST_EDGES", "14000000"))
    spark = get_spark(
        app_name=f"bigdist-{broadcast_vertices}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        # UI on for this session only: the shuffle probe reads
        # per-stage shuffle bytes from the UI REST API
        extra_conf={"spark.ui.enabled": "true"},
    )
    os.environ["LOUVAIN_SHUFFLE_PROBE"] = "1"
    bound = serial.BROADCAST_VERTICES
    serial.BROADCAST_VERTICES = broadcast_vertices
    try:
        edges = synthetic_powerlaw_edges(spark, n_vertices, n_gen).persist()
        n = edges.count()
        t0 = time.time()
        res = louvain(
            edges,
            LouvainOptions(
                mode="dist",
                num_blocks=cpus,
                max_iterations=3,
                max_passes=1,
            ),
        )
        res.membership.count()
        dt = time.time() - t0
        out = {
            "path": "fallback" if broadcast_vertices == 0 else "broadcast",
            "edges_directed": n,
            "vertices": n_vertices,
            "seconds": round(dt, 2),
            "sec_per_iteration": round(dt / max(res.iterations, 1), 2),
            "edges_per_sec": round(n * res.iterations / dt, 1),
            "iterations": res.iterations,
            "modularity": round(res.modularity, 6),
        }
        # per-iteration shuffle volume vs one-time pass setup: the
        # design claim is per-iteration exchange = routed vertex state
        # O(V·r), while setup (edge bucketing) is O(E) — at 100× scale
        # the iteration loop must NOT be edge-bound (louvain.py
        # _local_move_round docstring)
        probe = next(
            (r.get("shuffle_probe") for r in res.pass_log
             if r.get("shuffle_probe")), None,
        )
        if probe:
            rb = probe.get("round_bytes") or []
            n_it = sum(r.get("iters", 1) for r in rb) or 1
            mb = lambda x: round(x / 1e6, 1)  # noqa: E731
            su = probe.get("setup_bytes") or (0, 0)
            out["shuffle_setup_mb"] = {"read": mb(su[0]), "write": mb(su[1])}
            out["shuffle_per_iteration_mb"] = {
                "read": mb(sum(r["read"] for r in rb) / n_it),
                "write": mb(sum(r["write"] for r in rb) / n_it),
            }
            if probe.get("routing_rows"):
                # routed-state volume (V·r rows) — what the iteration
                # exchange is proportional to. bytes_per_routed_row
                # should be ~constant across fixtures of different
                # density if (and only if) iterations are vertex-state
                # bound rather than edge bound.
                rr = probe["routing_rows"]
                out["routing_rows"] = rr
                out["blocks"] = probe.get("blocks")
                out["shuffle_bytes_per_routed_row"] = round(
                    sum(r["read"] for r in rb) / n_it / rr, 1
                )
                out["shuffle_bytes_per_edge"] = round(
                    sum(r["read"] for r in rb) / n_it / n, 1
                )
        return out
    finally:
        serial.BROADCAST_VERTICES = bound
        os.environ.pop("LOUVAIN_SHUFFLE_PROBE", None)
        spark.stop()


def _membw_probe(workers: int = 8, n: int = 8_000_000) -> dict:
    """Parallel numpy-sort microbenchmark: per-task slowdown vs solo
    quantifies the host's memory-bandwidth ceiling (context for the
    local-mode scaling numbers). Solo = min of 3 warm runs in a
    subprocess (same code path as the parallel tasks — a cold in-process
    first run would overstate solo time and can even report parallel <
    solo on a noisy host)."""
    from concurrent.futures import ProcessPoolExecutor

    # interleaved min-of-3 per level (same protocol as the scaling
    # measurements): a single probe pass can sample different noise
    # regimes per level and report inverted slowdowns on this host
    solo = float("inf")
    best: dict = {}
    for _ in range(3):
        with ProcessPoolExecutor(1) as ex:
            solo = min(solo, min(ex.map(_membw_task, [n] * 2)))
        for w in (4, workers):
            with ProcessPoolExecutor(w) as ex:
                ts = list(ex.map(_membw_task, [n] * w))
            best[w] = min(best.get(w, float("inf")), max(ts))
    out = {"solo_sort_sec": round(solo, 2)}
    for w in (4, workers):
        out[f"per_task_at_{w}_workers_sec"] = round(best[w], 2)
        out[f"slowdown_at_{w}"] = round(best[w] / solo, 2)
    return out


def _wait_quiet_window() -> list[float]:
    """Opportunistically delay the suite until the host looks quiet.

    The sentinel sort has an ABSOLUTE reference on this VM: ~0.2-0.5s
    single-core when the host is unthrottled, ≥2s in bad hypervisor
    windows (up to 20x observed). A uniformly-throttled window reads
    host_noise≈1 yet runs the whole suite 2-5x slow, so the ratio
    alone cannot flag it — sample the sentinel every ~20s and start
    once it drops under SPARK_GRAFT_QUIET_SENTINEL_SEC (default 1.0),
    or after SPARK_GRAFT_QUIET_WAIT_SEC (default 240; 0 disables).
    All samples are recorded so the reader sees what was skipped.
    """
    target = float(os.environ.get("SPARK_GRAFT_QUIET_SENTINEL_SEC", "1.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "240"))
    t0 = time.time()
    samples: list[float] = []
    while True:
        s = _membw_task(4_000_000)
        samples.append(round(s, 3))
        if s <= target or time.time() - t0 >= max_wait:
            return samples
        time.sleep(20)


def _membw_task(n: int) -> float:
    import numpy as np

    a = np.random.RandomState(1).rand(n)
    t0 = time.time()
    np.sort(a)
    return time.time() - t0


def main():
    # must be set before the gateway JVM starts: local mode puts all
    # executor work in the driver JVM, and the scaling graph persists
    # a few GB of edge blocks
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scaling = "--scaling" in sys.argv

    if "--bigdist" in sys.argv:
        # standalone: prove the >broadcast_vertices fallback at >=20M
        # directed edges, vs the broadcast path on the identical input
        _bigdist_run(0, n_vertices=200_000, n_gen=1_000_000)  # JIT warm-up
        # INTERLEAVED min-of-k per variant (same protocol as --scaling):
        # this host's throughput swings up to 5x minute-to-minute, and
        # the shuffle-heavy fallback is the more exposed of the two, so
        # adjacent sampling + min is the only honest comparator
        k = max(1, int(os.environ.get("SPARK_GRAFT_BIGDIST_REPEATS", "2")))
        best: dict = {}
        sentinels = [round(_membw_task(20_000_000), 3)]
        for _ in range(k):
            for name, bv in (("fallback", 0), ("broadcast", 1 << 40)):
                d = _bigdist_run(bv)
                # same host-noise sentinel as the headline suite: a
                # fixed-work single-core sort after every variant run,
                # so bigdist WALL-time ratios carry their own noise
                # context (the shuffle-byte metrics don't need it)
                sentinels.append(round(_membw_task(20_000_000), 3))
                if (
                    name not in best
                    or d["sec_per_iteration"] < best[name]["sec_per_iteration"]
                ):
                    best[name] = d
        # density discriminator for the shuffle-byte evidence: same
        # directed-edge count, 30x fewer vertices (avg degree ~280 vs
        # ~9). Routed rows V·r collapse toward V·blocks ≪ E here, so
        # if per-iteration shuffle follows routed rows (vertex-state
        # bound) it drops several-fold vs the sparse fixture; if it
        # were edge-bound it would stay put. Shuffle BYTES are
        # deterministic (unlike wall time on this noisy host), so a
        # single shot is sufficient evidence.
        dense = _bigdist_run(0, n_vertices=100_000)
        dense["path"] = "fallback_dense"
        sentinels.append(round(_membw_task(20_000_000), 3))
        block = {
            **best,
            "fallback_dense": dense,
            "repeats_interleaved_min": k,
            "host_sentinel_sec": sentinels,
            "host_noise": round(max(sentinels) / min(sentinels), 2),
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        bpath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BIGDIST.json")
        with open(bpath, "w") as f:
            json.dump(block, f, indent=1)
        print(json.dumps(block))
        return

    if "--sparsecc" in sys.argv:
        # road-network datapoint (r4 verdict #8): the O(log d)
        # pointer-jump claim for connected components, pinned at 1M
        # vertices on a grid+path fixture with diameter ~12k — the
        # asia_osm-like shape where plain hash-min would need ~12,000
        # rounds. Committed as SPARSECC.json.
        from louvain_communities_openmp_spark.operators.components import (
            connected_components,
        )
        from louvain_communities_openmp_spark.session import get_spark
        from louvain_communities_openmp_spark.sources.edges import (
            synthetic_grid_edges,
        )

        rows, cols, tail = 1000, 1000, 10_000
        diameter = (rows - 1) + (cols - 1) + tail
        spark = get_spark(
            app_name="sparsecc", master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        try:
            e = synthetic_grid_edges(spark, rows, cols, path_tail=tail).persist()
            n_edges = e.count()
            s0 = round(_membw_task(20_000_000), 3)
            t0 = time.time()
            res = connected_components(e)
            n_comp = res.components.select("comp").distinct().count()
            dt = time.time() - t0
            s1 = round(_membw_task(20_000_000), 3)
            import math as _math

            bound = int(_math.ceil(_math.log2(diameter))) + 4
            block = {
                "fixture": "grid1000x1000+path10k",
                "vertices": rows * cols + tail,
                "edges_directed": n_edges,
                "diameter": diameter,
                "components": n_comp,
                "rounds": res.iterations,
                "log2_diameter": round(_math.log2(diameter), 2),
                "round_bound": bound,
                "within_bound": res.iterations <= bound,
                "seconds": round(dt, 2),
                "host_sentinel_sec": [s0, s1],
                "measured_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
        finally:
            spark.stop()
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "SPARSECC.json"), "w",
        ) as f:
            json.dump(block, f, indent=1)
        print(json.dumps(block))
        return

    level = os.environ.get("SPARK_GRAFT_SCALING_LEVEL")
    if level:
        # child mode: one parallelism level, fresh JVM, one JSON line
        print("SCALING_RESULT " + json.dumps(_louvain_pass0_throughput(int(level), sf_dir)))
        return


    from louvain_communities_openmp_spark.session import get_spark

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # min-of-k per query: this host's throughput swings up to 5x
    # minute-to-minute (round-2 made two unchanged queries look ~2x
    # slower on a single shot), so each query reports its best of k
    # full-suite repeats. Each repeat is BRACKETED by a fixed-work
    # sentinel (the membw numpy sort, _membw_task): the sentinel's
    # max/min ratio across the run is the host-noise context that
    # round 3 lacked — without it a 2x suite swing between the
    # committed and canonical artifacts was unadjudicable
    # (host noise vs real regression).
    k = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    quiet_wait = _wait_quiet_window()
    # one UNTIMED warm-up lap before repeat 1 (r4 verdict #5): the
    # first suite pass in a fresh JVM pays JIT + Python-worker spin-up
    # + page-cache warm-up (~6s extra on edge_build alone), which
    # repeat-1 previously absorbed — inflating host_noise to ~10 even
    # in a quiet window. With the warm-up discarded, the bracketing
    # sentinels measure the HOST, and min-of-k compares steady-state
    # repeats only.
    run_suite(spark, sf_dir)
    # fresh bracket AFTER the warm-up so sentinel[0] is adjacent to
    # repeat 1 (the quiet-wait samples are reported separately)
    sentinels = [round(_membw_task(4_000_000), 3)]
    repeat_times: list[dict] = []
    times, extras = run_suite(spark, sf_dir)
    repeat_times.append(dict(times))
    sentinels.append(round(_membw_task(4_000_000), 3))
    for _ in range(k - 1):
        t2, x2 = run_suite(spark, sf_dir)
        repeat_times.append(dict(t2))
        sentinels.append(round(_membw_task(4_000_000), 3))
        # extras (phase split, throughput) must describe the SAME
        # repeat the reported louvain minimum comes from — repeat 0 is
        # the cold-JIT run and its serial-kernel split reads ~3x the
        # warm value, which round 4 initially misreported
        if t2["louvain"] < times["louvain"]:
            extras = x2
        for q, v in t2.items():
            times[q] = min(times[q], v)
    extras["louvain_edges_per_sec"] = round(
        extras["n_edges_directed"] / times["louvain"], 1
    )
    spark.stop()
    host_noise = round(max(sentinels) / max(min(sentinels), 1e-9), 2)

    out = {
        "metric": "headline suite wall time (louvain+companions+pipeline) on co-order graph & documents",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "bench_repeats": k,
        # per-repeat sentinel wall times (fixed single-core numpy sort,
        # run before repeat 1 / between repeats / after the last):
        # host_noise = max/min. ~1.0-1.3 ⇒ quiet window, numbers are
        # comparable; >2 ⇒ the suite minima span noise regimes and any
        # cross-run delta under that factor is unadjudicable.
        "host_sentinel_sec": sentinels,
        "host_noise": host_noise,
        # absolute regime context: quiet host ≈ 0.2-0.5s for this
        # fixed sort; ≥2s = throttled hypervisor window (suite runs
        # 2-5x slow even when host_noise≈1). quiet_wait_sentinel_sec
        # lists the pre-suite samples taken while waiting for a quiet
        # window (bounded; see _wait_quiet_window).
        "quiet_wait_sentinel_sec": quiet_wait,
        "sf": _sf_tag(sf_dir),
        **extras,
    }
    # raw per-repeat query times: lets a later reader re-adjudicate a
    # regression (e.g. was the min drawn from a quiet or noisy repeat)
    out["suite_repeats"] = repeat_times
    if scaling:
        import subprocess

        # N=1 vs 4N=4: the largest N where this single-VM sandbox can
        # still hand each worker full memory bandwidth (the probe shows
        # ~2.4x per-task slowdown at 8 parallel numpy workers — the
        # box, not the engine, caps deeper levels; real N vs 4N
        # executor clusters scale their buses with N)
        n_low = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
        base_edges = int(os.environ.get("SPARK_GRAFT_SCALE_EDGES", "6000000"))
        repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))

        def one_run(c: int, gen_edges: int) -> dict | None:
            env = dict(
                os.environ,
                SPARK_GRAFT_SCALING_LEVEL=str(c),
                SPARK_GRAFT_SCALE_EDGES=str(gen_edges),
            )
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                capture_output=True, text=True, env=env,
            )
            for ln in r.stdout.splitlines():
                if ln.startswith("SCALING_RESULT "):
                    return json.loads(ln[len("SCALING_RESULT "):])
            return None

        # INTERLEAVED repeats, min per level: this host's throughput
        # swings up to 5x on a scale of minutes (shared VM), so the two
        # levels must be sampled adjacently — sequential blocks of
        # repeats would compare different noise regimes and can report
        # arbitrary efficiencies in either direction
        configs = {
            "lo": (n_low, base_edges),           # strong-scaling base
            "hi": (4 * n_low, base_edges),       # 4N cores, same data
            "hi_w": (4 * n_low, 4 * base_edges), # 4N cores, 4x data
        }
        best: dict = {}
        # per-run sentinel bracketing (same protocol as the headline
        # suite): each level run is followed by a fixed-work membw
        # sort, and each best[] entry records the sentinels adjacent
        # to it — so an under-bar efficiency number is adjudicable
        # (host noise vs real scaling loss) from the artifact alone
        sentinels = [round(_membw_task(20_000_000), 3)]
        # noise-gated min (r4 verdict #4): a run is "clean" when both
        # bracketing sentinels are under QUIET_S — prefer the min over
        # clean runs; only if a level never saw a clean window does the
        # global min stand (and the artifact says so via run_clean).
        # Rationale: one hypervisor-throttled iteration inside the
        # otherwise-best run silently set weak_throughput_efficiency
        # to 0.781 in r4; gating by the measured host state makes the
        # committed number reflect the engine, not the neighbor VM.
        QUIET_S = float(os.environ.get("SPARK_GRAFT_QUIET_SENTINEL", "0.8"))
        for _ in range(repeats):
            for name, (c, g) in configs.items():
                d = one_run(c, g)
                s = round(_membw_task(20_000_000), 3)
                if d:
                    d["sentinels_sec"] = [sentinels[-1], s]
                    d["run_clean"] = max(sentinels[-1], s) < QUIET_S
                sentinels.append(s)
                if not d:
                    continue
                cur = best.get(name)
                better = cur is None or (
                    (d["run_clean"], -d["move_seconds"])
                    > (cur["run_clean"], -cur["move_seconds"])
                )
                if better:
                    best[name] = d
        lo, hi, hi_w = best["lo"], best["hi"], best["hi_w"]
        tp = lambda d: d["edges"] * d["iterations"] / d["move_seconds"]  # noqa: E731
        block = {
            f"local{n_low}": lo,
            f"local{4 * n_low}": hi,
            f"local{4 * n_low}_4x_data": hi_w,
            # per the north-rule metric (wall-time per Louvain pass):
            # ratios of the localMove phase, the part that scales with
            # the cluster; one-time setup is reported alongside in
            # seconds vs move_seconds
            "strong_efficiency": round(
                lo["move_seconds"] / hi["move_seconds"] / 4.0, 3
            ),
            "weak_throughput_efficiency": round(tp(hi_w) / (4.0 * tp(lo)), 3),
            "strong_efficiency_incl_setup": round(
                lo["seconds"] / hi["seconds"] / 4.0, 3
            ),
            "host_sentinel_sec": sentinels,
            "host_noise": round(max(sentinels) / min(sentinels), 2),
            "host_membw_probe": _membw_probe(),
            "note": "single-VM memory bus is shared across all local "
            "cores (see host_membw_probe); N vs 4N executor clusters "
            "scale memory bandwidth with executor count",
            "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        out["scaling"] = block
        # persist so non---scaling bench runs (the per-round driver run)
        # carry the latest committed scaling evidence in BENCH_r{N}.json
        spath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "SCALING.json")
        with open(spath, "w") as f:
            json.dump(block, f, indent=1)
    else:
        spath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "SCALING.json")
        if os.path.exists(spath):
            with open(spath) as f:
                out["scaling"] = json.load(f)
    bpath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BIGDIST.json")
    if os.path.exists(bpath) and "bigdist" not in out:
        with open(bpath) as f:
            out["bigdist"] = json.load(f)

    # Full detail (pass_log, per-level scaling runs, bigdist proof) goes
    # to BENCH_DETAIL.json; the PRINTED line must stay under the
    # driver's 2000-char stdout tail, so it carries compact summaries
    # only (round 2's inlined detail overflowed the tail -> parsed:null).
    dpath = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json")
    with open(dpath, "w") as f:
        json.dump(out, f, indent=1)

    line = {k: v for k, v in out.items()
            if k not in ("louvain_phase_split", "scaling", "bigdist",
                         "suite_repeats")}
    ps = out.get("louvain_phase_split", {})
    line["phase_split"] = {k: ps[k] for k in
                           ("first_pass_sec", "local_move_sec",
                            "aggregation_sec", "local_finish_sec")
                           if k in ps}
    sc = out.get("scaling")
    if sc:
        lvls = sorted(
            (k for k in sc if k.startswith("local") and "_" not in k[5:]),
            key=lambda k: int(k[5:]),
        )
        line["scaling"] = {
            "levels": {
                k: {"cpus": sc[k]["cpus"],
                    "edges_per_sec": sc[k]["edges_per_sec"],
                    "move_seconds": sc[k]["move_seconds"]}
                for k in lvls
            },
            "strong_efficiency": sc.get("strong_efficiency"),
            "weak_throughput_efficiency": sc.get("weak_throughput_efficiency"),
            "detail": "SCALING.json",
        }
    bd = out.get("bigdist")
    if bd and "fallback" in bd and "broadcast" in bd:
        line["bigdist"] = {
            p: {
                "sec_per_iteration": bd[p]["sec_per_iteration"],
                "edges_per_sec": bd[p]["edges_per_sec"],
            }
            for p in ("fallback", "broadcast")
        }
        line["bigdist"]["edges_directed"] = bd["fallback"]["edges_directed"]
        line["bigdist"]["fallback_vs_broadcast"] = round(
            bd["fallback"]["sec_per_iteration"]
            / max(bd["broadcast"]["sec_per_iteration"], 1e-9),
            2,
        )
        if "fallback_dense" in bd:
            # web-typical-density ratio (the representative case: V·r
            # ≪ E); the sparse fixture above is the adversarial one
            line["bigdist"]["fallback_dense_vs_broadcast"] = round(
                bd["fallback_dense"]["sec_per_iteration"]
                / max(bd["broadcast"]["sec_per_iteration"], 1e-9),
                2,
            )
        if "shuffle_per_iteration_mb" in bd["fallback"]:
            line["bigdist"]["fallback_shuffle_mb_per_iter"] = bd[
                "fallback"]["shuffle_per_iteration_mb"]["read"]
        if "host_noise" in bd:
            line["bigdist"]["host_noise"] = bd["host_noise"]
        line["bigdist"]["detail"] = "BIGDIST.json"
    line["detail"] = "BENCH_DETAIL.json"
    s = json.dumps(line)
    # hard guard: never overflow the driver's tail again
    for drop in ("bigdist", "phase_split", "scaling"):
        if len(s) <= 1800:
            break
        line.pop(drop, None)
        s = json.dumps(line)
    print(s)


if __name__ == "__main__":
    main()
