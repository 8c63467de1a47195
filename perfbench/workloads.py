"""The benchmark's workloads: set-up, one lap, and the output checks.

Each workload calls the engine only through its public functions. A lap
is a closed loop: one client issues the operators back to back.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

import numpy as np

from generators import REFERENCE_SEED, DeltaBatches, batch_rows, write_relabelled_lineitem

# the sf0.1 co-order graph; structure values hold at every seed because
# the relabel is an isomorphism, labelling-dependent ones only at the
# reference seed
COORDER_VERTICES = 20_000
COORDER_EDGES = 2_392_000
COORDER_TRIANGLES = 1_884_488
COORDER_COMPONENTS = 1
# crawl-update keeps every fourth order of the same table, so that a
# run with one lap fits the per-run time budget
CRAWL_ORDER_STRIDE = 4
CRAWL_EDGES = 599_284
REFERENCE_Q = 0.065825
REFERENCE_PASSES = 4

Q_TOLERANCE = 1e-9
# pagerank_fixed rounds each rank to 7 decimals
PAGERANK_SUM_TOLERANCE = 1e-4
# fresh undirected pairs per crawl-update batch (2.6k delta rows once a
# batch also deletes the previous batch's pairs)
BATCH_PAIRS = 1_300


class Lap:
    """Times and checks the operator calls of one lap."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.times: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, name: str, fn, check):
        """Run ``fn`` as operator ``name`` and ``check`` its output.

        ``check`` returns None when the output is right, else the
        reason. A raise or a failed check counts the operator as failed
        and drops its time.
        """
        self.attempted += 1
        try:
            with self.tracer.op(name):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            problem = check(out)
        except Exception as e:  # one failing operator must not end the run
            traceback.print_exc(file=sys.stderr)
            problem, out = f"{type(e).__name__}: {e}", None
        if problem:
            self.failed += 1
            self.problems.append(f"{name}: {problem}")
            return None
        self.times[name] = dt
        return out


def _louvain_layer(res) -> dict[str, float]:
    """The ``operators.louvain`` layer split, read from ``pass_log``."""
    log = res.pass_log
    return {
        "louvain.passes": res.passes,
        "louvain.iterations": res.iterations,
        "louvain.dist_passes": sum(1 for r in log if "t_move" in r),
        "louvain.local_finish_s": sum(r.get("t_local", 0.0) for r in log),
    }


def _mismatch(name: str, got, want) -> str | None:
    return None if got == want else f"{name} {got} != {want}"


def _q_check(res, reference: bool):
    if reference and (round(res.modularity, 6), res.passes) != (REFERENCE_Q, REFERENCE_PASSES):
        return f"Q {res.modularity:.6f} over {res.passes} passes, want {REFERENCE_Q} over {REFERENCE_PASSES}"
    return None


def _unchecked(check):
    return lambda *args: None


class CoorderSerial:
    """sf0.1 co-order graph, seeded relabel; every operator runs its
    serial finish."""

    name = "coorder-serial"
    # the warm-up lap runs on the graph of every fourth order: the same
    # plans and kernels at a quarter of the cost
    warmup_stride = 4

    def __init__(self, spark, tmp: str, seed: int, data_dir: str,
                 order_stride: int = 1, checked: bool = True):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.src_lineitem = os.path.join(data_dir, "lineitem.parquet")
        self.order_stride = order_stride
        self.check = (lambda c: c) if checked else _unchecked
        self.edges = None

    def build(self) -> None:
        """One input build: relabelled lineitem → co-order edges,
        persisted. Repeated by the runner to time set-up."""
        from louvain_communities_openmp_spark.sources.edges import coorder_edges

        if self.edges is not None:
            self.edges.unpersist(blocking=True)
        d = os.path.join(self.tmp, "input")
        os.makedirs(d, exist_ok=True)
        write_relabelled_lineitem(
            self.src_lineitem, os.path.join(d, "lineitem.parquet"), self.seed, self.order_stride)
        self.edges = coorder_edges(self.spark, d).persist()
        self.n_edges = self.edges.count()

    def prepare(self) -> None:
        if self.check(_mismatch)("co-order edges", self.n_edges, COORDER_EDGES):
            raise RuntimeError(f"co-order input has {self.n_edges} edges, want {COORDER_EDGES}")

    def close(self) -> None:
        self.edges.unpersist()

    def lap(self, lap: Lap) -> None:
        from pyspark.sql import functions as F

        from louvain_communities_openmp_spark.operators.components import connected_components
        from louvain_communities_openmp_spark.operators.labelprop import label_propagation
        from louvain_communities_openmp_spark.operators.louvain import LouvainOptions, louvain
        from louvain_communities_openmp_spark.operators.pagerank import pagerank_fixed
        from louvain_communities_openmp_spark.operators.properties import modularity
        from louvain_communities_openmp_spark.operators.triangles import triangle_count_total

        e, check = self.edges, self.check
        res = lap.op(
            "louvain", lambda: louvain(e, LouvainOptions(mode="auto")),
            check(lambda r: _q_check(r, self.seed == REFERENCE_SEED)),
        )
        lap.op(
            "modularity", lambda: modularity(e, res.membership),
            check(lambda q: None if abs(q - res.modularity) <= Q_TOLERANCE
                  else f"modularity {q!r} != louvain Q {res.modularity!r}"),
        )
        lap.op(
            "pagerank",
            lambda: pagerank_fixed(e, iters=5).agg(F.sum("rank"), F.count("*")).first(),
            check(lambda r: None if abs(r[0] - 1.0) <= PAGERANK_SUM_TOLERANCE
                  and r[1] == COORDER_VERTICES else f"rank sum {r[0]!r} over {r[1]} vertices"),
        )
        lap.op(
            "components",
            lambda: connected_components(e).components.agg(
                F.countDistinct("comp"), F.count("*")).first(),
            check(lambda r: _mismatch("components/vertices", tuple(r),
                                      (COORDER_COMPONENTS, COORDER_VERTICES))),
        )
        lap.op(
            "labelprop", lambda: label_propagation(e, max_iter=4).labels.count(),
            check(lambda n: _mismatch("labelled vertices", n, COORDER_VERTICES)),
        )
        lap.op(
            "triangles", lambda: triangle_count_total(e),
            check(lambda t: _mismatch("triangles", t, COORDER_TRIANGLES)),
        )
        if res is not None:
            lap.layer.update(_louvain_layer(res))
            res.membership.unpersist()

    def reference_checks(self, lap: Lap) -> None:
        """At the reference seed, extract the links of the pages of the
        full graph and compare with the published count. Runs after the
        measured laps and is not timed."""
        if self.seed != REFERENCE_SEED:
            return
        from louvain_communities_openmp_spark.sources.edges import edges_from_pages
        from louvain_communities_openmp_spark.sources.pages import make_pages

        pages = make_pages(self.spark, self.edges, n=COORDER_VERTICES)
        lap.op("extract", lambda: edges_from_pages(pages, symmetric=False)[0].count(),
               lambda n: _mismatch("extracted links", n, COORDER_EDGES))

    def udf_seconds(self) -> float | None:
        return None


class CrawlUpdate:
    """The write path: extract links from the pages of the co-order
    graph of every fourth sf0.1 order, apply a seeded delta batch to the
    versioned store, refresh the membership warm from the previous
    version."""

    name = "crawl-update"
    # the lap is mostly per-job planning, whose cost barely depends on
    # the data size: the warm-up lap runs on this instance itself
    warmup_stride = None

    def __init__(self, spark, tmp: str, seed: int, data_dir: str,
                 order_stride: int = CRAWL_ORDER_STRIDE, checked: bool = True):
        self.graph = CoorderSerial(spark, tmp, seed, data_dir, order_stride, checked)
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.check = self.graph.check

    def build(self) -> None:
        self.graph.build()

    def prepare(self) -> None:
        """Build the pages table, commit store version 0 (the graph plus
        batch 0's pairs) and compute its cold membership."""
        from pyspark.sql import functions as F

        from louvain_communities_openmp_spark.sources.pages import make_pages
        from louvain_communities_openmp_spark.streaming.dynamic_louvain import DynamicLouvain
        from louvain_communities_openmp_spark.streaming.edge_stream import EdgeStateStore

        edges = self.graph.edges
        self.links = self.graph.n_edges
        if self.check(_mismatch)("crawl edges", self.links, CRAWL_EDGES):
            raise RuntimeError(f"crawl input has {self.links} edges, want {CRAWL_EDGES}")
        self.pages = make_pages(self.spark, edges, n=COORDER_VERTICES).persist()
        n = self.pages.count()
        if n != COORDER_VERTICES:
            raise RuntimeError(f"pages table has {n} rows, want {COORDER_VERTICES}")
        pairs = edges.where(F.col("src") < F.col("dst")).select("src", "dst").toArrow()
        self.batches = DeltaBatches(
            pairs.column("src").to_numpy(), pairs.column("dst").to_numpy(),
            np.arange(COORDER_VERTICES), self.seed, BATCH_PAIRS,
        )
        ins = self._delta_frame(self.batches.next()).select("src", "dst", "w")
        v0 = edges.unionByName(ins).unionByName(
            ins.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        self.store = EdgeStateStore(self.spark, os.path.join(self.tmp, "store"))
        self.n_edges = self.links + 2 * BATCH_PAIRS
        self.store.commit(v0, 0, {"edges": self.n_edges})
        edges.unpersist()
        self.dyn = DynamicLouvain(self.store)
        self.dyn.update_to_latest()
        self.batch_id = 0

    def _delta_frame(self, batch):
        self.last_batch = batch_rows(batch)
        return self.spark.createDataFrame(self.last_batch.to_pandas(), "op string, src long, dst long, w double")

    def lap(self, lap: Lap) -> None:
        from louvain_communities_openmp_spark.operators.properties import modularity
        from louvain_communities_openmp_spark.sources.edges import edges_from_pages
        from louvain_communities_openmp_spark.streaming.edge_stream import apply_delta_batch

        links = lap.op(
            "extract", lambda: edges_from_pages(self.pages, symmetric=False)[0].count(),
            self.check(lambda n: _mismatch("extracted links", n, self.links)),
        )
        if links is not None:
            lap.layer["extract.links_per_s"] = links / lap.times["extract"]

        batch = self._delta_frame(self.batches.next())
        self.batch_id += 1
        n_del = int(self.last_batch.column("op").to_pylist().count("del"))
        want = self.n_edges - 2 * n_del + 2 * (self.last_batch.num_rows - n_del)
        v = lap.op(
            "apply", lambda: apply_delta_batch(self.store, batch, self.batch_id),
            self.check(lambda v: _mismatch("snapshot edges", self.store.commit_meta(v)["edges"], want)),
        )
        if v is None:
            return
        self.n_edges = want
        snap = _dir_bytes(os.path.join(self.store.dir, f"v{v:06d}"))
        lap.layer["apply.snapshot_mb"] = snap / 2**20
        lap.layer["apply.write_amp"] = snap / self.last_batch.nbytes

        out = lap.op("refresh", self.dyn.update_to_latest,
                     self.check(lambda o: self._refresh_check(o, v)))
        if out is None:
            return
        res = out[1]
        meta = self._membership_meta(v)
        lap.layer.update(_louvain_layer(res))
        lap.layer["refresh.processed"] = meta["processed"]
        lap.layer["refresh.scans_per_vertex"] = meta["processed"] / COORDER_VERTICES
        lap.layer["refresh.iterations"] = res.iterations
        lap.op(
            "modularity", lambda: modularity(self.store.load(v), res.membership),
            self.check(lambda q: None if abs(q - res.modularity) <= Q_TOLERANCE
                       else f"modularity {q!r} != refresh Q {res.modularity!r}"),
        )
        res.membership.unpersist()

    def close(self) -> None:
        self.pages.unpersist()

    def reference_checks(self, lap: Lap) -> None:
        pass

    def _membership_meta(self, v: int) -> dict:
        with open(os.path.join(self.dyn.dir, f"v{v:06d}", "_COMMIT.json")) as f:
            return json.load(f)

    def _refresh_check(self, out, v: int) -> str | None:
        if out is None or out[0] != v:
            return f"refresh returned {out and out[0]}, want version {v}"
        meta = self._membership_meta(v)
        if not meta.get("frontier_seeded") or meta.get("warm_from") != v - 1:
            return f"refresh not frontier-seeded from v{v - 1}: {meta}"
        if not math.isfinite(out[1].modularity):
            return "non-finite Q"
        return None

    def udf_seconds(self) -> float:
        """Serial time of the link-extraction UDF body alone over every
        page, run in the driver (Spark runs it inside Python workers,
        out of the driver's sight)."""
        from louvain_communities_openmp_spark.functions.extract import extract_links

        html = self.pages.select("html").toArrow().column("html")
        t0 = time.perf_counter()
        for chunk in html.chunks:
            extract_links.func(chunk.to_pandas())
        return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {w.name: w for w in (CoorderSerial, CrawlUpdate)}
