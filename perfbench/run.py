"""Link-graph engine benchmark.

    python3 perfbench/run.py --workload coorder-serial --seed 0 --seconds 5 --trace 0

Run from the repository root. One process runs one workload on
``local[nproc]``: it starts a session, builds the seeded input several
times (set-up time uses the median build), runs the workload's one-time
preparation and an untimed warm-up lap, then runs laps back to back for
``--seconds`` (at least one). Every operator output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns the
Spark UI on, runs untraced and traced laps in turn (untraced first and
last) and prints the per-layer metrics of the traced ones. The last
stdout line is the result object; the line before it carries sample
lists and details. perfbench/README.md defines workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

import tracing
from workloads import WORKLOADS, Lap

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
# input builds per run; set-up time uses their median
BUILDS = 3
KERNELS = [name for _, _, name in tracing.KERNELS]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(tmp: str) -> None:
    """Keep the engine's native-kernel build cache, the JVM's and
    Spark's scratch space inside the run directory, and let the Python
    workers import the engine."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # spark-submit first starts a launcher JVM, which
    # spark.driver.extraJavaOptions does not reach
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _session(tmp: str, trace: bool):
    from louvain_communities_openmp_spark.session import get_spark

    k = _nproc()
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k,
                     extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _summary(xs: list[float]) -> dict:
    """Median, count, samples, and the highest percentile with at least
    ten samples beyond it (none below twenty samples)."""
    out = {"median": statistics.median(xs), "n": len(xs), "samples": xs}
    if len(xs) >= 20:
        p = int(100 * (1 - 10 / len(xs)))
        out[f"p{p}"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return out


def _layer_metrics(spans: list[dict], traced: list[Lap]) -> dict[str, float]:
    """Per-layer metrics of each traced lap, medians across laps."""
    kids = tracing.children(spans)
    per_lap: dict[str, list[float]] = {}
    for lap_span in (s for s in spans if s["kind"] == "lap"):
        vals: dict[str, float] = dict.fromkeys((k + "_s" for k in KERNELS), 0.0)
        vals["oracle.calls"] = 0
        for s in tracing.subtree(lap_span, kids):
            if s["kind"] == "op":
                for k, v in tracing.op_metrics(s, kids).items():
                    key = f"{s['name']}.{k}"
                    vals[key] = vals.get(key, 0.0) + v
            elif s["name"] in KERNELS:
                vals[s["name"] + "_s"] += s["end"] - s["start"]
                vals["oracle.calls"] += s["name"].startswith("oracle.")
        for k, v in vals.items():
            per_lap.setdefault(k, []).append(v)
    for lap in traced:
        for k, v in lap.layer.items():
            per_lap.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in per_lap.items()}


class Runner:
    """One run: set-up, warm-up, measured laps, result."""

    def __init__(self, args, spark, tmp: str):
        self.args, self.spark, self.tmp = args, spark, tmp
        self.tracer = tracing.Tracer(spark)
        self.cls = WORKLOADS[args.workload]
        self.laps: list[tuple[Lap, float, bool]] = []

    def lap(self, workload, traced: bool) -> None:
        lap = Lap(self.tracer)
        self.tracer.enabled = traced
        with self.tracer.span("lap", "lap"):
            t = time.perf_counter()
            workload.lap(lap)
            self.laps.append((lap, time.perf_counter() - t, traced))
        self.tracer.enabled = False

    def setup(self) -> dict:
        w = self.cls(self.spark, self.tmp, self.args.seed, DATA)
        builds = []
        for _ in range(BUILDS):
            t = time.perf_counter()
            w.build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t
        # one untimed warm-up lap, on a smaller input of the same
        # workload where the workload names one
        t = time.perf_counter()
        if self.cls.warmup_stride is None:
            self.lap(w, False)
        else:
            wu = self.cls(self.spark, os.path.join(self.tmp, "warmup"), self.args.seed, DATA,
                          self.cls.warmup_stride, checked=False)
            wu.build()
            wu.prepare()
            self.lap(wu, False)
            wu.close()
        self.workload = w
        return {"build_s": builds, "prepare_s": prepare_s,
                "warmup_lap_s": time.perf_counter() - t}

    def measure(self) -> None:
        """Laps back to back for ``--seconds``; a traced run alternates
        untraced and traced laps and ends on an untraced one, so the
        overhead ratio brackets each traced lap."""
        trace = bool(self.args.trace)
        t0 = time.perf_counter()
        while True:
            n = len(self.laps)
            self.lap(self.workload, trace and n % 2 == 1)
            enough = time.perf_counter() - t0 >= self.args.seconds
            if enough and (not trace or (n + 1 >= 3 and n % 2 == 0)):
                break


def run(args) -> dict:
    trace = bool(args.trace)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".tmp"))
    _pin_environment(tmp)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(tmp, trace)
        session_s = time.perf_counter() - t0
        r = Runner(args, spark, tmp)
        if trace:
            r.tracer.install()
        detail = {"workload": args.workload, "seed": args.seed, "nproc": _nproc(),
                  "session_s": session_s, **r.setup()}
        warm = r.laps[0][0]
        r.laps.clear()
        r.measure()
        reference = Lap(r.tracer)
        r.workload.reference_checks(reference)

        laps = [warm, reference] + [lap for lap, _, _ in r.laps]
        failed = sum(x.failed for x in laps)
        detail["problems"] = [p for x in laps for p in x.problems]
        samples: dict[str, list[float]] = {}
        for lap, lap_s, traced in r.laps:
            if not traced:
                samples.setdefault("lap_s", []).append(lap_s)
                for op, s in lap.times.items():
                    samples.setdefault(f"{op}_s", []).append(s)
        detail["timings"] = {k: _summary(v) for k, v in samples.items()}
        values = {
            "setup_s": session_s + statistics.median(detail["build_s"])
            + detail["prepare_s"] + detail["warmup_lap_s"],
            "lap_s": statistics.median(samples["lap_s"]),
            "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
        kind = "end_to_end"
        if trace:
            kind = "per_layer"
            values = _traced_values(r, session_s)
            if values["trace.orphans"]:
                detail["problems"].append(f"{values['trace.orphans']} spans without a parent")
                failed += 1
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            defs = json.load(f)[kind]
        print(json.dumps(detail))
        return {
            "correct": failed == 0,
            "attempted": sum(x.attempted for x in laps),
            "failed": failed,
            # a layer this workload does not run reads 0
            "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                        for m in defs},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _traced_values(r: Runner, session_s: float) -> dict[str, float]:
    untraced = [s for _, s, traced in r.laps if not traced]
    traced = [s for _, s, t in r.laps if t]
    tracer = r.tracer
    tracer.enabled = True
    with tracer.span("udf", "udf"):
        udf_s = r.workload.udf_seconds()
    tracer.enabled = False
    tracer.uninstall()
    spans = tracer.finish()
    values = _layer_metrics(spans, [lap for lap, _, t in r.laps if t])
    values.update({
        "extract.udf_s": udf_s or 0.0,
        "session.start_s": session_s,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(r.spark),
        "trace.overhead": statistics.median(traced) / statistics.median(untraced),
        "trace.orphans": tracing.orphans(spans),
    })
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import louvain_communities_openmp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
