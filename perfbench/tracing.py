"""In-memory span tracing around the engine's layer boundaries.

Spans are recorded from the benchmark's side of each boundary:

- ``op``: a public operator call, made by the workload (``Tracer.op``);
  it also sets the Spark job group, so the engine's jobs can be
  attributed to it afterwards;
- ``kernel``: an ``oracle`` entry point or a source helper, wrapped at
  the module attribute the engine looks it up through;
- ``collect``/``probe``: a driver collect (``toArrow``/``toPandas``/
  ``collect``); it is a ``probe`` when the frame came from a
  ``limit(n)`` with ``n > PROBE_MIN_ROWS`` (the serial-finish LIMIT
  probes);
- ``job``: a Spark job, read back from the UI's REST API when the run
  ends and parented to the innermost span that was open when it was
  submitted.

Nothing is written while the run measures; ``Tracer.finish`` builds the
tree and returns it.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse

# LIMIT probes use the serial-finish bounds (2M/4M rows); take()/first()
# use single-digit limits and are ordinary collects
PROBE_MIN_ROWS = 1000

# (module, attribute, span name) of every wrapped entry point; the
# per-layer metric of a span is its name + "_s"
KERNELS = [
    ("louvain_communities_openmp_spark.operators.louvain", "louvain_seq_fast", "oracle.louvain_seq"),
    ("louvain_communities_openmp_spark.oracle.louvain_seq", "local_move_c", "oracle.local_move"),
    ("louvain_communities_openmp_spark.oracle._cmove", "labelprop_rounds_c", "oracle.labelprop_kernel"),
    ("louvain_communities_openmp_spark.oracle._cmove", "triangle_count_csr_c", "oracle.triangle_kernel"),
    ("louvain_communities_openmp_spark.sources.edges", "dense_ids", "extract.dense_ids"),
]
# operator calls made inside another operator, recorded as nested ops
NESTED_OPS = [
    ("louvain_communities_openmp_spark.streaming.dynamic_louvain", "louvain", "louvain"),
]


class Tracer:
    """Records spans for one run. ``enabled`` toggles recording; the
    wrappers stay installed but pass straight through while it is off."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = False
        self._patches: list[tuple] = []
        self.root = self._open("run", "run")

    # -- span bookkeeping ---------------------------------------------
    def _open(self, name: str, kind: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(
            {"id": sid, "name": name, "kind": kind, "parent": parent,
             "start": time.time(), "end": None}
        )
        self.stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        popped = self.stack.pop()
        if popped != sid:
            raise RuntimeError(f"span stack out of order: {popped} != {sid}")

    @contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        sid = self._open(name, kind)
        try:
            yield sid
        finally:
            self._close(sid)

    @contextmanager
    def op(self, name: str):
        """An operator call; its Spark jobs carry the span's job group."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = self._open(name, "op")
        group = f"perfbench-{sid}"
        self.spans[sid]["group"] = group
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield sid
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._close(sid)

    # -- wrappers -------------------------------------------------------
    def _wrap(self, fn, name: str, kind: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, kind):
                return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        for mod, attr, name in KERNELS:
            m = importlib.import_module(mod)
            self._patch(m, attr, self._wrap(getattr(m, attr), name, "kernel"))
        for mod, attr, name in NESTED_OPS:
            m = importlib.import_module(mod)
            self._patch(m, attr, self._wrap(getattr(m, attr), name, "op"))

        tracer = self
        limit = DataFrame.limit

        def traced_limit(df, num):
            out = limit(df, num)
            out._perfbench_limit = num
            return out

        self._patch(DataFrame, "limit", traced_limit)
        for meth in ("toArrow", "toPandas", "collect"):
            orig = getattr(DataFrame, meth)

            def traced(df, *a, _orig=orig, **kw):
                probe = getattr(df, "_perfbench_limit", 0) > PROBE_MIN_ROWS
                with tracer.span("probe" if probe else "collect", "collect"):
                    return _orig(df, *a, **kw)

            self._patch(DataFrame, meth, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- end of run -----------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def finish(self) -> list[dict]:
        """Close the root, read job and stage metrics back, and attach
        each job as a span under the innermost span open at its
        submission. Returns every span."""
        self.spans[self.root]["end"] = time.time()
        self.stack.clear()
        groups = {s["group"]: s["id"] for s in self.spans if s.get("group")}
        if not groups:
            return self.spans
        want = sum(
            len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(g))
            for g in groups
        )
        # the UI store is fed by an asynchronous listener: wait until it
        # has every job the status tracker knows about
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in groups]
            done = [j for j in jobs if j.get("completionTime")]
            if len(done) >= want or time.time() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        for j in sorted(done, key=lambda j: j["jobId"]):
            start, end = _ts(j["submissionTime"]), _ts(j["completionTime"])
            op = groups[j["jobGroup"]]
            # a job also lists reused shuffle stages, skipped because an
            # earlier job ran them: count only stages submitted in it
            st = [stages[i] for i in j["stageIds"] if i in stages
                  and _ts(stages[i]["submissionTime"]) >= start - 0.002]
            self.spans.append({
                "id": len(self.spans), "name": "job", "kind": "job",
                "parent": self._innermost(op, start), "start": start, "end": end,
                "job_id": j["jobId"], "tasks": j.get("numCompletedTasks", 0),
                "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in st),
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
            })
        return self.spans

    def _innermost(self, sid: int, t: float) -> int:
        # REST times are whole milliseconds
        eps = 0.002
        kids = [s for s in self.spans
                if s["parent"] == sid and s["kind"] != "job"
                and s["start"] - eps <= t <= s["end"] + eps]
        return self._innermost(kids[-1]["id"], t) if kids else sid


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: dict[int, list[dict]]) -> float:
    """Duration minus the part of the interval its child spans cover."""
    cover = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
             for c in kids.get(span["id"], [])]
    return (span["end"] - span["start"]) - union_length(
        [(s, e) for s, e in cover if e > s]
    )


def subtree(span: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], list(kids.get(span["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def orphans(spans: list[dict]) -> int:
    """Spans other than the root whose parent is missing."""
    ids = {s["id"] for s in spans}
    return sum(1 for s in spans if s["parent"] is None and s["kind"] != "run"
               or s["parent"] is not None and s["parent"] not in ids)


def op_metrics(span: dict, kids: dict[int, list[dict]]) -> dict[str, float]:
    """Per-operator layer split of one op span."""
    sub = subtree(span, kids)
    jobs = [s for s in sub if s["kind"] == "job"]
    return {
        "wall_s": span["end"] - span["start"],
        "self_s": self_time(span, kids),
        "collect_s": union_length([(s["start"], s["end"]) for s in sub if s["kind"] == "collect"]),
        "probe_s": union_length([(s["start"], s["end"]) for s in sub if s["name"] == "probe"]),
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in jobs),
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in jobs) / 2**20,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in jobs) / 2**20,
    }
