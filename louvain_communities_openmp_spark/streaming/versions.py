"""The version log: the one commit protocol behind every versioned
directory of streaming/.

A log is a directory of immutable versions ``v000000/``,
``v000001/``, … Each version keeps its data in named subdirectories
and one commit record, ``_COMMIT.json``, written last. A version
exists for readers once its record does, so any committed version can
be pinned, and a write that never reached its record (a torn version)
is never the latest version and cannot be read (``committed``). The
next write of that version starts from an empty directory, so nothing
the torn write left becomes part of it. This is the snapshot
discipline of an Iceberg-style table (PAPER.md §1.1) and of
plans/run.RunDir.

``EdgeStateStore`` (edge_stream.py) and ``SnapshotStore``
(capture_stream.py) are logs of their inputs. ``Maintainer`` is a log
of one result per edge-store version, refreshed by one loop; the three
dynamic maintainers give only their warm-start rule and their operator
call. Logs live on the driver's filesystem and are read with ``os``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

_COMMIT = "_COMMIT.json"
_VERSION = re.compile(r"v\d+")


class VersionLog:
    """Committed versions under ``root`` (see the module docstring)."""

    def __init__(self, root: str):
        self.dir = root
        os.makedirs(root, exist_ok=True)

    def path(self, v: int, *parts: str) -> str:
        """The directory of version ``v``, or a path under it."""
        return os.path.join(self.dir, f"v{v:06d}", *parts)

    def committed(self, v: int, *parts: str) -> str:
        """``path(v, *parts)`` of a committed version ``v``; raises
        FileNotFoundError when ``v`` has no commit record, so a pinned
        read never sees a torn or unsealed version."""
        if not os.path.exists(self.path(v, _COMMIT)):
            raise FileNotFoundError(f"version {v} of {self.dir} is not committed")
        return self.path(v, *parts)

    def latest_version(self) -> int | None:
        """The largest committed version, or None."""
        vs = [
            int(d[1:])
            for d in os.listdir(self.dir)
            if _VERSION.fullmatch(d) and os.path.exists(os.path.join(self.dir, d, _COMMIT))
        ]
        return max(vs, default=None)

    def begin(self, v: int | None = None) -> int:
        """Start version ``v`` (default: the one after the latest) in an
        empty directory, removing whatever a torn write of it left."""
        if v is None:
            last = self.latest_version()
            v = 0 if last is None else last + 1
        shutil.rmtree(self.path(v), ignore_errors=True)
        os.makedirs(self.path(v))
        return v

    def seal(self, v: int, record: dict) -> None:
        """Commit version ``v``: write its record after all its data."""
        with open(self.path(v, _COMMIT), "w") as f:
            json.dump({"version": v, **record}, f)

    def commit_meta(self, v: int) -> dict:
        """The commit record of version ``v``."""
        with open(self.path(v, _COMMIT)) as f:
            return json.load(f)


class Maintainer(VersionLog):
    """One result per version of an edge store, kept under ``out_dir``
    (default: the store's subdirectory ``name``), each solved warm from
    this log's newest earlier version. A subclass sets ``name`` and the
    result's ``frame``, its attribute on the result and the
    subdirectory it is written to, and gives ``_solve``."""

    name: str
    frame: str

    def __init__(self, store, out_dir: str | None = None):
        super().__init__(out_dir or os.path.join(store.dir, self.name))
        self.store = store
        self.spark = store.spark

    def load(self, version: int | None = None):
        """The result frame of ``version`` (default: the latest), or
        None when nothing is committed."""
        v = self.latest_version() if version is None else version
        return None if v is None else self.spark.read.parquet(self.committed(v, self.frame))

    def _solve(self, edges, v: int, last: int | None) -> tuple[tuple, dict]:
        """The result of store version ``v`` over its resident
        ``edges``, warm from this log's version ``last`` (None: cold).
        Returns (the values ``update_to_latest`` returns after ``v``,
        the result first; the commit record's fields)."""
        raise NotImplementedError

    def update_to_latest(self) -> tuple | None:
        """Bring the result up to the store's newest version ``v``.
        Returns ``(v, result, ...)``, or None when the store is empty or
        the result is current."""
        v = self.store.latest_version()
        last = self.latest_version()
        if v is None or (last is not None and last >= v):
            return None
        t0 = time.time()
        out, record = self._solve(self.store.resident(v), v, last)
        self.begin(v)
        getattr(out[0], self.frame).write.mode("overwrite").parquet(self.path(v, self.frame))
        self.seal(v, {**record, "seconds": round(time.time() - t0, 3)})
        return (v, *out)
