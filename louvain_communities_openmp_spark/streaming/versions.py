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

Resident warm refresh. When a result frame carries its columns as
driver arrays (operators/serial.py ``hold_columns``, e.g. a serial
Louvain finish's membership), the maintainer writes them with pyarrow,
no Spark job, and keeps them tagged with their version: the reference
keeps its membership in memory from one batch to the next
(louvain.hxx:305-389, DYNAMIC louvain.hxx:1009). The next refresh warm
starts from them (``carried``) without collecting, and the edge store
holds the resident version's affected ids the same way. A maintainer
in a fresh process, or one warm-starting from a version it did not
write, reads the committed parquet instead. The kept columns are the
maintainer's own: a caller may unpersist the returned frame. Frames
persisted to carry them are released when the solve returns or raises,
and a plan a caller already holds is never persisted or released here.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from ..operators import serial

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
        # (version, schema, columns) of the latest result written from
        # held columns (see the module docstring), or None
        self._latest = None
        # frames persisted by ``carried`` during the running solve
        self._carried: list = []

    def load(self, version: int | None = None):
        """The result frame of ``version`` (default: the latest), or
        None when nothing is committed."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        read = self.spark.read
        if self.held(v) is not None:
            # its schema is known: no inference job
            read = read.schema(self._latest[1])
        return read.parquet(self.committed(v, self.frame))

    def held(self, version: int) -> dict | None:
        """The columns of result ``version`` when this maintainer wrote
        them from held columns, else None."""
        h = self._latest
        return h[2] if h is not None and h[0] == version else None

    def carried(self, df, columns: dict | None):
        """``df`` carrying ``columns`` as its rows (serial.hold_columns);
        persisted for the running solve unless a frame with its plan
        already is. ``df`` as it is when ``columns`` is None."""
        if columns is not None:
            if serial.cache_key(df) is None:
                df = df.persist()
                self._carried.append(df)
            serial.hold_columns(df, columns)
        return df

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
        try:
            out, record = self._solve(self.store.resident(v), v, last)
        finally:
            for df in self._carried:
                df.unpersist()
            self._carried = []
        frame = getattr(out[0], self.frame)
        cols = serial.held_columns(frame)
        if cols is not None and not all(c in cols for c in frame.columns):
            cols = None
        self._latest = None
        self.begin(v)
        path = self.path(v, self.frame)
        if cols is None:
            frame.write.mode("overwrite").parquet(path)
        else:
            os.makedirs(path)
            pq.write_table(
                pa.Table.from_arrays([cols[c] for c in frame.columns], names=frame.columns),
                os.path.join(path, "part-00000.parquet"),
            )
        self.seal(v, {**record, "seconds": round(time.time() - t0, 3)})
        if cols is not None:
            self._latest = (v, frame.schema, cols)
        return (v, *out)
