"""Unit tests of the span arithmetic behind the per-layer metrics."""

from tracing import children, op_metrics, orphans, self_time, union_length


def _span(sid, parent, start, end, kind="op", name="x", **kw):
    return {"id": sid, "parent": parent, "start": start, "end": end,
            "kind": kind, "name": name, **kw}


def _job(sid, parent, start, end, tasks=4, rd=0, wr=0):
    return _span(sid, parent, start, end, kind="job", name="job", tasks=tasks,
                 shuffle_read_bytes=rd, shuffle_write_bytes=wr)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_the_covered_part_once():
    spans = [
        _span(0, None, 0, 10, kind="run"),
        _span(1, 0, 0, 10),
        _span(2, 1, 1, 4, kind="collect", name="probe"),
        _job(3, 2, 1, 3, rd=2**20),
        _span(4, 1, 3, 5, kind="kernel", name="oracle.local_move"),
        _job(5, 1, 8, 9, tasks=2, wr=2**21),
    ]
    kids = children(spans)
    # children of op 1 cover [1,5] and [8,9]
    assert self_time(spans[1], kids) == 5
    m = op_metrics(spans[1], kids)
    assert m["wall_s"] == 10 and m["self_s"] == 5
    assert m["collect_s"] == 3 and m["probe_s"] == 3
    assert m["jobs"] == 2 and m["tasks"] == 6
    assert m["shuffle_read_mb"] == 1 and m["shuffle_write_mb"] == 2
    assert orphans(spans) == 0


def test_orphans_counts_missing_parents():
    spans = [_span(0, None, 0, 1, kind="run"), _span(1, 7, 0, 1), _span(2, None, 0, 1)]
    assert orphans(spans) == 2
