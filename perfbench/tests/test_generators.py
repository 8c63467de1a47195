"""Unit tests of the benchmark's seeded input generators."""

from itertools import combinations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from generators import (
    REFERENCE_SEED,
    DeltaBatches,
    batch_rows,
    dense_permutation,
    relabel,
    write_relabelled_lineitem,
)


def test_permutation_is_a_seeded_bijection_of_the_id_set():
    ids = np.array([7, 3, 3, 11, 5, 0])
    m = dense_permutation(ids, seed=42)
    assert m["old"].tolist() == [0, 3, 5, 7, 11]
    assert sorted(m["new"].tolist()) == m["old"].tolist()
    assert np.array_equal(dense_permutation(ids, 42)["new"], m["new"])
    others = {tuple(dense_permutation(np.arange(50), s)["new"]) for s in range(1, 6)}
    assert len(others) == 5


def test_reference_seed_is_the_identity():
    m = dense_permutation(np.arange(10), REFERENCE_SEED)
    assert np.array_equal(relabel(np.array([4, 9, 0]), m), [4, 9, 0])


def test_relabel_rejects_ids_outside_the_set():
    m = dense_permutation(np.arange(5), 1)
    with pytest.raises(ValueError):
        relabel(np.array([5]), m)


def _coorder(path, stride=1):
    t = pq.read_table(path)
    by_order = {}
    for o, p in zip(t.column("l_orderkey").to_pylist(), t.column("l_partkey").to_pylist()):
        by_order.setdefault(o, set()).add(p)
    return {
        (a, b) for o, ps in by_order.items() if o % stride == 0
        for a, b in combinations(sorted(ps), 2)
    }


def test_relabelled_lineitem_is_an_isomorphic_coorder_graph(tmp_path):
    rng = np.random.default_rng(0)
    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(40), 4), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 30, 160), pa.int64()),
    }), src)
    parts = np.unique(pq.read_table(src).column("l_partkey").to_numpy())
    out = tmp_path / "out.parquet"
    assert write_relabelled_lineitem(str(src), str(out), seed=9) == len(parts)
    m = dense_permutation(parts, 9)
    base, got = _coorder(src), _coorder(out)
    mapped = {tuple(sorted(relabel(np.array(e), m).tolist())) for e in base}
    assert got == mapped

    strided = tmp_path / "strided.parquet"
    write_relabelled_lineitem(str(src), str(strided), seed=9, order_stride=4)
    assert pq.read_table(strided).column("l_orderkey").to_numpy().max() % 4 == 0
    assert _coorder(strided) == {
        tuple(sorted(relabel(np.array(e), m).tolist())) for e in _coorder(src, stride=4)
    }
    assert _coorder(strided) <= got


def _batches(seed, n=12):
    base = [(0, 1), (1, 2), (2, 3), (5, 4)]
    src, dst = zip(*base)
    gen = DeltaBatches(src, dst, np.arange(n), seed, size=6)
    return gen, {tuple(sorted(e)) for e in base}


def test_delta_batches_insert_fresh_pairs_and_delete_the_previous_ones():
    gen, base = _batches(seed=3)
    prev = set()
    for _ in range(5):
        b = gen.next()
        ins = set(zip(b["ins_src"].tolist(), b["ins_dst"].tolist()))
        dels = set(zip(b["del_src"].tolist(), b["del_dst"].tolist()))
        assert len(ins) == 6 == len(b["ins_src"])
        assert all(u < v for u, v in ins)
        assert not ins & base and not ins & prev
        assert dels == prev
        prev = ins


def test_delta_batches_are_a_function_of_the_seed():
    a, _ = _batches(seed=7)
    b, _ = _batches(seed=7)
    c, _ = _batches(seed=8)
    xa, xb, xc = a.next(), b.next(), c.next()
    assert all(np.array_equal(xa[k], xb[k]) for k in xa)
    assert not np.array_equal(xa["ins_src"] * 100 + xa["ins_dst"], xc["ins_src"] * 100 + xc["ins_dst"])


def test_batch_rows_schema_and_ops():
    gen, _ = _batches(seed=1)
    gen.next()
    t = batch_rows(gen.next())
    assert t.schema.names == ["op", "src", "dst", "w"]
    assert t.column("op").to_pylist() == ["ins"] * 6 + ["del"] * 6
    assert t.column("w").to_pylist() == [1.0] * 12
