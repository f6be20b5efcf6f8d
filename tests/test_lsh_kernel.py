"""Spark-free checks of the LSH bucket kernel (operators/lsh._bucket_pass)
against a brute-force reference: hot buckets give star events around
their min id, cold buckets every i < j pair, null ids and null keys never
pair, duplicate (id, key) rows count once, and no output batch exceeds
the batch size."""

from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pytest

from datasketches_rust_spark.operators.lsh import (_bucket_pass,
                                                   _triangle_root)


def _reference(rows, cap, payload):
    """Counter of (id_a, id_b, hot[, pay_a, pay_b]) events."""
    buckets = defaultdict(dict)  # key -> id -> smallest payload
    for i, k, p in rows:
        if i is None or k is None:
            continue
        d = buckets[k]
        d[i] = p if i not in d else min(d[i], p)
    out = Counter()
    for members in buckets.values():
        ids = sorted(members)
        if cap > 0 and len(ids) > cap:
            pairs = [(ids[0], b, 1) for b in ids[1:]]
        else:
            pairs = [(a, b, 0) for x, a in enumerate(ids)
                     for b in ids[x + 1:]]
        for a, b, hot in pairs:
            ev = (a, b, hot) + ((members[a], members[b]) if payload else ())
            out[ev] += 1
    return out


def _run(rows, cap, batch_rows, payload=False, chunks=1):
    ids = pa.array([r[0] for r in rows], pa.int64())
    keys = pa.array([r[1] for r in rows], pa.int64())
    cols, names = [ids, keys], ["__id", "band_key"]
    if payload:
        cols.append(pa.array([r[2] for r in rows], pa.int64()))
        names.append("p")
    whole = pa.RecordBatch.from_arrays(cols, names=names)
    step = max(1, -(-len(rows) // chunks))
    batches = [whole.slice(lo, step) for lo in range(0, len(rows), step)]
    out = list(_bucket_pass(iter(batches), cap, batch_rows,
                            ("p",) if payload else ()))
    assert all(0 < b.num_rows <= batch_rows for b in out)
    got = Counter()
    for b in out:
        assert b.schema.names == ["id_a", "id_b", "__hot"] + (
            ["p_a", "p_b"] if payload else [])
        got.update(zip(*(c.to_pylist() for c in b.columns)))
    return got, out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("cap", [0, 1, 2, 3, 5, 512])
def test_random_tables_match_reference(seed, cap):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(0, 80))
    rows = [(int(rng.integers(0, 30)), int(rng.integers(0, 8)),
             int(rng.integers(-50, 50))) for _ in range(n)]
    rows += rows[:n // 5]  # exact duplicate rows
    # nulls in either column never pair
    rows += [(None, 3, 1), (None, 3, 2), (7, None, 3), (8, None, 4)]
    for payload in (False, True):
        for batch_rows in (1, 3, 10_000):
            got, _ = _run(rows, cap, batch_rows, payload, chunks=3)
            assert got == _reference(rows, cap, payload)


def test_bucket_at_cap_pairs_and_over_cap_stars():
    cap = 4
    at_cap = [(i, 100, i * 10) for i in (9, 3, 5, 7)]
    over = [(i, 200, i * 10) for i in (4, 2, 8, 6, 1)]
    got, _ = _run(at_cap + over, cap, 10_000, payload=True)
    assert got == Counter(
        [(a, b, 0, a * 10, b * 10) for a, b in
         [(3, 5), (3, 7), (3, 9), (5, 7), (5, 9), (7, 9)]]
        + [(1, b, 1, 10, b * 10) for b in (2, 4, 6, 8)])


def test_cap_zero_pairs_every_bucket():
    rows = [(i, 1, 0) for i in range(40)]
    got, _ = _run(rows, 0, 10_000)
    assert got == _reference(rows, 0, False)
    assert sum(got.values()) == 40 * 39 // 2


def test_duplicate_rows_count_once():
    rows = [(1, 5, 0), (2, 5, 0), (1, 5, 0), (2, 5, 0), (3, 6, 0),
            (3, 6, 0)]
    got, _ = _run(rows, 512, 10_000)
    assert got == Counter({(1, 2, 0): 1})
    # a duplicate id keeps its smallest payload
    got, _ = _run([(1, 5, 9), (1, 5, 4), (2, 5, 7)], 512, 10_000,
                  payload=True)
    assert got == Counter({(1, 2, 0, 4, 7): 1})


def test_payload_tuple_rides_and_lowest_tuple_wins():
    """Several payload columns come out as p_a, p_b per column, in order;
    of duplicate (id, key) rows the lowest payload tuple stays (the
    first column decides, the second breaks its ties)."""
    rb = pa.RecordBatch.from_arrays(
        [pa.array([1, 1, 1, 2], pa.int64()),
         pa.array([5, 5, 5, 5], pa.int64()),
         pa.array([7, 3, 3, 9], pa.int64()),
         pa.array([0, 8, 6, 4], pa.int32())],
        names=["__id", "band_key", "v", "k"])
    (out,) = _bucket_pass(iter([rb]), 512, 100, ("v", "k"))
    assert out.schema.names == ["id_a", "id_b", "__hot", "v_a", "v_b",
                                "k_a", "k_b"]
    assert out.schema.field("k_a").type == pa.int32()
    assert set(zip(*(c.to_pylist() for c in out.columns))) == {
        (1, 2, 0, 3, 9, 6, 4)}


def test_cold_bucket_spans_batches():
    """One cold bucket of 10 ids has 45 pairs: with 7-row batches they
    come out in 7 batches, each pair once, and a second bucket's pairs
    continue the last batch's numbering."""
    rows = [(i, 1, 0) for i in range(10)] + [(i, 2, 0) for i in range(3)]
    got, out = _run(rows, 0, 7)
    assert [b.num_rows for b in out] == [7] * 6 + [6]
    assert got == _reference(rows, 0, False)


def test_null_payload_passes_through():
    ids = pa.array([1, 2, 3], pa.int64())
    keys = pa.array([5, 5, 5], pa.int64())
    pay = pa.array([None, 20, None], pa.int64())
    rb = pa.RecordBatch.from_arrays([ids, keys, pay],
                                    names=["__id", "band_key", "p"])
    for cap, hot in ((0, 0), (2, 1)):
        (out,) = _bucket_pass(iter([rb]), cap, 100, ("p",))
        got = set(zip(*(c.to_pylist() for c in out.columns)))
        if hot:
            assert got == {(1, 2, 1, None, 20), (1, 3, 1, None, None)}
        else:
            assert got == {(1, 2, 0, None, 20), (1, 3, 0, None, None),
                           (2, 3, 0, 20, None)}


def test_empty_and_all_null_partitions_emit_nothing():
    assert list(_bucket_pass(iter([]), 4, 10, ())) == []
    rb = pa.RecordBatch.from_arrays(
        [pa.array([None, None], pa.int64()), pa.array([1, 1], pa.int64())],
        names=["__id", "band_key"])
    assert list(_bucket_pass(iter([rb]), 4, 10, ())) == []


def test_triangle_root_exact():
    j = np.r_[np.arange(1, 3000), 10**5, 3 * 10**6, 2**31 - 1]
    base = j * (j - 1) // 2
    t = np.r_[base, base + j - 1]  # first and last index of each column
    want = np.r_[j, j]
    assert np.array_equal(_triangle_root(t), want)
