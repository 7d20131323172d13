"""DataStream epoch iteration — parity with reference
tests/test_streams.py behaviors (epoch order, shuffling, batching)."""

import datetime
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuel_spark.sources import from_rows
from fuel_spark.streams import DataStream


def _df(spark, n=10):
    return from_rows(
        spark, [(i, i * 1.5) for i in range(n)], schema="k bigint, v double"
    )


def test_sequential_epoch_batches(spark):
    ds = DataStream(_df(spark), "k", batch_size=4)
    assert ds.sources == ("k", "v")
    batches = list(ds.get_epoch_iterator())
    assert [len(b["k"]) for b in batches] == [4, 4, 2]
    assert batches[0]["k"].tolist() == [0, 1, 2, 3]
    assert np.allclose(batches[0]["v"], [0.0, 1.5, 3.0, 4.5])
    assert batches[2]["k"].tolist() == [8, 9]


def test_tuple_batches(spark):
    ds = DataStream(_df(spark), "k", batch_size=5)
    first = next(ds.get_epoch_iterator(as_dict=False))
    assert isinstance(first, tuple) and len(first) == 2
    assert first[0].tolist() == [0, 1, 2, 3, 4]


def test_shuffled_epochs_differ_and_reset(spark):
    ds = DataStream(_df(spark, 20), "k", batch_size=20, shuffled=True, seed=3)
    e0 = next(ds.get_epoch_iterator())["k"].tolist()
    e1 = next(ds.get_epoch_iterator())["k"].tolist()
    assert sorted(e0) == sorted(e1) == list(range(20))
    assert e0 != e1  # fresh permutation per epoch
    ds.reset()
    assert next(ds.get_epoch_iterator())["k"].tolist() == e0  # reproducible


def test_epoch_covers_all_examples_once(spark):
    ds = DataStream(_df(spark, 17), "k", batch_size=5, shuffled=True)
    seen = [k for b in ds.get_epoch_iterator() for k in b["k"].tolist()]
    assert sorted(seen) == list(range(17))


def test_resume_mid_epoch_identical_remainder(spark):
    """fuel's checkpoint contract (reference fuel/iterator.py:8,
    tests/test_serialization.py): interrupt after k batches, resume,
    and the remainder is bit-identical to an uninterrupted epoch."""
    mk = lambda: DataStream(_df(spark, 23), "k", batch_size=5, shuffled=True, seed=7)
    full = [b["k"].tolist() for b in mk().get_epoch_iterator()]  # epoch 0
    ds = mk()
    it = ds.get_epoch_iterator()
    consumed = [next(it)["k"].tolist() for _ in range(2)]  # "crash" after 2
    del it
    resumed = [b["k"].tolist() for b in mk().resume(0, 2)]
    assert consumed == full[:2]
    assert resumed == full[2:]
    # resume also re-aims the epoch counter: next epoch is epoch 1
    ds2 = mk()
    _ = list(ds2.resume(0, 2))
    next_epoch = [b["k"].tolist() for b in ds2.get_epoch_iterator()]
    ds3 = mk()
    _ = list(ds3.get_epoch_iterator())
    assert next_epoch == [b["k"].tolist() for b in ds3.get_epoch_iterator()]


def test_resume_sequential_and_edge_batches(spark):
    ds = DataStream(_df(spark, 10), "k", batch_size=4)
    # resume at 0 == full epoch; at last partial batch; past the end
    assert [b["k"].tolist() for b in ds.resume(0, 0)] == [
        [0, 1, 2, 3], [4, 5, 6, 7], [8, 9]]
    assert [b["k"].tolist() for b in ds.resume(0, 2)] == [[8, 9]]
    assert list(ds.resume(0, 3)) == []


# --------------------------------------------------------------------------
# Arrow delivery: parity with the collected rows, degenerate inputs,
# batch boundaries and the partition-order guard.  The reference is the
# plain path — a global orderBy("pos"), collect, and np.asarray over
# each batch's Python values.


def _reference(ds, epoch=0, from_batch=0):
    planned = ds._planned(epoch)
    rows = planned.where(planned["batch_id"] >= from_batch).orderBy("pos") \
        .drop("pos", "batch_id").collect()
    bs = ds.batch_size
    return [[np.asarray(col) for col in zip(*rows[i:i + bs])]
            for i in range(0, len(rows), bs)]


def _assert_same(got, want, cols):
    assert len(got) == len(want)
    for b_got, b_want in zip(got, want):
        arrays = [b_got[c] for c in cols] if isinstance(b_got, dict) else list(b_got)
        assert len(arrays) == len(b_want)
        for name, a, w in zip(cols, arrays, b_want):
            assert a.dtype == w.dtype, (name, a.dtype, w.dtype)
            assert a.shape == w.shape, name
            assert a.tolist() == w.tolist(), name


_TYPED_SCHEMA = (
    "k bigint, i int, d double, f float, b boolean, s string, "
    "dec decimal(10,2), dt date, ts timestamp, arr array<float>")


def _typed_rows(n, nulls):
    rows = []
    for k in range(n):
        null = nulls and k % 7 == 3  # some batches hold a null, others none
        rows.append((
            k,
            None if null else k * 3 - 5,
            None if null else k * 0.25,
            None if null else k / 3,
            None if null else k % 2 == 0,
            None if null else "x" * (k % 5 + 1),
            None if null else Decimal(k) / 4,
            None if null else datetime.date(2020, 1, 1) + datetime.timedelta(days=k),
            None if null else datetime.datetime(2021, 3, 4, 5, 6, 7, k),
            [k / 7, None] if null else [k / 7, k * 1.5],
        ))
    return rows


@pytest.mark.parametrize("nulls", [False, True])
@pytest.mark.parametrize("as_dict", [True, False])
def test_arrow_batches_keep_row_dtypes_and_values(spark, nulls, as_dict):
    df = from_rows(spark, _typed_rows(30, nulls), schema=_TYPED_SCHEMA)
    ds = DataStream(df, "k", batch_size=4, shuffled=True, seed=5)
    got = list(ds.get_epoch_iterator(as_dict=as_dict))
    _assert_same(got, _reference(ds), df.columns)


def test_null_array_fails_like_the_row_path(spark):
    """A null among fixed-length arrays makes np.asarray refuse the
    batch (ragged) — on the collected rows and on the stream alike."""
    df = from_rows(spark, [(0, [1.0, 2.0]), (1, None)], schema="k bigint, arr array<float>")
    ds = DataStream(df, "k", batch_size=2)
    rows = [r.arr for r in df.orderBy("k").collect()]
    with pytest.raises(ValueError):
        np.asarray(rows)
    with pytest.raises(ValueError):
        next(ds.get_epoch_iterator())


def test_type_without_arrow_mapping_is_refused(spark):
    df = spark.range(3).select(F.col("id").alias("k"),
                               F.expr("INTERVAL '1' YEAR").alias("span"))
    with pytest.raises(TypeError, match="'span'.*no Arrow mapping"):
        DataStream(df, "k", batch_size=2)


def test_empty_frame_gives_no_batches(spark):
    df = from_rows(spark, [], schema="k bigint, v double")
    ds = DataStream(df, "k", batch_size=4, shuffled=True)
    assert list(ds.get_epoch_iterator()) == [] == _reference(ds)
    assert list(ds.resume(0, 1)) == []


def test_batch_larger_than_frame(spark):
    ds = DataStream(_df(spark, 7), "k", batch_size=50, shuffled=True)
    got = list(ds.get_epoch_iterator())
    assert [len(b["k"]) for b in got] == [7]
    _assert_same(got, _reference(ds), ["k", "v"])


@pytest.fixture
def small_arrow_partitions(spark):
    """Many small partitions, each encoded as several 7-row Arrow batches."""
    conf = {"spark.sql.shuffle.partitions": "9",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "7"}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in before.items():
        spark.conf.set(k, v)


def test_batches_span_partition_and_arrow_boundaries(spark, small_arrow_partitions):
    ds = DataStream(_df(spark, 103), "k", batch_size=5, shuffled=True, seed=11)
    assert ds._epoch_df(0).rdd.getNumPartitions() > 1
    want = _reference(ds)
    assert [len(b[0]) for b in want] == [5] * 20 + [3]
    _assert_same(list(ds.get_epoch_iterator()), want, ["k", "v"])
    # resume mid-way, at the last partial batch, and past the end
    for k in (7, 20, 21, 30):
        _assert_same(list(ds.resume(0, k)), _reference(ds, 0, k), ["k", "v"])


def test_partition_order_guard_raises(spark):
    """If a plan stops delivering partitions in pos order the stream
    fails instead of yielding misordered batches."""

    class Reversed(DataStream):
        def _epoch_df(self, epoch, from_batch=0):
            return super()._epoch_df(epoch, from_batch).orderBy(F.desc("pos"))

    with pytest.raises(RuntimeError, match="pos order"):
        next(Reversed(_df(spark, 10), "k", batch_size=4).get_epoch_iterator())
