"""DataStream facade — fuel's user-facing iteration API on Spark.

Reference parity: ``fuel/streams.py:122`` DataStream,
``fuel/iterator.py`` DataIterator, epoch semantics of
``AbstractDataStream.iterate_epochs`` (streams.py:104-120).

This is the switch-over surface for a fuel user: wrap any DataFrame,
pick an iteration scheme, and iterate epochs of numpy minibatches —
``next(epoch)`` yields ``{source_name: np.ndarray}`` exactly like
fuel's ``as_dict`` iterators.  Underneath, batch identity is computed
distributed (fuel_spark.schemes) and the epoch reaches the driver as
Arrow record batches encoded on the JVM (``Dataset.toArrowBatchRdd``,
no Python worker), served one partition at a time in partition order
with the next partition prefetched — the training loop consumes
100 TB without the driver ever holding more than two partitions.

There is no per-epoch sort: the scheme assigns ``pos`` over a
range-sorted, checkpointed layout and joins it to a broadcast offsets
table, which keeps the partitions and their row order, so reading the
partitions in order IS reading in ``pos`` order.  The driver checks
that contract on every Arrow batch (``pos`` contiguous from the
epoch's start) and raises if a plan change ever breaks it.

Shuffled epochs re-key per epoch (seed + epoch), matching fuel's
fresh-permutation-per-epoch contract without any driver-side index
state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.errors import PySparkTypeError
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)
from pyspark.util import _local_iterator_from_socket

from fuel_spark import schemes

# Spark types whose null-free Arrow column converts vectorised to the
# dtype numpy infers from the same Python values (ints → int64,
# floats → float64, bools → bool); every other column, and any slice
# with a null, goes through the Python values.
_VECTOR_DTYPES = {
    LongType: np.int64, IntegerType: np.int64, ShortType: np.int64,
    ByteType: np.int64, DoubleType: np.float64, FloatType: np.float64,
    BooleanType: np.bool_,
}


def _column_converter(name: str, dt: DataType) -> Callable[[pa.Array], np.ndarray]:
    """Arrow column → the array ``np.asarray`` builds from the values a
    collected ``Row`` holds (same values, same dtype).

    Null-free int64 and float64 slices are zero-copy, read-only views
    of the Arrow buffer; bools are unpacked, narrower ints and float32
    widened exactly.  Everything else becomes the Row's Python values
    first (datetimes local and naive, ``bytearray`` binaries, ``Row``
    structs, ``dict`` maps) — Spark's own Arrow-to-Row conversion."""
    try:
        to_arrow_type(dt)
    except PySparkTypeError as exc:
        raise TypeError(
            f"DataStream cannot deliver column {name!r} of type "
            f"{dt.simpleString()}: it has no Arrow mapping; cast or drop "
            "it before building the stream") from exc
    dtype = _VECTOR_DTYPES.get(type(dt))
    to_row = ArrowTableToRowsConversion._create_converter(
        dt, none_on_identity=True, binary_as_bytes=False)

    def convert(col: pa.Array) -> np.ndarray:
        if dtype is not None and col.null_count == 0:
            return col.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
        values = col.to_pylist()
        return np.asarray(values if to_row is None else [to_row(v) for v in values])

    return convert


def _arrow_batches(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """``df``'s Arrow record batches, encoded on the executors and read
    one partition at a time in partition order (next one prefetched)."""
    schema = to_arrow_schema(df.schema)
    jvm = df.sparkSession.sparkContext._jvm
    sock_info = jvm.PythonRDD.toLocalIteratorAndServe(df._jdf.toArrowBatchRdd(), True)
    for buf in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        yield pa.ipc.read_record_batch(pa.py_buffer(buf), schema)


class DataStream:
    """Iterate a DataFrame as epochs of fixed-size numpy minibatches.

    Parameters
    ----------
    df : DataFrame — the dataset; columns are the stream's sources.
    key : str — deterministic ordering key (fuel's example index).
    batch_size : int — examples per minibatch (fuel ConstantScheme).
    shuffled : bool — fresh seeded permutation each epoch
        (fuel ShuffledScheme; reference schemes.py:195).
    seed : int — base seed; epoch ``e`` uses ``seed + e``.

    Every column must have an Arrow mapping (``TypeError`` otherwise).
    A batch column holds the values and dtype ``np.asarray`` gives for
    the collected rows; null-free int64 and float64 columns are
    read-only views of the Arrow buffer (copy one to write to it).
    """

    def __init__(
        self,
        df: DataFrame,
        key: str,
        batch_size: int,
        shuffled: bool = False,
        seed: int = 42,
    ):
        self.df = df
        self.key = key
        self.batch_size = batch_size
        self.shuffled = shuffled
        self.seed = seed
        self._epoch = 0
        self._converters = [
            _column_converter(f.name, f.dataType) for f in df.schema.fields
        ]

    @property
    def sources(self) -> tuple[str, ...]:
        return tuple(self.df.columns)

    def _planned(self, epoch: int) -> DataFrame:
        if self.shuffled:
            return schemes.shuffled_batches(
                self.df, self.key, self.batch_size, seed=self.seed + epoch
            )
        return schemes.sequential_batches(self.df, self.key, self.batch_size)

    def _epoch_df(self, epoch: int, from_batch: int = 0) -> DataFrame:
        """The epoch's rows in partition order: the sources, then
        ``pos`` (kept for the order check in :meth:`_ordered_batches`)."""
        planned = self._planned(epoch)
        if from_batch:
            # batch ids are a deterministic function of (key, seed,
            # epoch), so "resume at batch k" is a plain filter Catalyst
            # pushes toward the scan — no driver-side iterator state to
            # pickle (fuel serializes the in-flight iterator instead:
            # reference fuel/iterator.py:8, tests/test_serialization.py).
            planned = planned.where(planned["batch_id"] >= from_batch)
        return planned.drop("batch_id")

    def _ordered_batches(self, epoch: int, from_batch: int) -> Iterator[pa.RecordBatch]:
        """The epoch's Arrow batches, sources only, after checking that
        ``pos`` runs contiguously from ``from_batch * batch_size``."""
        df = self._epoch_df(epoch, from_batch)
        pos_i = df.columns.index("pos")
        sources = [i for i in range(len(df.columns)) if i != pos_i]
        expected = from_batch * self.batch_size
        for rb in _arrow_batches(df):
            n = rb.num_rows
            pos = rb.column(pos_i).to_numpy()
            if not np.array_equal(pos, np.arange(expected, expected + n)):
                raise RuntimeError(
                    f"DataStream epoch {epoch}: an Arrow batch starts at "
                    f"pos {pos[0]} where {expected} was expected (or is not "
                    "contiguous); the plan no longer delivers partitions "
                    "in pos order")
            expected += n
            yield rb.select(sources)

    def _batched_iter(self, epoch: int, from_batch: int, as_dict: bool) -> Iterator:
        cols = self.df.columns

        def gen():
            # slices of Arrow batches add up to one minibatch; a
            # minibatch spanning an Arrow-batch (or partition) boundary
            # carries its head over to the next Arrow batch
            pieces: list[pa.RecordBatch] = []
            held = 0
            for rb in self._ordered_batches(epoch, from_batch):
                off = 0
                while off < rb.num_rows:
                    take = min(self.batch_size - held, rb.num_rows - off)
                    pieces.append(rb.slice(off, take))
                    held += take
                    off += take
                    if held == self.batch_size:
                        yield self._to_batch(pieces, cols, as_dict)
                        pieces, held = [], 0
            if pieces:
                yield self._to_batch(pieces, cols, as_dict)

        return gen()

    def get_epoch_iterator(self, as_dict: bool = True) -> Iterator:
        """One pass over the data in this epoch's order, batched."""
        epoch = self._epoch
        self._epoch += 1
        return self._batched_iter(epoch, 0, as_dict)

    def resume(
        self, epoch: int, batch_index: int, as_dict: bool = True
    ) -> Iterator:
        """Mid-epoch resume: the remainder of epoch ``epoch`` starting
        at minibatch ``batch_index`` — identical batches, in order, to
        what an uninterrupted epoch iterator would have produced from
        that point (fuel's checkpoint/restore contract, without
        serializing an iterator: the cursor IS the state).

        Also re-aims the stream so the next ``get_epoch_iterator``
        yields epoch ``epoch + 1`` — resuming a training job mid-epoch
        then continuing is seamless.
        """
        self._epoch = epoch + 1
        return self._batched_iter(epoch, batch_index, as_dict)

    def iterate_epochs(self, as_dict: bool = True) -> Iterator[Iterator]:
        while True:
            yield self.get_epoch_iterator(as_dict=as_dict)

    def reset(self) -> None:
        self._epoch = 0

    def _to_batch(self, pieces: list[pa.RecordBatch], cols: list[str], as_dict: bool):
        if len(pieces) == 1:
            columns = pieces[0].columns
        else:
            columns = [pa.concat_arrays([p.column(i) for p in pieces])
                       for i in range(len(cols))]
        arrays = [conv(c) for conv, c in zip(self._converters, columns)]
        if as_dict:
            return dict(zip(cols, arrays))
        return tuple(arrays)
