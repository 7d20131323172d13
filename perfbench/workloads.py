"""The benchmark workloads.

Each workload is a closed loop driven by one thread.  ``write`` makes
its inputs from the seed, ``open`` hands them to Spark (and builds any
index), ``warm`` runs one untimed pass, ``settle`` runs the untimed
passes that follow it, and ``run_pass`` runs one timed, checked pass
and returns that pass's numbers.  A failed check is counted in
``Counter`` and never raises.

- ``train_stream``: a shuffled ``DataStream`` over lineitem, several
  epochs and one mid-epoch ``resume`` (layers: schemes, streams).
- ``analytics_scan``: the 16 ``bench.SHARED16`` registry queries
  (layers: ops, plans, catalyst, exec).
- ``stream_screen``: ``streaming.serve.near_dup_stream`` under an
  ``availableNow`` trigger into a parquet sink (layer: streaming).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa

import datagen
from measure import catalyst_ms, force


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def error(self, what: str, exc: BaseException) -> None:
        """Count an operation that raised; its traceback goes to stderr."""
        traceback.print_exception(exc, file=sys.stderr)
        self.check(False, f"{what}: {type(exc).__name__}: {exc}"[:2000])


class Workload:
    """Shared state: ``ctx`` carries spark, tracer, seed, scale, pins and
    the counter (see run.py)."""

    tables: tuple[str, ...] = ()
    # seconds per timed pass on the 4-CPU reference host, which sets how
    # many passes ``--seconds`` buys (run.pass_count), and the fewest
    pass_s = 3.0
    min_passes = 3
    # untimed passes after the warm pass and outside ``setup_s``, for a
    # workload whose passes keep getting faster as the JIT compiles
    settle_passes = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def write(self, out_dir: str):
        """Generate and write the inputs; return ``(rows, bytes)``."""
        self.staged, size = datagen.stage(out_dir, self.ctx.sf, self.tables,
                                          self.ctx.seed)
        self.dir = out_dir
        self.rows = sum(t.num_rows for t in self.staged.values())
        return self.rows, size

    def open(self) -> None:
        """Open the written inputs through ``load_table`` (footers and
        schema; the passes read the data)."""
        from fuel_spark.sources import tables as T
        self.frames = {name: T.load_table(self.spark, self.dir, name)
                       for name in self.tables}

    def warm(self) -> None:
        """One untimed pass: cold codegen and JIT are large."""
        self.run_pass()

    def settle(self) -> None:
        for _ in range(self.settle_passes):
            self.run_pass()

    def finish(self) -> dict:
        """Work that follows the timed passes; returns extra numbers."""
        return {}


# ---------------------------------------------------------------- queries

class QuerySet(Workload):
    """Registry queries, each built and then forced with a checksum that
    is compared with its pin."""

    queries: tuple[str, ...] = ()
    tables = tuple(datagen.TABLES)

    def __init__(self, ctx):
        super().__init__(ctx)
        import __spark_entry__
        self.registry = __spark_entry__.queries()
        self.pins = ctx.pins.get(ctx.workload, {}).get(str(ctx.sf), {})

    def run_pass(self) -> dict:
        tr, ctx = self.ctx.tracer, self.ctx
        out = {"wall_s": 0.0, "build_s": 0.0, "run_s": 0.0,
               "catalyst": {}, "queries": {}, "examples": self.rows}
        t_pass = time.perf_counter()
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                with tr.span(f"build:{name}", "ops") as b_span:
                    df = self.registry[name](self.spark, self.dir)
                t1 = time.perf_counter()
                with tr.span(f"run:{name}", "exec") as r_span:
                    chk, action = force(df)
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                ctx.counter.error(name, exc)
                continue
            pin = self.pins.get(name)
            ctx.counter.check(pin is not None and list(chk) == list(pin),
                              f"{name}: checksum {list(chk)} != pin {pin}")
            out["build_s"] += t1 - t0
            out["run_s"] += t2 - t1
            for k, v in catalyst_ms(action).items():
                out["catalyst"][k] = out["catalyst"].get(k, 0.0) + v
            out["queries"][name] = {"build_s": t1 - t0, "run_s": t2 - t1,
                                    "build_span": b_span, "run_span": r_span}
        out["wall_s"] = time.perf_counter() - t_pass
        return out


class AnalyticsScan(QuerySet):
    # a third pass of 16 queries does not fit the time budget beside
    # the other workloads on a loaded host; each query's time is the
    # median (here the mean) of its two timings (metrics.end_to_end)
    pass_s = 11.0
    min_passes = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        import bench
        self.queries = bench.SHARED16


# ---------------------------------------------------------------- training

class TrainStream(Workload):
    """fuel's core loop: shuffled minibatches of 256 examples over
    lineitem, key ``l_orderkey*8 + l_linenumber`` and four features.
    As in the source tables the key repeats (43% of the rows share
    theirs with another row), so the checks compare the multiset of delivered keys."""

    tables = ("lineitem",)
    batch_size = 256
    # the epochs after the warm pass took 3.2, 2.5, 2.1 s at 300k rows:
    # one settle epoch takes the steepest step of the JIT warm-up out of
    # the median
    settle_passes = 1

    def open(self) -> None:
        from pyspark.sql import functions as F
        super().open()
        li = self.staged.pop("lineitem")
        self.keys = np.sort(li["l_orderkey"].to_numpy() * 8
                            + li["l_linenumber"].to_numpy())
        self.df = self.frames["lineitem"].select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("key"),
            "l_quantity", "l_extendedprice", "l_discount", "l_tax")

    def _new_stream(self):
        from fuel_spark.streams import DataStream
        return DataStream(self.df, key="key", batch_size=self.batch_size,
                          shuffled=True, seed=self.ctx.seed)

    def _consume(self, start_iter, out: dict) -> list[np.ndarray]:
        """Drain one epoch iterator, timing every ``next``; the consumer
        touches every batch (feature sums) and keeps its keys."""
        keys, waits, feature_sum = [], [], 0.0
        t0 = time.perf_counter()
        it = start_iter()
        consumer = 0.0
        while True:
            t_next = time.perf_counter()
            try:
                batch = next(it)
            except StopIteration:
                break
            t_got = time.perf_counter()
            waits.append(t_got - t_next)
            if len(keys) == 0:
                out["first_s"] = t_got - t0
            keys.append(batch["key"])
            feature_sum += sum(float(batch[c].sum())
                               for c in batch if c != "key")
            consumer += time.perf_counter() - t_got
        out["wall_s"] = time.perf_counter() - t0
        out["fetch_wait_s"] = sum(waits)
        out["consumer_s"] = consumer
        out["waits"] = waits[1:]  # inter-batch waits, epoch start excluded
        out["examples"] = sum(len(k) for k in keys)
        out["feature_sum"] = feature_sum
        out.setdefault("first_s", out["wall_s"])
        return keys

    def _check_epoch(self, keys: list[np.ndarray], what: str) -> bool:
        c = self.ctx.counter
        sizes = [len(k) for k in keys]
        shape_ok = bool(sizes) and all(s == self.batch_size
                                       for s in sizes[:-1]) \
            and 0 < sizes[-1] <= self.batch_size
        flat = np.concatenate(keys) if keys else np.array([], np.int64)
        once = len(flat) == len(self.keys) and np.array_equal(
            np.sort(flat), self.keys)
        return c.check(shape_ok and once,
                       f"{what}: batch sizes ok={shape_ok}, "
                       f"every row's key delivered once={once}")

    def warm(self) -> None:
        """Epoch 0 of a first stream, kept as the reference for epoch 0
        of the stream the passes use (its settle pass)."""
        self.reference = self._consume(self._new_stream().get_epoch_iterator,
                                       {})
        self._check_epoch(self.reference, "warm epoch")
        self.stream = self._new_stream()
        self.epoch = 0
        self.last = None

    def run_pass(self) -> dict:
        tr, out = self.ctx.tracer, {}
        epoch, self.epoch = self.epoch, self.epoch + 1
        n_actions = len(tr.actions)
        try:
            with tr.span(f"epoch:{epoch}", "streams") as sp:
                keys = self._consume(self.stream.get_epoch_iterator, out)
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            self.ctx.counter.error(f"epoch {epoch}", exc)
            return {}
        out["catalyst"] = {}
        for action in tr.actions[n_actions:]:
            for k, v in catalyst_ms(action).items():
                out["catalyst"][k] = out["catalyst"].get(k, 0.0) + v
        ok = self._check_epoch(keys, f"epoch {epoch}")
        if epoch == 0:
            same = len(keys) == len(self.reference) and all(
                np.array_equal(a, b) for a, b in zip(keys, self.reference))
            self.ctx.counter.check(
                same, "epoch 0 of two streams with the same seed differs")
        if ok:
            self.last = (epoch, keys)
        out["span"] = sp
        return out

    def finish(self) -> dict:
        """The mid-epoch resume: the remainder of the last checked epoch
        from its middle batch must equal that epoch's tail."""
        if self.last is None:
            return {}
        epoch, keys = self.last
        k = len(keys) // 2
        out: dict = {}
        try:
            with self.ctx.tracer.span(f"resume:{epoch}@{k}", "streams"):
                tail = self._consume(
                    lambda: self.stream.resume(epoch, k), out)
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            self.ctx.counter.error("resume", exc)
            return {}
        same = len(tail) == len(keys) - k and all(
            np.array_equal(a, b) for a, b in zip(tail, keys[k:]))
        self.ctx.counter.check(same, f"resume({epoch}, {k}) differs from "
                                     "the uninterrupted epoch's tail")
        return {"resume_first_batch_s": out["first_s"]}


# ---------------------------------------------------------------- streaming

class StreamScreen(Workload):
    """Screen a seed-chosen half of the documents against a MinHash band
    index of the other half, as an ``availableNow`` file stream."""

    files = 6
    max_files_per_trigger = 2
    pass_s = 2.5
    min_passes = 4
    # with one warm pass, the median of the timed passes sat on the JIT
    # warm-up slope (passes 3.6, 3.0, 2.7, 2.5 s, then about 2.5 s), whose
    # steepness follows the host's load
    settle_passes = 1

    def write(self, out_dir: str):
        docs = datagen.documents(self.ctx.sf)
        order = np.random.default_rng(self.ctx.seed).permutation(
            docs.num_rows)
        half = docs.num_rows // 2
        ref = docs.take(pa.array(np.sort(order[:half])))
        inc = docs.take(pa.array(np.sort(order[half:])))
        self.dir = out_dir
        self.ref_dir = os.path.join(out_dir, "reference")
        self.inc_dir = os.path.join(out_dir, "incoming")
        self.idx_dir = os.path.join(out_dir, "index")
        size = datagen.write_shuffled(ref, self.ref_dir, self.ctx.seed, 4)
        size += datagen.write_shuffled(inc, self.inc_dir, self.ctx.seed,
                                       self.files)
        self.rows = inc.num_rows
        return docs.num_rows, size

    def open(self) -> None:
        """Materialise the band index of the reference half to parquet."""
        from fuel_spark.ops.dedup import with_minhash_bands
        ref_df = self.spark.read.parquet(self.ref_dir).select("doc_id", "text")
        with_minhash_bands(ref_df, "doc_id", "text").select(
            "band_id", "band_key").write.parquet(self.idx_dir)
        self.schema = self.spark.read.parquet(self.inc_dir).schema
        self.passes = 0

    def _index(self):
        return self.spark.read.parquet(self.idx_dir)

    def warm(self) -> None:
        from fuel_spark.streaming import serve
        # the batch twin of the stream, outside any timed region
        batch = serve.near_dup_stream(self.spark.read.parquet(self.inc_dir),
                                      self._index())
        self.expected, _ = force(batch)
        super().warm()

    def run_pass(self) -> dict:
        from fuel_spark.streaming import serve
        tr, ctx = self.ctx.tracer, self.ctx
        self.passes += 1
        sink = os.path.join(self.dir, f"sink{self.passes}")
        ckpt = os.path.join(self.dir, f"checkpoint{self.passes}")
        out: dict = {"examples": self.rows}
        t0 = time.perf_counter()
        start_epoch = time.time()
        q = None
        try:
            with tr.span("streaming.run", "streaming") as sp:
                stream = (self.spark.readStream.schema(self.schema)
                          .option("maxFilesPerTrigger",
                                  self.max_files_per_trigger)
                          .parquet(self.inc_dir))
                clean = serve.near_dup_stream(stream, self._index())
                q = (clean.writeStream.format("parquet")
                     .option("path", sink)
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                done = q.awaitTermination(120)
                if sp is not None:
                    sp.extra_groups = [str(q.runId)]
            progress = q.recentProgress
            failure = q.exception()
            q.stop()
            q = None
            t1 = time.perf_counter()
            with tr.span("sink check", "exec"):
                chk, action = force(self.spark.read.parquet(sink))
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            ctx.counter.error("stream run", exc)
            return {}
        finally:
            if q is not None:
                q.stop()
        ctx.counter.check(
            done and failure is None and chk == self.expected,
            f"stream: terminated={done}, error={failure}, "
            f"sink {list(chk)} != batch run {list(self.expected)}")
        out.update(wall_s=t2 - t0, run_s=t1 - t0, check_s=t2 - t1,
                   catalyst=catalyst_ms(action), progress=progress,
                   rows_out=chk[0], span=sp)
        out["first_s"] = _first_batch_s(progress, start_epoch, out["run_s"])
        return out


def _first_batch_s(progress, start_epoch: float, fallback: float) -> float:
    """Seconds from ``start()`` to the end of the first micro-batch."""
    if not progress:
        return fallback
    p = progress[0]
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    begin = ts.replace(tzinfo=dt.timezone.utc).timestamp()
    end = begin + p["durationMs"].get("triggerExecution", 0) / 1000.0
    return max(end - start_epoch, 0.0)


WORKLOADS = {
    "train_stream": (TrainStream, 0.05),
    "analytics_scan": (AnalyticsScan, 0.001),
    "stream_screen": (StreamScreen, 0.01),
}


def streaming_totals(progress) -> dict[str, float]:
    keys = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
            "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets"}
    out = {k: 0.0 for k in keys}
    out["batches"] = len(progress)
    out["rows_in"] = 0
    for p in progress:
        for k, src in keys.items():
            out[k] += p["durationMs"].get(src, 0)
        out["rows_in"] += p.get("numInputRows", 0)
    return out

