"""Source: lift a Python (a)sync iterable into a Stage.

Reference: pypeln/process/api/from_iterable.py:11-77 and the async-native
variant pypeln/task/api/from_iterable.py:14-83. Elements get the flat
creation-order index ``(i,)`` exactly like the reference
(from_iterable.py:22-28).

Lowering: a BOUNDED iterable is drained driver-side into a ``pyarrow.Table``
(``_index`` as ``list<int64>``; ``value`` in the declared or inferred type
when every element maps onto one Spark type, pickled ``binary`` otherwise —
see infer.py) and handed to ``createDataFrame``. Spark plans it as a
``LocalTableScan``: no Python worker reads it, ``limit(k).collect()`` of it
runs no job, and its partitions are contiguous slices, so the Stage is
``range_partitioned``. Values are stored as a list-backed
``createDataFrame`` stores them (``infer.to_arrow``: naive datetimes are
process-local instants, decimals round to the type's scale), except that
Arrow also takes ints for a double and numpy scalars. One type keeps the
list-backed ``createDataFrame``: a map with nested or timestamp keys or
values, whose null maps PySpark's Arrow path turns into empty ones before
pyarrow 17. The reference's ``use_thread``/``maxsize`` knobs control queue
plumbing that Spark doesn't have; they are accepted and ignored for API
parity on the bounded path.

``unbounded=True`` is the parity path for the reference's INFINITE
iterables (task/api/from_iterable.py:14-83 consumes endless async
generators with queue backpressure): the iterable is NOT drained — an
IterablePump pulls ``chunk_size`` elements at a time, writes each chunk
as one parquet file into a monitored directory (atomic tmp+rename), and
the returned Stage wraps the Structured Streaming file source over that
directory. Driver memory is bounded at one chunk; the generator advances
only when ``pump.feed()`` asks for more (pull-based backpressure — the
Spark-native reading of the reference's ``maxsize``), and trigger sizing
(maxFilesPerTrigger) paces the executors.
"""

from __future__ import annotations

import asyncio
import os
import tempfile
import typing as tp
import uuid

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import infer
from ..stage import Stage
from ..utils import INDEX_COL, VALUE_COL


def _drain(iterable: tp.Any) -> tp.List[tp.Any]:
    if hasattr(iterable, "__aiter__") and not hasattr(iterable, "__iter__"):
        async def collect():
            return [x async for x in iterable]

        return asyncio.new_event_loop().run_until_complete(collect())
    return list(iterable)


def _arrow_exact(at) -> bool:
    """Whether ``createDataFrame`` of an Arrow column of type ``at`` keeps
    every null: before pyarrow 17, PySpark rebuilds a map column with
    nested or timestamp keys or values without its validity mask."""
    if pa.types.is_map(at) and int(pa.__version__.split(".")[0]) < 17:
        if any(pa.types.is_nested(x) or pa.types.is_timestamp(x)
               for x in (at.key_type, at.item_type)):
            return False
    return all(_arrow_exact(at.field(i).type) for i in range(at.num_fields))


class PumpSink:
    """A persistent memory-sink query over a pump-fed (or any) streaming
    DataFrame: feed → process() → read, repeatedly, under ONE checkpoint so
    each micro-batch is consumed exactly once across calls.

    TEST/DEMO SINK ONLY: the memory sink in append mode accumulates every
    output row in driver memory for the life of the query, so a genuinely
    long-running unbounded stream grows without bound here. Long-running
    consumers should drain through ``streaming.run_foreach_batch`` (bounded
    per-batch driver exposure, at-least-once per epoch) or a file sink —
    the pump's bounded-driver-memory story covers the SOURCE side only."""

    def __init__(self, df: DataFrame, output_mode: str = "append"):
        self.spark = df.sparkSession
        self.name = f"pump_{uuid.uuid4().hex[:10]}"
        ckpt = tempfile.mkdtemp(prefix="pypeln_spark_pump_ckpt_")
        self.query = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(self.name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def process(self) -> DataFrame:
        """Consume everything currently available; return the sink table."""
        self.query.processAllAvailable()
        return self.spark.table(self.name)

    def stop(self) -> None:
        self.query.stop()


class IterablePump:
    """Micro-batch pump for UNBOUNDED Python iterables.

    Pulls ``chunk_size`` elements per feed() from the (possibly infinite)
    iterable and writes them as one parquet file into the monitored source
    directory — write to a dot-prefixed temp name, then os.rename, so the
    file source never lists a partial file. Driver memory is bounded at one
    chunk regardless of how long the stream runs; element indices continue
    across chunks, preserving the reference's creation-order ``(i,)``
    contract (process/api/from_iterable.py:22-28).

    The element type comes from ``returns`` or is inferred from the FIRST
    chunk — the schema is part of the stream, so every later chunk must
    conform to it. Only when inference finds NO common type for the first
    chunk does the whole stream ride the pickled BinaryType fallback
    (pickled-ness is fixed at construction); a later chunk that breaks a
    non-pickled schema raises a schema-mismatch ValueError from feed()
    naming the offending chunk, it does NOT fall back.
    """

    def __init__(
        self,
        spark: SparkSession,
        iterable: tp.Any,
        chunk_size: int = 1000,
        returns: tp.Optional[tp.Union[str, T.DataType]] = None,
        max_files_per_trigger: tp.Optional[int] = None,
    ):
        self.spark = spark
        self.chunk_size = max(int(chunk_size), 1)
        self.dir = tempfile.mkdtemp(prefix="pypeln_spark_pump_src_")
        self._it = iter(iterable)
        self._i = 0  # global element index
        self._n = 0  # chunk counter
        self.exhausted = False
        self._first_chunk = self._pull()
        if isinstance(returns, str):
            returns = T._parse_datatype_string(returns)
        out_type = returns if returns is not None else infer.infer_common_type(self._first_chunk)
        self.pickled = out_type is None
        self.value_type = out_type if not self.pickled else T.BinaryType()
        self.schema = T.StructType(
            [
                T.StructField(INDEX_COL, T.ArrayType(T.LongType()), False),
                T.StructField(VALUE_COL, self.value_type, True),
            ]
        )
        self._write_chunk(self._first_chunk)
        self._first_chunk = None
        self.max_files_per_trigger = max_files_per_trigger

    def _pull(self) -> list:
        out = []
        try:
            for _ in range(self.chunk_size):
                out.append(next(self._it))
        except StopIteration:
            self.exhausted = True
        return out

    def _write_chunk(self, values: list) -> int:
        if not values:
            return 0
        import pyarrow.parquet as pq

        idx = pa.array([[i] for i in range(self._i, self._i + len(values))],
                       type=pa.list_(pa.int64()))
        payload = [infer.dumps(v) for v in values] if self.pickled else values
        try:
            vals = pa.array(payload, type=to_arrow_type(self.value_type))
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise ValueError(
                f"from_iterable pump: chunk {self._n} (elements "
                f"{self._i}..{self._i + len(values) - 1}) does not conform to "
                f"the stream's element type {self.value_type.simpleString()}, "
                "which was fixed by `returns`/first-chunk inference — a "
                "streaming schema cannot change mid-stream. Pass returns=... "
                "for a wider type, or pre-convert elements."
            ) from e
        tbl = pa.table({INDEX_COL: idx, VALUE_COL: vals})
        tmp = os.path.join(self.dir, f".tmp-{self._n}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.dir, f"chunk-{self._n:08d}.parquet"))
        self._i += len(values)
        self._n += 1
        return len(values)

    def feed(self, n_chunks: int = 1) -> int:
        """Advance the iterable by up to n_chunks × chunk_size elements and
        publish them to the stream. Returns elements written (less when the
        iterable ends — ``exhausted`` flips and further feeds are no-ops)."""
        written = 0
        for _ in range(n_chunks):
            if self.exhausted:
                break
            written += self._write_chunk(self._pull())
        return written

    @property
    def stage(self) -> Stage:
        reader = self.spark.readStream.schema(self.schema)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        st = Stage(reader.parquet(self.dir), scalar=True, pickled=self.pickled)
        st.pump = self
        return st

    def sink(self, stage_or_df, output_mode: str = "append") -> PumpSink:
        df = stage_or_df.df if isinstance(stage_or_df, Stage) else stage_or_df
        return PumpSink(df, output_mode)


def from_iterable_source(
    factory: tp.Union[str, tp.Callable[[], tp.Any]],
    *,
    spark: tp.Optional[SparkSession] = None,
    returns: tp.Optional[tp.Union[str, T.DataType]] = None,
    chunk_size: int = 1000,
    limit: tp.Optional[int] = None,
    replayable: bool = False,
) -> Stage:
    """Unbounded iterable as a Spark 4 PYTHON DATA SOURCE stream.

    The Spark-4-native sibling of ``from_iterable(unbounded=True)``: instead
    of the file-pump, the generator is pulled inside the engine's source
    runner with engine-managed offsets (see datasource.py). Because the
    reader lives in another process, it takes a FACTORY — an importable
    ``"module:callable"`` or any picklable callable returning a fresh
    iterable — not a live generator (which can't cross processes; use the
    pump for those).

    ``returns`` fixes the element type; when omitted and the factory is
    callable, one throwaway instance is peeked (≤200 elements) to infer it —
    so an impure factory should pass ``returns`` explicitly. No common type
    → pickled BinaryType fallback, same as the bounded path. ``limit`` stops
    the source after N elements so ``processAllAvailable`` drains terminate;
    leave unset for a truly endless stream paced by your own trigger.
    ``replayable=True`` declares the factory deterministic, enabling
    restart-from-checkpoint replay.
    """
    from .. import datasource as DS

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        from ..session import get_spark

        spark = get_spark()
    DS.ensure_registered(spark)

    if isinstance(returns, str):
        returns = T._parse_datatype_string(returns)
    if returns is None:
        if isinstance(factory, str):
            import importlib

            mod, _, attr = factory.partition(":")
            peek_factory = getattr(importlib.import_module(mod), attr)
        else:
            peek_factory = factory
            import warnings

            # A module-path factory string gets a FRESH instance per call, so
            # the peek below is free. A plain callable may be impure (e.g. it
            # closes over a shared generator): the peeked elements are then
            # consumed from that shared state and never reach the stream.
            # Surface the peek instead of doing it silently (ADVICE r3).
            warnings.warn(
                "from_iterable_datasource: no `returns` given — inferring the "
                "element type by consuming up to 200 elements from one "
                "factory() instance. If the factory is impure (shares state "
                "across calls), those elements are lost from the stream; "
                "pass `returns` explicitly to skip the peek.",
                stacklevel=3,
            )
        probe = iter(peek_factory())
        sample = []
        for _ in range(200):
            try:
                sample.append(next(probe))
            except StopIteration:
                break
        returns = infer.infer_common_type(sample)
    pickled = returns is None

    opts = {
        "chunk_size": str(max(int(chunk_size), 1)),
        "pickled": "true" if pickled else "false",
        "value_type": "binary" if pickled else returns.simpleString(),
        "replayable": "true" if replayable else "false",
    }
    if limit is not None:
        opts["limit"] = str(int(limit))
    if isinstance(factory, str):
        opts["factory"] = factory
    else:
        opts["factory_pickle"] = DS._encode_factory(factory)

    df = spark.readStream.format(DS.FORMAT_NAME).options(**opts).load()
    return Stage(df, scalar=True, pickled=pickled)


def from_iterable(
    iterable: tp.Any,
    maxsize: int = 0,  # noqa: ARG001 - parity knob on the bounded path
    use_thread: bool = True,  # noqa: ARG001 - parity knob
    spark: tp.Optional[SparkSession] = None,
    returns: tp.Optional[tp.Union[str, T.DataType]] = None,
    unbounded: bool = False,
    chunk_size: int = 1000,
) -> Stage:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        from ..session import get_spark

        spark = get_spark()

    if unbounded:
        pump = IterablePump(
            spark,
            iterable,
            chunk_size=chunk_size,
            returns=returns,
            max_files_per_trigger=maxsize or None,
        )
        return pump.stage

    values = _drain(iterable)

    if isinstance(returns, str):
        returns = T._parse_datatype_string(returns)
    out_type = returns if returns is not None else infer.infer_common_type(values[:200])
    if out_type is not None and len(values) > 200:
        # make sure the tail agrees too; fall back to pickle on any clash
        full = infer.infer_common_type(values)
        out_type = full if returns is None else out_type
    pickled = out_type is None

    value_type = T.BinaryType() if pickled else out_type
    schema = T.StructType(
        [
            T.StructField(INDEX_COL, T.ArrayType(T.LongType()), False),
            T.StructField(VALUE_COL, value_type, True),
        ]
    )
    if pickled:
        values = [infer.dumps(v) for v in values]
    if _arrow_exact(to_arrow_type(value_type)):
        n = len(values)
        index = pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32)), pa.array(np.arange(n, dtype=np.int64))
        )
        data = pa.table({INDEX_COL: index, VALUE_COL: infer.to_arrow(values, value_type)})
    else:
        data = [([i], v) for i, v in enumerate(values)]
    stage = Stage(spark.createDataFrame(data, schema=schema), scalar=True, pickled=pickled)
    # both sources slice their rows contiguously across partitions
    stage.range_partitioned = True
    return stage
