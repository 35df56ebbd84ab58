"""Spark 4 Python Data Source lowering for unbounded Python iterables.

The IterablePump (operators/from_iterable.py) feeds a live generator into
Structured Streaming by writing parquet chunks into a monitored directory —
correct, but the offsets live in filenames and the driver owns the pacing.
This module is the Spark-4-NATIVE alternative: a registered Python data
source (``spark.dataSource.register``) whose ``SimpleDataSourceStreamReader``
pulls straight from the generator inside the source-runner process. No temp
files, offsets managed by the engine's checkpoint, exactly-once from the
reader's prefetch cache (entries are retained until ``commit``), and restart
recovery via ``readBetweenOffsets`` when the factory is deterministic.

Reference parity: pypeln consumes infinite (async) iterables with queue
backpressure (pypeln/task/api/from_iterable.py:14-83). Here backpressure is
trigger pacing — each micro-batch pulls at most ``chunk_size`` elements, and
the generator only advances when the engine asks for the next offset range.

A generator cannot cross a process boundary, so the source receives a
FACTORY for one, not the generator itself: either an importable
``"module:callable"`` path or a cloudpickled callable (lambdas and closures
ride by value — the same serialization the UDF harness uses). The element
type is fixed before the stream starts (data source options are strings, so
it ships as a DDL string); values with no common Spark type ride the pickled
BinaryType fallback exactly like the bounded path (infer.py).

At cluster scale this is the shape you'd keep: the simple-reader variant
runs on the driver side (right for a driver-resident Python generator —
there is exactly one cursor), executors receive the prefetched Arrow
batches, and a partition-parallel source would instead implement
``streamReader`` with per-partition offset ranges.
"""

from __future__ import annotations

import base64
import importlib
import os
import typing as tp

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

FORMAT_NAME = "pypeln_iterable"


def _encode_factory(factory: tp.Callable[[], tp.Any]) -> str:
    from pyspark import cloudpickle

    return base64.b64encode(cloudpickle.dumps(factory)).decode("ascii")


def _resolve_factory(options: tp.Mapping[str, str]) -> tp.Callable[[], tp.Any]:
    path = options.get("factory")
    if path:
        mod, _, attr = path.partition(":")
        if not attr:
            raise ValueError(
                f"factory must be 'module:callable', got {path!r}"
            )
        return getattr(importlib.import_module(mod), attr)
    blob = options.get("factory_pickle")
    if blob:
        from pyspark import cloudpickle

        return cloudpickle.loads(base64.b64decode(blob))
    raise ValueError("pypeln_iterable needs a 'factory' or 'factory_pickle' option")


class IterableStreamReader(SimpleDataSourceStreamReader):
    """Offset = count of elements emitted so far ({"i": n}).

    ``read`` advances the live generator by one chunk; the engine caches the
    returned rows until ``commit``, so a micro-batch that fails before
    commit is re-served from the cache, never re-pulled from the generator
    (exactly-once without cooperation from the iterable).

    ``readBetweenOffsets`` is only invoked after a RESTART from checkpoint,
    when the cache is gone. A generator cannot be rewound, so restart
    recovery requires ``replayable=true`` — a deterministic factory whose
    fresh generator is fast-forwarded to the requested offset. Without it,
    restart raises with a clear message (the reference has the same
    asymmetry: a pypeln pipeline over an exhausted generator cannot be
    re-run either).
    """

    def __init__(self, options: tp.Mapping[str, str]):
        self._options = dict(options)
        self._chunk = max(int(options.get("chunk_size", "1000")), 1)
        self._limit = int(options.get("limit", "-1"))
        self._pickled = options.get("pickled", "false") == "true"
        self._replayable = options.get("replayable", "false") == "true"
        self._it: tp.Optional[tp.Iterator[tp.Any]] = None
        self._pos = 0  # elements consumed from the CURRENT generator

    def initialOffset(self) -> dict:
        return {"i": 0}

    def _seek(self, target: int) -> tp.Iterator[tp.Any]:
        """Position the live generator at element `target`. A fresh reader
        (query restart) starts a fresh generator at 0 while the checkpoint
        offset may be far ahead — without this, restarted reads would pull
        early elements and mislabel them with later indices. Deterministic
        factories fast-forward; non-replayable ones must refuse."""
        if self._it is None:
            self._it = iter(_resolve_factory(self._options)())
            self._pos = 0
        if self._pos == target:
            return self._it
        if not self._replayable:
            raise RuntimeError(
                f"pypeln_iterable: reader is at element {self._pos} but the "
                f"engine asked for {target} (query restarted from a "
                "checkpoint?). A live generator cannot seek; declare "
                "replayable=true for a deterministic factory, or start "
                "without the old checkpoint."
            )
        if target < self._pos:  # rewind → fresh generator, then skip
            self._it = iter(_resolve_factory(self._options)())
            self._pos = 0
        while self._pos < target:
            try:
                next(self._it)
            except StopIteration:
                break
            self._pos += 1
        return self._it

    def _encode(self, i: int, v: tp.Any) -> tuple:
        if self._pickled:
            from . import infer

            v = infer.dumps(v)
        return ([i], v)

    def read(self, start: dict) -> tp.Tuple[tp.Iterator[tuple], dict]:
        s = int(start["i"])
        budget = self._chunk
        if self._limit >= 0:
            budget = min(budget, self._limit - s)
        rows = []
        it = self._seek(s)
        for j in range(max(budget, 0)):
            try:
                v = next(it)
            except StopIteration:
                break
            self._pos += 1
            rows.append(self._encode(s + j, v))
        return iter(rows), {"i": s + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict) -> tp.Iterator[tuple]:
        s, e = int(start["i"]), int(end["i"])
        if not self._replayable:
            raise RuntimeError(
                "pypeln_iterable: restart-from-checkpoint needs to replay "
                f"elements {s}..{e - 1}, but the factory was not declared "
                "replayable=true (a live generator cannot be rewound). "
                "Restart with a deterministic factory, or start a fresh "
                "query without the old checkpoint."
            )
        it = iter(_resolve_factory(self._options)())
        out = []
        for i in range(e):
            try:
                v = next(it)
            except StopIteration:
                break
            if i >= s:
                out.append(self._encode(i, v))
        return iter(out)

    def commit(self, end: dict) -> None:  # cache eviction is engine-side
        pass


class IterableDataSource(DataSource):
    """``spark.readStream.format("pypeln_iterable")`` — see module docstring.

    Options:
      factory         "module:callable" returning an iterable (fresh per call)
      factory_pickle  base64 cloudpickle of such a callable (lambdas/closures)
      value_type      DDL type of the value column (default: binary + pickled)
      pickled         "true" → values are pickled into BinaryType
      chunk_size      elements pulled per micro-batch (backpressure knob)
      limit           stop advancing after N elements (drains terminate);
                      unset → truly unbounded, pace with your own trigger
      replayable      "true" → factory is deterministic; enables restart
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        value_type = self.options.get("value_type", "binary")
        return f"_index array<bigint> not null, value {value_type}"

    def simpleStreamReader(self, schema) -> IterableStreamReader:  # noqa: ARG002
        return IterableStreamReader(self.options)


_REGISTERED_FLAG = "_pypeln_iterable_ds_registered"


def ensure_registered(spark: SparkSession) -> None:
    """Idempotently register the data source with this session's context.

    The source's Python processes unpickle ``IterableDataSource``, so they
    must import this package; under a plain SparkSession (no get_spark
    PYTHONPATH export) nothing else makes it importable. The package is
    shipped with ``addPyFile``, which reaches the planner and the
    executors, and the registered source's environment also names the
    shipped zip on PYTHONPATH: the streaming source runner, a driver-side
    process, is not handed the context's py-files."""
    from .session import ship_package

    if getattr(spark, _REGISTERED_FLAG, False):
        return
    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ship_package(spark), saved) if p
    )
    try:
        spark.dataSource.register(IterableDataSource)
    finally:
        if saved is None:
            del env["PYTHONPATH"]
        else:
            env["PYTHONPATH"] = saved
    setattr(spark, _REGISTERED_FLAG, True)
