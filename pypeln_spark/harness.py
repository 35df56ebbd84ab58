"""Executor-side UDF harness.

Everything the reference's Worker/Supervisor machinery did
(pypeln/process/worker.py:52-174, pypeln/process/supervisor.py:13-56) that
Spark does NOT give us for free is emulated here, inside ``mapInPandas``
iterator functions. One ``Partition`` runs an operator's Python function
over one partition; ``make_apply`` (the element operators) and
``map_rows`` (table rows) are thin batch adapters around it. Per operator
and per partition it owns:

- ``on_start`` / ``on_done`` lifecycle (reference runs them once per
  worker: pypeln/process/worker.py:78-118) — init before the first Arrow
  batch, teardown once the operator's input is exhausted or fails.
  Either may be async: its result is awaited on the partition's event loop,
  or on a loop of its own when the operator's function is sync.
- dependency injection by parameter name: ``worker_info`` (→ partition id),
  ``element_index`` (None when the input carries no ``_index``),
  ``stage_status``, plus any keys returned by ``on_start`` (reference:
  pypeln/process/worker.py:71-118).
- per-element ``timeout``: the slow element is dropped and the stream
  continues (reference kills+restarts the worker process,
  pypeln/process/supervisor.py:26-32; a thread/asyncio watchdog is the
  Spark-safe equivalent — killing the task would retry the whole partition).
- how ``f`` runs, decided by ``f`` first and the namespace second: an async
  ``f`` (coroutine or async generator) runs on an asyncio event loop per
  partition with an ``asyncio.Semaphore(workers)``, under any namespace,
  mirroring the reference's TaskPool (pypeln/task/worker.py:217-244); a
  sync ``f`` runs a plain loop (Spark already gives process parallelism
  across partitions), under ``pl.task`` too; ``thread`` adds a
  ThreadPoolExecutor of ``workers`` threads per partition for
  blocking-IO functions.

**Fusion.** A run of consecutive general-path operators is ONE
``mapInPandas``: ``fuse`` chains their functions so every element makes
one Python pass per partition, instead of one Python worker and one
JVM↔Python Arrow round trip per operator. Between two fused functions an
in-process *Arrow hop* hands the next function exactly what a real
``mapInPandas`` boundary would: the batch is converted to Arrow with the
upstream operator's declared schema and back to pandas, through the same
PySpark serializer code the Python worker uses (so a ``returns="long"``
function that returns floats or ``None`` is coerced identically, and
``_index`` arrives as numpy arrays either way).

**Task entry.** Every function handed to ``mapInPandas`` first runs
``forget_foreign_zip_importers``. A reused Python worker calls
``importlib.invalidate_caches()`` at the start of each task, and on Python
3.11 every ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
whole archive directory. With the standard ``SPARK_HOME`` layout the worker
imports pyspark from ``pyspark.zip``, so about 16 such importers (one per
imported pyspark sub-package, plus the spark-core jar's) cost 0.2-0.6 s per
task on a 4-vCPU host (SCALING.md). The entry step drops the
``zipimporter`` entries whose archive lies outside the SparkFiles root; the
cache is only a cache, and a later import that needs one of them recreates
it from ``zipimport``'s directory cache without reading the archive.
Archives shipped with ``addPyFile`` or ``--py-files`` live under that root
and keep their per-task re-read.

Elements cross the JVM↔Python boundary as Arrow batches (vectorized), not
pickled one-at-a-time queue puts — the single biggest perf win over the
reference's design at scale.
"""

from __future__ import annotations

import asyncio
import concurrent.futures as cf
import inspect
import os
import sys
import typing as tp
import zipimport

import pandas as pd
from pyspark import SparkFiles, TaskContext
from pyspark.sql import types as T

from . import infer
from .utils import INDEX_COL, VALUE_COL, StageStatus, WorkerInfo, filter_kwargs

Kind = tp.Literal["map", "flat_map", "filter", "each"]


def output_schema(out_type: tp.Optional[T.DataType], with_index: bool) -> T.StructType:
    fields = []
    if with_index:
        fields.append(T.StructField(INDEX_COL, T.ArrayType(T.LongType()), True))
    fields.append(
        T.StructField(VALUE_COL, out_type if out_type is not None else T.BinaryType(), True)
    )
    return T.StructType(fields)


def forget_foreign_zip_importers() -> None:
    """Inside a task, drop from ``sys.path_importer_cache`` every
    ``zipimporter`` whose archive lies outside the SparkFiles root, so the
    next task's ``importlib.invalidate_caches()`` does not re-read those
    archives. A no-op outside a task."""
    if TaskContext.get() is None:
        return
    root = os.path.join(SparkFiles.getRootDirectory(), "")
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not finder.archive.startswith(root):
            sys.path_importer_cache.pop(path, None)


def _settle(res, loop: tp.Optional[asyncio.AbstractEventLoop]):
    """``res``, or what it resolves to when it is awaitable: awaited on the
    partition's ``loop``, or on a fresh loop when the harness has none."""
    if not inspect.isawaitable(res):
        return res
    if loop is not None:
        return loop.run_until_complete(res)
    fresh = asyncio.new_event_loop()
    try:
        return fresh.run_until_complete(res)
    finally:
        fresh.close()


class _Dropped:
    pass


_DROPPED = _Dropped()


class Partition:
    """One operator's Python function over one partition — the reference's
    ``Worker`` (pypeln/process/worker.py:52-174), shared by every operator
    that runs a Python function per element (``make_apply``, ``map_rows``).

    Entering it settles ``on_start`` and sets up the function's kwargs, its
    event loop (an async ``f``) or thread pool (``thread`` mode) and its
    timeout watchdog (a sync ``f``); leaving it runs ``on_done`` with the
    partition's ``StageStatus`` and frees them. ``run`` applies ``f`` to a
    batch of values in order; a timed-out element's result is ``_DROPPED``,
    an async generator's is the list of what it yields.

    A closure that is pickled by value (an ``apply`` built by
    ``make_apply``) carries its own copy of ``_DROPPED``, so callers test a
    result with ``isinstance(res, _Dropped)``.
    """

    def __init__(self, f, *, mode, workers, timeout, on_start, on_done=None):
        self.f, self.workers, self.timeout = f, max(workers, 1), timeout
        self.mode, self.on_start, self.on_done = mode, on_start, on_done
        self.is_async = asyncio.iscoroutinefunction(f) or inspect.isasyncgenfunction(f)

    def __enter__(self) -> "Partition":
        ctx = TaskContext.get()
        self.info = WorkerInfo(index=ctx.partitionId() if ctx else 0)
        self.kwargs: tp.Dict[str, tp.Any] = {"worker_info": self.info}
        self.loop = asyncio.new_event_loop() if self.is_async else None
        if self.on_start is not None:
            try:
                kw = filter_kwargs(self.on_start, self.kwargs)
                self.kwargs.update(_settle(self.on_start(**kw), self.loop) or {})
            except BaseException:
                if self.loop is not None:
                    self.loop.close()
                raise
        self.f_kwargs = filter_kwargs(self.f, {**self.kwargs, "element_index": None})
        self.wants_index = "element_index" in self.f_kwargs
        self.watchdog = (
            cf.ThreadPoolExecutor(max_workers=max(self.workers, 4), thread_name_prefix="pypeln-watchdog")
            if self.timeout and not self.is_async
            else None
        )
        self.pool = (
            cf.ThreadPoolExecutor(max_workers=self.workers, thread_name_prefix="pypeln-thread")
            if self.mode == "thread" and not self.is_async
            else None
        )
        self.processed = 0  # live per-worker counter → StageStatus.processed
        return self

    def __exit__(self, *exc) -> None:
        try:
            if self.on_done is not None:
                status = StageStatus(processed=self.processed, partition=self.info.index)
                kw = filter_kwargs(self.on_done, {**self.kwargs, "stage_status": status})
                _settle(self.on_done(**kw), self.loop)
        finally:
            if self.loop is not None:
                self.loop.close()
            for pool in (self.watchdog, self.pool):
                if pool is not None:
                    pool.shutdown(wait=False)

    def run(self, values: tp.List[tp.Any], idxs: tp.Optional[tp.List[tp.Any]] = None) -> tp.List[tp.Any]:
        """``f`` over ``values``; ``idxs`` (the elements' ``_index``s, None
        each or all when the input has none) feeds ``element_index``."""
        self.processed += len(values)
        idxs = idxs or [None] * len(values)
        if self.loop is not None:
            return self.loop.run_until_complete(self._gather(values, idxs))
        if self.pool is not None:
            return list(self.pool.map(self._call, values, idxs))
        return [self._call(x, idx) for x, idx in zip(values, idxs)]

    def _kw(self, idx) -> tp.Dict[str, tp.Any]:
        if not self.wants_index:
            return self.f_kwargs
        return {**self.f_kwargs, "element_index": tuple(idx) if idx is not None else None}

    def _call(self, x, idx):
        """A sync ``f`` on one element. Under a timeout it runs in a
        watchdog thread; an abandoned thread keeps running (Python can't
        kill threads) but its result is discarded — the reference's worker
        restart, observably: the element disappears, the pipeline lives
        (pypeln/process/api/map_process_test.py:63-76)."""
        if self.watchdog is None:
            return self.f(x, **self._kw(idx))
        fut = self.watchdog.submit(self.f, x, **self._kw(idx))
        try:
            return fut.result(timeout=self.timeout)
        except cf.TimeoutError:
            return _DROPPED

    async def _gather(self, values, idxs):
        """An async ``f`` over a batch, at most ``workers`` elements at a
        time (the reference's TaskPool, pypeln/task/worker.py:217-244)."""
        sem = asyncio.Semaphore(self.workers)

        async def consume(gen):
            return [y async for y in gen]

        async def one(x, idx):
            async with sem:
                res = self.f(x, **self._kw(idx))
                if inspect.isasyncgen(res):
                    # the whole generator is one element's work → one budget
                    res = consume(res)
                elif not inspect.isawaitable(res):
                    return res
                if not self.timeout:
                    return await res
                try:
                    return await asyncio.wait_for(res, self.timeout)
                except asyncio.TimeoutError:
                    return _DROPPED

        return await asyncio.gather(*[one(x, idx) for x, idx in zip(values, idxs)])


def make_apply(
    f: tp.Callable,
    *,
    kind: Kind,
    mode: str = "process",
    workers: int = 1,
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    in_pickled: bool = False,
    out_pickled: bool = False,
    has_index: bool = False,
):
    """Build the ``mapInPandas`` function for one operator application:
    each batch's values go through the partition's ``Partition.run``, and
    ``kind`` turns the results into rows — ``filter`` masks the input rows,
    ``map`` emits one row per result, ``flat_map`` one per yielded child
    (index ``idx + [j]``), ``each`` none."""

    def apply(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        with Partition(
            f, mode=mode, workers=workers, timeout=timeout, on_start=on_start, on_done=on_done
        ) as part:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                values = pdf[VALUE_COL].tolist()
                if in_pickled:
                    values = [infer.loads(v) for v in values]
                idxs = pdf[INDEX_COL].tolist() if has_index else [None] * len(pdf)
                results = part.run(values, idxs)
                if kind == "filter":
                    mask = [bool(r) and not isinstance(r, _Dropped) for r in results]
                    yield pdf[pd.Series(mask, index=pdf.index)]
                if kind not in ("map", "flat_map"):
                    continue  # each: f ran for its effects
                rows: tp.List[tp.Tuple[tp.Optional[list], tp.Any]] = []
                for idx, res in zip(idxs, results):
                    if isinstance(res, _Dropped):
                        continue
                    idx = list(idx) if idx is not None else None
                    if kind == "map":
                        rows.append((idx, res))
                    else:
                        rows += [(idx + [j] if idx is not None else None, y) for j, y in enumerate(res)]
                if rows:
                    data: tp.Dict[str, tp.Any] = {INDEX_COL: [r[0] for r in rows]} if has_index else {}
                    vals = [infer.dumps(r[1]) if out_pickled else r[1] for r in rows]
                    data[VALUE_COL] = pd.Series(vals, dtype="object")
                    yield pd.DataFrame(data)

    return apply


def arrow_conf(spark) -> tp.Tuple[str, bool, bool]:
    """The session's Arrow settings, as the Python worker reads them: time
    zone, safe casting, int→decimal coercion."""
    get = spark.conf.get
    return (
        get("spark.sql.session.timeZone"),
        get("spark.sql.execution.pandas.convertToArrowArraySafely", "false") == "true",
        get("spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled", "false")
        == "true",
    )


def arrow_serializer(timezone: str, safecheck: bool, int_to_decimal: bool):
    """The serializer a ``mapInPandas`` worker converts its batches with."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer

    return ArrowStreamPandasUDFSerializer(
        timezone,
        safecheck,
        True,  # assign output columns by name
        df_for_struct=True,
        arrow_cast=True,
        int_to_decimal_coercion_enabled=int_to_decimal,
    )


def _arrow_hop(schema: T.StructType, conf: tp.Tuple[str, bool, bool]):
    """The in-process stand-in for a ``mapInPandas`` boundary: convert each
    batch to Arrow with ``schema`` (the upstream operator's declared output)
    and back, with the serializer the Python worker itself uses."""
    from pyspark.sql.pandas.types import to_arrow_type

    def hop(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        ser = arrow_serializer(*conf)
        arrow_type = to_arrow_type(schema)
        for pdf in batches:
            arr = ser._create_struct_array(pdf, arrow_type, spark_type=schema)
            yield ser.arrow_to_pandas(arr, 0)

    return hop


def fuse(steps: tp.Sequence[tp.Tuple[tp.Callable, T.StructType]], spark):
    """One ``mapInPandas`` function for a run of ``(apply, output schema)``
    steps: each step's output reaches the next through an Arrow hop set up
    from the session's Arrow settings. The function starts with the task
    entry step (``forget_foreign_zip_importers``)."""
    conf = arrow_conf(spark) if len(steps) > 1 else None
    hops = [_arrow_hop(schema, conf) for _, schema in steps[:-1]]

    def fused(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        forget_foreign_zip_importers()
        for (fn, _), hop in zip(steps, hops):
            batches = hop(fn(batches))
        return steps[-1][0](batches)

    return fused
