"""Executor-side UDF harness.

Everything the reference's Worker/Supervisor machinery did
(pypeln/process/worker.py:52-174, pypeln/process/supervisor.py:13-56) that
Spark does NOT give us for free is emulated here, inside ``mapInPandas``
iterator functions. ``make_apply`` builds one such function per operator
application (``Iterator[pdf] -> Iterator[pdf]``), and everything below is
per operator and per partition:

- ``on_start`` / ``on_done`` lifecycle (reference runs them once per
  worker: pypeln/process/worker.py:78-118) — init before the first Arrow
  batch, teardown in a ``finally`` once the operator's input is exhausted.
- dependency injection by parameter name: ``worker_info`` (→ partition id),
  ``element_index``, ``stage_status``, plus any keys returned by ``on_start``
  (reference: pypeln/process/worker.py:71-118).
- per-element ``timeout``: the slow element is dropped and the stream
  continues (reference kills+restarts the worker process,
  pypeln/process/supervisor.py:26-32; a thread/asyncio watchdog is the
  Spark-safe equivalent — killing the task would retry the whole partition).
- execution modes: ``process``/``sync`` → plain loop (Spark already gives
  process parallelism across partitions); ``thread`` → ThreadPoolExecutor of
  ``workers`` threads per partition for blocking-IO fns; ``task`` → a real
  asyncio event loop per partition with an ``asyncio.Semaphore(workers)``,
  mirroring the reference's TaskPool (pypeln/task/worker.py:217-244).

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

Elements cross the JVM↔Python boundary as Arrow batches (vectorized), not
pickled one-at-a-time queue puts — the single biggest perf win over the
reference's design at scale.
"""

from __future__ import annotations

import asyncio
import concurrent.futures as cf
import inspect
import typing as tp

import pandas as pd
from pyspark import TaskContext
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


def _call_with_timeout_pool(pool: cf.ThreadPoolExecutor, fn, args, kwargs, timeout: float):
    """Run fn in a watchdog thread; TimeoutError → sentinel _DROPPED.

    The abandoned thread keeps running (Python can't kill threads) but is a
    daemon and its result is discarded — same observable semantics as the
    reference's worker restart: the element disappears, the pipeline lives
    (pypeln/process/api/map_process_test.py:63-76).
    """
    fut = pool.submit(fn, *args, **kwargs)
    try:
        return fut.result(timeout=timeout)
    except cf.TimeoutError:
        return _DROPPED


class _Dropped:
    pass


_DROPPED = _Dropped()


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
    """Build the ``mapInPandas`` function for one operator application."""

    is_coro = asyncio.iscoroutinefunction(f)
    is_async_gen = inspect.isasyncgenfunction(f)

    def apply(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        worker_info = WorkerInfo(index=ctx.partitionId() if ctx else 0)
        base_kwargs: tp.Dict[str, tp.Any] = {"worker_info": worker_info}
        if on_start is not None:
            resources = on_start(**filter_kwargs(on_start, base_kwargs))
            if resources:
                base_kwargs.update(resources)
        f_kwargs = filter_kwargs(f, base_kwargs)
        wants_index = "element_index" in (inspect.signature(f).parameters if callable(f) else {})

        watchdog = (
            cf.ThreadPoolExecutor(max_workers=max(workers, 4), thread_name_prefix="pypeln-watchdog")
            if timeout and not (is_coro or is_async_gen)
            else None
        )
        io_pool = (
            cf.ThreadPoolExecutor(max_workers=max(workers, 1), thread_name_prefix="pypeln-thread")
            if mode == "thread" and not (is_coro or is_async_gen)
            else None
        )

        def decode(v):
            return infer.loads(v) if in_pickled else v

        def encode(v):
            return infer.dumps(v) if out_pickled else v

        def call_one(x, idx):
            kw = dict(f_kwargs)
            if wants_index:
                kw["element_index"] = tuple(idx) if idx is not None else None
            if watchdog is not None:
                return _call_with_timeout_pool(watchdog, f, (x,), kw, timeout)
            return f(x, **kw)

        def emit(rows: tp.List[tp.Tuple[tp.Optional[list], tp.Any]]) -> pd.DataFrame:
            data: tp.Dict[str, tp.Any] = {}
            if has_index:
                data[INDEX_COL] = [r[0] for r in rows]
            data[VALUE_COL] = pd.Series([r[1] for r in rows], dtype="object")
            return pd.DataFrame(data)

        def process_batch_sync(pdf: pd.DataFrame) -> tp.List[tp.Tuple[tp.Optional[list], tp.Any]]:
            out: tp.List[tp.Tuple[tp.Optional[list], tp.Any]] = []
            idxs = pdf[INDEX_COL].tolist() if has_index else [None] * len(pdf)
            vals = pdf[VALUE_COL].tolist()

            def run_elem(pair):
                idx, raw = pair
                x = decode(raw)
                res = call_one(x, idx)
                return idx, res

            if io_pool is not None:
                results = list(io_pool.map(run_elem, zip(idxs, vals)))
            else:
                results = [run_elem(p) for p in zip(idxs, vals)]

            for idx, res in results:
                if isinstance(res, _Dropped):
                    continue
                ilist = list(idx) if idx is not None else None
                if kind == "map":
                    out.append((ilist, encode(res)))
                elif kind == "flat_map":
                    for j, y in enumerate(res):
                        child = (ilist + [j]) if ilist is not None else None
                        out.append((child, encode(y)))
                # each: emit nothing
            return out

        def process_batch_filter(pdf: pd.DataFrame) -> pd.DataFrame:
            # filter keeps original rows — evaluate predicate, boolean-mask
            idxs = pdf[INDEX_COL].tolist() if has_index else [None] * len(pdf)
            vals = pdf[VALUE_COL].tolist()

            def pred(pair):
                idx, raw = pair
                res = call_one(decode(raw), idx)
                return bool(res) and not isinstance(res, _Dropped)

            if io_pool is not None:
                mask = list(io_pool.map(pred, zip(idxs, vals)))
            else:
                mask = [pred(p) for p in zip(idxs, vals)]
            return pdf[pd.Series(mask, index=pdf.index)]

        async def process_batch_async(pdf: pd.DataFrame):
            sem = asyncio.Semaphore(max(workers, 1))
            idxs = pdf[INDEX_COL].tolist() if has_index else [None] * len(pdf)
            vals = pdf[VALUE_COL].tolist()

            async def run_elem(idx, raw):
                x = decode(raw)
                kw = dict(f_kwargs)
                if wants_index:
                    kw["element_index"] = tuple(idx) if idx is not None else None
                async with sem:
                    try:
                        if is_async_gen:
                            # the whole generator consumption is one element's
                            # work → one timeout budget, like the sync watchdog
                            async def _consume():
                                return [y async for y in f(x, **kw)]

                            if timeout:
                                return idx, await asyncio.wait_for(_consume(), timeout)
                            return idx, await _consume()
                        coro = f(x, **kw)
                        if not inspect.isawaitable(coro):
                            return idx, coro
                        if timeout:
                            return idx, await asyncio.wait_for(coro, timeout)
                        return idx, await coro
                    except asyncio.TimeoutError:
                        return idx, _DROPPED

            results = await asyncio.gather(*[run_elem(i, v) for i, v in zip(idxs, vals)])
            out = []
            for idx, res in results:
                if isinstance(res, _Dropped):
                    continue
                ilist = list(idx) if idx is not None else None
                if kind == "map":
                    out.append((ilist, encode(res)))
                elif kind == "flat_map":
                    for j, y in enumerate(res):
                        out.append(((ilist + [j]) if ilist is not None else None, encode(y)))
            return out

        async def process_batch_async_filter(pdf: pd.DataFrame):
            sem = asyncio.Semaphore(max(workers, 1))
            idxs = pdf[INDEX_COL].tolist() if has_index else [None] * len(pdf)
            vals = pdf[VALUE_COL].tolist()

            async def pred(idx, raw):
                kw = dict(f_kwargs)
                if wants_index:
                    kw["element_index"] = tuple(idx) if idx is not None else None
                async with sem:
                    try:
                        res = f(decode(raw), **kw)
                        if inspect.isawaitable(res):
                            if timeout:
                                res = await asyncio.wait_for(res, timeout)
                            else:
                                res = await res
                        return bool(res)
                    except asyncio.TimeoutError:
                        # timed-out element is dropped — same as the sync
                        # watchdog's _DROPPED semantics
                        return False

            mask = await asyncio.gather(*[pred(i, v) for i, v in zip(idxs, vals)])
            return pdf[pd.Series(list(mask), index=pdf.index)]

        loop = asyncio.new_event_loop() if (is_coro or is_async_gen) else None
        n_processed = 0  # live per-worker counter → StageStatus.processed
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                n_processed += len(pdf)
                if loop is not None:
                    if kind == "filter":
                        yield loop.run_until_complete(process_batch_async_filter(pdf))
                    else:
                        rows = loop.run_until_complete(process_batch_async(pdf))
                        if rows:
                            yield emit(rows)
                elif kind == "filter":
                    yield process_batch_filter(pdf)
                else:
                    rows = process_batch_sync(pdf)
                    if rows:
                        yield emit(rows)
        finally:
            if on_done is not None:
                status = StageStatus(
                    processed=n_processed, partition=worker_info.index
                )
                kw = filter_kwargs(on_done, {**base_kwargs, "stage_status": status})
                res = on_done(**kw)
                if loop is not None and inspect.isawaitable(res):
                    loop.run_until_complete(res)
            if loop is not None:
                loop.close()
            if watchdog is not None:
                watchdog.shutdown(wait=False)
            if io_pool is not None:
                io_pool.shutdown(wait=False)

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
    from the session's Arrow settings."""
    if len(steps) == 1:
        return steps[0][0]
    conf = arrow_conf(spark)
    hops = [_arrow_hop(schema, conf) for _, schema in steps[:-1]]

    def fused(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        for (fn, _), hop in zip(steps, hops):
            batches = hop(fn(batches))
        return steps[-1][0](batches)

    return fused
