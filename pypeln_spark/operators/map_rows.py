"""map_rows — Python functions over TABLE stages (row-dict in → row-dict out).

The reference flows arbitrary objects, so its ``map`` covers this case
implicitly; on the Spark side scalar pipelines use ``map`` while table
pipelines get this operator: ``f`` receives each row as a plain dict and
returns a dict (new/changed keys allowed). Same harness contract as map —
on_start/on_done, worker_info/element_index DI, per-element timeout, and
the thread/task execution modes all apply.

Lowering: Arrow-batched ``mapInPandas``; rows are converted to dicts
per-batch (records orientation). Output schema: ``returns`` (DDL string or
StructType) if given, else sample-inferred by running ``f`` on up to 10
driver-side rows.
"""

from __future__ import annotations

import typing as tp

import pandas as pd
from pyspark.sql import types as T

from .. import harness as H, infer
from ..stage import Stage, to_stage
from ..utils import UNDEFINED, WorkerInfo, curry_stage, filter_kwargs


def _infer_row_schema(samples: tp.List[dict]) -> tp.Optional[T.StructType]:
    if not samples:
        return None
    keys = list(samples[0].keys())
    fields = []
    for k in keys:
        t = infer.infer_common_type([s.get(k) for s in samples])
        if t is None:
            return None
        fields.append(T.StructField(k, t, True))
    return T.StructType(fields)


@curry_stage
def map_rows(
    f: tp.Callable[[dict], dict],
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    returns: tp.Any = None,
    mode: str = "process",
) -> Stage:
    stage = to_stage(stage)
    df = stage.df

    if isinstance(returns, str):
        out_schema = T._parse_datatype_string(returns)
    elif isinstance(returns, T.StructType):
        out_schema = returns
    else:
        rows = [r.asDict() for r in df.take(10)]
        avail: tp.Dict[str, tp.Any] = {"worker_info": WorkerInfo(0)}
        try:
            if on_start is not None:
                # sample-inference runs on_start once driver-side (it runs
                # once per worker in real execution anyway)
                res = H._settle(on_start(**filter_kwargs(on_start, avail)), None)
                if res:
                    avail.update(res)
            kwargs = filter_kwargs(f, avail)
            out_schema = _infer_row_schema([f(dict(r), **kwargs) for r in rows])
        except Exception as exc:
            raise ValueError(
                "map_rows could not sample-infer the output schema "
                f"({exc!r}) — pass returns='col1 type1, ...'"
            ) from exc
        if out_schema is None:
            raise ValueError(
                "map_rows could not infer an output schema (empty input or "
                "un-typable values) — pass returns='col1 type1, ...'"
            )

    import concurrent.futures as cf
    import inspect

    out_cols = [fld.name for fld in out_schema.fields]

    def apply(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        H.forget_foreign_zip_importers()
        ctx = TaskContext.get()
        base_kwargs: tp.Dict[str, tp.Any] = {
            "worker_info": WorkerInfo(index=ctx.partitionId() if ctx else 0)
        }
        if on_start is not None:
            res = H._settle(on_start(**filter_kwargs(on_start, base_kwargs)), None)
            if res:
                base_kwargs.update(res)
        f_kwargs = filter_kwargs(f, base_kwargs)
        pool = (
            cf.ThreadPoolExecutor(max_workers=max(workers, 1))
            if mode == "thread"
            else None
        )
        watchdog = (
            cf.ThreadPoolExecutor(max_workers=max(workers, 4)) if timeout else None
        )

        def call(rec):
            if watchdog is not None:
                out = H._call_with_timeout_pool(watchdog, f, (rec,), f_kwargs, timeout)
                return None if isinstance(out, H._Dropped) else out
            return f(rec, **f_kwargs)

        n_processed = 0  # live per-worker counter → StageStatus.processed
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                n_processed += len(pdf)
                recs = pdf.to_dict("records")
                outs = list(pool.map(call, recs)) if pool else [call(r) for r in recs]
                outs = [o for o in outs if o is not None]
                if outs:
                    yield pd.DataFrame(
                        {c: [o.get(c) for o in outs] for c in out_cols}
                    )
        finally:
            if on_done is not None:
                from ..utils import StageStatus

                status = StageStatus(
                    processed=n_processed,
                    partition=base_kwargs["worker_info"].index,
                )
                H._settle(
                    on_done(**filter_kwargs(on_done, {**base_kwargs, "stage_status": status})),
                    None,
                )
            if pool is not None:
                pool.shutdown(wait=False)
            if watchdog is not None:
                watchdog.shutdown(wait=False)

    return Stage(df.mapInPandas(apply, schema=out_schema), scalar=False)
