"""map_rows — Python functions over TABLE stages (row-dict in → row-dict out).

The reference flows arbitrary objects, so its ``map`` covers this case
implicitly; on the Spark side scalar pipelines use ``map`` while table
pipelines get this operator: ``f`` receives each row as a plain dict and
returns a dict (new/changed keys allowed), or None to drop the row. It runs
in the same per-partition worker as ``map`` (``harness.Partition``):
on_start/on_done, ``worker_info`` DI, per-element timeout (a timed-out row
is dropped), the thread mode and async functions all apply. Table rows
carry no ``_index``, so an ``element_index`` parameter receives None.

Lowering: Arrow-batched ``mapInPandas``; rows are converted to dicts
per-batch (records orientation). Output schema: ``returns`` (DDL string or
StructType) if given, else sample-inferred by running ``f`` on up to 10
driver-side rows through the same worker (``on_start`` included, no
``on_done``).
"""

from __future__ import annotations

import typing as tp

import pandas as pd
from pyspark.sql import types as T

from .. import harness as H, infer
from ..stage import Stage, to_stage
from ..utils import UNDEFINED, curry_stage


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


def _rows(results: tp.List[tp.Any]) -> tp.List[dict]:
    """The results a ``Partition`` run produced, without the rows ``f``
    dropped (None) or that timed out."""
    return [r for r in results if r is not None and not isinstance(r, H._Dropped)]


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
    worker = dict(mode=mode, workers=workers, timeout=timeout, on_start=on_start)

    if isinstance(returns, str):
        out_schema = T._parse_datatype_string(returns)
    elif isinstance(returns, T.StructType):
        out_schema = returns
    else:
        rows = [r.asDict() for r in df.take(10)]
        try:
            with H.Partition(f, **worker) as part:
                out_schema = _infer_row_schema(_rows(part.run(rows)))
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

    out_cols = [fld.name for fld in out_schema.fields]

    def apply(batches: tp.Iterator[pd.DataFrame]) -> tp.Iterator[pd.DataFrame]:
        with H.Partition(f, on_done=on_done, **worker) as part:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                outs = _rows(part.run(pdf.to_dict("records")))
                if outs:
                    yield pd.DataFrame({c: [o.get(c) for o in outs] for c in out_cols})

    fn = H.fuse([(apply, out_schema)], df.sparkSession)
    return Stage(df.mapInPandas(fn, schema=out_schema), scalar=False)
