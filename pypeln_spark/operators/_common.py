"""Shared driver-side helpers for the element-wise operators, including the
one place general-path operators are lowered: ``harness_stage`` builds the
operator's harness function and ``fuse`` appends it to the input stage's
run of harness functions, so a chain of them stays one ``mapInPandas``."""

from __future__ import annotations

import typing as tp

from pyspark.sql import Column, DataFrame, types as T

from .. import harness, infer
from ..stage import Stage
from ..utils import INDEX_COL, VALUE_COL, WorkerInfo, filter_kwargs


def parse_returns(returns: tp.Union[None, str, T.DataType]) -> tp.Optional[T.DataType]:
    if returns is None:
        return None
    if isinstance(returns, T.DataType):
        return returns
    return T._parse_datatype_string(returns)


def sample_values(stage: Stage, n: int = 1) -> tp.List[tp.Any]:
    rows = stage.df.select(VALUE_COL).take(n)
    vals = [r[VALUE_COL] for r in rows]
    if stage.pickled:
        vals = [infer.loads(v) for v in vals]
    return vals


def infer_out_type(
    f: tp.Callable, stage: Stage, kind: str
) -> tp.Optional[T.DataType]:
    """Apply ``f`` to one sampled element driver-side and infer the Spark type
    of the result. Any failure (f needs on_start resources, raises, yields an
    un-typable object) → None, which selects the pickled fallback — always
    correct, never fast. Pass ``returns=`` to skip the sample call entirely.
    """
    try:
        samples = sample_values(stage, 10)
        if not samples:
            # empty input: keep the input type, output is empty anyway
            return stage.df.schema[VALUE_COL].dataType if not stage.pickled else None
        kwargs = filter_kwargs(f, {"worker_info": WorkerInfo(0), "element_index": (0,)})
        outs = []
        for s in samples:
            out = f(s, **kwargs)
            if kind == "flat_map":
                outs.extend(list(out)[:20])
            else:
                outs.append(out)
        return infer.infer_common_type(outs)
    except Exception:
        return None


def is_column(f: tp.Any) -> bool:
    return isinstance(f, Column)


def successor(
    stage: Stage,
    df: DataFrame,
    pickled: bool,
    scalar: bool = True,
    tail: tp.Optional[tuple] = None,
) -> Stage:
    """The Stage a partition-preserving element-wise operator makes from
    ``stage``: it keeps the partition-range property; ``tail`` is set only
    by ``fuse``, so any other lowering ends the fusable run."""
    out = Stage(df, scalar=scalar, pickled=pickled)
    out.range_partitioned = stage.range_partitioned
    out.fusable_tail = tail
    return out


def fuse(stage: Stage, fn: tp.Callable, out_type: tp.Optional[T.DataType]) -> Stage:
    """Append the mapInPandas function ``fn`` (declared output value type
    ``out_type``; None = pickled) to ``stage``: one ``mapInPandas`` over the
    DataFrame below the stage's run of harness functions, or over the
    stage itself when it has no such run."""
    schema = harness.output_schema(out_type, stage.has_index)
    if stage.fusable_tail is not None:
        base, steps = stage.fusable_tail
    else:
        cols = ([INDEX_COL] if stage.has_index else []) + [VALUE_COL]
        base, steps = stage.df.select(*cols), ()
    steps = steps + ((fn, schema),)
    df = base.mapInPandas(harness.fuse(steps, base.sparkSession), schema=schema)
    return successor(stage, df, pickled=out_type is None, tail=(base, steps))


def harness_stage(
    f: tp.Callable,
    stage: Stage,
    kind: str,
    out_type: tp.Optional[T.DataType],
    *,
    mode: str,
    workers: int,
    timeout: float,
    on_start: tp.Optional[tp.Callable],
    on_done: tp.Optional[tp.Callable],
) -> Stage:
    """Lower a general-path map/filter/flat_map/each application."""
    fn = harness.make_apply(
        f,
        kind=kind,
        mode=mode,
        workers=workers,
        timeout=timeout,
        on_start=on_start,
        on_done=on_done,
        in_pickled=stage.pickled,
        out_pickled=out_type is None,
        has_index=stage.has_index,
    )
    return fuse(stage, fn, out_type)


def decode_pickled(stage):
    """Pickled Stage → typed Stage (sample-infer the element type)."""
    rows = stage.df.select(VALUE_COL).take(20)
    samples = [infer.loads(r[VALUE_COL]) for r in rows]
    out_type = infer.infer_common_type(samples)
    if out_type is None:
        return stage  # nothing better available

    def conv(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf[VALUE_COL] = pdf[VALUE_COL].map(infer.loads)
            yield pdf

    return fuse(stage, conv, out_type)
