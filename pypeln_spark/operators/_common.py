"""Shared driver-side helpers for the element-wise operators, including the
one place general-path operators are lowered: ``harness_stage`` builds the
operator's harness function and ``fuse`` appends it to the input stage's
run of harness functions, so a chain of them stays one ``mapInPandas``."""

from __future__ import annotations

import typing as tp

import pyarrow as pa
from pyspark.sql import Column, DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import harness, infer
from ..stage import Stage
from ..utils import INDEX_COL, VALUE_COL, WorkerInfo, filter_kwargs
from .to_iterable import collect_rows


def parse_returns(returns: tp.Union[None, str, T.DataType]) -> tp.Optional[T.DataType]:
    if returns is None:
        return None
    if isinstance(returns, T.DataType):
        return returns
    return T._parse_datatype_string(returns)


def _tail_sample(stage: Stage, n: int) -> tp.Optional[tp.List[tp.Any]]:
    """The first ``n`` values of a Stage with a ``fusable_tail``, computed
    on the driver: a prefix of ``base`` (``limit(k).collect()``, no Spark
    job on a local source) becomes the pandas batch a worker would get,
    and the run's fused function (``harness.fuse``, per-operator
    ``on_start``/``on_done`` included) maps it in process. ``k`` grows
    geometrically up to one Arrow batch; None when that prefix still
    yields fewer than ``n`` outputs and ``base`` has more rows."""
    base, steps = stage.fusable_tail
    spark = base.sparkSession
    fn = harness.fuse(steps, spark)
    ser = harness.arrow_serializer(*harness.arrow_conf(spark))
    in_type, out_schema = to_arrow_type(base.schema), steps[-1][1]
    out_type = to_arrow_type(out_schema)
    value_type = out_schema[VALUE_COL].dataType
    batch_max = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    k = n
    while True:
        rows = collect_rows(base.limit(k))
        columns = [infer.to_arrow([r[i] for r in rows], f.dataType)
                   for i, f in enumerate(base.schema.fields)]
        batch = ser.arrow_to_pandas(pa.StructArray.from_arrays(columns, fields=list(in_type)), 0)
        values = []
        for pdf in fn(iter([batch])):
            out = ser._create_struct_array(pdf, out_type, spark_type=out_schema)
            values += infer.from_arrow(out.field(VALUE_COL), value_type)
        if len(values) >= n or len(rows) < k:
            return values[:n]
        if k >= batch_max:
            return None
        k = min(4 * k, batch_max)


def sample_values(stage: Stage, n: int = 1) -> tp.List[tp.Any]:
    """The first ``n`` element values of ``stage`` (unpickled), as
    ``take(n)`` returns them. A Stage that ends a run of harness functions
    gets them from a driver-side run of that run over a prefix of its base;
    ``take(n)`` is the fallback when that prefix is not enough or a function
    fails on the driver."""
    vals = None
    if stage.fusable_tail is not None:
        try:
            vals = _tail_sample(stage, n)
        except Exception:
            vals = None  # e.g. a function that works only inside a task
    if vals is None:
        vals = [r[VALUE_COL] for r in collect_rows(stage.df.select(VALUE_COL).limit(n))]
    if stage.pickled:
        vals = [infer.loads(v) for v in vals]
    return vals


def infer_out_type(
    f: tp.Callable, stage: Stage, kind: str
) -> tp.Optional[T.DataType]:
    """Infer the Spark type of ``f``'s results from its outputs on the
    stage's first 10 elements, called driver-side (``sample_values``). When
    the input ends a run of harness functions, those elements come from
    running the run itself on the driver, so the upstream operators'
    ``on_start``/``on_done`` run on the driver during inference, besides
    the executor tasks that later run the chain. ``f`` itself is called
    without its ``on_start`` resources. Any failure (f needs those
    resources, raises, yields an un-typable object) → None, which selects
    the pickled fallback — always correct, never fast. Pass ``returns=`` to
    skip inference entirely.
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
    out_type = infer.infer_common_type(sample_values(stage, 20))
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
