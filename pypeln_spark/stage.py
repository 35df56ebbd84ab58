"""Stage — the engine's one pipeline abstraction.

A Stage wraps a (lazy) Spark DataFrame plus payload metadata:

- ``scalar``: the payload is a single ``value`` column (the reference's
  element-wise pipelines); multi-column stages are "table" pipelines that the
  relational layer operates on.
- ``pickled``: the ``value`` column holds pickled Python objects (opaque
  fallback; see infer.py).
- ``fusable_tail``: set on a Stage built by the general (Python) path of
  map / filter / flat_map / each: ``(base, steps)``, the DataFrame below
  the run of harness operators and the list of ``(mapInPandas function,
  declared output schema)`` pairs. The next general-path operator builds
  ONE ``mapInPandas`` over ``base`` with all functions composed
  (operators/_common.py ``fuse``), so an element-wise chain is one Python
  pass per partition. The type sample of an operator without ``returns=``
  runs the same functions on the driver over a prefix of ``base``
  (``_common.sample_values``). ``df`` is still the complete DataFrame of
  the run so far, so ``to_df`` and the relational passthrough see it
  unchanged. Column fast paths, ``concat``, ``ordered`` and relational ops
  end a run (their Stage has no tail).
- ``range_partitioned``: the partitions hold increasing, disjoint ``_index``
  ranges. Bounded ``from_iterable`` sets it (Spark slices its local table
  contiguously); partition-preserving element-wise operators and
  ``ordered`` keep it; every other Stage — ``concat``, ``with_index``,
  DataFrame lifting, the ``__getattr__`` passthrough, streaming sources,
  ``sync.to_stage`` — leaves it off. ``ordered`` uses it to sort within
  partitions instead of globally (see operators/ordered.py).

The DataFrame's logical plan IS the pipeline DAG — where the reference wires
``IterableQueue``s between Stage dataclasses (pypeln/process/stage.py:29-67),
we just compose Catalyst plans and let Spark schedule. Re-using one Stage as
the input of several operators gives DAG fan-out for free (the reference
broadcasts each element into k queues, pypeln/process/stage.py:34-39).

``stage | f`` applies f (Partial or any callable) — same pipe contract as
the reference's BaseStage.__or__ (pypeln/utils.py:69-75).
"""

from __future__ import annotations

import typing as tp

from pyspark.sql import DataFrame, functions as F

from . import infer
from .utils import INDEX_COL, VALUE_COL, Partial


class Stage:
    fusable_tail: tp.Optional[tp.Tuple[DataFrame, tuple]] = None
    range_partitioned: bool = False

    def __init__(self, df: DataFrame, scalar: bool | None = None, pickled: bool = False):
        self.df = df
        cols = df.columns
        payload = [c for c in cols if c != INDEX_COL]
        self.scalar = scalar if scalar is not None else payload == [VALUE_COL]
        self.pickled = pickled
        self.has_index = INDEX_COL in cols

    # -- composition ------------------------------------------------------
    def __or__(self, f: tp.Callable) -> tp.Any:
        if isinstance(f, Partial):
            return f(self)
        return f(self)

    # -- consumption (sinks live in operators/, these are conveniences) ----
    def __iter__(self) -> tp.Iterator[tp.Any]:
        from .operators.to_iterable import to_iterable

        return iter(to_iterable(self))

    def __await__(self):
        """``await stage`` → list of values (reference: task stages are
        Awaitable, pypeln/task/stage.py:105-115). Collect runs in a worker
        thread so the caller's event loop stays live."""
        import asyncio

        from .operators.to_iterable import to_iterable

        loop = asyncio.get_event_loop()
        return loop.run_in_executor(None, lambda: list(to_iterable(self))).__await__()

    def __repr__(self) -> str:
        kind = "scalar" if self.scalar else "table"
        return f"Stage<{kind}{', pickled' if self.pickled else ''}>({self.df.schema.simpleString()})"

    # -- payload helpers ----------------------------------------------------
    @property
    def payload_columns(self) -> tp.List[str]:
        return [c for c in self.df.columns if c != INDEX_COL]

    def with_index(self, *cols: str) -> "Stage":
        """Materialize the hierarchical order index from key columns.

        Table sources have no creation order; this declares one (the analogue
        of from_iterable's ``(i,)`` assignment,
        reference pypeln/process/api/from_iterable.py:22-28).
        """
        idx = F.array(*[F.col(c).cast("long") for c in cols])
        return Stage(self.df.withColumn(INDEX_COL, idx), scalar=self.scalar, pickled=self.pickled)

    def drop_index(self) -> "Stage":
        if not self.has_index:
            return self
        return Stage(self.df.drop(INDEX_COL), scalar=self.scalar, pickled=self.pickled)

    def decode(self) -> "Stage":
        """Force a pickled stage back to a typed column (drops to driver types
        via a pandas UDF; use when downstream wants columnar ops)."""
        if not self.pickled:
            return self
        from .operators._common import decode_pickled

        return decode_pickled(self)

    # -- DataFrame passthrough ---------------------------------------------
    def to_df(self) -> DataFrame:
        return self.df

    def __getattr__(self, name: str) -> tp.Any:
        """Delegate unknown attributes to the underlying DataFrame so the
        relational layer is a zero-cost veneer; DataFrame-returning methods
        are re-wrapped into Stages."""
        attr = getattr(self.df, name)
        if callable(attr):
            def wrapped(*args, **kwargs):
                out = attr(*args, **kwargs)
                if isinstance(out, DataFrame):
                    return Stage(out, pickled=self.pickled if VALUE_COL in out.columns else False)
                return out

            return wrapped
        return attr


def to_stage(obj: tp.Any, spark=None) -> Stage:
    """Coerce anything into a Stage (reference: pypeln/process/api/to_stage.py:9-13).

    Stage → itself; DataFrame → wrapped; iterable → from_iterable.
    """
    if isinstance(obj, Stage):
        return obj
    if isinstance(obj, DataFrame):
        return Stage(obj)
    if hasattr(obj, "__iter__") or hasattr(obj, "__aiter__"):
        from .operators.from_iterable import from_iterable

        return from_iterable(obj, spark=spark)
    raise TypeError(f"cannot lift {type(obj)!r} into a Stage")
