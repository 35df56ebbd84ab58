"""flat_map — 1→N expansion (reference: pypeln/process/api/flat_map.py:18-143).

Child elements extend the parent's hierarchical index with their emission
position: ``child.index = parent.index + (j,)`` (flat_map.py:26-28) — the
property that makes ``ordered`` recover source order even through nested
expansions.

Lowerings:
- **Column fast path**: pass an array Column → ``posexplode`` where the
  emitted ``pos`` IS the appended index component.
- **General path**: Python callable returning an iterable (task mode also
  accepts async generators, reference task/api/flat_map.py:24-46) →
  the fused ``mapInPandas`` (``_common.fuse``) yielding multiple rows per
  input.

flat_map subsumes map+filter (reference notes this at flat_map.py:93-100):
return [y] to map, [] to drop.
"""

from __future__ import annotations

import typing as tp

from pyspark.sql import functions as F

from ..stage import Stage, to_stage
from ..utils import INDEX_COL, UNDEFINED, VALUE_COL, curry_stage
from . import _common


@curry_stage
def flat_map(
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    returns: tp.Any = None,
    mode: str = "process",
) -> Stage:
    stage = to_stage(stage)

    if _common.is_column(f):
        # posexplode: pos is the new trailing index component
        if stage.has_index:
            df = stage.df.select(INDEX_COL, F.posexplode(f).alias("_pos", VALUE_COL))
            df = df.select(
                F.concat(F.col(INDEX_COL), F.array(F.col("_pos").cast("long"))).alias(INDEX_COL),
                VALUE_COL,
            )
        else:
            df = stage.df.select(F.posexplode(f).alias("_pos", VALUE_COL)).drop("_pos")
        return _common.successor(stage, df, pickled=False)

    out_type = _common.parse_returns(returns)
    if out_type is None:
        out_type = _common.infer_out_type(f, stage, "flat_map")
    return _common.harness_stage(
        f, stage, "flat_map", out_type, mode=mode, workers=workers, timeout=timeout,
        on_start=on_start, on_done=on_done,
    )
