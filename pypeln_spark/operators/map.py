"""map — apply f to every element (reference: pypeln/process/api/map.py:18-126).

Order is NOT guaranteed (same as the reference under workers>1); the
hierarchical index rides along untouched so ``ordered`` can restore creation
order downstream.

Two lowerings:
- **Column fast path**: ``pl.map(F.col("value") * 2, data)`` → a pure
  Catalyst projection (whole-stage codegen, zero Python).
- **General path**: arbitrary Python callable → Arrow-batched ``mapInPandas``
  through the lifecycle/DI/timeout harness (harness.py), fused with the
  general-path operators directly before it into one ``mapInPandas``
  (``_common.fuse``). Output type comes from ``returns=`` or a driver-side
  sample call on up to 10 elements; untypable results fall back to pickled
  BinaryType.
"""

from __future__ import annotations

import typing as tp

from ..stage import Stage, to_stage
from ..utils import INDEX_COL, UNDEFINED, VALUE_COL, curry_stage
from . import _common


@curry_stage
def map(  # noqa: A001
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob; Spark pulls, no queues
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    returns: tp.Any = None,
    mode: str = "process",
) -> Stage:
    stage = to_stage(stage)

    if _common.is_column(f):
        cols = ([INDEX_COL] if stage.has_index else []) + [f.alias(VALUE_COL)]
        return _common.successor(stage, stage.df.select(*cols), pickled=False)

    out_type = _common.parse_returns(returns)
    if out_type is None:
        out_type = _common.infer_out_type(f, stage, "map")
    return _common.harness_stage(
        f, stage, "map", out_type, mode=mode, workers=workers, timeout=timeout,
        on_start=on_start, on_done=on_done,
    )
