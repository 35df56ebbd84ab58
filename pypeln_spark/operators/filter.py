"""filter — keep elements where the predicate holds
(reference: pypeln/process/api/filter.py:18-126). Index and payload pass
through untouched.

Column fast path → Catalyst ``Filter`` (pushes down to the scan when the
stage is a file source). General path → boolean-mask inside the fused
``mapInPandas`` (``_common.fuse``) so the original (possibly pickled)
values are re-emitted unchanged.
"""

from __future__ import annotations

import typing as tp

from ..stage import Stage, to_stage
from ..utils import UNDEFINED, VALUE_COL, curry_stage
from . import _common


@curry_stage
def filter(  # noqa: A001
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    mode: str = "process",
) -> Stage:
    stage = to_stage(stage)

    if _common.is_column(f):
        return _common.successor(
            stage, stage.df.filter(f), pickled=stage.pickled, scalar=stage.scalar
        )

    # the output is the input rows, so it keeps the input's value type
    out_type = None if stage.pickled else stage.df.schema[VALUE_COL].dataType
    return _common.harness_stage(
        f, stage, "filter", out_type, mode=mode, workers=workers, timeout=timeout,
        on_start=on_start, on_done=on_done,
    )
