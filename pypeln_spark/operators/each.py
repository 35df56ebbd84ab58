"""each — side-effect sink, emits nothing
(reference: pypeln/process/api/each.py:18-141).

Lowering: the harness with ``kind="each"`` (f runs, zero rows out), fused
like map's, so that on_start/on_done, DI and timeout all behave exactly
like map's; with
``run=True`` the empty result is drained immediately through Spark's noop
sink — the analogue of the reference's eager self-iteration
(each.py:137-141). The open/process/close contract of Spark's ForeachWriter
is the same shape as on_start/f/on_done (SURVEY.md §3.3).
"""

from __future__ import annotations

import typing as tp

from ..stage import Stage, to_stage
from ..utils import UNDEFINED, curry_stage
from . import _common


@curry_stage
def each(
    f: tp.Callable,
    stage: tp.Any = UNDEFINED,
    workers: int = 1,
    maxsize: int = 0,  # noqa: ARG001 - parity knob
    timeout: float = 0,
    on_start: tp.Optional[tp.Callable] = None,
    on_done: tp.Optional[tp.Callable] = None,
    run: bool = False,
    mode: str = "process",
) -> tp.Optional[Stage]:
    stage = to_stage(stage)

    out = _common.harness_stage(
        f, stage, "each", None, mode=mode, workers=workers, timeout=timeout,
        on_start=on_start, on_done=on_done,
    )
    if run:
        from .run import run as _run

        _run(out)
        return None
    return out
