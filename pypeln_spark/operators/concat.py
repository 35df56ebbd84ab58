"""concat — bag union of N stages
(reference: pypeln/process/api/concat.py:13-55; arrival-interleaved there,
partition-interleaved here — both are 'order nondeterministic', and the sync
variant's determinism is recovered via ``ordered``).

Lowering: ``unionByName`` chain — Catalyst flattens it into one Union node;
no shuffle. Mixed typed/pickled inputs degrade to the pickled representation
so arbitrary stages always concat (same anything-goes contract as the
reference).
"""

from __future__ import annotations

import functools
import typing as tp

from .. import infer
from ..stage import Stage, to_stage
from ..utils import INDEX_COL, VALUE_COL
from . import _common


def concat(stages: tp.List[tp.Any], maxsize: int = 0) -> Stage:  # noqa: ARG001
    lifted = [to_stage(s) for s in stages]
    if not lifted:
        raise ValueError("concat requires at least one stage")
    if len(lifted) == 1:
        return lifted[0]

    if not all(s.scalar for s in lifted):
        dfs = [s.df for s in lifted]
        df = functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        return Stage(df, scalar=False, pickled=False)

    any_pickled = any(s.pickled for s in lifted)
    typed = {s.df.schema[VALUE_COL].dataType.simpleString() for s in lifted if not s.pickled}
    if any_pickled or len(typed) > 1:
        lifted = [_pickle_stage(s) for s in lifted]
        any_pickled = True

    has_index = all(s.has_index for s in lifted)
    cols = ([INDEX_COL] if has_index else []) + [VALUE_COL]
    df = functools.reduce(
        lambda a, b: a.unionByName(b), [s.df.select(*cols) for s in lifted]
    )
    return Stage(df, scalar=True, pickled=any_pickled)


def _pickle_stage(stage: Stage) -> Stage:
    """Typed scalar stage → pickled representation (for heterogeneous
    concat); fused onto the stage's run of harness functions."""
    if stage.pickled:
        return stage
    return _common.recode(stage, infer.dumps, None)
