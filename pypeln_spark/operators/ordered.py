"""ordered — emit elements sorted by their hierarchical creation index
(reference: pypeln/process/api/ordered.py:12-20). Arrays of bigint compare
lexicographically in Catalyst, which is exactly the reference's
``Element.index`` total order (docs/advanced.md:120).

Two lowerings, chosen by the input Stage's ``range_partitioned`` property
(stage.py):

- **Local sort** — the partitions already hold increasing, disjoint
  ``_index`` ranges (a bounded ``from_iterable`` followed only by
  partition-preserving element-wise operators; flat_map children extend
  their parent's index, so they stay inside its partition's range). Then
  ``sortWithinPartitions`` gives the total order: no range-sampling job
  (which would re-run the whole upstream Python chain) and no shuffle.
- **Global sort** — otherwise (``concat``, ``with_index``, lifted
  DataFrames, streaming sources): ``orderBy``, a distributed
  range-partitioned sort with disk spill. The reference buffers everything
  in one worker's memory and warns about OOM (ordered.py:65-66); this has
  no OOM cliff.

Streaming caveat: a global sort is only defined per-microbatch — use
``foreachBatch`` for that (SURVEY.md §7.3).
"""

from __future__ import annotations

import typing as tp

from pyspark.sql import functions as F

from ..stage import Stage, to_stage
from ..utils import INDEX_COL, UNDEFINED, curry_stage
from . import _common


@curry_stage
def ordered(stage: tp.Any = UNDEFINED, maxsize: int = 0) -> Stage:  # noqa: ARG001
    stage = to_stage(stage)
    if not stage.has_index:
        raise ValueError(
            "ordered() needs the hierarchical _index column; sources from "
            "from_iterable carry it automatically, table stages can declare "
            "one with Stage.with_index(*key_cols)"
        )
    if stage.range_partitioned:
        df = stage.df.sortWithinPartitions(F.col(INDEX_COL).asc())
    else:
        df = stage.df.orderBy(F.col(INDEX_COL).asc())
    return _common.successor(stage, df, pickled=stage.pickled, scalar=stage.scalar)
