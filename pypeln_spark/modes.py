"""The four reference namespaces — one engine, four execution hints.

The reference ships the SAME functional API four times (process / thread /
task / sync, README.md:28-148); on Spark they all lower to the same Catalyst
plans, differing only in how the Python harness runs user fns inside a
partition (SURVEY.md §1.3):

- ``process``: plain loop — Spark's task parallelism across partitions IS the
  multi-process pool.
- ``thread``: a ThreadPoolExecutor of ``workers`` threads per partition, for
  blocking-IO callables.
- ``task``: the namespace for async callables and 1000-way IO concurrency:
  an asyncio loop per partition with Semaphore(workers) (the reference's
  TaskPool, pypeln/task/worker.py:217-244). A sync callable runs the plain
  loop here.
- ``sync``: ``pl.sync.to_stage`` coalesces its input to one partition —
  deterministic, the golden oracle, the role pl.sync plays in the
  reference's own tests (pypeln/sync/stage.py:36-47). The operators do not:
  ``pl.sync.map(f, data)`` runs like ``pl.process.map(f, data)``.

Whatever the namespace, an async callable runs on the partition's event
loop (``harness.Partition``).
"""

from __future__ import annotations

import functools
import typing as tp

from .operators import (
    concat,
    each,
    filter,  # noqa: A004
    flat_map,
    from_iterable,
    map,  # noqa: A004
    ordered,
    run,
    to_async_iterable,
    to_iterable,
)
from .stage import Stage, to_stage


class _Mode:
    def __init__(self, mode: str):
        self._mode = mode
        self.from_iterable = from_iterable
        self.to_iterable = to_iterable
        self.concat = concat
        self.ordered = ordered
        self.run = run
        from .operators import map_rows

        for name, op in (
            ("map", map),
            ("map_rows", map_rows),
            ("flat_map", flat_map),
            ("filter", filter),
            ("each", each),
        ):
            setattr(self, name, functools.partial(op, mode=mode))
        if mode == "task":
            self.to_async_iterable = to_async_iterable

    def to_stage(self, obj: tp.Any) -> Stage:
        s = to_stage(obj)
        if self._mode == "sync":
            return Stage(s.df.coalesce(1), scalar=s.scalar, pickled=s.pickled)
        return s


process = _Mode("process")
thread = _Mode("thread")
task = _Mode("task")
sync = _Mode("sync")
