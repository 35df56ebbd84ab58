"""element_pipeline: the pypeln operator surface, iterated.

One request is one pipeline iteration over freshly seeded records:

    from_iterable -> process.map (CPU, returns=) -> process.filter
      -> task.map (async, seeded 0-9 ms sleeps, workers>1)
      -> process.flat_map (dict output, no returns=: infer sample + pickled
         path) -> ordered() -> to_iterable

The operators and the executor harness do nearly all the work; streaming,
dedup and similarity are idle. The reference result is the same chain in
plain Python.
"""

from __future__ import annotations

import asyncio
import statistics
import time

import pypeln_spark as pl

from . import gen

N_ELEMENTS = 1000  # records per iteration
WORKERS = 32  # task.map concurrency per partition
NOMINAL_ITER_S = 4.0  # one warm iteration on a 4-vCPU host
_TAGS = ("a", "b", "c")


def cpu_fn(x: int) -> int:
    h = x
    for _ in range(64):
        h = (h * 1103515245 + 12345) & 0x7FFFFFFF
    return h


def keep(y: int) -> bool:
    return y % 4 != 0


def delay_ms(y: int) -> int:
    return y % 10


async def io_fn(y: int) -> int:
    await asyncio.sleep(delay_ms(y) / 1000.0)
    return y // 3


def expand(z: int) -> list:
    # mixed value types: the element type cannot be inferred, so the stage
    # output takes the pickled path
    return [{"id": z, "tag": _TAGS[z % 3], "pos": j} for j in range(z % 3)]


def reference(records: list) -> dict:
    """Source position -> the outputs the chain must emit for it."""
    out = {}
    for i, x in enumerate(records):
        y = cpu_fn(x)
        if keep(y):
            items = expand(y // 3)
            if items:
                out[i] = items
    return out


def check(records: list, output: list) -> int:
    """Failed source elements: those whose emitted outputs differ from the
    reference, or that are emitted out of order. ``output`` is the
    ``to_iterable(return_index=True)`` list."""
    ref = reference(records)
    got: dict = {}
    bad = set()
    last = None
    for el in output:
        src = el.index[0]
        if last is not None and tuple(el.index) < last:
            bad.add(src)
        last = tuple(el.index)
        got.setdefault(src, []).append(el.value)
    for i in set(ref) | set(got):
        if ref.get(i) != got.get(i):
            bad.add(i)
    return len(bad)


class _Probes:
    """Accumulators the traced chain adds to from inside its functions."""

    def __init__(self, sc):
        self.calls = sc.accumulator(0)
        self.busy = sc.accumulator(0.0)
        self.slept = sc.accumulator(0.0)
        self.opened = sc.accumulator(0.0)

    def snapshot(self) -> tuple:
        return (self.calls.value, self.busy.value, self.slept.value, self.opened.value)

    def chain(self):
        calls, busy, slept, opened = self.calls, self.busy, self.slept, self.opened

        def timed(f):
            def g(x):
                t = time.perf_counter()
                try:
                    return f(x)
                finally:
                    calls.add(1)
                    busy.add(time.perf_counter() - t)

            return g

        async def io_traced(y):
            # busy time excludes the await: the event loop runs other
            # elements meanwhile
            t = time.perf_counter()
            d = delay_ms(y) / 1000.0
            t_wait = time.perf_counter()
            await asyncio.sleep(d)
            t_back = time.perf_counter()
            out = y // 3
            calls.add(1)
            slept.add(d)
            busy.add((t_wait - t) + (time.perf_counter() - t_back))
            return out

        def on_start():
            return {"t_open": time.perf_counter()}

        def on_done(t_open):
            opened.add(time.perf_counter() - t_open)

        return timed(cpu_fn), timed(keep), io_traced, timed(expand), on_start, on_done


class ElementPipeline:
    name = "element_pipeline"

    def __init__(self, spark, seed: int, seconds: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.n_iter = max(1, round(seconds / NOMINAL_ITER_S))
        with tracer.span("setup.inputs"):
            # batch 0 is the warm-up request's
            self.batches = [
                gen.element_batch(seed, i, N_ELEMENTS) for i in range(self.n_iter + 1)
            ]
        self.probes = _Probes(spark.sparkContext) if tracer.enabled else None
        self.latencies: list = []
        self.outputs: list = []
        self.pickled_stages = 0

    def _build(self, records):
        if self.probes is None:
            f_cpu, f_keep, f_io, f_expand = cpu_fn, keep, io_fn, expand
            io_kw = {}
        else:
            f_cpu, f_keep, f_io, f_expand, on_start, on_done = self.probes.chain()
            io_kw = {"on_start": on_start, "on_done": on_done}
        stages = [pl.from_iterable(records)]
        stages.append(stages[-1] | pl.process.map(f_cpu, returns="long"))
        stages.append(stages[-1] | pl.process.filter(f_keep))
        stages.append(stages[-1] | pl.task.map(f_io, workers=WORKERS, returns="long", **io_kw))
        stages.append(stages[-1] | pl.process.flat_map(f_expand))
        stages.append(stages[-1] | pl.ordered())
        self.pickled_stages = sum(s.pickled for s in stages)
        return stages[-1]

    def _iteration(self, records):
        with self.tracer.span("operators.plan_build"):
            stage = self._build(records)
        with self.tracer.span("operators.drain"):
            return list(pl.to_iterable(stage, return_index=True))

    def warmup(self):
        self._iteration(self.batches[0])

    def run(self):
        self._acc0 = self.probes.snapshot() if self.probes else None
        for i in range(1, self.n_iter + 1):
            with self.tracer.request_span("request", i):
                t = time.perf_counter()
                out = self._iteration(self.batches[i])
                self.latencies.append(time.perf_counter() - t)
            self.outputs.append(out)

    @property
    def requests(self) -> int:
        return self.n_iter * N_ELEMENTS

    def check(self) -> dict:
        failed = sum(
            check(self.batches[i + 1], out) for i, out in enumerate(self.outputs)
        )
        # context baseline: the same chain in one Python thread, sleeping
        # each element's delay in turn
        base = []
        for records in self.batches[1:]:
            t = time.perf_counter()
            reference(records)
            cpu = time.perf_counter() - t
            sleep = sum(delay_ms(cpu_fn(x)) for x in records if keep(cpu_fn(x))) / 1000.0
            base.append(cpu + sleep)
        return {
            "attempted": self.requests,
            "failed": failed,
            "quality": 1.0 - failed / self.requests,
            "record": {
                "iterations": self.n_iter,
                "elements_per_iteration": N_ELEMENTS,
                "workers": WORKERS,
                "context_pure_python_iteration_s": statistics.median(base),
            },
        }

    def layer_metrics(self, jobs_of) -> dict:
        """Harness numbers from the traced chain's accumulators and the
        status store (``jobs_of(span_name)`` lists the jobs launched inside
        the timed region's spans of that name)."""
        calls, busy, slept, opened = (
            b - a for a, b in zip(self._acc0, self.probes.snapshot())
        )
        task_run = sum(j.run_s for name in ("operators.plan_build", "operators.drain")
                       for j in jobs_of(name))
        return {
            "harness.udf_calls": calls,
            "harness.udf_busy_s": busy,
            "harness.task_run_s": task_run,
            "harness.overhead_s": task_run - busy,
            "harness.io_overlap": slept / (WORKERS * opened) if opened else 0.0,
            "harness.pickled_stages": self.pickled_stages,
        }

    def close(self):
        pass
