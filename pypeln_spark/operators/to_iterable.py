"""Sinks: to_iterable / to_async_iterable
(reference: pypeln/process/api/to_iterable.py:26-53, task/api/to_iterable.py:78-111).

RECOMMENDED USAGE — pass ``maxsize>0`` for anything that might be large::

    for row in pl.to_iterable(stage, maxsize=1):   # partition-at-a-time
        ...

A local iterator (Spark's ``toLocalIterator`` protocol) then pulls one
partition at a time to the driver, and its socket is closed as soon as the
rows run out or the consumer stops — the same bounded-memory intent as the reference's ``maxsize`` on the main
queue. The default ``maxsize=0`` matches the reference's "unbounded main
queue" semantics: ONE collect() job, i.e. the whole result materializes in
driver memory at once — fine for aggregates and samples, wrong for a
full-table sink (a warning fires past COLLECT_WARN_ROWS rows).
``return_index=True`` yields full ``Element(index, value)`` records.
"""

from __future__ import annotations

import contextlib
import typing as tp
import warnings

from .. import infer
from ..stage import Stage, to_stage
from ..utils import INDEX_COL, UNDEFINED, VALUE_COL, curry_stage

# maxsize=0 collects past this many rows -> advise the bounded path. The
# check is post-collect (len() of the already-built list) so the hot path
# never pays an extra Spark job for the advice.
COLLECT_WARN_ROWS = 100_000


def collect_rows(df) -> tp.List[tp.Any]:
    """``df.collect()`` over a socket it closes: PySpark's own collect leaves
    that to garbage collection (an unclosed-socket ``ResourceWarning``)."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import local_connect_and_auth

    with SCCallSiteSync(df.sparkSession.sparkContext):
        port, secret = tuple(df._jdf.collectToPython())[:2]
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)  # job time is unbounded
    try:
        return list(BatchedSerializer(CPickleSerializer()).load_stream(sockfile))
    finally:
        sockfile.close()
        sock.close()


def _local_rows(df) -> tp.Iterator[tp.Any]:
    """``df.toLocalIterator(prefetchPartitions=True)`` that owns its socket.

    PySpark's own local iterator drops the socket object and leaves its
    closing to garbage collection (an unclosed-socket ``ResourceWarning``).
    This speaks the same per-partition protocol — ask with 1, the JVM
    answers 1 plus one partition's rows, 0 when done, -1 on error — and
    closes the socket in ``finally``, so it is released when the rows run
    out and also when the consumer stops early (``close()``)."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer, read_int, write_int
    from pyspark.util import local_connect_and_auth

    port, secret, server = df._jdf.toPythonIterator(True)
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)  # partition collection time is unbounded
    status = 1
    rows: tp.Iterator[tp.Any] = iter(())
    try:
        while status == 1:
            write_int(1, sockfile)
            sockfile.flush()
            status = read_int(sockfile)
            if status == 1:
                rows = BatchedSerializer(CPickleSerializer()).load_stream(sockfile)
                yield from rows
            elif status == -1:
                server.getResult()  # re-raises the JVM-side error
    finally:
        if status == 1:
            # stopped mid-stream: finish this partition, then tell the
            # JVM to stop serving
            try:
                for _ in rows:
                    pass
                write_int(0, sockfile)
                sockfile.flush()
            except (OSError, EOFError):
                pass  # the JVM side already closed; nothing left to tell it
        sockfile.close()
        sock.close()


class Element(tp.NamedTuple):
    index: tp.Tuple[int, ...]
    value: tp.Any


@curry_stage
def to_iterable(
    stage: tp.Any = UNDEFINED,
    maxsize: int = 0,  # noqa: ARG001 - toLocalIterator already bounds memory
    return_index: bool = False,
) -> tp.Iterable[tp.Any]:
    stage = to_stage(stage)
    df = stage.df

    def rows_of(d):
        # maxsize=0 means "unbounded buffer" in the reference — one collect()
        # job. maxsize>0 asks for bounded memory → a local iterator pulls one
        # partition at a time (one job per partition, slower but bounded).
        if maxsize and maxsize > 0:
            yield from _local_rows(d)
            return
        rows = collect_rows(d)
        if len(rows) > COLLECT_WARN_ROWS:
            warnings.warn(
                f"to_iterable(maxsize=0) collected {len(rows):,} rows into "
                "driver memory in one job; pass maxsize>0 to pull one "
                "partition at a time with bounded memory",
                ResourceWarning,
                stacklevel=4,
            )
        yield from rows

    if not stage.scalar:
        # table stage: yield Rows (or dicts) — closest to the reference's
        # "values are whatever you put in"
        with contextlib.closing(rows_of(df)) as rows:
            for row in rows:
                yield row.asDict()
        return

    cols = ([INDEX_COL] if (return_index and stage.has_index) else []) + [VALUE_COL]
    with contextlib.closing(rows_of(df.select(*cols))) as rows:
        for row in rows:
            v = row[VALUE_COL]
            if stage.pickled and v is not None:
                v = infer.loads(v)
            if return_index and stage.has_index:
                yield Element(tuple(row[INDEX_COL]), v)
            else:
                yield v


async def to_async_iterable(
    stage: tp.Any = UNDEFINED,
    maxsize: int = 0,
    return_index: bool = False,
) -> tp.AsyncIterator[tp.Any]:
    """Async wrapper over to_iterable — pulls Spark partitions in a thread so
    the event loop stays responsive (reference: task/api/to_iterable.py)."""
    import asyncio

    it = iter(to_iterable(stage, maxsize=maxsize, return_index=return_index))
    loop = asyncio.get_event_loop()
    sentinel = object()
    while True:
        item = await loop.run_in_executor(None, next, it, sentinel)
        if item is sentinel:
            return
        yield item
