"""Lifecycle, dependency-injection, timeout and async-mode contracts —
the reference's behavioral micro-contracts (SURVEY.md §5) re-expressed:

- on_start returns resources consumed by name  (map_process_test.py:97-119)
- worker_info injection                        (map_process_test.py:79-94)
- timeout drops exactly the slow element       (map_process_test.py:63-76)
- error type surfaces on the driver            (map_process_test.py:168-182)
- task mode runs async fns with concurrency    (task/api/map_task_test.py)
"""

import time

import pytest

import pypeln_spark as pl


def test_on_start_resources_injected(spark):
    def on_start():
        return {"factor": 10}

    def f(x, factor):
        return x * factor

    out = sorted(pl.map(f, [1, 2, 3], on_start=on_start, returns="long"))
    assert out == [10, 20, 30]


def test_on_start_worker_info_and_on_done(spark, tmp_path):
    marker = tmp_path / "done"

    def on_start(worker_info):
        assert worker_info.index >= 0
        return {"wid": worker_info.index}

    def on_done(stage_status):
        assert stage_status.done
        marker.write_text("yes")  # local mode: executor shares our fs

    def f(x, wid):
        return wid >= 0

    out = list(pl.map(f, [1, 2, 3], on_start=on_start, on_done=on_done, returns="boolean"))
    assert out == [True, True, True]
    assert marker.read_text() == "yes"


def test_stage_status_real_counts(spark, tmp_path):
    """on_done(stage_status) carries LIVE per-worker counters, not
    constants (reference: worker.py:189-214 keeps real bookkeeping):
    summing `processed` across workers recovers the exact element count,
    and each worker reports its own partition id. Covers both the scalar
    harness (pl.map) and the row harness (map_rows via process.map over a
    table stage is scalar too, so exercise map_rows through relational
    group-less row mapping)."""
    import json

    out_dir = tmp_path / "status"
    out_dir.mkdir()

    def on_done(stage_status, worker_info):
        assert stage_status.done and stage_status.active_workers == 0
        assert stage_status.partition == worker_info.index
        p = out_dir / f"w{worker_info.index}.json"
        p.write_text(json.dumps({"processed": stage_status.processed}))

    n = 40
    got = sorted(
        pl.map(lambda x: x * 2, list(range(n)), on_done=on_done, returns="long")
    )
    assert got == [2 * i for i in range(n)]
    counts = [
        json.loads(p.read_text())["processed"] for p in out_dir.glob("w*.json")
    ]
    # every element was counted by exactly one worker, live, executor-side
    assert sum(counts) == n and all(c >= 0 for c in counts)

    # row harness (map_rows) keeps the same contract
    row_dir = tmp_path / "status_rows"
    row_dir.mkdir()

    def on_done_rows(stage_status):
        (row_dir / f"w{stage_status.partition}.json").write_text(
            json.dumps({"processed": stage_status.processed})
        )

    df = spark.createDataFrame([(i,) for i in range(17)], "v long").repartition(4)
    out = pl.map_rows(
        lambda r: {"v": r["v"] + 1},
        pl.to_stage(df),
        on_done=on_done_rows,
        returns="v long",
    )
    assert sorted(r.v for r in out.df.collect()) == list(range(1, 18))
    row_counts = [
        json.loads(p.read_text())["processed"] for p in row_dir.glob("w*.json")
    ]
    assert sum(row_counts) == 17


def test_element_index_injection(spark):
    def f(x, element_index):
        return list(element_index)

    out = pl.map(f, ["a", "b", "c"], returns="array<long>") | pl.ordered() | list
    assert out == [[0], [1], [2]]


def _slow_at(n, result=lambda x: x):
    def f(x):
        if x == n:
            time.sleep(5)
        return result(x)

    return f


@pytest.mark.parametrize(
    "op, f, data, timeout, kw, expected",
    [
        (pl.map, _slow_at(2), range(10), 1.0, {"returns": "long"}, [0, 1, 3, 4, 5, 6, 7, 8, 9]),
        (pl.process.map, _slow_at(3), range(6), 0.5, {"returns": "long"}, [0, 1, 2, 4, 5]),
        (pl.thread.map, _slow_at(3), range(6), 0.5, {"returns": "long", "workers": 4}, [0, 1, 2, 4, 5]),
        (pl.thread.filter, _slow_at(3, lambda x: True), range(6), 0.5, {"workers": 4}, [0, 1, 2, 4, 5]),
        (
            pl.process.flat_map,
            _slow_at(3, lambda x: [x, x + 100]),
            range(6),
            0.5,
            {"returns": "long"},
            [0, 1, 2, 4, 5, 100, 101, 102, 104, 105],
        ),
        (pl.task.map, _slow_at(3), range(6), 0.5, {"returns": "long"}, [0, 1, 2, 4, 5]),
    ],
    ids=["map", "process.map", "thread.map", "thread.filter", "process.flat_map", "task.map"],
)
def test_timeout_drops_slow_element(spark, op, f, data, timeout, kw, expected):
    """A sync function's slow element is dropped by the watchdog under every
    namespace and operator kind; ``pl.task`` runs a sync function on the
    plain loop."""
    out = sorted(op(f, list(data), timeout=timeout, **kw))
    assert out == expected


def test_error_propagates_with_type(spark):
    def boom(x):
        if x == 3:
            raise ValueError("boom")
        return x

    with pytest.raises(Exception) as exc_info:
        # returns hint prevents the driver-side sample call from raising first
        list(pl.map(boom, [3, 3, 3], returns="long"))
    assert "ValueError" in str(exc_info.value) or "boom" in str(exc_info.value)


def test_task_mode_async_fn(spark):
    import asyncio

    async def f(x):
        await asyncio.sleep(0.01)
        return x * 2

    out = sorted(pl.task.map(f, [1, 2, 3, 4], workers=4, returns="long"))
    assert out == [2, 4, 6, 8]


def test_async_on_start_resources(spark):
    """An async on_start is awaited: under an async fn on the partition's
    own loop, under a sync fn on a loop of its own."""
    import asyncio

    async def on_start():
        await asyncio.sleep(0)
        return {"factor": 10, "start_loop": asyncio.get_running_loop()}

    async def f(x, factor, start_loop):
        assert asyncio.get_running_loop() is start_loop
        return x * factor

    def g(x, factor):
        return x + factor

    assert sorted(pl.task.map(f, [1, 2, 3], on_start=on_start, returns="long")) == [10, 20, 30]
    assert sorted(pl.process.map(g, [1, 2, 3], on_start=on_start, returns="long")) == [11, 12, 13]


def test_async_on_done_under_sync_fn_runs_once_per_partition(spark):
    import asyncio

    acc = spark.sparkContext.accumulator(0)

    async def on_done():
        await asyncio.sleep(0)
        acc.add(1)

    stage = pl.process.map(lambda x: x + 1, list(range(20)), on_done=on_done, returns="long")
    assert sorted(stage) == list(range(1, 21))
    assert acc.value == stage.df.rdd.getNumPartitions()


def test_task_mode_async_concurrency_wall_clock(spark):
    import asyncio

    async def f(x):
        await asyncio.sleep(0.5)
        return x

    data = list(range(32))
    t0 = time.time()
    out = sorted(pl.task.map(f, data, workers=64, returns="long"))
    elapsed = time.time() - t0
    assert out == data
    # 32 × 0.5s sleeps across 8 partitions with in-partition concurrency:
    # sequential would be ≥2s per partition; concurrent ≈0.5s + overhead
    assert elapsed < 8, f"async concurrency not effective: {elapsed:.1f}s"


def test_task_mode_async_flat_map_gen(spark):
    async def gen(x):
        yield x
        yield x + 100

    out = sorted(pl.task.flat_map(gen, [1, 2], returns="long"))
    assert out == [1, 2, 101, 102]


def test_task_mode_timeout(spark):
    import asyncio

    async def f(x):
        if x == 1:
            await asyncio.sleep(5)
        return x

    out = sorted(pl.task.map(f, [0, 1, 2], timeout=1.0, returns="long"))
    assert out == [0, 2]


def test_task_mode_filter_timeout_drops_element(spark):
    """ADVICE r1: timeout must apply to async filter predicates too — the
    timed-out element is dropped, matching the sync watchdog."""
    import asyncio

    async def pred(x):
        if x == 1:
            await asyncio.sleep(5)
        return True

    out = sorted(pl.task.filter(pred, [0, 1, 2], timeout=1.0))
    assert out == [0, 2]


def test_task_mode_async_gen_timeout_drops_element(spark):
    """ADVICE r1: the async-generator flat_map path gets one timeout budget
    for the whole generator consumption."""
    import asyncio

    async def gen(x):
        yield x
        if x == 1:
            await asyncio.sleep(5)
            yield -1
        yield x + 100

    out = sorted(pl.task.flat_map(gen, [0, 1, 2], timeout=1.0, returns="long"))
    assert out == [0, 2, 100, 102]


def test_thread_mode_concurrent_io(spark):
    def f(x):
        time.sleep(0.3)
        return x

    data = list(range(16))
    t0 = time.time()
    out = sorted(pl.thread.map(f, data, workers=16, returns="long"))
    elapsed = time.time() - t0
    assert out == data
    assert elapsed < 6, f"thread concurrency not effective: {elapsed:.1f}s"


def test_map_rows_with_inference_and_lifecycle(spark, sf_dir):
    import pypeln_spark as pl
    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")

    def on_start():
        return {"prefix": "N:"}

    def f(row, prefix):
        return {"key": row["n_nationkey"], "tag": prefix + row["n_name"]}

    out = pl.map_rows(f, nation, on_start=on_start)  # schema inferred
    rows = {r.key: r.tag for r in out.df.collect()}
    assert len(rows) == 25 and rows[0].startswith("N:")


def test_map_rows_async_lifecycle(spark, sf_dir):
    """map_rows awaits an async on_start (driver-side sample included) and
    an async on_done, once per partition."""
    import asyncio

    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")
    acc = spark.sparkContext.accumulator(0)

    async def on_start():
        await asyncio.sleep(0)
        return {"prefix": "N:"}

    async def on_done():
        await asyncio.sleep(0)
        acc.add(1)

    def f(row, prefix):
        return {"key": row["n_nationkey"], "tag": prefix + row["n_name"]}

    inferred = pl.map_rows(f, nation, on_start=on_start)
    assert inferred.df.schema.simpleString() == "struct<key:bigint,tag:string>"
    out = pl.map_rows(f, nation, on_start=on_start, on_done=on_done, returns="key long, tag string")
    rows = {r.key: r.tag for r in out.df.collect()}
    assert len(rows) == 25 and all(t.startswith("N:") for t in rows.values())
    assert acc.value == out.df.rdd.getNumPartitions()


def test_map_rows_timeout_drops_row(spark, sf_dir):
    import time

    import pypeln_spark as pl
    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")

    def f(row):
        if row["n_nationkey"] == 3:
            time.sleep(5)
        return {"key": row["n_nationkey"]}

    out = pl.map_rows(f, nation, timeout=1.0, returns="key long")
    keys = {r.key for r in out.df.collect()}
    assert 3 not in keys and len(keys) == 24


def test_map_rows_task_mode_async_fn(spark, sf_dir):
    """An async row function runs on the partition's event loop, and the
    driver-side sample awaits it too when the schema is inferred."""
    import asyncio

    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")

    async def f(row):
        await asyncio.sleep(0)
        return {"key": row["n_nationkey"], "name": row["n_name"]}

    for returns in ("key long, name string", None):
        out = pl.task.map_rows(f, nation, workers=4, returns=returns)
        assert out.df.schema.simpleString() == "struct<key:bigint,name:string>"
        rows = {r.key: r.name for r in out.df.collect()}
        assert len(rows) == 25 and all(isinstance(n, str) for n in rows.values())


def test_map_rows_element_index_is_none(spark):
    """Table rows carry no ``_index``: an ``element_index`` parameter gets
    None, as it does for an index-less element stage."""
    df = spark.createDataFrame([(i,) for i in range(5)], "v long").repartition(2)

    def f(row, element_index):
        return {"v": row["v"], "indexed": element_index is not None}

    for returns in ("v long, indexed boolean", None):
        out = pl.map_rows(f, pl.to_stage(df), returns=returns)
        assert sorted((r.v, r.indexed) for r in out.df.collect()) == [(i, False) for i in range(5)]


def test_shared_counter_and_broadcast(spark):
    import pypeln_spark as pl

    acc = pl.shared.counter(spark)
    lookup = pl.shared.broadcast_value(spark, {1: "a", 2: "b"})

    def f(x):
        acc.add(1)
        return lookup.value.get(x, "?")

    out = sorted(pl.map(f, [1, 2, 3], returns="string"))
    assert out == ["?", "a", "b"]
    assert acc.value == 3


def test_shared_dict_counter(spark):
    import pypeln_spark as pl

    acc = pl.shared.dict_counter(spark)

    def f(x):
        acc.add({"even" if x % 2 == 0 else "odd": 1})
        return x

    pl.run(pl.map(f, list(range(10)), returns="long"))
    assert acc.value == {"even": 5, "odd": 5}


def test_observe_batch_metrics_ride_the_action(spark):
    """observe(): exact in-flight metrics with no second pass — the
    Spark-native stage_status (reference worker counters,
    pypeln/process/worker.py:189-214). Values arrive with the action."""
    import pypeln_spark as pl
    from pyspark.sql import functions as F

    st = pl.to_stage(spark.range(100).withColumnRenamed("id", "value"))
    st, obs = pl.observe(
        st,
        F.count(F.lit(1)).alias("rows"),
        F.sum("value").alias("total"),
        F.max("value").alias("hi"),
    )
    out = st | pl.filter(F.col("value") % 2 == 0)
    assert out.df.count() == 50  # the action that materializes metrics
    # metrics observed BEFORE the downstream filter: full 100 rows
    assert obs.get == {"rows": 100, "total": 4950, "hi": 99}


def test_observe_streaming_metrics_in_progress_events(spark, tmp_path):
    """Streaming observe: per-epoch metrics surface in progress events —
    the alerting hook for a long-running pipeline."""
    import pypeln_spark as pl
    from pyspark.sql import functions as F

    src = str(tmp_path / "obs_src")
    spark.createDataFrame([(i,) for i in range(7)], "v long").write.parquet(src)
    stream = spark.readStream.schema("v long").parquet(src)
    st, obs = pl.observe(
        pl.to_stage(stream),
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("v")).alias("total"),
        name="inflow",
    )
    assert obs is None
    q = (
        st.df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = q.lastProgress["observedMetrics"]["inflow"]
    finally:
        q.stop()
    assert got["rows"] == 7 and got["total"] == 21
