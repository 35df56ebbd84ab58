"""Fused element-wise runs and the two ordered() lowerings.

A run of general-path operators lowers to ONE mapInPandas whose functions
meet through an in-process Arrow hop (harness.fuse). Putting an identity
projection between two operators ends the run, so the same chain then
crosses a real mapInPandas boundary. The projection goes through the
DataFrame passthrough (``stage.select``), which keeps a pickled payload
pickled; ``pl.map(F.col("value"))`` would re-declare it as plain binary.
The passthrough drops the partition-range property, and ``chain`` puts it
back (an identity projection keeps every row in its partition), so both
chains are ordered by the same local sort and run each function once.
Every parity test below runs a chain both ways and asserts identical
output: values, their Python types (through repr) and their indices.
"""

import asyncio
import time

import pypeln_spark as pl
from pypeln_spark.stage import Stage


def chain(src, *ops, hop=False):
    stage = src
    for i, op in enumerate(ops):
        if hop and i:
            hopped = stage.select(*stage.df.columns)
            hopped.range_partitioned = stage.range_partitioned
            stage = hopped
        stage = stage | op
    return stage


def drain(stage):
    return list(pl.to_iterable(stage | pl.ordered(), return_index=True))


def assert_parity(src, *ops):
    fused = chain(src, *ops)
    hopped = chain(src, *ops, hop=True)
    plan = fused.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    got, want = drain(fused), drain(hopped)
    assert [(e.index, repr(e.value)) for e in got] == [
        (e.index, repr(e.value)) for e in want
    ]
    return got


def test_fused_long_map_returning_floats_and_none(spark):
    src = pl.from_iterable(range(40))
    out = assert_parity(
        src,
        pl.map(lambda x: None if x % 5 == 0 else x + 0.5, returns="long"),
        pl.map(repr, returns="string"),
    )
    assert len(out) == 40


def test_fused_typed_pickled_boundaries(spark):
    src = pl.from_iterable(range(30))
    # typed -> pickled -> pickled -> typed
    out = assert_parity(
        src,
        pl.map(lambda x: x * 2, returns="long"),
        pl.map(lambda v: (v, type(v).__name__)),
        pl.filter(lambda t: t[0] % 3 != 0),
        pl.map(lambda t: f"{t[0]}:{t[1]}:{type(t[0]).__name__}", returns="string"),
    )
    assert [e.value.split(":")[0] for e in out] == [
        str(x * 2) for x in range(30) if (x * 2) % 3 != 0
    ]


def test_fused_flat_map_empty_lists(spark):
    src = pl.from_iterable(range(50))
    out = assert_parity(
        src,
        pl.flat_map(lambda x: [x] * (x % 3), returns="long"),
        pl.map(lambda v: v + 1, returns="long"),
        pl.flat_map(lambda v: [] if v % 2 else [v, -v], returns="long"),
    )
    want = [z for x in range(50) for v in [x] * (x % 3) for z in ([] if (v + 1) % 2 else [v + 1, -(v + 1)])]
    assert [e.value for e in out] == want
    # a run whose first flat_map empties every batch
    assert drain(chain(src, pl.flat_map(lambda x: [], returns="long"),
                       pl.map(lambda v: v, returns="long"))) == []


def test_fused_timeout_drop(spark):
    def slow(x):
        if x == 7:
            time.sleep(3)
        return x * 10

    src = pl.from_iterable(range(12))
    out = assert_parity(
        src,
        pl.map(lambda x: x + 1, returns="long"),
        pl.map(slow, timeout=0.5, returns="long"),
        pl.filter(lambda v: v != 30),
    )
    assert [e.value for e in out] == [v * 10 for v in range(1, 13) if v not in (3, 7)]


def test_fused_mixed_modes(spark):
    async def slow_double(v):
        await asyncio.sleep(0.001 * (v % 3))
        return v * 2

    src = pl.from_iterable(range(60))
    out = assert_parity(
        src,
        pl.process.map(lambda x: x + 1, returns="long"),
        pl.thread.map(lambda v: v * 3, workers=3, returns="long"),
        pl.task.map(slow_double, workers=8, returns="long"),
        pl.sync.filter(lambda v: v % 4 == 0),
    )
    assert [e.value for e in out] == [
        (x + 1) * 6 for x in range(60) if ((x + 1) * 6) % 4 == 0
    ]


def test_fused_lifecycle_counts_per_operator(spark):
    """on_start/on_done still run once per operator per partition, and an
    upstream on_done sees its own processed count."""
    sc = spark.sparkContext
    src = pl.from_iterable(range(40))
    n_parts = src.df.rdd.getNumPartitions()

    def counted(name, accs):
        starts, dones, processed = (sc.accumulator(0) for _ in range(3))
        accs[name] = (starts, dones, processed)

        def on_start():
            starts.add(1)

        def on_done(stage_status):
            dones.add(1)
            processed.add(stage_status.processed)

        return {"on_start": on_start, "on_done": on_done}

    def run(hop):
        accs = {}
        stage = chain(
            src,
            pl.map(lambda x: x * 2, returns="long", **counted("map", accs)),
            pl.filter(lambda v: v % 3 == 0, **counted("filter", accs)),
            pl.flat_map(lambda v: [v, v], returns="long", **counted("flat_map", accs)),
            hop=hop,
        )
        out = [e.value for e in drain(stage)]
        return out, {k: tuple(a.value for a in v) for k, v in accs.items()}

    fused_out, fused_counts = run(False)
    hop_out, hop_counts = run(True)
    assert fused_out == hop_out
    assert fused_counts == hop_counts
    kept = len([x for x in range(40) if (x * 2) % 3 == 0])
    assert fused_counts == {
        "map": (n_parts, n_parts, 40),
        "filter": (n_parts, n_parts, 40),
        "flat_map": (n_parts, n_parts, kept),
    }


def test_async_filter_injects_element_index(spark):
    async def keep(x, element_index):
        await asyncio.sleep(0)
        return element_index[0] % 2 == 0

    out = pl.task.filter(keep, range(6)) | pl.ordered() | list
    assert out == [0, 2, 4]
    assert (pl.process.filter(lambda x, element_index: element_index[0] % 2 == 0, range(6))
            | pl.ordered() | list) == [0, 2, 4]


def test_local_sort_nested_flat_maps_match_python_sort(spark):
    src = pl.from_iterable(range(2000))
    assert src.df.rdd.getNumPartitions() > 1
    stage = (
        src
        | pl.flat_map(lambda x: range(x % 4), returns="long")
        | pl.map(lambda y: y * 7, returns="long")
        | pl.flat_map(lambda y: [y, y + 1] if y % 2 == 0 else [], returns="long")
        | pl.ordered()
    )
    assert "Exchange" not in stage.df._jdf.queryExecution().executedPlan().toString()
    got = list(pl.to_iterable(stage, return_index=True))
    want = [
        ((x, j, k), z)
        for x in range(2000)
        for j, y in enumerate(range(x % 4))
        for k, z in enumerate([y * 7, y * 7 + 1] if (y * 7) % 2 == 0 else [])
    ]
    assert [(e.index, e.value) for e in got] == sorted(want)


def test_concat_and_with_index_keep_global_sort(spark):
    a = pl.from_iterable(["a0", "a1", "a2"])
    b = pl.from_iterable(["b0", "b1"]) | pl.map(lambda s: s.upper(), returns="string")
    both = pl.concat([a, b])
    assert not both.range_partitioned
    got = list(pl.to_iterable(both | pl.ordered(), return_index=True))
    assert [e.index for e in got] == [(0,), (0,), (1,), (1,), (2,)]
    assert [sorted(e.value for e in got if e.index == (i,)) for i in range(3)] == [
        ["B0", "a0"], ["B1", "a1"], ["a2"],
    ]

    df = spark.range(60).selectExpr("(id * 37) % 60 AS k", "id AS value").repartition(4)
    keyed = Stage(df).with_index("k")
    assert not keyed.range_partitioned
    rows = list(pl.to_iterable(keyed | pl.ordered()))
    assert [r["k"] for r in rows] == list(range(60))


def test_decode_fuses_onto_the_run(spark):
    # f needs an on_start resource, so the driver-side type sample fails
    # and the map takes the pickled path; decode() then types it in the
    # same mapInPandas
    stage = pl.map(lambda x, k: x * k, range(10), on_start=lambda: {"k": 3})
    assert stage.pickled
    decoded = stage.decode()
    assert not decoded.pickled
    plan = decoded.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert list(decoded | pl.ordered()) == [x * 3 for x in range(10)]
