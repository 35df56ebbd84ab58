"""The Arrow-backed bounded source and the driver-side type sample.

``from_iterable`` hands a ``pyarrow.Table`` to ``createDataFrame``; every
value must come back as a list-backed ``createDataFrame`` returned it, also
when the process time zone is not the session's (UTC). A general-path
operator without ``returns=`` infers its type from the first outputs of the
run before it, computed on the driver from a prefix of the run's base, so
building a chain over a local source launches no Spark job.
"""

import contextlib
import datetime as dt
import decimal
import os
import time
import uuid

import numpy as np
import pytest
from pyspark.sql import Row

import pypeln_spark as pl
from pypeln_spark.operators import _common
from pypeln_spark.operators.to_iterable import collect_rows
from pypeln_spark.utils import VALUE_COL

D = decimal.Decimal
UTC = dt.timezone.utc
NAN, INF = float("nan"), float("inf")

# name -> (input, returns, expected output, expected value type); the
# expected outputs are what the list-backed createDataFrame returned for the
# same input under TZ=America/New_York
PARITY = {
    "long": ([1, -2, None, 2**62], None, [1, -2, None, 2**62], "bigint"),
    "double": (
        [1.5, NAN, INF, -INF, None, -0.0], None, [1.5, NAN, INF, -INF, None, -0.0], "double"
    ),
    "bool": ([True, None, False], None, [True, None, False], "boolean"),
    "string": (["a", "", None, "é"], None, ["a", "", None, "é"], "string"),
    "binary": ([b"ab", bytearray(b"cd"), None], "binary", [b"ab", b"cd", None], "binary"),
    "naive_datetime": (
        [dt.datetime(2020, 1, 1, 12), dt.datetime(2020, 7, 1, 0, 30, 0, 5), None],
        None,
        [dt.datetime(2020, 1, 1, 12), dt.datetime(2020, 7, 1, 0, 30, 0, 5), None],
        "timestamp",
    ),
    "aware_datetime": (
        [dt.datetime(2020, 1, 1, 12, tzinfo=UTC),
         dt.datetime(2020, 7, 1, tzinfo=dt.timezone(dt.timedelta(hours=5)))],
        "timestamp",
        [dt.datetime(2020, 1, 1, 7), dt.datetime(2020, 6, 30, 15)],
        "timestamp",
    ),
    "date": (
        [dt.date(2020, 1, 1), None, dt.date(1969, 12, 31)], None,
        [dt.date(2020, 1, 1), None, dt.date(1969, 12, 31)], "date",
    ),
    "decimal": (
        [D("1.5"), D("0.1234567890123456789012"), D("-0.0000000000000000005"),
         D("12345678901234567890.123456789012345678999"), None],
        None,
        [D("1.500000000000000000"), D("0.123456789012345679"), D("-1E-18"),
         D("12345678901234567890.123456789012345679"), None],
        "decimal(38,18)",
    ),
    "array_long": (
        [[1, 2], [], None, [None, 3]], "array<long>", [[1, 2], [], None, [None, 3]],
        "array<bigint>",
    ),
    "array_string": (
        [["a"], ["b", None], []], "array<string>", [["a"], ["b", None], []], "array<string>"
    ),
    "map_array": (
        [{"a": [1, 2]}, {"b": None}, None, {}], "map<string,array<long>>",
        [{"a": [1, 2]}, {"b": None}, None, {}], "map<string,array<bigint>>",
    ),
    "map_long": (
        [{"a": 1}, {"b": None}, None, {}], "map<string,long>",
        [{"a": 1}, {"b": None}, None, {}], "map<string,bigint>",
    ),
    "struct": (
        [(1, "a"), (2, None), None], "struct<x:long,y:string>",
        [Row(x=1, y="a"), Row(x=2, y=None), None], "struct<x:bigint,y:string>",
    ),
    "pickled": ([1, "a", (1, 2)], None, [1, "a", (1, 2)], "binary"),
    "empty": ([], None, [], "binary"),
}


@contextlib.contextmanager
def process_tz(name):
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@contextlib.contextmanager
def jobs(sc):
    """Collects the ids of the Spark jobs launched inside the block."""
    group, prev = f"test-{uuid.uuid4().hex[:8]}", sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(PARITY))
def test_source_parity_under_new_york_tz(spark, name):
    values, returns, want, type_str = PARITY[name]
    with process_tz("America/New_York"):
        stage = pl.from_iterable(values, returns=returns)
        got = list(pl.to_iterable(stage, return_index=True))
    assert [e.index for e in got] == [(i,) for i in range(len(want))]
    assert [repr(e.value) for e in got] == [repr(v) for v in want]
    assert stage.df.schema[VALUE_COL].dataType.simpleString() == type_str
    assert stage.pickled == (name in ("pickled", "empty"))


@pytest.mark.parametrize(
    "values, want",
    [
        ([1, 2.5], [1.0, 2.5]),
        ([np.int64(3), np.int32(4)], [3, 4]),
        ([np.float32(1.5), np.float64(2.5)], [1.5, 2.5]),
    ],
)
def test_source_takes_mixed_and_numpy_numbers(spark, values, want):
    """The list path refused these: inference says double (or long) and the
    row verifier rejects an int (or a numpy scalar)."""
    got = list(pl.from_iterable(values) | pl.ordered())
    assert got == want and [type(v) for v in got] == [type(v) for v in want]


def _element_chain(n=1000):
    async def halve(x):
        return x // 2

    return (
        pl.from_iterable(range(n))
        | pl.process.map(lambda x: x * 3, returns="long")
        | pl.process.filter(lambda x: x % 2 == 0)
        | pl.task.map(halve, workers=4, returns="long")
        | pl.process.flat_map(lambda x: [{"v": x}] * (x % 3))
    )


def test_building_a_chain_runs_no_job_and_draining_runs_one(spark):
    sc = spark.sparkContext
    with jobs(sc) as built:
        stage = _element_chain() | pl.ordered()
    assert built == []
    assert stage.pickled  # the flat_map's dicts are not one Spark type
    with jobs(sc) as drained:
        out = list(pl.to_iterable(stage, return_index=True))
    assert len(drained) == 1
    want = [
        ((x, j), {"v": y})
        for x in range(1000) if (x * 3) % 2 == 0
        for y in [(x * 3) // 2] for j in range(y % 3)
    ]
    assert [(e.index, e.value) for e in out] == want


def _take(stage, n=10):
    vals = [r[VALUE_COL] for r in collect_rows(stage.df.select(VALUE_COL).limit(n))]
    return [pl.infer.loads(v) for v in vals] if stage.pickled else vals


@pytest.mark.parametrize(
    "f, returns",
    [
        (lambda x: x * 1.5, "double"),
        (lambda x: [x, None], "array<long>"),
        (lambda x: {str(x): x}, "map<string,long>"),
        (lambda x: (x, str(x)), "struct<x:long,y:string>"),
        (lambda x: [(x, [dt.datetime(2020, 1, 1, x % 24)])], "array<struct<x:long,t:array<timestamp>>>"),
        (lambda x: D(x) / 8, "decimal(20,6)"),
        (lambda x: dt.date(2020, 1, 1 + x % 28), "date"),
        (lambda x: bytes([x % 256]), "binary"),
        (lambda x: (x, {"k": x}), None),  # pickled
    ],
)
def test_sample_values_match_take(spark, f, returns):
    """The driver-side sample returns what take(10) returns, value types
    included, for every kind of Spark type a run can end in."""
    with process_tz("America/New_York"):
        stage = pl.from_iterable(range(40)) | pl.map(f, returns=returns)
        assert _common._tail_sample(stage, 10) is not None  # no fallback
        sample, want = _common.sample_values(stage, 10), _take(stage)
    assert [repr(v) for v in sample] == [repr(v) for v in want]


def test_sample_grows_the_prefix_past_a_dropping_filter(spark):
    stage = (
        pl.from_iterable(range(1000))
        | pl.map(lambda x: x * 2, returns="long")
        | pl.filter(lambda x: x >= 400)
    )
    with jobs(spark.sparkContext) as ran:
        sample = _common._tail_sample(stage, 10)
    assert ran == []
    assert sample == _take(stage) == list(range(400, 420, 2))


def test_sample_falls_back_when_the_chain_yields_nothing(spark):
    # more rows than one Arrow batch, none of which survives
    stage = pl.from_iterable(range(20_000)) | pl.map(lambda x: x, returns="long")
    stage = stage | pl.filter(lambda x: x < 0)
    assert _common._tail_sample(stage, 10) is None
    with jobs(spark.sparkContext) as ran:
        out = stage | pl.map(lambda x: str(x))
    assert ran  # the fallback take(10) asked Spark
    assert out.df.schema[VALUE_COL].dataType.simpleString() == "bigint"
    assert list(out) == []


def test_sample_runs_upstream_on_start_on_the_driver(spark):
    calls = []  # driver-side: an executor task appends to its own copy

    def on_start():
        calls.append("start")
        return {"offset": 100}

    def on_done():
        calls.append("done")

    stage = pl.from_iterable(range(50)) | pl.map(
        lambda x, offset: x + offset, on_start=on_start, on_done=on_done, returns="long"
    )
    out = stage | pl.flat_map(lambda x: [str(x)] * 2)
    assert calls == ["start", "done"]
    assert not out.pickled
    assert out.df.schema[VALUE_COL].dataType.simpleString() == "string"
    assert _common.sample_values(stage, 10) == _take(stage) == list(range(100, 110))
    assert list(out | pl.ordered())[:4] == ["100", "100", "101", "101"]


def test_sample_of_a_timestamp_base_under_new_york_tz(spark):
    stamps = [dt.datetime(2020, 1, 1, h) for h in range(12)]
    with process_tz("America/New_York"):
        stage = pl.from_iterable(stamps) | pl.map(lambda t: t, returns="timestamp")
        with jobs(spark.sparkContext) as ran:
            sample = _common.sample_values(stage, 10)
        assert ran == []
        assert sample == _take(stage) == stamps[:10]
        # what a worker sees: the session-time-zone (UTC) wall clock
        hours = stage | pl.map(lambda t: t.hour)
        assert hours.df.schema[VALUE_COL].dataType.simpleString() == "bigint"
        assert _common.sample_values(hours, 3) == _take(hours, 3) == [5, 6, 7]


def test_decode_samples_on_the_driver(spark):
    mixed = pl.from_iterable(range(30)) | pl.map(lambda x: x if x else (0,))
    assert mixed.pickled  # a tuple among the ints
    ints = mixed | pl.filter(lambda x: not isinstance(x, tuple))
    with jobs(spark.sparkContext) as ran:
        typed = ints.decode()
    assert ran == []
    assert not typed.pickled
    assert typed.df.schema[VALUE_COL].dataType.simpleString() == "bigint"
    assert list(typed | pl.ordered()) == list(range(1, 30))
