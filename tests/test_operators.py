"""Operator parity tests — same discipline as the reference's suite
(multiset compare under concurrency, exact compare after ordered; see
/root/reference/pypeln/process/api/map_process_test.py:152-161)."""

import pytest
from hypothesis import given, settings, strategies as st

import pypeln_spark as pl

MAX_EXAMPLES = 5  # spark round-trips are ~100ms each; keep CI sane
# int64 is the typed-column contract; bigger ints take the pickle fallback
SMALL_LISTS = st.lists(st.integers(min_value=-(2**20), max_value=2**20), max_size=30)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(nums=SMALL_LISTS)
def test_map_square(spark, nums):
    out = sorted(pl.map(lambda x: x**2, nums, returns="long"))
    assert out == sorted(x**2 for x in nums)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(nums=SMALL_LISTS)
def test_filter_even(spark, nums):
    out = sorted(pl.filter(lambda x: x % 2 == 0, nums))
    assert out == sorted(x for x in nums if x % 2 == 0)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(nums=SMALL_LISTS)
def test_flat_map_dup(spark, nums):
    out = sorted(pl.flat_map(lambda x: [x, x + 1], nums, returns="long"))
    assert out == sorted(y for x in nums for y in (x, x + 1))


def test_pipe_composition(spark):
    stage = (
        range(10)
        | pl.process.map(lambda x: x * 2, returns="long")
        | pl.process.filter(lambda x: x > 4)
    )
    assert sorted(stage) == [6, 8, 10, 12, 14, 16, 18]


def test_ordered_restores_source_order(spark):
    data = [5, 3, 8, 1, 9, 2]
    stage = pl.map(lambda x: x * 10, data, returns="long") | pl.ordered() | list
    assert stage == [50, 30, 80, 10, 90, 20]


def test_flat_map_index_extension(spark):
    data = ["ab", "cd"]
    stage = pl.flat_map(lambda s: list(s), data, returns="string") | pl.ordered()
    elems = list(pl.to_iterable(stage, return_index=True))
    assert [e.value for e in elems] == ["a", "b", "c", "d"]
    assert [tuple(e.index) for e in elems] == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_concat_multiset(spark):
    a = pl.from_iterable([1, 2, 3])
    b = pl.from_iterable([4, 5])
    assert sorted(pl.concat([a, b])) == [1, 2, 3, 4, 5]


def test_concat_heterogeneous_pickles(spark):
    a = pl.from_iterable([1, 2])
    b = pl.from_iterable(["x", "y"])
    out = sorted(pl.concat([a, b]), key=str)
    assert out == [1, 2, "x", "y"]


def test_map_opaque_objects_roundtrip(spark):
    data = [{"a": [1, 2]}, {"b": (3, 4)}]  # tuple inside → pickle fallback
    out = list(pl.map(lambda d: d, data) | pl.ordered())
    assert out == data


def test_map_type_inference_without_hint(spark):
    out = sorted(pl.map(lambda x: float(x) / 2, [1, 2, 3]))
    assert out == [0.5, 1.0, 1.5]


def test_each_collects_nothing_and_run(spark):
    # each emits nothing; run=True drains eagerly without error
    res = pl.each(lambda x: None, [1, 2, 3], run=True)
    assert res is None
    stage = pl.each(lambda x: None, [1, 2, 3])
    assert list(stage) == []


def test_run_drains(spark):
    pl.run(pl.map(lambda x: x + 1, range(5), returns="long"))


def test_empty_input(spark):
    assert list(pl.map(lambda x: x * 2, [], returns="long")) == []
    assert list(pl.filter(lambda x: True, [])) == []


def test_column_fast_path_map_filter(spark):
    from pyspark.sql import functions as F

    stage = pl.from_iterable([1, 2, 3, 4])
    out = stage | pl.map(F.col("value") * 2) | pl.filter(F.col("value") > 4)
    assert sorted(out) == [6, 8]


def test_column_fast_path_flat_map_posexplode(spark):
    from pyspark.sql import functions as F

    stage = pl.from_iterable([[1, 2], [3]])
    out = stage | pl.flat_map(F.col("value")) | pl.ordered()
    assert list(out) == [1, 2, 3]


def test_to_iterable_return_index(spark):
    elems = list(pl.to_iterable(pl.from_iterable("abc"), return_index=True))
    assert elems == [((0,), "a"), ((1,), "b"), ((2,), "c")]


@pytest.mark.filterwarnings("error::pytest.PytestUnraisableExceptionWarning")
def test_to_iterable_collect_warning(spark, monkeypatch):
    """VERDICT r5 #7: the default maxsize=0 sink is a full collect();
    past COLLECT_WARN_ROWS it must warn the user toward maxsize>0. The
    bounded path and small collects stay silent."""
    import gc
    import importlib
    import warnings

    # the package re-exports the function under the submodule's name, so a
    # plain `import ... as TI` binds the function; import_module gets the module
    TI = importlib.import_module("pypeln_spark.operators.to_iterable")

    monkeypatch.setattr(TI, "COLLECT_WARN_ROWS", 10)
    stage = pl.from_iterable(range(25))
    with pytest.warns(ResourceWarning, match="maxsize"):
        assert len(list(pl.to_iterable(stage, maxsize=0))) == 25
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning would fail the test
        small = pl.from_iterable(range(5))
        assert len(list(pl.to_iterable(small, maxsize=0))) == 5
    # the bounded path owns a socket: it must close it, also when the
    # consumer stops early. Record instead of raising: a warning from a
    # finalizer (an unclosed socket) cannot raise into this frame.
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert len(list(pl.to_iterable(stage, maxsize=1))) == 25
        it = iter(pl.to_iterable(stage, maxsize=1))
        assert next(it) is not None
        it.close()
        del it
        gc.collect()
    assert [str(w.message) for w in caught] == []


def test_mixed_mode_chain(spark):
    """Reference mixture test analogue (tests/test_mixtures.py)."""
    stage = (
        range(8)
        | pl.thread.map(lambda x: x + 1, workers=4, returns="long")
        | pl.process.filter(lambda x: x % 2 == 0)
        | pl.sync.map(lambda x: x * 10, returns="long")
        | pl.ordered()
    )
    assert list(stage) == [20, 40, 60, 80]


def test_all_mode_orderings_chain(spark):
    """Reference mixture-test analogue (tests/test_mixtures.py:17-206): every
    ordering of the four namespaces chained, then ordered — identical
    results regardless of execution-mode mixture."""
    import itertools

    modes = {
        "process": pl.process,
        "thread": pl.thread,
        "task": pl.task,
        "sync": pl.sync,
    }

    async def a_inc(x):
        return x + 1

    expected = [((x * 2) + 1) * 10 for x in range(6) if (x * 2) % 4 == 0]

    for m1, m2, m3 in itertools.permutations(modes, 3):
        f1 = modes[m1].map(lambda x: x * 2, returns="long")
        f2 = modes[m2].filter(lambda x: x % 4 == 0)
        inc = a_inc if m3 == "task" else (lambda x: x + 1)
        f3 = modes[m3].map(inc, returns="long")
        f4 = pl.map(lambda x: x * 10, returns="long")
        out = range(6) | f1 | f2 | f3 | f4 | pl.ordered() | list
        assert out == expected, (m1, m2, m3)


def test_partial_composition(spark):
    """Partials compose before any stage exists (reference:
    pypeln/utils.py:87-98 — `x | partial == partial(x)` and partials chain)."""
    pipe = (
        pl.process.map(lambda x: x + 1, returns="long")
        | pl.process.filter(lambda x: x % 2 == 0)
        | pl.process.map(lambda x: x * 10, returns="long")
    )
    assert sorted(range(6) | pipe) == [20, 40, 60]
    assert sorted(pipe(range(6))) == [20, 40, 60]
