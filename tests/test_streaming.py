"""Streaming-specific contracts not covered by the oracle gate:
multi-microbatch state accumulation, watermark drops across staged batches,
and as-of join lowering equivalence."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pypeln_spark import streaming as ST
from pypeln_spark.ext import asof as A
from pypeln_spark.queries.base import load_table


def test_staged_replay_two_batches(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    half = ev.count() // 2
    b1 = ev.filter(F.col("event_id") < half)
    b2 = ev.filter(F.col("event_id") >= half)

    def build(stream):
        return stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    out = ST.staged_replay(spark, [b1, b2], build, output_mode="complete")
    # complete mode memory sink holds the final totals = full-table counts
    got = {r.event_type: r.n for r in out.collect()}
    want = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_stateful_accumulates_across_batches(spark, sf_dir):
    """applyInPandasWithState must carry (count) state from batch 1 into
    batch 2 — the final emission per user equals the all-data count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events")
    half = ev.count() // 2
    b1 = ev.filter(F.col("event_id") < half)
    b2 = ev.filter(F.col("event_id") >= half)

    def build(stream):
        def fn(key, pdfs, state: GroupState):
            (n,) = state.get if state.exists else (0,)
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        return stream.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    out = ST.staged_replay(spark, [b1, b2], build, output_mode="update")
    # update-mode memory sink appends per-batch emissions; the LAST emission
    # per user carries the accumulated total = max over emissions
    got = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n")).collect()
    )
    want = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r.user_id: r.n for r in got} == want


def test_asof_union_window_equals_pandas_merge_asof(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    a = A.asof_join(purchases, views, on="user_id", right_cols=["view_id"])
    b = A.asof_join_pandas(purchases, views, on="user_id", right_cols=["view_id"]).filter(
        F.col("ts_right").isNotNull()
    )
    ka = {(r.purchase_id, r.view_id_right) for r in a.collect()}
    kb = {(r.purchase_id, r.view_id_right) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_asof_left_keeps_unmatched(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id", "ts").agg(
        F.min("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    inner = A.asof_join(purchases, views, on="user_id", right_cols=["view_id"], how="inner")
    left = A.asof_join(purchases, views, on="user_id", right_cols=["view_id"], how="left")
    assert left.count() == purchases.count()
    assert inner.count() <= left.count()


def test_unbounded_pump_streams_infinite_generator(spark):
    """Parity with the reference's infinite-iterable sources (task/api/
    from_iterable.py:14-83): an endless generator flows through map|filter
    as a stream with bounded driver memory — the generator only advances
    when feed() pulls, and each micro-batch is consumed exactly once."""
    import itertools

    import pypeln_spark as pl

    pulled = {"n": 0}

    def gen():
        for i in itertools.count():  # genuinely infinite
            pulled["n"] += 1
            yield i

    stage = pl.from_iterable(gen(), unbounded=True, chunk_size=100, spark=spark, returns="long")
    out = stage | pl.map(lambda x: x * 3 + 1, returns="long") | pl.filter(lambda x: x % 2 == 0)
    sink = stage.pump.sink(out)
    try:
        stage.pump.feed(2)  # constructor wrote chunk 0 → 300 elements live
        got = sorted(r.value for r in sink.process().select("value").collect())
        assert got == sorted(i * 3 + 1 for i in range(300) if (i * 3 + 1) % 2 == 0)
        stage.pump.feed(2)  # incremental: two more micro-batches
        n2 = sink.process().count()
        assert n2 == len([i for i in range(500) if (i * 3 + 1) % 2 == 0])
        # bounded pull: the infinite generator advanced exactly 500 times
        assert pulled["n"] == 500
    finally:
        sink.stop()


def test_asof_null_payload_stays_with_its_row(spark, sf_dir):
    """ADVICE r1 regression: the matched right row's values must travel
    together — a NULL payload column in the matched row must NOT be
    backfilled from an older right row, and columns must never mix across
    right rows."""
    left = spark.createDataFrame([(1, 10), (1, 25)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, "old", 100), (1, 20, None, 200)],
        "k int, ts int, label string, score int",
    )
    out = {
        r.ts: (r.label_right, r.score_right)
        for r in A.asof_join(
            left, right, on="k", right_cols=["label", "score"]
        ).collect()
    }
    assert out[10] == ("old", 100)
    # ts=25 matches the ts=20 right row WHOLE: label is its legitimate NULL
    assert out[25] == (None, 200)


def test_foreach_batch_sink(spark, sf_dir):
    seen = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    ev = ST.events_stream(spark, sf_dir)
    ST.run_foreach_batch(ev.filter(F.col("event_type") == "error"), sink)
    total = sum(n for _, n in seen)
    want = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error").count()
    assert total == want


def test_rate_source_unbounded_stream(spark):
    """Genuinely-unbounded source support (the reference's infinite
    generators, SURVEY.md §2.2): Spark's rate source drives a windowed
    aggregate; we stop after data arrives and check shape, not values
    (row content is wall-clock dependent by design)."""
    import tempfile
    import time

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    )
    agg = stream.groupBy(F.window("timestamp", "1 second")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ckpt = tempfile.mkdtemp(prefix="rate_ckpt_")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM rate_out").first()[0] > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM rate_out")
    assert out.count() > 0
    assert set(out.columns) == {"window", "n"}


def test_kmv_stateful_stream_bounded_state_across_batches(spark, sf_dir):
    """The bounded-state streaming KMV: state carried across microbatches,
    every per-trigger emission bounded at k values, and the final
    (max-version) sketch identical to the batch kmv_sketch over all data."""
    from pypeln_spark.ext import sketch as K
    from pypeln_spark.ext.hashing import h31

    k = 8
    ev = load_table(spark, sf_dir, "events")
    half = ev.count() // 2
    b1 = ev.filter(F.col("event_id") < half)
    b2 = ev.filter(F.col("event_id") >= half)

    def build(stream):
        keyed = stream.select(
            "event_type", h31(F.col("user_id").cast("string")).alias("_h")
        )
        return K.kmv_stateful_stream(keyed, ["event_type"], k=k)

    out = ST.staged_replay(spark, [b1, b2], build, output_mode="update")
    rows = out.collect()
    # two triggers → two versions per group, EVERY emission bounded at k
    assert {r.version for r in rows} == {1, 2}
    assert all(r.n <= k and len(r.kmin_csv.split(",")) <= k for r in rows)
    final = {r.event_type: r.kmin_csv for r in rows if r.version == 2}
    want = {
        r.event_type: ",".join(str(h) for h in r.kmin)
        for r in K.kmv_sketch(ev, ["event_type"], "user_id", k=k).collect()
    }
    assert final == want
    # monotone improvement: v1 sketch ⊇-prefix property — v2's kth min ≤ v1's
    v1 = {r.event_type: [int(x) for x in r.kmin_csv.split(",")] for r in rows if r.version == 1}
    for et, km2 in ((et, [int(x) for x in csv.split(",")]) for et, csv in final.items()):
        if et in v1 and len(v1[et]) == k and len(km2) == k:
            assert km2[-1] <= v1[et][-1]


def test_asof_join_carries_maptype_right_column(spark):
    """A MapType right column must be CARRIED (whole-row payload) even
    though it can't participate in the tiebreak ordering — r2's whole-
    struct orderBy failed analysis here (ADVICE r2)."""
    left = spark.createDataFrame(
        [(1, 10), (1, 25)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 5, {"a": "x"}), (1, 20, {"b": "y"})],
        "k long, ts long, props map<string,string>",
    )
    out = A.asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    got = {(r.k, r.ts): (r.ts_right, dict(r.props_right)) for r in out.collect()}
    assert got == {(1, 10): (5, {"a": "x"}), (1, 25): (20, {"b": "y"})}


def test_pump_feed_rejects_schema_breaking_chunk(spark):
    """A later chunk that can't convert to the stream's fixed element type
    must raise a clear schema-mismatch error from feed(), not a raw
    pyarrow traceback (ADVICE r2) — pickled-ness is fixed at construction."""
    import itertools

    import pytest as _pytest

    from pypeln_spark.operators.from_iterable import IterablePump

    mixed = itertools.chain([1, 2, 3], ["not-a-long"], [4])
    pump = IterablePump(spark, mixed, chunk_size=3)  # first chunk: longs
    with _pytest.raises(ValueError, match="does not conform"):
        pump.feed()


from hypothesis import given, settings, strategies as st

_ASOF_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=50),   # ts
        st.integers(min_value=-100, max_value=100),  # payload
    ),
    min_size=0, max_size=25,
)


@settings(max_examples=5, deadline=None)
@given(lrows=_ASOF_ROWS, rrows=_ASOF_ROWS)
def test_asof_join_matches_pandas_model_property(spark, lrows, rrows):
    """Property: union+window asof == pandas merge_asof on arbitrary
    key/ts/payload data (right side deduped on (key, ts) — tie order is
    the documented caveat)."""
    import pandas as pd

    # dedup right on (key, ts) to make the model's tie behavior defined
    rmap = {(k, t): v for k, t, v in rrows}
    rrows_d = [(k, t, v) for (k, t), v in rmap.items()]
    left = spark.createDataFrame(
        [(k, t, v) for k, t, v in lrows] or [(99, 0, 0)], "k long, ts long, lv long"
    )
    right = spark.createDataFrame(
        rrows_d or [(98, 0, 0)], "k long, ts long, rv long"
    )
    got = {
        (r.k, r.ts, r.lv): (r.ts_right, r.rv_right)
        for r in A.asof_join(left, right, on="k", how="left").collect()
    }
    lp = left.toPandas().sort_values(["ts", "k", "lv"]).reset_index(drop=True)
    rp = (
        right.toPandas()
        .rename(columns={"ts": "ts_right", "rv": "rv_right"})
        .sort_values("ts_right")
        .reset_index(drop=True)
    )
    want_df = pd.merge_asof(
        lp, rp, left_on="ts", right_on="ts_right", by="k", direction="backward"
    )
    for row in want_df.itertuples(index=False):
        w_ts = None if pd.isna(row.ts_right) else int(row.ts_right)
        w_rv = None if pd.isna(row.rv_right) else int(row.rv_right)
        assert got[(row.k, row.ts, row.lv)] == (w_ts, w_rv), (row, got)


def test_streaming_dedup_across_batches(spark, sf_dir):
    """dropDuplicatesWithinWatermark must suppress a duplicate arriving in
    a LATER microbatch: replaying the same events twice as two batches
    yields each event exactly once."""
    ev = load_table(spark, sf_dir, "events")

    def build(stream):
        return stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
            ["event_id"]
        )

    out = ST.staged_replay(spark, [ev, ev], build, output_mode="append")
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


@settings(max_examples=5, deadline=None)
@given(lrows=_ASOF_ROWS, rrows=_ASOF_ROWS)
def test_asof_join_forward_matches_pandas_model_property(spark, lrows, rrows):
    """Property: direction='forward' == pandas merge_asof(direction='forward')."""
    import pandas as pd

    rmap = {(k, t): v for k, t, v in rrows}
    rrows_d = [(k, t, v) for (k, t), v in rmap.items()]
    left = spark.createDataFrame(
        [(k, t, v) for k, t, v in lrows] or [(99, 0, 0)], "k long, ts long, lv long"
    )
    right = spark.createDataFrame(
        rrows_d or [(98, 0, 0)], "k long, ts long, rv long"
    )
    got = {
        (r.k, r.ts, r.lv): (r.ts_right, r.rv_right)
        for r in A.asof_join(
            left, right, on="k", how="left", direction="forward"
        ).collect()
    }
    lp = left.toPandas().sort_values(["ts", "k", "lv"]).reset_index(drop=True)
    rp = (
        right.toPandas()
        .rename(columns={"ts": "ts_right", "rv": "rv_right"})
        .sort_values("ts_right")
        .reset_index(drop=True)
    )
    want_df = pd.merge_asof(
        lp, rp, left_on="ts", right_on="ts_right", by="k", direction="forward"
    )
    for row in want_df.itertuples(index=False):
        w_ts = None if pd.isna(row.ts_right) else int(row.ts_right)
        w_rv = None if pd.isna(row.rv_right) else int(row.rv_right)
        assert got[(row.k, row.ts, row.lv)] == (w_ts, w_rv), (row, got)


def test_streaming_funnel_accumulates_across_time_ordered_batches(spark, sf_dir):
    """Two time-ordered microbatches through the stateful funnel must land
    on the same per-user stages as the batch funnel over all events — the
    first-passage state machine's incremental==batch contract."""
    from pypeln_spark.queries.streaming import streaming_funnel_stages  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pypeln_spark.queries import REGISTRY

    ev = load_table(spark, sf_dir, "events")
    mid = "2024-01-15"  # events span 2024-01; a mid-month split is time-ordered
    b1 = ev.filter(F.col("ts") <= mid)
    b2 = ev.filter(F.col("ts") > mid)
    assert b1.count() > 0 and b2.count() > 0

    fn_query = REGISTRY["streaming_funnel_stages"].fn

    # rebuild the same stateful query over a staged two-batch stream
    import pandas as pd

    def build(stream):
        def fn(key, pdfs, state: GroupState):
            tv, tc, tp = state.get if state.exists else (0, 0, 0)
            rows = []
            for pdf in pdfs:
                for ts, et, eid in zip(pdf["ts"], pdf["event_type"], pdf["event_id"]):
                    rows.append((ts.value, int(eid), et))
            rows.sort()
            for ts_ns, _eid, et in rows:
                if et == "view" and tv == 0:
                    tv = ts_ns
                elif et == "click" and tv > 0 and tc == 0 and ts_ns > tv:
                    tc = ts_ns
                elif et == "purchase" and tc > 0 and tp == 0 and ts_ns > tc:
                    tp = ts_ns
            state.update((tv, tc, tp))
            stage = 3 if tp else 2 if tc else 1 if tv else 0
            yield pd.DataFrame({"user_id": [key[0]], "funnel_stage": [stage]})

        return stream.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType="user_id long, funnel_stage int",
            stateStructType="tv long, tc long, tp long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    out = ST.staged_replay(spark, [b1, b2], build, output_mode="update")
    # last update per user wins — stages only progress
    got = {
        r.user_id: r.stage
        for r in out.groupBy("user_id").agg(F.max("funnel_stage").alias("stage")).collect()
    }
    want = {
        r.user_id: r.funnel_stage
        for r in fn_query(spark, sf_dir).select("user_id", "funnel_stage").collect()
    }
    assert got == want


def test_asof_tolerance_matches_pandas(spark):
    """tolerance semantics == pandas merge_asof(tolerance=...): matches
    farther than the bound become non-matches (nulls under how='left')."""
    left = spark.createDataFrame(
        [(1, 100.0, "p1"), (1, 205.0, "p2"), (2, 50.0, "p3")],
        "k long, ts double, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 90.0, "v1"), (1, 110.0, "v2"), (2, 10.0, "v3")],
        "k long, ts double, rlbl string",
    )
    got = {
        r.lbl: r.rlbl_right
        for r in A.asof_join(
            left, right, on="k", right_cols=["rlbl"], how="left", tolerance=30.0
        ).collect()
    }
    import pandas as pd

    m = pd.merge_asof(
        left.toPandas().sort_values("ts"),
        right.toPandas().sort_values("ts"),
        on="ts", by="k", tolerance=30.0, direction="backward",
    )
    want = {
        r.lbl: (r.rlbl if isinstance(r.rlbl, str) else None)
        for r in m.itertuples()
    }
    assert got == want == {"p1": "v1", "p2": None, "p3": None}


# ---------------------------------------------------------------------------
# Spark 4 Python Data Source lowering (datasource.py / from_iterable_source)
# ---------------------------------------------------------------------------


def test_datasource_source_streams_infinite_factory(spark):
    """The Spark-4-native unbounded path: an infinite generator FACTORY rides
    a registered Python data source with engine-managed offsets. limit bounds
    the drain; a second drain finds nothing new (exactly-once, offsets live
    in the engine not in filenames)."""
    import itertools

    import pypeln_spark as pl
    from pypeln_spark.operators.from_iterable import PumpSink
    from pypeln_spark.utils import INDEX_COL, VALUE_COL

    stage = pl.from_iterable_source(
        lambda: itertools.count(), limit=300, chunk_size=100, spark=spark
    )
    assert stage.df.isStreaming
    out = stage | pl.map(lambda x: x * 3 + 1, returns="long") | pl.filter(
        lambda x: x % 2 == 0
    )
    sink = PumpSink(out.df)
    try:
        got = sink.process().select(INDEX_COL, VALUE_COL).collect()
        vals = sorted(r[VALUE_COL] for r in got)
        assert vals == sorted(i * 3 + 1 for i in range(300) if (i * 3 + 1) % 2 == 0)
        # creation-order indices survive the pipeline (reference contract)
        assert sorted(tuple(r[INDEX_COL])[0] for r in got) == [
            i for i in range(300) if (i * 3 + 1) % 2 == 0
        ]
        # drained to the limit: nothing new on a second pass
        assert sink.process().count() == len(vals)
    finally:
        sink.stop()


def test_datasource_source_bounded_factory_and_inference(spark):
    """A bounded factory simply exhausts; element type is inferred by peeking
    a throwaway factory instance when `returns` is omitted."""
    import pypeln_spark as pl
    from pypeln_spark.operators.from_iterable import PumpSink
    from pypeln_spark.utils import VALUE_COL

    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        stage = pl.from_iterable_source(
            lambda: (float(i) for i in range(7)), spark=spark
        )
    # the inference peek consumes a throwaway factory() instance — surfaced
    # as a warning so impure factories aren't silently drained (ADVICE r3)
    assert any("consuming up to 200 elements" in str(w.message) for w in caught)
    assert dict(stage.df.dtypes)["value"] == "double"
    sink = PumpSink(stage.df)
    try:
        vals = sorted(r[VALUE_COL] for r in sink.process().collect())
        assert vals == [float(i) for i in range(7)]
    finally:
        sink.stop()


def test_datasource_source_pickled_fallback(spark):
    """Objects with no common Spark type ride the pickled BinaryType fallback
    through the data source, same contract as the bounded path (infer.py)."""
    import pypeln_spark as pl
    from pypeln_spark import infer
    from pypeln_spark.operators.from_iterable import PumpSink
    from pypeln_spark.utils import VALUE_COL

    payload = [1, "two", (3, 4), {"five": 5}]
    stage = pl.from_iterable_source(lambda: iter(payload), spark=spark)
    assert stage.pickled
    sink = PumpSink(stage.df)
    try:
        got = [infer.loads(bytes(r[VALUE_COL])) for r in sink.process().collect()]
        assert sorted(map(repr, got)) == sorted(map(repr, payload))
    finally:
        sink.stop()


def test_datasource_reader_replay_contract():
    """Unit contract of the reader itself: read() advances the live
    generator; readBetweenOffsets replays from a FRESH factory instance when
    replayable, and refuses with a clear error when not (a live generator
    cannot be rewound)."""
    import pytest

    from pypeln_spark.datasource import IterableStreamReader

    opts = {"factory": "itertools:count", "chunk_size": "2",
            "value_type": "long", "replayable": "true"}
    r = IterableStreamReader(opts)
    rows1, off1 = r.read(r.initialOffset())
    assert list(rows1) == [([0], 0), ([1], 1)] and off1 == {"i": 2}
    rows2, off2 = r.read(off1)
    assert list(rows2) == [([2], 2), ([3], 3)] and off2 == {"i": 4}
    # restart recovery: fresh factory fast-forwarded to the offset range
    assert list(r.readBetweenOffsets({"i": 1}, {"i": 3})) == [([1], 1), ([2], 2)]

    r2 = IterableStreamReader({**opts, "replayable": "false"})
    with pytest.raises(RuntimeError, match="replay"):
        r2.readBetweenOffsets({"i": 0}, {"i": 2})


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API) — gated on protobuf
# ---------------------------------------------------------------------------


def test_tws_gate_reports_clearly():
    """Without protobuf the module must say so up front, not crash the
    stream at runtime the way a bare transformWithStateInPandas call does."""
    from pypeln_spark import streaming_tws as TWS

    if TWS.available():
        pytest.skip("protobuf present — covered by test_tws_event_type_counts")
    with pytest.raises(ImportError, match="protobuf"):
        TWS.make_event_type_counts_processor()


def test_tws_event_type_counts(spark, sf_dir):
    """Real-engine TWS path: per-user event-type counts via MapState match
    the batch GROUP BY. Runs only where protobuf exists."""
    from pypeln_spark import streaming_tws as TWS

    if not TWS.available():
        pytest.skip("protobuf not installed — TWS runtime unavailable")

    ev = ST.events_stream(spark, sf_dir)
    out = TWS.transform_with_state(
        ev.select("user_id", "event_type"),
        ["user_id"],
        TWS.make_event_type_counts_processor(),
        "user_id long, event_type string, n_events bigint",
    )
    got = ST.run_to_memory(out, output_mode="update",
                           state_partitions=ST.PYTHON_STATE_PARTITIONS)
    # memory sink in update mode may hold superseded rows — keep latest per key
    from pyspark.sql import Window
    latest = got.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events")
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    assert latest.exceptAll(want).count() == 0
    assert want.exceptAll(latest).count() == 0


def test_streaming_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """Durability contract: stop a stateful streaming query mid-stream,
    start a NEW query instance on the SAME checkpoint, feed more data —
    state carries over and every input row is counted exactly once across
    the restart (no replay, no loss)."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v long"

    def start_query(sink_rows):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )

        def collect(df, epoch_id):
            sink_rows.append({(r.k): (r.n, r.s) for r in df.collect()})

        return (
            agg.writeStream.outputMode("complete")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )

    seen1 = []
    spark.createDataFrame([(1, 10), (1, 20), (2, 5)], schema).write.mode(
        "append"
    ).parquet(src)
    q1 = start_query(seen1)
    q1.processAllAvailable()
    q1.stop()
    assert seen1[-1] == {1: (2, 30), 2: (1, 5)}

    # second query instance, same checkpoint: picks up committed offsets
    seen2 = []
    spark.createDataFrame([(1, 1), (3, 7)], schema).write.mode(
        "append"
    ).parquet(src)
    q2 = start_query(seen2)
    q2.processAllAvailable()
    q2.stop()
    # counts include BOTH epochs exactly once — old rows not re-read
    # (offsets committed), old state not lost (restored from checkpoint)
    assert seen2[-1] == {1: (3, 31), 2: (1, 5), 3: (1, 7)}


def test_datasource_restart_resumes_at_offset(spark, tmp_path):
    """Restart contract for the iterable data source: a NEW query on the
    SAME checkpoint creates a fresh reader whose generator starts at 0 —
    the reader must fast-forward the (replayable) factory to the committed
    offset, so the resumed stream serves values 6.. not relabeled 0.."""
    import pyspark.sql.functions as F

    import pypeln_spark as pl
    from pypeln_spark.utils import INDEX_COL, VALUE_COL

    ckpt = str(tmp_path / "ds_ckpt")
    seen = []

    def run(limit):
        stage = pl.from_iterable_source(
            "itertools:count", limit=limit, chunk_size=2,
            returns="long", replayable=True, spark=spark,
        )
        def collect(df, epoch_id):
            seen.extend(
                (tuple(r[INDEX_COL])[0], r[VALUE_COL]) for r in df.collect()
            )
        q = (
            stage.df.writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run(limit=6)
    assert sorted(seen) == [(i, i) for i in range(6)]
    run(limit=10)  # restart: fresh reader, committed offset {"i": 6}
    assert sorted(seen) == [(i, i) for i in range(10)], sorted(seen)[-6:]


def test_datasource_entry_under_plain_session(tmp_path):
    """The registry's data-source entry runs under a plain SparkSession
    (not get_spark, so no PYTHONPATH export) started from a directory
    outside the checkout: the source's Python processes must still import
    pypeln_spark. Runs in a fresh interpreter and JVM, with the repo only
    on the script's own sys.path."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "run_entry.py"
    script.write_text(
        "import sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '2')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "from pypeln_spark.queries import REGISTRY\n"
        "df = REGISTRY['pipeline_datasource_source'].fn(spark, '/nonexistent')\n"
        "print('ROWS', df.count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script), repo], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    # i * 7 - 2 divisible by 3 for i in range(1200): every i ≡ 2 (mod 3)
    assert "ROWS 400" in out.stdout, out.stderr[-3000:]


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The large-state scale path: the same stateful aggregation runs under
    the RocksDB state-store provider (off-heap/on-disk state, incremental
    checkpoints) with identical results, and the query's state-operator
    metrics prove RocksDB actually backed the store."""
    from pypeln_spark import streaming as ST

    src = str(tmp_path / "rocks_src")
    spark.createDataFrame(
        [(i % 5, i) for i in range(100)], "k long, v long"
    ).write.parquet(src)
    stream = spark.readStream.schema("k long, v long").parquet(src)
    agg = stream.groupBy("k").count()
    ckpt = str(tmp_path / "rocks_ckpt")
    with ST.rocksdb_state(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocks_tt")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        finally:
            q.stop()
    # conf restored after the scope
    assert (
        spark.conf.get(ST.rocksdb_state.KEY, None) != ST.rocksdb_state.PROVIDER
    )
    got = {r.k: r["count"] for r in spark.table("rocks_tt").collect()}
    assert got == {k: 20 for k in range(5)}
    assert any("rocksdb" in m.lower() for m in metrics), metrics


def test_windowed_agg_restart_exactly_once(spark, tmp_path):
    """Durability contract: an append-mode watermarked windowed aggregate
    STOPS mid-stream and a NEW query restarts from the same checkpoint into
    the same parquet sink — closed windows are emitted exactly once across
    the restart (no loss, no duplicates), matching the batch replay."""
    import datetime as dt

    src = str(tmp_path / "restart_src")
    out = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    b1 = spark.createDataFrame(
        [(1, ts(0, 10)), (1, ts(0, 40)), (2, ts(1, 5))], "k long, ts timestamp"
    )
    b2 = spark.createDataFrame(
        [(2, ts(2, 15)), (1, ts(3, 30))], "k long, ts timestamp"
    )
    flush = spark.createDataFrame([(9, ts(12))], "k long, ts timestamp")

    def start():
        stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("ws"), "k", "n"
            )
        )
        return (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    b1.write.mode("append").parquet(src)
    q = start()
    q.processAllAvailable()
    q.stop()  # mid-stream shutdown

    b2.write.mode("append").parquet(src)
    q = start()  # resumes from the SAME checkpoint
    q.processAllAvailable()
    flush.write.mode("append").parquet(src)  # advance watermark → close all
    q.processAllAvailable()
    q.stop()

    got = sorted((r.ws.hour, r.k, r.n) for r in spark.read.parquet(out).collect())
    # every real window emitted exactly once; the flush window stays open
    assert got == [(0, 1, 2), (1, 2, 1), (2, 2, 1), (3, 1, 1)]


def test_harness_scratch_dirs_are_cleaned(spark, tmp_path):
    """ADVICE r4: staged_replay / staged_foreach_batch / run_to_memory must
    not leave mkdtemp checkpoint+source garbage behind — a bench sweep runs
    hundreds of these."""
    import glob as _glob
    import tempfile

    def scratch():
        return {
            d
            for d in _glob.glob(
                os.path.join(tempfile.gettempdir(), "pypeln_spark_*")
            )
        }

    before = scratch()
    b = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    out = ST.staged_replay(
        spark, [b, b], lambda s: s.groupBy("v").count(), output_mode="complete"
    )
    assert out.count() == 2
    seen = {"n": 0}
    ST.staged_foreach_batch(
        spark, [b], lambda df, eid: seen.__setitem__("n", seen["n"] + df.count())
    )
    assert seen["n"] == 2
    leaked = {
        d
        for d in scratch() - before
        if "pypeln_spark_replay_" in d
        or "pypeln_spark_cdc_" in d
        or "pypeln_spark_ckpt_" in d
        or "pypeln_spark_feeds_" in d
    }
    assert leaked == set(), f"harness left scratch dirs: {leaked}"


def test_streaming_incremental_dedup_absorbs_novel_docs(spark, tmp_path):
    """The streaming ingest gate must catch a near-dup of a doc that was
    NOVEL in an earlier epoch (absorbed into the index mid-stream) — the
    property that distinguishes a maintained index from a static one. The
    planted corpus: doc 0 is the static corpus; epoch 0 brings a copy of
    it (1) plus a novel doc (7); epoch 1 brings a copy of the NOVEL doc
    (3 → must drop with dup_of=7); epoch 2 brings a fresh doc (5 → kept)
    and a copy of the original corpus doc (17 → the static index still
    matches after two absorb generations)."""
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.queries import REGISTRY

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "red orange yellow green blue indigo violet umber ochre teal"
    c = "one two three four five six seven eight nine ten"
    rows = [(0, a), (1, a), (7, b), (3, b), (5, c), (17, a)]
    sf = str(tmp_path / "planted")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    S.drop_index()  # planted dir must not hit another test's cached index
    out = {
        r.doc_id: (r.epoch, r.dup_of, r.jaccard)
        for r in REGISTRY["streaming_incremental_dedup"].fn(spark, sf).collect()
    }
    S.drop_index()
    assert out[1] == (0, 0, 1.0)      # corpus match, epoch 0
    assert out[7] == (0, None, None)  # novel → absorbed
    assert out[3] == (1, 7, 1.0)      # matches the ABSORBED doc
    assert out[5] == (2, None, None)  # fresh → kept
    assert out[17] == (2, 0, 1.0)     # static corpus still matchable


def test_streaming_embedding_ingest_absorbs_novel_vectors(spark, tmp_path):
    """The EMBEDDING ingest gate must catch a near-dup of a vector that
    was NOVEL in an earlier epoch — same planted topology as the text
    gate's test: corpus = v0; epoch 0 brings a copy (1) and a novel
    orthogonal direction (7); epoch 1 brings a copy of the NOVEL vector
    (3 → must drop with dup_of=7, proving absorption); epoch 2 brings a
    fresh direction (5 → kept) and another copy of the corpus vector
    (17 → the static index still matches after two absorb generations).
    Orthogonal directions have cosine 0 < threshold, so the only matches
    are the planted copies."""
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.queries import REGISTRY

    def unit(d):
        return [1.0 if i == d else 0.0 for i in range(64)]

    rows = [
        (0, unit(0)), (1, unit(0)), (7, unit(9)),
        (3, unit(9)), (5, unit(20)), (17, unit(0)),
    ]
    sf = str(tmp_path / "planted_emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    S.drop_index()
    out = {
        r.vec_id: (r.epoch, r.dup_of)
        for r in REGISTRY["streaming_embedding_ingest"].fn(spark, sf).collect()
    }
    S.drop_index()
    assert out[1] == (0, 0)       # corpus match, epoch 0
    assert out[7] == (0, None)    # novel → absorbed
    assert out[3] == (1, 7)       # matches the ABSORBED vector
    assert out[5] == (2, None)    # fresh direction → kept
    assert out[17] == (2, 0)      # static corpus still matchable


def test_stream_sink_root_override_honored(spark, tmp_path, monkeypatch):
    """PYPELN_SPARK_STREAM_SINK_ROOT redirects every executor-written
    epoch sink to a shared-FS root (VERDICT r7 #3) — the knob that makes
    the production-shaped streaming queries deployable off local[*].
    Three properties: (a) stream_sink_dir carves fresh subdirs under a
    local override and composes (without touching) URI overrides, (b)
    both production-shaped queries run green under a non-default root
    with identical decisions, (c) they clean the root up afterwards."""
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.queries import REGISTRY

    root = tmp_path / "shared_fs_sinks"
    monkeypatch.setenv("PYPELN_SPARK_STREAM_SINK_ROOT", str(root))
    d1, d2 = ST.stream_sink_dir("pfx_"), ST.stream_sink_dir("pfx_")
    assert d1 != d2 and os.path.isdir(d1) and os.path.isdir(d2)
    assert os.path.dirname(d1) == str(root)
    monkeypatch.setenv("PYPELN_SPARK_STREAM_SINK_ROOT", "s3a://bkt/tmp/")
    du = ST.stream_sink_dir("pfx_")
    assert du.startswith("s3a://bkt/tmp/pfx_") and "//pfx_" not in du[len("s3a:/"):]

    monkeypatch.delenv("PYPELN_SPARK_STREAM_SINK_ROOT")
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "red orange yellow green blue indigo violet umber ochre teal"
    rows = [(0, a), (1, a), (7, b), (3, b), (5, "one two three"), (17, a)]
    sf = str(tmp_path / "planted")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(os.path.join(sf, "events.parquet"))

    def run_both():
        S.drop_index()
        incr = sorted(
            map(tuple, REGISTRY["streaming_incremental_dedup"].fn(spark, sf).collect())
        )
        S.drop_index()
        asof = sorted(
            map(tuple, REGISTRY["streaming_asof_static_enrich"].fn(spark, sf).collect())
        )
        return incr, asof

    baseline = run_both()
    monkeypatch.setenv("PYPELN_SPARK_STREAM_SINK_ROOT", str(root))
    assert run_both() == baseline
    leftovers = [p for p in os.listdir(root) if not p.startswith("pfx_")]
    assert leftovers == [], f"queries leaked sink dirs under the root: {leftovers}"


def test_incremental_lsh_index_compaction_bounds_plan(spark):
    """Every absorb merges into the index: the immutable base plus ONE
    level leaf holding every absorbed row, so the analyzed plan of each
    view stays at ≤ 2 leaves however many epochs arrive, while the
    CONTENTS equal the naive union of base and deltas — compaction moves
    rows, never changes them. Spark flattens chained unionByName into ONE
    multi-child Union at analysis, so the measurable 'depth' is the LEAF
    count (each base/checkpointed frame is a LogicalRDD leaf here)."""
    from pypeln_spark.ext import dedup as D

    def mk_docs(ids, tag):
        return spark.createDataFrame(
            [(i, f"{tag} text number {i} with shared suffix tokens") for i in ids],
            "doc_id long, text string",
        )

    def leaves(df):
        return df._jdf.queryExecution().analyzed().toString().count("LogicalRDD")

    base_sh, base_bands, _ = D.build_corpus_index(mk_docs(range(0, 6, 2), "base"))
    idx = D.IncrementalLshIndex(base_sh, base_bands)
    naive_sh, naive_bands = base_sh, base_bands
    for e in range(1, 6):
        d_sh, d_bands, _ = D.build_corpus_index(
            mk_docs(range(100 * e, 100 * e + 3), f"epoch{e}")
        )
        idx.absorb(d_sh, d_bands)
        naive_sh = naive_sh.unionByName(d_sh)
        naive_bands = naive_bands.unionByName(d_bands)
        assert leaves(idx.sh) <= 2 and leaves(idx.bands) <= 2
    key = lambda r: (r["doc_id"], str(sorted(r.asDict().items())))  # noqa: E731
    for got_df, want_df in ((idx.sh, naive_sh), (idx.bands, naive_bands)):
        got = sorted(got_df.collect(), key=key)
        assert got == sorted(want_df.collect(), key=key)
    idx.close()


def test_incremental_index_rejects_other_schedules(spark):
    """The index merges on every absorb; the ``compact_every`` keyword
    accepts only 1, so no caller can select another schedule."""
    from pypeln_spark.ext import dedup as D

    df = spark.createDataFrame([(0, "a")], "doc_id long, payload string")
    D.IncrementalLshIndex(df, df, compact_every=1)
    for k in (2, "auto"):
        with pytest.raises(ValueError, match="compact_every"):
            D.IncrementalLshIndex(df, df, compact_every=k)


def test_incremental_index_close_releases_its_leaves(spark):
    """close() releases the blocks of every leaf the index cut — level
    leaves, superseded ones included — for both index layouts, and never
    the caller's persisted base."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    jsc = spark.sparkContext._jsc.sc()

    def stored():
        return {r.id() for r in jsc.getRDDStorageInfo()}

    def frames(ids):
        sh = spark.createDataFrame(
            [(i, [i]) for i in ids], "vec_id long, sh_arr array<long>"
        )
        return sh, sh.select("vec_id", (F.col("vec_id") % 4).alias("bucket"))

    before = stored()
    base = frames(range(6))[0].withColumn("bucket", F.col("vec_id") % 4).persist()
    base.count()
    base_ids = stored() - before
    assert base_ids
    before_index = stored()
    sh_p = lambda c: c.select("vec_id", "sh_arr")  # noqa: E731
    bd_p = lambda c: c.select("vec_id", "bucket")  # noqa: E731
    classic = D.IncrementalLshIndex(sh_p(base), bd_p(base))
    comb = D.IncrementalLshIndex(sh_p(base), bd_p(base), comb=base)
    for e in (1, 2):
        d_sh, d_bands = frames(range(10 * e, 10 * e + 3))
        classic.absorb(d_sh, d_bands)
        comb.absorb_combined(d_sh.withColumn("bucket", F.col("vec_id") % 4))
    assert stored() - before_index  # the merges cut leaves of their own
    classic.close()
    comb.close()
    assert stored() <= before_index
    assert base_ids <= stored() and base.count() == 6
    base.unpersist()


def test_incremental_lsh_index_combined_absorb_matches_classic(spark):
    """An embedding index (one combined side) holds exactly the rows of a
    two-side index fed the same epochs, in its ``sh`` and ``bands``
    projections, across merges AND across a mid-stream rebuild_combined
    under a new bucket geometry (the two-side twin is rebuilt from the
    same frames). Leaf bound holds (base + level)."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    def frames(ids):
        sh = spark.createDataFrame(
            [(i, [i * 10 + 1, i * 10 + 2]) for i in ids],
            "vec_id long, sh_arr array<long>",
        )
        return sh, sh.select("vec_id", (F.col("vec_id") % 4).alias("bucket"))

    def leaves(df):
        return df._jdf.queryExecution().analyzed().toString().count("LogicalRDD")

    base_sh, base_bands = frames(range(0, 6, 2))
    base_sh = base_sh.localCheckpoint(eager=True)
    base_bands = base_bands.localCheckpoint(eager=True)
    base = base_sh.withColumn("bucket", F.col("vec_id") % 4)
    classic = D.IncrementalLshIndex(base_sh, base_bands)
    comb = D.IncrementalLshIndex(base_sh, base_bands, comb=base)
    retired = []
    for e in range(1, 6):
        d_sh, d_bands = frames(range(100 * e, 100 * e + 3))
        classic.absorb(d_sh, d_bands)
        comb.absorb_combined(d_sh.withColumn("bucket", F.col("vec_id") % 4))
        assert leaves(comb.sh) <= 2 and leaves(comb.bands) <= 2
        if e == 3:
            # mid-stream rebuild under a NEW geometry (mod 5), derived
            # from the stored rows
            comb.rebuild_combined(
                comb.sh.withColumn("bucket", F.col("vec_id") % 5)
            )
            retired.append(classic)
            classic = D.IncrementalLshIndex(
                classic.sh,
                classic.sh.select("vec_id", (F.col("vec_id") % 5).alias("bucket")),
            )
    key = lambda r: (r["vec_id"], str(sorted(r.asDict().items())))  # noqa: E731
    for attr in ("sh", "bands"):
        got = sorted(getattr(comb, attr).collect(), key=key)
        want = sorted(getattr(classic, attr).collect(), key=key)
        assert got == want, f"combined absorb changed {attr} contents"
    # each layout refuses rows for a side it does not have
    d_sh, d_bands = frames([900])
    with pytest.raises(ValueError, match="sides"):
        comb.absorb(d_sh, d_bands)
    with pytest.raises(ValueError, match="sides"):
        classic.absorb_combined(d_sh.withColumn("bucket", F.col("vec_id") % 4))
    for idx in [classic, comb] + retired:
        idx.close()


def test_embedding_index_rebucket_widens_mid_stream(spark):
    """The embedding gate's documented scaling move, executed: the index
    stores VECTORS (sh = vec_id,_v,_norm), so when buckets saturate the
    whole index re-buckets at a larger n_planes in one narrow pass —
    lsh_bucket over idx.sh — and, by the prefix-stability property, the
    result is exactly the bucket table a from-scratch wider index would
    hold for the same vectors (absorbed deltas included). Candidates
    thereafter are identical to having started wide."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    rng = random.Random(5)

    def emb(ids):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    def frames(df, planes):
        bk = S.lsh_bucket(S.with_norms(S.spread(df)), "_v", planes, 16)
        return (
            bk.select("vec_id", "_v", "_norm"),
            bk.select("vec_id", "bucket"),
        )

    base = emb(range(30))
    idx = D.IncrementalLshIndex(*frames(base, 6))
    d1, d2 = emb(range(100, 110)), emb(range(200, 215))
    idx.absorb(*frames(d1, 6))
    idx.absorb(*frames(d2, 6))
    # saturation hit → ONE narrow pass over the stored vectors re-buckets
    # the ENTIRE index (base + absorbed deltas) at 10 planes
    wide = S.lsh_bucket(idx.sh, "_v", 10, 16).select("vec_id", "bucket")
    all_vecs = base.unionByName(d1).unionByName(d2)
    fresh = {
        r.vec_id: r.bucket for r in frames(all_vecs, 10)[1].collect()
    }
    got = {r.vec_id: r.bucket for r in wide.collect()}
    idx.close()
    assert got == fresh  # identical to having started at 10 planes
    assert len(got) == 55


def test_incremental_index_random_schedules_property(spark):
    """Property form of the compaction contract: for ANY absorb schedule
    (including mid-stream manual compact() calls), the index contents
    equal the naive base∪deltas union. Hypothesis
    drives the schedule; frames are tiny key/value pairs so each example
    is a handful of local jobs."""
    from hypothesis import given, settings, strategies as st

    from pypeln_spark.ext import dedup as D

    def mk(ids, tag):
        return spark.createDataFrame(
            [(i, f"{tag}{i}") for i in ids], "doc_id long, payload string"
        )

    @settings(max_examples=8, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=5),
        manual=st.booleans(),
    )
    def prop(sizes, manual):
        base = mk(range(10), "base")
        idx = D.IncrementalLshIndex(base, base)
        expect = {(i, f"base{i}") for i in range(10)}
        nxt = 100
        for step, sz in enumerate(sizes):
            ids = range(nxt, nxt + sz)
            nxt += 10
            idx.absorb(mk(ids, "d"), mk(ids, "d"))
            expect |= {(i, f"d{i}") for i in ids}
            if manual and step == len(sizes) // 2:
                idx.compact()
        got = {(r.doc_id, r.payload) for r in idx.sh.collect()}
        got_b = {(r.doc_id, r.payload) for r in idx.bands.collect()}
        idx.close()
        assert got == expect and got_b == expect

    prop()


def test_ingest_gate_compaction_invariant_decisions(spark, tmp_path, monkeypatch):
    """End-to-end half of the compaction contract: the registry text and
    embedding gates emit IDENTICAL keep/drop decisions whether their
    index merges into block-manager leaves or into the durable files —
    including the cross-epoch absorption matches, which read the merged
    index — and the durable index recovers from its files alone."""
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.queries import REGISTRY

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "red orange yellow green blue indigo violet umber ochre teal"
    rows = [(0, a), (1, a), (7, b), (3, b), (5, "one two three"), (17, a)]
    sf = str(tmp_path / "planted")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )

    def unit(d):
        return [1.0 if i == d else 0.0 for i in range(64)]

    erows = [
        (0, unit(0)), (1, unit(0)), (7, unit(9)),
        (3, unit(9)), (5, unit(20)), (17, unit(0)),
    ]
    spark.createDataFrame(erows, "vec_id long, embedding array<float>").write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )

    def run(name):
        S.drop_index()
        return sorted(map(tuple, REGISTRY[name].fn(spark, sf).collect()))

    base_txt = run("streaming_incremental_dedup")
    base_emb = run("streaming_embedding_ingest")
    # the planted absorb matches must actually be present in both gates
    assert any(r[0] == 3 and r[2] == 7 for r in base_txt)
    assert any(r[0] == 3 and r[2] == 7 for r in base_emb)
    # durable arm: same registry gates, materializing to a shared-FS dir
    # instead of localCheckpoint — decisions identical, and each final
    # index is recoverable from the durable files alone via its manifest
    # (base copy + level; the corpus is written once, never rewritten).
    # Both entries run into the ONE directory: each keeps its files and
    # manifest in its own subdirectory, so neither overwrites the other's
    import json

    from pypeln_spark.ext import dedup as D

    ckpt = str(tmp_path / "gate_ckpt")
    os.makedirs(ckpt)
    monkeypatch.setenv("PYPELN_SPARK_INGEST_COMPACT_DIR", ckpt)
    assert run("streaming_incremental_dedup") == base_txt
    # the embedding gate's durable arm runs its one combined side
    assert run("streaming_embedding_ingest") == base_emb
    assert sorted(os.listdir(ckpt)) == [
        "streaming_embedding_ingest", "streaming_incremental_dedup",
    ]
    txt_ckpt = os.path.join(ckpt, "streaming_incremental_dedup")
    live = sorted(os.listdir(txt_ckpt))
    assert "sh_base" in live and "MANIFEST.json" in live, live
    rec_sh, _rec_bands = D.IncrementalLshIndex.recover(spark, txt_ckpt)
    # base corpus (even ids) + every novel absorbed doc = all non-dup ids
    dups = {r[0] for r in base_txt if r[2] is not None}
    want_ids = {doc_id for doc_id, _ in rows} - dups
    assert {r.doc_id for r in rec_sh.collect()} == want_ids
    emb_ckpt = os.path.join(ckpt, "streaming_embedding_ingest")
    with open(os.path.join(emb_ckpt, "MANIFEST.json")) as f:
        manifest = json.load(f)
    assert "comb" in manifest and "sh" not in manifest, manifest
    rec_sh, _rec_bands = D.IncrementalLshIndex.recover(spark, emb_ckpt)
    dups = {r[0] for r in base_emb if r[2] is not None}
    want_ids = {vec_id for vec_id, _ in erows} - dups
    assert {r.vec_id for r in rec_sh.collect()} == want_ids


def test_shuffle_width_guarded(spark, monkeypatch):
    """ADVICE r8: the gates' verify repartition must not assume
    spark.sql.shuffle.partitions parses as an int — managed runtimes may
    set it to "auto". Numeric passes through; non-numeric falls back to
    defaultParallelism."""
    assert ST.shuffle_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    monkeypatch.setattr(type(spark.conf), "get", lambda self, k, d=None: "auto")
    assert ST.shuffle_width(spark) == spark.sparkContext.defaultParallelism


def test_incremental_index_durable_checkpoint(spark, tmp_path, monkeypatch):
    """ADVICE r8 + VERDICT r13 #6: localCheckpoint blocks are
    non-recomputable after executor loss, so unbounded cluster gates need
    a DURABLE target. Under the GENERATION CHAIN, checkpoint_dir holds
    a one-time BASE copy per side, one level file per side that every
    absorb replaces (it holds only absorbed rows — never the corpus
    again), and MANIFEST.json naming the live set; recovery = the
    manifest's union
    (IncrementalLshIndex.recover), no session state consulted. Superseded
    files are removed only after the manifest publishing the successor
    lands — a crash leaks a file, never loses data. An embedding index
    (one combined side) follows the same chain with one file per absorb,
    and its rebuild publishes before it removes."""
    import json

    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    ckpt = str(tmp_path / "idx_ckpt")
    os.makedirs(ckpt)

    def mk(ids, tag):
        return spark.createDataFrame(
            [(i, f"{tag}{i}") for i in ids], "doc_id long, payload string"
        )

    def sides():
        names = sorted(os.listdir(ckpt))
        return (
            [n for n in names if n.startswith("sh_")],
            [n for n in names if n.startswith("bands_")],
        )

    def stamp(name):
        return os.stat(os.path.join(ckpt, name, "_SUCCESS")).st_mtime_ns

    idx = D.IncrementalLshIndex(
        mk(range(5), "b"), mk(range(5), "b"), checkpoint_dir=ckpt
    )
    idx.absorb(mk(range(10, 13), "d"), mk(range(10, 13), "d"))
    # first absorb: base copy written once + one level file per side,
    # manifest names both
    sh_d, bd_d = sides()
    assert sh_d == ["sh_00001", "sh_base"] and bd_d == ["bands_00002", "bands_base"]
    m = json.load(open(os.path.join(ckpt, "MANIFEST.json")))
    assert [os.path.basename(p) for p in m["sh"]] == ["sh_base", "sh_00001"]
    base_stamps = (stamp("sh_base"), stamp("bands_base"))
    idx.absorb(mk(range(20, 22), "e"), mk(range(20, 22), "e"))
    # second absorb: a new level file REPLACED each side's previous one
    # (no delta file beside it); the base copies were not rewritten
    sh_d, bd_d = sides()
    assert sh_d == ["sh_00003", "sh_base"] and bd_d == ["bands_00004", "bands_base"]
    assert (stamp("sh_base"), stamp("bands_base")) == base_stamps
    m = json.load(open(os.path.join(ckpt, "MANIFEST.json")))
    assert [os.path.basename(p) for p in m["bands"]] == ["bands_base", "bands_00004"]
    want = (
        {(i, f"b{i}") for i in range(5)}
        | {(i, f"d{i}") for i in range(10, 13)}
        | {(i, f"e{i}") for i in range(20, 22)}
    )
    lvl = [n for n in sh_d if n != "sh_base"][0]
    got_lvl = {
        (r.doc_id, r.payload)
        for r in spark.read.parquet(os.path.join(ckpt, lvl)).collect()
    }
    assert got_lvl == want - {(i, f"b{i}") for i in range(5)}  # absorbed only
    assert {(r.doc_id, r.payload) for r in idx.sh.collect()} == want
    assert {(r.doc_id, r.payload) for r in idx.bands.collect()} == want
    # recovery from the durable dir ALONE — fresh frames, no session state
    rec_sh, rec_bands = D.IncrementalLshIndex.recover(spark, ckpt)
    assert {(r.doc_id, r.payload) for r in rec_sh.collect()} == want
    assert {(r.doc_id, r.payload) for r in rec_bands.collect()} == want
    # the durable dirs are the deployment's index state: close() keeps them
    idx.close()
    assert sides() == ((sh_d), (bd_d))

    # combined layout: one side, ``comb``, so one level file per absorb
    comb_dir = str(tmp_path / "comb_ckpt")
    os.makedirs(comb_dir)

    def rows(ids):
        return spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in ids],
            "doc_id long, payload string, bucket long",
        )

    def comb_files():
        return sorted(n for n in os.listdir(comb_dir) if n.startswith("comb_"))

    def manifest():
        with open(os.path.join(comb_dir, "MANIFEST.json")) as f:
            return [os.path.basename(p) for p in json.load(f)["comb"]]

    base = rows(range(5))
    cidx = D.IncrementalLshIndex(
        base.select("doc_id", "payload"), base.select("doc_id", "bucket"),
        checkpoint_dir=comb_dir, comb=base,
    )
    cidx.absorb_combined(rows(range(10, 13)))
    assert comb_files() == ["comb_00001", "comb_base"]
    assert manifest() == ["comb_base", "comb_00001"]
    base_stamp = os.stat(os.path.join(comb_dir, "comb_base", "_SUCCESS")).st_mtime_ns
    cidx.absorb_combined(rows(range(20, 22)))
    assert comb_files() == ["comb_00002", "comb_base"]
    assert os.stat(
        os.path.join(comb_dir, "comb_base", "_SUCCESS")
    ).st_mtime_ns == base_stamp
    # a rebuild supersedes the base copy and the level file; each goes
    # only after the manifest naming the rebuilt file has landed
    import pypeln_spark.streaming as PS

    removed = []
    real_remove = PS.remove_sink_dir

    def spy(spark_, path):
        removed.append((os.path.basename(path), manifest()))
        real_remove(spark_, path)

    monkeypatch.setattr(PS, "remove_sink_dir", spy)
    cidx.rebuild_combined(cidx.comb.withColumn("bucket", F.col("doc_id") % 5))
    assert removed == [
        ("comb_base", ["comb_00003"]), ("comb_00002", ["comb_00003"]),
    ]
    assert comb_files() == ["comb_00003"]
    ids = [*range(5), *range(10, 13), *range(20, 22)]
    assert {(r.doc_id, r.bucket) for r in cidx.bands.collect()} == {
        (i, i % 5) for i in ids
    }
    rec_sh, rec_bands = D.IncrementalLshIndex.recover(spark, comb_dir)
    assert sorted(rec_sh.collect()) == sorted(cidx.sh.collect())
    assert sorted(rec_bands.collect()) == sorted(cidx.bands.collect())
    assert rec_sh.columns == ["doc_id", "payload"]
    cidx.close()

    # a fresh durable index: compact() with no rows still gives every side
    # a file before it publishes, so recover() works before any merge; a
    # capped embedding index keeps the vectors it evicts in ``sh`` and
    # drops them from ``bands``, live and recovered alike
    for tag, kw in (
        ("text", {}), ("comb", {"comb": base}),
        ("capped", {"comb": base, "bucket_cap": 1}),
    ):
        d = str(tmp_path / f"fresh_{tag}")
        os.makedirs(d)
        fidx = D.IncrementalLshIndex(
            base.select("doc_id", "payload"), base.select("doc_id", "bucket"),
            checkpoint_dir=d, **kw,
        )
        fidx.compact()
        if tag == "capped":
            fidx.absorb_combined(rows(range(10, 13)))
            assert fidx.size() == 8
            assert sorted(fidx.bands.collect()) == [(0, 0), (1, 1), (2, 2)]
        rec_sh, rec_bands = D.IncrementalLshIndex.recover(spark, d)
        assert sorted(rec_sh.collect()) == sorted(fidx.sh.collect())
        assert sorted(rec_bands.collect()) == sorted(fidx.bands.collect())
        fidx.close()


def test_embedding_gate_rejects_non_hysteretic_config():
    """target_occupancy ≥ occupancy_trigger would re-fire the widen every
    epoch (no hysteresis), and an index without a ``comb`` side has no
    layout the embedding verify reads — both rejected at construction,
    before any Spark work."""
    from pypeln_spark.ext import similarity as S

    with pytest.raises(ValueError, match="hysteresis"):
        S.EmbeddingIngestGate(
            None, "/tmp/x", 16, 6, 0.9,
            occupancy_trigger=8.0, target_occupancy=8.0,
        )
    # an index without a combined side (a text-layout index) is rejected
    import types

    with pytest.raises(ValueError, match="comb="):
        S.EmbeddingIngestGate(types.SimpleNamespace(comb=None), "/tmp/x", 16, 6, 0.9)


def test_embedding_gate_occupancy_trigger(spark, tmp_path):
    """VERDICT r8 #2, end-to-end: on a growing synthetic stream the gate
    (a) fires its occupancy-triggered re-bucket, (b) emits decisions
    IDENTICAL to the never-widened gate — planted duplicates are
    same-vector, bucket-hamming-0 at any width, so the widen costs them
    nothing — and (c) the widened gate's candidate growth flattens where
    the fixed-width gate's keeps climbing with |new|·|index|/2^n."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 16
    rng = random.Random(11)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    base_rows = [(i, vec()) for i in range(300)]
    planted_of = dict(base_rows[:2])  # vectors 0 and 1, replanted later
    epoch_rows = []
    for e, lo in enumerate((1000, 2000, 3000)):
        rows = [(lo + j, vec()) for j in range(200)]
        rows[0] = (lo, planted_of[e % 2])  # dup of a CORPUS vector
        if e > 0:
            # dup of the PREVIOUS epoch's novel vector 
            rows[1] = (lo + 1, epoch_rows[e - 1][5][1])
        epoch_rows.append(rows)
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(base_rows, schema)
    epochs = [spark.createDataFrame(r, schema) for r in epoch_rows]

    def run(trigger):
        root = str(tmp_path / f"sink_{int(trigger)}")
        cor = S.lsh_bucket(S.with_norms(S.spread(base)), "_v", 2, DIM)
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            comb=cor,
        )
        gate = S.EmbeddingIngestGate(
            idx, root, DIM, n_planes=2, threshold=0.95, probe_hamming=1,
            occupancy_trigger=(16.0 if trigger else 0.0),
            target_occupancy=4.0, collect_stats=True,
        )
        for i, ep in enumerate(epochs):
            gate(ep, i)
        out = {
            (r.vec_id): (r.epoch, r.dup_of, r.cos)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        idx.close()
        return gate, out

    fixed_gate, fixed_out = run(False)
    trig_gate, trig_out = run(True)
    # (a) exactly one widen fires (hysteresis: occupancy lands at ~target
    # and can't re-cross trigger within these three epochs)
    assert [s["widened"] for s in fixed_gate.stats] == [False] * 3
    assert sum(s["widened"] for s in trig_gate.stats) == 1
    assert trig_gate.n_planes >= 7 > 2 == fixed_gate.n_planes
    # (b) decisions identical — the planted dups all caught in both
    assert trig_out == fixed_out
    assert fixed_out[1000][1] == 0 and fixed_out[2000][1] == 1
    assert fixed_out[3000][1] == 0
    assert fixed_out[2001][1] == 1005  # cross-epoch absorption match
    assert fixed_out[3001][1] == 2005
    # (c) candidate growth flattens: post-widen epochs probe 2^7+ buckets
    # instead of 4, so the widened gate's candidate count drops by ~an
    # order of magnitude while the fixed gate's keeps growing
    assert trig_gate.stats[2]["n_cand"] * 3 < fixed_gate.stats[2]["n_cand"]
    assert fixed_gate.stats[2]["n_cand"] > fixed_gate.stats[0]["n_cand"]


def test_cell_gate_matches_hyperplane_at_high_threshold(spark, tmp_path):
    """VERDICT r9 #4's decision-equality half: at a production threshold
    (≥0.9) the k-means-CELL gate emits decision sets IDENTICAL to the
    hyperplane gate on a planted-dup stream — an exact copy shares its
    source's nearest cell (same vector → same argmax, same deterministic
    tiebreak) exactly as it shares its hyperplane bucket at any width —
    including the cross-epoch absorption matches, which read cells the
    index absorbed mid-stream. dim=64 keeps random cosines ~N(0, 1/64)
    (sd 0.125), so no unplanted pair comes near 0.9 and the two gates'
    DIFFERENT sub-threshold candidate sets cannot leak into decisions."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 64
    rng = random.Random(23)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    base_rows = [(i, vec()) for i in range(300)]
    planted_of = dict(base_rows[:2])
    epoch_rows = []
    for e, lo in enumerate((1000, 2000, 3000)):
        rows = [(lo + j, vec()) for j in range(200)]
        rows[0] = (lo, planted_of[e % 2])  # dup of a CORPUS vector
        if e > 0:  # dup of the PREVIOUS epoch's novel vector
            rows[1] = (lo + 1, epoch_rows[e - 1][5][1])
        epoch_rows.append(rows)
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(base_rows, schema)
    epochs = [spark.createDataFrame(r, schema) for r in epoch_rows]

    def collect(root, idx, gate):
        for i, ep in enumerate(epochs):
            gate(ep, i)
        out = {
            r.vec_id: (r.epoch, r.dup_of, r.cos)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        idx.close()
        return out

    root_h = str(tmp_path / "hyper")
    cor = S.lsh_bucket(S.with_norms(S.spread(base)), "_v", 4, DIM)
    idx_h = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
        comb=cor,
    )
    hyper = collect(
        root_h, idx_h,
        S.EmbeddingIngestGate(idx_h, root_h, DIM, n_planes=4, threshold=0.9),
    )

    root_c = str(tmp_path / "cells")
    nf = S.with_norms(S.spread(base))
    cents = S.kmeans_centroids(base, n_cells=8, iters=2)
    corc = S.ivf_assign(nf, cents, 8, keep=1).select(
        "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
    )
    idx_c = D.IncrementalLshIndex(
        corc.select("vec_id", "_v", "_norm"), corc.select("vec_id", "bucket"),
        comb=corc,
    )
    cells = collect(
        root_c, idx_c,
        S.CellEmbeddingIngestGate(idx_c, root_c, DIM, cents, 8, 0.9, nprobe=2),
    )

    assert cells == hyper
    assert cells[1000][1] == 0 and cells[2000][1] == 1 and cells[3000][1] == 0
    assert cells[2001][1] == 1005  # cross-epoch absorption match
    assert cells[3001][1] == 2005


def test_cell_gate_occupancy_retrain(spark, tmp_path):
    """The cells gate's self-managed maintenance (r10): on a growing
    stream the gate (a) fires its occupancy-triggered RE-TRAIN (grow
    cells back to target occupancy, retrain on the current index,
    re-assign in one narrow pass), (b) emits decisions IDENTICAL to the
    never-retrained gate at a high threshold — an exact copy lands in
    its source's argmax cell under ANY centroid set — and (c) the
    retrained gate's candidate volume flattens while the fixed gate's
    grows with index size / n_cells."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 16
    rng = random.Random(31)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    base_rows = [(i, vec()) for i in range(300)]
    planted_of = dict(base_rows[:2])
    epoch_rows = []
    for e, lo in enumerate((1000, 2000, 3000)):
        rows = [(lo + j, vec()) for j in range(200)]
        rows[0] = (lo, planted_of[e % 2])
        if e > 0:
            rows[1] = (lo + 1, epoch_rows[e - 1][5][1])
        epoch_rows.append(rows)
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(base_rows, schema)
    epochs = [spark.createDataFrame(r, schema) for r in epoch_rows]

    def run(trigger):
        root = str(tmp_path / f"cells_{int(trigger)}")
        nf = S.with_norms(S.spread(base))
        cents = S.kmeans_centroids(base, 4, 2)
        cor = S.ivf_assign(nf, cents, 4, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            comb=cor,
        )
        gate = S.CellEmbeddingIngestGate(
            idx, root, DIM, cents, 4, 0.95, nprobe=2,
            occupancy_trigger=(100.0 if trigger else 0.0),
            target_occupancy=20.0, collect_stats=True,
        )
        for i, ep in enumerate(epochs):
            gate(ep, i)
        out = {
            r.vec_id: (r.epoch, r.dup_of, r.cos)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        idx.close()
        return gate, out

    fixed_gate, fixed_out = run(False)
    trig_gate, trig_out = run(True)
    # (a) the retrain fires exactly once (hysteresis: occupancy lands at
    # ~target and can't re-cross the trigger within three epochs)
    assert [s["widened"] for s in fixed_gate.stats] == [False] * 3
    assert sum(s["widened"] for s in trig_gate.stats) == 1
    assert trig_gate.n_cells > 4 == fixed_gate.n_cells
    # (b) decisions identical at the high threshold, planted dups caught
    assert trig_out == fixed_out
    assert fixed_out[1000][1] == 0 and fixed_out[2000][1] == 1
    assert fixed_out[3000][1] == 0
    assert fixed_out[2001][1] == 1005 and fixed_out[3001][1] == 2005
    # (c) candidate volume flattens post-retrain
    assert trig_gate.stats[2]["n_cand"] < fixed_gate.stats[2]["n_cand"]


def test_curated_ingest_composition(spark, tmp_path):
    """The composed pipeline's semantics, planted (r10): a doc that
    FAILS the quality screen must come back low_quality even when it is
    a near-dup of the corpus (screen wins, gate never sees it), must
    NOT be absorbed (a later near-dup of IT stays 'keep'), while a
    quality-passing near-dup of an absorbed epoch-0 novel doc is caught
    cross-epoch — the same absorb property as the plain gate, now
    through the screen."""
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.queries import REGISTRY
    from pypeln_spark.queries.curation import MIN_TOKENS

    # quality-passing text: > MIN_TOKENS tokens with plenty of stopwords
    good = ("the quick brown fox and the lazy dog are in the yard with "
            "a ball and it is a fine day for all of them to play " * 2)
    good2 = ("we saw that the river was wide and the boats on it were "
             "slow but they kept moving into the evening light " * 2)
    low = "short junk"  # fails the token floor
    assert len(low.split()) < MIN_TOKENS
    rows = [
        (0, good),        # corpus (even), passes screen -> in index
        (2, low),         # corpus, fails screen -> NOT in index
        (1, good),        # epoch 0: quality near-dup of corpus 0 -> dup
        (7, low),         # epoch 0: low-quality (also dup-of-0 text!) -> low_quality
        (13, good2),      # epoch 0: quality novel -> keep, absorbed
        (3, good2),       # epoch 1: near-dup of ABSORBED 13 -> dup(13)
        (9, low + " again"),   # epoch 1: low-quality -> low_quality
        (5, low),         # epoch 2: same text as screened-out 7 — 7 was
                          # never absorbed, so this is low_quality (and
                          # would be 'keep' were it quality: nothing to match)
        (11, ""),         # epoch 1: EMPTY doc — the null-ratio edge: must
                          # get a low_quality row, never vanish (q_pass
                          # coalesces the null stopword ratio to False)
    ]
    sf = str(tmp_path / "curated")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    S.drop_index()
    out = {
        r.doc_id: (r.verdict, r.dup_of)
        for r in REGISTRY["streaming_curated_ingest"].fn(spark, sf).collect()
    }
    assert out[1] == ("dup", 0)
    assert out[7] == ("low_quality", None)  # screen wins over dup
    assert out[13] == ("keep", None)
    assert out[3] == ("dup", 13)  # cross-epoch absorb through the screen
    assert out[9] == ("low_quality", None)
    assert out[5] == ("low_quality", None)  # screened-out 7 was never absorbed
    assert out[11] == ("low_quality", None)  # empty doc gets a verdict row


def test_staged_feeds_arrive_as_single_micro_batches(spark):
    """The epoch-boundary guarantee, pinned (r9): a multi-partition feed
    used to commit N part-files by sequential rename while the idle
    stream polled the directory, so the source could list a PARTIAL feed
    and split one epoch across two micro-batches — measured at the
    synthetic sf1 as 3 feeds arriving as 4-5 nondeterministic batches,
    which made the ingest gates' decisions nondeterministic at scale.
    Feeds now land as ONE file (one atomic rename); every feed must
    arrive as exactly one micro-batch with its full row count, even when
    the input frame has many partitions."""
    feeds = [
        spark.range(n).repartition(32).selectExpr("id", "id * 2 AS v")
        for n in (40_000, 35_000, 30_000)
    ]
    seen = []
    ST.staged_foreach_batch(spark, feeds, lambda df, eid: seen.append(df.count()))
    assert seen == [40_000, 35_000, 30_000], seen


def test_staged_empty_feed_still_fires_its_epoch(spark):
    """The one-staging-job feed write (r13) emits no dynamic-partition
    dir for a zero-row feed, so empty feeds take the legacy per-feed
    write path — the epoch must still FIRE (bodies see an empty frame)
    and later feeds must keep their epoch_ids, or every
    epoch_id-scheduled decision (compaction cadence, query-epoch
    derivation) silently shifts."""
    base = spark.range(100).selectExpr("id", "id * 3 AS v")
    feeds = [
        base.filter("id < 40"),
        base.filter("id < 0"),  # empty slice of a real plan
        base.filter("id >= 40"),
    ]
    seen = []
    ST.staged_foreach_batch(
        spark, feeds, lambda df, eid: seen.append((eid, df.count()))
    )
    assert seen == [(0, 40), (1, 0), (2, 60)], seen


def test_incremental_index_bucket_cap_bounds_width(spark):
    """bucket_cap keeps only the cap LOWEST-id rows per bucket — applied
    lazily at init and re-applied at every compaction. With min-id
    priority, iterated capping is history-independent: the surviving set
    always equals the cap-lowest ids per bucket over everything ever
    absorbed, so the view right after any compaction is schedule-free."""
    from pypeln_spark.ext import dedup as D

    def bands(rows):
        return spark.createDataFrame(rows, "doc_id long, sigh long, sig array<bigint>")

    def sh(ids):
        return spark.createDataFrame(
            [(i, [i]) for i in ids], "doc_id long, sh_arr array<bigint>"
        )

    base = bands([(3, 10, [1, 2]), (4, 10, [1, 2]), (7, 10, [1, 2]), (9, 20, [9])])
    idx = D.IncrementalLshIndex(sh([3, 4, 7, 9]), base, bucket_cap=2)
    # init: bucket 10 keeps lowest ids {3,4}; 7 evicted; singleton untouched
    assert {(r.doc_id, r.sigh) for r in idx.bands.collect()} == {
        (3, 10), (4, 10), (9, 20)
    }
    # absorb a LOWER id into bucket 10; K=1 compaction re-caps the union
    idx.absorb(sh([1]), bands([(1, 10, [1, 2])]))
    assert {(r.doc_id, r.sigh) for r in idx.bands.collect()} == {
        (1, 10), (3, 10), (9, 20)
    }
    # the sh side is NEVER capped — it is the corpus record
    assert {r.doc_id for r in idx.sh.collect()} == {1, 3, 4, 7, 9}
    idx.close()


def test_text_gate_bucket_cap_exact_dup_decisions_identical(spark, tmp_path):
    """min-id capping is decision-invariant for exact-dup traffic: the
    min-id bucket member (the survivor pick's target) always survives the
    cap, so dup_of/jaccard match the uncapped gate bit-for-bit even when
    the bucket is 5 wide and the cap keeps 2."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.dedup import BANDS, N_HASHES

    boiler = "boilerplate footer navigation copyright terms privacy contact"
    corpus_rows = [(i, boiler) for i in (0, 2, 4, 6, 8)] + [
        (50 + i, f"entirely unrelated corpus document {i} talking about topic {i*3}")
        for i in range(4)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    epochs = [
        [(11, boiler), (13, "a fresh novel document about gardening and soil")],
        [(21, boiler), (23, "another novel text concerning sailing and knots")],
    ]

    def run(cap, root):
        cor_sh = D.pool_persist(D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5))
        cor_sh.count()
        cor_bands = D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, N_HASHES // BANDS,
        )
        idx = D.IncrementalLshIndex(
            cor_sh, cor_bands, bucket_cap=cap
        )
        gate = D.TextIngestGate(idx, root, N_HASHES, BANDS, 5, 0.5)
        for e, rows in enumerate(epochs):
            gate(spark.createDataFrame(rows, "doc_id long, text string"), e)
        idx.close()
        out = {
            (r.doc_id, r.epoch, r.dup_of, r.jaccard)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        return out

    capped = run(2, str(tmp_path / "capped"))
    uncapped = run(None, str(tmp_path / "uncapped"))
    assert capped == uncapped
    # and the boilerplate copies were all flagged dups of the min-id member
    assert {(11, 0, 0, 1.0), (21, 1, 0, 1.0)} <= {
        (d, e, du, j) for d, e, du, j in capped
    }


def test_text_gate_decisions_broadcast_threshold_invariant(spark, tmp_path):
    """Gate decisions must not depend on the session's broadcast
    threshold (r14: the fold-once absorb derives novel bands from the
    persisted batch bands via an anti-join whose strategy the planner
    picks) — run the gate with broadcasts enabled and disabled and
    require bit-identical decisions, across epochs and an absorb in
    between. Also pins the cross-epoch absorb proof for the fold-once
    path: a dup of an epoch-0 NOVEL doc must match in epoch 1."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.dedup import BANDS, N_HASHES

    boiler = "boilerplate footer navigation copyright terms privacy contact"
    corpus = spark.createDataFrame(
        [(0, boiler)] + [
            (50 + i, f"entirely unrelated corpus document {i} about topic {i*3}")
            for i in range(4)
        ],
        "doc_id long, text string",
    )
    epochs = [
        # epoch 0: one corpus dup + one novel doc (absorbed)
        [(11, boiler), (13, "a fresh novel document about gardening and soil")],
        # epoch 1: a dup of the epoch-0 NOVEL doc (proves the absorb path)
        [(21, "a fresh novel document about gardening and soil"),
         (23, "another novel text concerning sailing and knots")],
    ]

    def run(root, broadcast_on):
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if not broadcast_on:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cor_sh = D.pool_persist(
                D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5))
            cor_sh.count()
            cor_bands = D.lsh_band_table(
                D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
                "doc_id", BANDS, N_HASHES // BANDS,
            )
            idx = D.IncrementalLshIndex(cor_sh, cor_bands)
            gate = D.TextIngestGate(idx, root, N_HASHES, BANDS, 5, 0.5)
            for e, rows in enumerate(epochs):
                gate(spark.createDataFrame(rows, "doc_id long, text string"), e)
            idx.close()
            out = sorted(
                (r.doc_id, r.epoch, r.dup_of, r.jaccard)
                for r in spark.read.parquet(root).collect()
            )
            D.retire_pipeline_caches()
            return out
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    probe_side = run(str(tmp_path / "probe"), True)
    fallback = run(str(tmp_path / "fallback"), False)
    assert probe_side == fallback
    # the cross-epoch absorb proof: 21 reads dup_of the absorbed 13
    assert any(d == 21 and du == 13 and j == 1.0
               for d, e, du, j in probe_side)
    assert any(d == 11 and du == 0 for d, e, du, j in probe_side)


def test_text_gate_absorb_dedup_thins_index_and_keeps_decisions(spark, tmp_path):
    """TextIngestGate(absorb_dedup=True) — the text twin of the embedding
    gates' flag: an identical-document flood arriving in ONE micro-batch
    absorbs in full without it (gates never compare a batch's rows
    against each other); with it, the flood stores its min-id copy only,
    and later epochs' dup verdicts are bit-identical (the min-id copy is
    exactly the survivor pick's target). Distinct docs are untouched."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.dedup import BANDS, N_HASHES

    corpus = spark.createDataFrame(
        [(50 + i, f"entirely unrelated corpus document {i} about topic {i*3}")
         for i in range(4)],
        "doc_id long, text string",
    )
    flood = "mirror burst boilerplate page repeated verbatim across the crawl"
    epochs = [
        # epoch 0: the flood (12 identical copies) + 2 distinct novels
        [(1000 + j, flood) for j in range(12)]
        + [(1500, "a fresh novel document about gardening and soil"),
           (1501, "another novel text concerning sailing and knots")],
        # epoch 1: 3 more copies + one distinct novel
        [(2000 + j, flood) for j in range(3)]
        + [(2500, "a third unrelated text regarding astronomy and lenses")],
    ]

    def run(absorb_dedup, root):
        cor_sh = D.pool_persist(D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5))
        cor_sh.count()
        cor_bands = D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, N_HASHES // BANDS,
        )
        idx = D.IncrementalLshIndex(cor_sh, cor_bands)
        gate = D.TextIngestGate(
            idx, root, N_HASHES, BANDS, 5, 0.5, absorb_dedup=absorb_dedup
        )
        for e, rows in enumerate(epochs):
            gate(spark.createDataFrame(rows, "doc_id long, text string"), e)
        flood_sh = idx.sh.filter(F.col("doc_id").between(1000, 1499)).count()
        flood_bands = idx.bands.filter(
            F.col("doc_id").between(1000, 1499)
        ).count()
        distinct_sh = idx.sh.filter(F.col("doc_id") >= 1500).count()
        idx.close()
        out = {
            (r.doc_id, r.epoch, r.dup_of, r.jaccard)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        return out, flood_sh, flood_bands, distinct_sh

    plain, p_sh, p_b, p_d = run(False, str(tmp_path / "plain"))
    thin, t_sh, t_b, t_d = run(True, str(tmp_path / "thin"))

    # store-everything keeps all 12 flood copies (x BANDS band rows);
    # absorb_dedup keeps exactly the min-id representative
    assert (p_sh, p_b) == (12, 12 * BANDS)
    assert (t_sh, t_b) == (1, BANDS)
    # the distinct novels absorb identically in both arms
    assert p_d == t_d == 3
    # decisions bit-identical, incl. epoch-1 copies matching the rep
    assert thin == plain
    assert {(2000 + j, 1, 1000, 1.0) for j in range(3)} <= thin


def test_gate_sink_schema_guard_refuses_mixed_schema_append(spark, tmp_path):
    """ADVICE r11: the gate sink schema depends on absorb_dedup (4 vs 5
    columns) — a reconfigured gate pointed at an EXISTING sink_root must
    fail loudly on its first write, not append mixed-schema parquet that
    plain reads resolve nondeterministically (whichever footer Spark
    samples). A fresh sink validates clean."""
    import pytest as _pytest

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.dedup import BANDS, N_HASHES

    corpus = spark.createDataFrame(
        [(50 + i, f"entirely unrelated corpus document {i} about topic {i*3}")
         for i in range(3)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1500, "a fresh novel document about gardening and soil")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "sink")

    def gate(absorb_dedup):
        cor_sh = D.pool_persist(
            D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5)
        )
        cor_sh.count()
        cor_bands = D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, N_HASHES // BANDS,
        )
        idx = D.IncrementalLshIndex(cor_sh, cor_bands)
        return D.TextIngestGate(
            idx, root, N_HASHES, BANDS, 5, 0.5, absorb_dedup=absorb_dedup
        )

    gate(False)(batch, 0)  # fresh sink: 4-column decisions land
    with _pytest.raises(ValueError, match="absorb_dedup"):
        gate(True)(batch, 1)  # 5-column gate vs the 4-column sink
    # the sink still holds ONLY the clean 4-column epoch
    got = spark.read.parquet(root)
    assert got.columns == ["doc_id", "epoch", "dup_of", "jaccard"]
    assert got.count() == 1
    D.retire_pipeline_caches()


def test_bm25_live_serving_stats_drift_across_epochs(spark, sf_dir):
    """streaming_bm25_topk_serving_live: each query epoch must read the
    CURRENT corpus under the CURRENT statistics. Pinned properties:
    (a) both fixed queries are served in both epochs with contiguous
    ranks; (b) results include ABSORBED arrivals (odd doc_ids — the
    corpus is even ids only), proving serves read the live set, not the
    base corpus; (c) for at least one (query, doc) pair present in both
    epochs the SCORE changes — the df/avgdl snapshot drifted with the
    epoch-1 absorbs even though the doc itself didn't change."""
    from pypeln_spark.queries import REGISTRY

    out = REGISTRY["streaming_bm25_topk_serving_live"].fn(spark, sf_dir)
    rows = out.collect()
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault((r.epoch, r.query_id), {})[r.doc_id] = (
            r.score, r.rank
        )
    # (a) both queries, both epochs, ranks contiguous from 1
    for e in (0, 1):
        for q in (0, 1):
            got = by_epoch[(e, q)]
            ranks = sorted(rk for _, rk in got.values())
            assert ranks == list(range(1, len(ranks) + 1)), (e, q, ranks)
    # (b) live reads: some served doc is an absorbed (odd-id) arrival
    assert any(r.doc_id % 2 == 1 for r in rows), "no absorbed doc served"
    # (c) statistics drift on a shared doc
    drifted = False
    for q in (0, 1):
        shared = set(by_epoch[(0, q)]) & set(by_epoch[(1, q)])
        if any(
            by_epoch[(0, q)][d][0] != by_epoch[(1, q)][d][0] for d in shared
        ):
            drifted = True
    assert drifted, "scores identical across epochs — stats never re-snapshotted"


def test_absorb_dedup_defaults_match_deployment_rule():
    """VERDICT r12 #7: the measured deployment rule is now the code
    default — embedding gates ON (clean-stream cost ≤1.006x at sf1,
    below noise; OFF risks the flood/centroid-collapse class), text gate
    OFF (its 4-5% clean-stream cost is a real trade, ON only for
    web/crawl ingest per its docstring)."""
    import inspect

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    for cls in (S.EmbeddingIngestGate, S.CellEmbeddingIngestGate):
        p = inspect.signature(cls.__init__).parameters["absorb_dedup"]
        assert p.default is True, cls.__name__
    p = inspect.signature(D.TextIngestGate.__init__).parameters["absorb_dedup"]
    assert p.default is False


def test_sink_schema_guard_catches_type_drift(spark, tmp_path):
    """ADVICE r12: the guard compares names AND types — a reused
    sink_root whose columns match by name but differ in type (id_col
    long vs int from a differently-typed source) is the same
    nondeterministic-read failure class and must raise, while an
    identically-typed frame still validates clean."""
    import pytest as _pytest

    from pypeln_spark.ext.dedup import validate_sink_schema

    root = str(tmp_path / "sink")
    spark.createDataFrame(
        [(1, 0, None)], "doc_id int, epoch int, dup_of int"
    ).write.parquet(root)
    same = spark.createDataFrame([(2, 1, None)], "doc_id int, epoch int, dup_of int")
    validate_sink_schema(same, root)  # names+types identical: clean
    drift = spark.createDataFrame(
        [(2, 1, None)], "doc_id long, epoch int, dup_of int"
    )
    with _pytest.raises(ValueError, match="schema"):
        validate_sink_schema(drift, root)
    validate_sink_schema(drift, str(tmp_path / "fresh"))  # fresh sink ok


def test_embedding_gate_reports_within_batch_duplicate_mass(spark, tmp_path):
    """VERDICT r11 #3: the flood indicator. Gates never compare a batch
    against itself, so within-batch duplicate mass is invisible in dup_of
    verdicts — collect_stats now surfaces it (n_batch_dup = rows minus
    distinct vectors) so an operator running absorb_dedup=False can SEE
    the flood the guard exists for. Clean batch reads 0; a batch carrying
    m identical copies reads m-1; the stat is decision-neutral."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 8
    rng = random.Random(3)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame([(i, vec()) for i in range(40)], schema)
    boiler = vec()
    clean = spark.createDataFrame([(100 + j, vec()) for j in range(10)], schema)
    flood = spark.createDataFrame(
        [(200 + j, boiler) for j in range(6)] + [(300, vec())], schema
    )

    root = str(tmp_path / "sink")
    cor = S.lsh_bucket(S.with_norms(S.spread(base)), "_v", 2, DIM)
    idx = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
        comb=cor,
    )
    gate = S.EmbeddingIngestGate(
        idx, root, DIM, n_planes=2, threshold=0.95, probe_hamming=1,
        collect_stats=True,
    )
    gate(clean, 0)
    gate(flood, 1)
    idx.close()
    D.retire_pipeline_caches()
    assert [s["n_batch_dup"] for s in gate.stats] == [0, 5]


def test_text_gate_reports_within_batch_duplicate_mass(spark, tmp_path):
    """The text twin of the embedding stat (r12): n_batch_dup counts
    rows minus distinct CANONICAL shingle sets — the identity
    absorb_dedup collapses — so a text deployment running the guard off
    sees its flood exposure. Clean epoch 0, a 4-copy flood + 1 distinct
    doc in epoch 1 reads 3."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.dedup import BANDS, N_HASHES

    corpus = spark.createDataFrame(
        [(50 + i, f"entirely unrelated corpus document {i} about topic {i*3}")
         for i in range(3)],
        "doc_id long, text string",
    )
    flood = "mirror burst boilerplate page repeated verbatim across the crawl"
    epochs = [
        [(1500, "a fresh novel document about gardening and soil"),
         (1501, "another novel text concerning sailing and knots")],
        [(2000 + j, flood) for j in range(4)]
        + [(2500, "a third unrelated text regarding astronomy and lenses")],
    ]
    cor_sh = D.pool_persist(D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5))
    cor_sh.count()
    cor_bands = D.lsh_band_table(
        D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
        "doc_id", BANDS, N_HASHES // BANDS,
    )
    idx = D.IncrementalLshIndex(cor_sh, cor_bands)
    gate = D.TextIngestGate(
        idx, str(tmp_path / "sink"), N_HASHES, BANDS, 5, 0.5,
        collect_stats=True,
    )
    for e, rows in enumerate(epochs):
        gate(spark.createDataFrame(rows, "doc_id long, text string"), e)
    idx.close()
    D.retire_pipeline_caches()
    assert [(s["n_new"], s["n_batch_dup"]) for s in gate.stats] == [
        (2, 0), (5, 3),
    ]


def test_embedding_gate_identical_vector_cluster_cap_vs_widen(spark, tmp_path):
    """The occupancy trigger's blind spot, pinned: a cluster of IDENTICAL
    vectors shares every hyperplane bucket at any width, so widening can
    NEVER split it — its probed width stays m forever. bucket_cap is the
    only guard, and min-id capping keeps decisions identical (every later
    copy still reads dup of the cluster's min-id member)."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 16
    rng = random.Random(7)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    boiler = vec()  # the identical-embedding cluster (not in the corpus)
    base = spark.createDataFrame(
        [(i, vec()) for i in range(100)], "vec_id long, embedding array<float>"
    )
    epochs_rows = [
        # epoch 0 plants m=60 identical copies — pairwise within-batch,
        # so all read novel and absorb
        [(1000 + j, boiler) for j in range(60)],
        # epoch 1: 5 more copies + regular novel traffic
        [(2000 + j, boiler) for j in range(5)] + [(2500 + j, vec()) for j in range(20)],
    ]
    epochs = [
        spark.createDataFrame(r, "vec_id long, embedding array<float>")
        for r in epochs_rows
    ]

    def run(cap, trigger, tag):
        # n_planes=6 → 64 buckets: buckets must be FINER than the cap for
        # capping to make sense (at 2 planes / 4 buckets, ~25 corpus rows
        # per bucket saturate any small cap and evict the whole cluster —
        # the first cut of this test demonstrated exactly that)
        root = str(tmp_path / tag)
        cor = S.lsh_bucket(S.with_norms(S.spread(base)), "_v", 6, DIM)
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"),
            cor.select("vec_id", "bucket"),
            bucket_cap=cap,
            comb=cor,
        )
        gate = S.EmbeddingIngestGate(
            idx, root, DIM, n_planes=6, threshold=0.95, probe_hamming=1,
            occupancy_trigger=(2.0 if trigger else 0.0),
            target_occupancy=1.0, collect_stats=True,
            # deliberately OFF: this test pins the store-everything flood
            # failure mode the r13 default-ON guard exists to prevent
            absorb_dedup=False,
        )
        for i, ep in enumerate(epochs):
            gate(ep, i)
        cluster_band_rows = idx.bands.filter(
            F.col("vec_id").between(1000, 1999)
        ).count()
        min_survives = idx.bands.filter(F.col("vec_id") == 1000).count()
        out = {
            r.vec_id: (r.epoch, r.dup_of, r.cos)
            for r in spark.read.parquet(root).collect()
        }
        widened = any(s["widened"] for s in gate.stats)
        D.retire_pipeline_caches()
        idx.close()
        return out, cluster_band_rows, min_survives, widened

    wide_out, wide_rows, _, wide_widened = run(None, True, "widen")
    cap_out, cap_rows, cap_min, _ = run(4, False, "cap")

    # the trigger fired yet the cluster's probed width is STILL 60 —
    # widening re-derives bands from the stored vectors, and identical
    # vectors land in one bucket at ANY plane count
    assert wide_widened
    assert wide_rows == 60
    # the cap bounds it (≤ cap; corpus rows sharing the bucket take slots)
    # and the min-id member — the survivor pick's target — survives
    assert 1 <= cap_rows <= 4
    assert cap_min == 1
    # decisions identical: epoch-1 copies read dup of the min-id member
    assert cap_out == wide_out
    for j in range(5):
        e, dup_of, cos = cap_out[2000 + j]
        assert (e, dup_of) == (1, 1000) and cos == 1.0


def test_cells_gate_inherits_index_bucket_cap_through_retrain(spark, tmp_path):
    """VERDICT r10 #5, pinned: the cells gate needs NO new wiring for hot
    cells. The hot-CELL failure mode is the same physics as the hyperplane
    blind spot — an identical-vector cluster lands in ONE k-means cell,
    and retrain cannot split it (identical vectors share a nearest
    centroid under ANY centroid set) — and the guard is INHERITED:
    CellEmbeddingIngestGate probes the index's combined side, and
    IncrementalLshIndex._cap bounds that side at init, at every
    compact(), and through rebuild_combined — i.e. gate.retrain() RE-CAPS
    under the new cell geometry. Min-id priority keeps the cluster's
    min-id member (the survivor pick's target) alive, so exact-copy
    decisions are identical across arms."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 16
    N_CELLS = 16
    rng = random.Random(13)

    def vec():
        return [rng.uniform(-1.0, 1.0) for _ in range(DIM)]

    boiler = vec()  # the identical-embedding cluster (not in the corpus)
    base = spark.createDataFrame(
        [(i, vec()) for i in range(60)], "vec_id long, embedding array<float>"
    )
    epochs_rows = [
        # epoch 0 plants m=40 identical copies — no corpus match, so all
        # read novel and absorb into the cluster's single cell
        [(1000 + j, boiler) for j in range(40)],
        # epoch 1: 5 more copies + regular novel traffic
        [(2000 + j, boiler) for j in range(5)] + [(2500 + j, vec()) for j in range(15)],
    ]
    epochs = [
        spark.createDataFrame(r, "vec_id long, embedding array<float>")
        for r in epochs_rows
    ]
    cents0 = S.kmeans_centroids(base, N_CELLS, 2, train_mod=1)
    cents0 = spark.createDataFrame(cents0.collect(), cents0.schema)

    def run(cap, tag):
        # cells must be FINER than the cap (60 corpus rows / 16 cells ≈ 4
        # mean occupancy): coarse cells would let corpus rows saturate the
        # cap and evict the cluster's min-id member (memory'd gotcha)
        root = str(tmp_path / tag)
        nf = S.with_norms(S.spread(base))
        cor = S.ivf_assign(nf, cents0, N_CELLS, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"),
            cor.select("vec_id", "bucket"),
            bucket_cap=cap,
            comb=cor,
        )
        gate = S.CellEmbeddingIngestGate(
            idx, root, DIM, centroids=cents0, n_cells=N_CELLS,
            threshold=0.95, nprobe=2,
            # deliberately OFF: the flood must absorb in full for the
            # bucket-cap inheritance claim to have anything to bound
            absorb_dedup=False,
        )
        gate(epochs[0], 0)
        # the at-scale maintenance move between epochs: retrain trains on
        # and re-assigns EVERY stored vector, including rows an earlier
        # cap evicted (they reappear where the new geometry splits their
        # bucket) — the inheritance claim is that the rebuilt side is
        # re-capped
        gate.retrain()
        gate(epochs[1], 1)
        cluster_width = idx.bands.filter(
            F.col("vec_id").between(1000, 1999)
        ).count()
        min_survives = idx.bands.filter(F.col("vec_id") == 1000).count()
        out = {
            r.vec_id: (r.epoch, r.dup_of, r.cos)
            for r in spark.read.parquet(root).collect()
        }
        D.retire_pipeline_caches()
        idx.close()
        return out, cluster_width, min_survives

    un_out, un_width, _ = run(None, "uncapped")
    cap_out, cap_width, cap_min = run(6, "capped")

    # retrain happened in BOTH arms, yet uncapped the cluster's probed
    # width is STILL 40 — identical vectors stay in one cell under any
    # trained centroid set
    assert un_width == 40
    # the inherited cap bounds it through the retrain (≤ cap; corpus rows
    # sharing the cell take slots) and the min-id member survives
    assert 1 <= cap_width <= 6
    assert cap_min == 1
    # decisions identical: epoch-1 copies read dup of the min-id member
    assert cap_out == un_out
    for j in range(5):
        e, dup_of, cos = cap_out[2000 + j]
        # cos is IEEE dot/(n·n) of identical vectors — 1.0 up to rounding
        assert (e, dup_of) == (1, 1000) and abs(cos - 1.0) < 1e-9


def test_gate_absorb_dedup_thins_index_and_keeps_decisions(spark, tmp_path):
    """absorb_dedup (r11): within-batch exact dedup of the absorb set.
    Gates never compare a batch's rows against each other, so an
    identical-vector flood absorbs in FULL and every later epoch pays
    its width — and the A/B showed the index bucket_cap is the wrong
    primary guard in coarse-cell geometry (min-id eviction by unrelated
    lower-id cellmates; retrain collapses centroids on a flooded index).
    With absorb_dedup the flood stores ONE representative — its min-id
    copy, exactly the future survivor pick's target — so the index stays
    thin and ALL decisions (including later epochs' dup verdicts) are
    bit-identical to the store-everything gate. Distinct vectors are
    untouched (full-vector grouping key, no hash truncation)."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 8
    rng = random.Random(5)
    base = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    boiler = [rng.uniform(-1, 1) for _ in range(DIM)]
    epochs = [
        # epoch 0: m=25 identical copies + 5 distinct novels
        [(1000 + j, boiler) for j in range(25)]
        + [(1500 + j, [rng.uniform(-1, 1) for _ in range(DIM)]) for j in range(5)],
        # epoch 1: 4 more copies + regular novel traffic
        [(2000 + j, boiler) for j in range(4)]
        + [(2500 + j, [rng.uniform(-1, 1) for _ in range(DIM)]) for j in range(6)],
    ]
    frames = [
        spark.createDataFrame(r, "vec_id long, embedding array<float>")
        for r in epochs
    ]
    cents = S.kmeans_centroids(base, 8, 2, train_mod=1)
    cents = spark.createDataFrame(cents.collect(), cents.schema)

    def run(absorb_dedup, tag):
        nf = S.with_norms(S.spread(base))
        cor = S.ivf_assign(nf, cents, 8, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            comb=cor,
        )
        gate = S.CellEmbeddingIngestGate(
            idx, str(tmp_path / tag), DIM, centroids=cents, n_cells=8,
            threshold=0.95, nprobe=2, absorb_dedup=absorb_dedup,
        )
        for i, f in enumerate(frames):
            gate(f, i)
        cluster_sh = idx.sh.filter(F.col("vec_id").between(1000, 1499)).count()
        cluster_bands = idx.bands.filter(
            F.col("vec_id").between(1000, 1499)
        ).count()
        distinct_sh = idx.sh.filter(F.col("vec_id") >= 1500).count()
        rows = spark.read.parquet(str(tmp_path / tag)).collect()
        out = {r.vec_id: (r.epoch, r.dup_of) for r in rows}
        absorbed = (
            {r.vec_id for r in rows if r.epoch == 0 and r.absorbed}
            if absorb_dedup else None
        )
        D.retire_pipeline_caches()
        idx.close()
        return out, cluster_sh, cluster_bands, distinct_sh, absorbed

    plain, p_sh, p_b, p_d, _ = run(False, "plain")
    thin, t_sh, t_b, t_d, t_abs = run(True, "thin")

    # store-everything keeps all 25 copies; absorb_dedup keeps exactly the
    # min-id representative — in BOTH index sides
    assert (p_sh, p_b) == (25, 25)
    assert (t_sh, t_b) == (1, 1)
    # decisions stay one-per-arriving-doc: 30 epoch-0 + 10 epoch-1 rows
    assert spark.read.parquet(str(tmp_path / "thin")).count() == 40
    # distinct vectors are untouched (5 epoch-0 novels absorb in both)
    assert p_d == t_d
    # decisions bit-identical, including epoch-1 copies matching the rep
    assert thin == plain
    for j in range(4):
        assert thin[2000 + j] == (1, 1000)
    # 'absorbed' names the stored rows: the cluster's min-id copy and the
    # 5 distinct novels
    assert t_abs == {1000} | {1500 + j for j in range(5)}


def test_cells_gate_auto_nprobe_resolves_measured_rule(spark, tmp_path):
    """nprobe="auto" (VERDICT r10 #3) applies the measured deployment
    rule from the threshold: ≥ 0.9 → 2 (near-exact pairs share the one
    nearest cell — r10 measured all arms decision-identical there);
    semantic → 4 (sf1 curve: 99.1% of the fixed reference recall at
    ~1/4 its wall). Auto is a resolution rule, not a new code path —
    decisions must equal the explicitly-configured gate's."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM = 8
    rng = random.Random(3)
    base = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cents = S.kmeans_centroids(base, 8, 2, train_mod=1)
    cents = spark.createDataFrame(cents.collect(), cents.schema)

    def gate(threshold, nprobe, tag):
        nf = S.with_norms(S.spread(base))
        cor = S.ivf_assign(nf, cents, 8, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )
        idx = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            comb=cor,
        )
        g = S.CellEmbeddingIngestGate(
            idx, str(tmp_path / tag), DIM, centroids=cents, n_cells=8,
            threshold=threshold, nprobe=nprobe,
        )
        return g, idx

    g_hi, i1 = gate(0.95, "auto", "hi")
    g_lo, i2 = gate(0.35, "auto", "lo")
    g_ex, i3 = gate(0.35, 4, "ex")
    assert g_hi.nprobe == 2
    assert g_lo.nprobe == 4 == g_ex.nprobe
    # one epoch through auto vs explicit: identical decision rows
    batch = spark.createDataFrame(
        [(100 + i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(10)]
        + [(200, base.collect()[0].embedding)],  # one exact dup of vec 0
        "vec_id long, embedding array<float>",
    )
    g_lo(batch, 0)
    g_ex(batch, 0)
    rows = lambda tag: {
        (r.vec_id, r.epoch, r.dup_of)
        for r in spark.read.parquet(str(tmp_path / tag)).collect()
    }
    assert rows("lo") == rows("ex")
    assert (200, 0, 0) in rows("lo")  # the planted exact dup is caught
    for i in (i1, i2, i3):
        i.close()
    D.retire_pipeline_caches()


def test_incremental_index_bucket_cap_history_independent_property(spark):
    """The docstring's history-independence claim, property-tested: with
    min-id priority, the post-compaction capped band view equals the
    cap-lowest ids per bucket over EVERYTHING ever absorbed — for ANY
    absorb schedule, any interleaving of manual compactions, and any cap.
    (Mid-cycle the view may legitimately carry uncapped deltas; the claim
    is about the view right after a compact().)"""
    from hypothesis import given, settings, strategies as st

    from pypeln_spark.ext import dedup as D

    def bands(rows):
        return spark.createDataFrame(
            [(i, b, [b]) for i, b in rows], "doc_id long, sigh long, sig array<bigint>"
        )

    def sh(rows):
        return spark.createDataFrame(
            [(i, [i]) for i, _ in rows], "doc_id long, sh_arr array<bigint>"
        )

    @settings(max_examples=6, deadline=None)
    @given(
        epochs=st.lists(
            st.lists(
                st.tuples(
                    st.integers(min_value=100, max_value=160),  # doc ids
                    st.integers(min_value=0, max_value=2),  # bucket key
                ),
                min_size=0,
                max_size=4,
            ),
            min_size=1,
            max_size=4,
        ),
        cap=st.integers(min_value=1, max_value=3),
    )
    def prop(epochs, cap):
        base_rows = [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)]
        # unique doc ids across base + all epochs
        seen_ids = {i for i, _ in base_rows}
        clean_epochs = []
        for rows in epochs:
            rows = [(i, b) for i, b in rows if i not in seen_ids]
            dedup_rows = list({i: (i, b) for i, b in rows}.values())
            seen_ids |= {i for i, _ in dedup_rows}
            clean_epochs.append(dedup_rows)

        idx = D.IncrementalLshIndex(
            sh(base_rows), bands(base_rows), bucket_cap=cap
        )
        everything = list(base_rows)
        for rows in clean_epochs:
            if rows:
                idx.absorb(sh(rows), bands(rows))
            everything += rows
        idx.compact()
        got = {(r.doc_id, r.sigh) for r in idx.bands.collect()}
        by_bucket: dict = {}
        for i, b in everything:
            by_bucket.setdefault(b, []).append(i)
        want = {
            (i, b) for b, ids in by_bucket.items() for i in sorted(ids)[:cap]
        }
        idx.close()
        assert got == want, (got, want)

    prop()


def test_build_corpus_index_bucket_cap_bounds_and_keeps_min(spark):
    """build_corpus_index(bucket_cap=N): the batch-incremental form of the
    hot-bucket guard — an m-wide boilerplate cluster in the corpus leaves
    cap band rows per bucket, and dedup_against_corpus still matches an
    arriving copy to the cluster's min-id member with jaccard 1.0."""
    from pypeln_spark.ext import dedup as D

    boiler = "boilerplate footer navigation copyright terms privacy contact"
    rows = [(i, boiler) for i in range(0, 40, 2)] + [
        (100 + i, f"some unrelated corpus text about subject {i} and item {i*3}")
        for i in range(5)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = D.build_corpus_index(corpus, bucket_cap=2)
    # every bucket ≤ 2 rows, and the cluster's min id (0) survives
    from pyspark.sql import functions as F2

    widths = (
        idx[1].groupBy("sigh", "sig").count().agg(F2.max("count")).collect()[0][0]
    )
    assert widths <= 2
    assert idx[1].filter(F2.col("doc_id") == 0).count() > 0

    new = spark.createDataFrame([(1001, boiler)], "doc_id long, text string")
    out = D.dedup_against_corpus(new, corpus_index=idx).collect()
    # all pairs vs the SURVIVING members only (2 of the 20-wide cluster),
    # and the min-id member — what a survivor pick would report — is there
    assert {(r.new_id, r.corpus_id, r.jaccard) for r in out} == {
        (1001, 0, 1.0),
        (1001, 2, 1.0),
    }


def test_seed_sink_schema_matches_spark_writer(spark, tmp_path):
    """seed_sink_schema's driver-side pyarrow seed must read back in Spark
    with EXACTLY the schema the job-based seed produced (name+type+nullable
    — validate_sink_schema compares simpleString pairs against it), must
    accept Spark appends afterwards, and must fall back to the Spark write
    for field types outside the scalar map."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("src_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("txt", T.StringType()),
            T.StructField("f32", T.FloatType()),
        ]
    )
    old_root, new_root = str(tmp_path / "old"), str(tmp_path / "new")
    spark.createDataFrame([], schema).repartition(1).write.mode(
        "append"
    ).parquet(old_root)
    ST.seed_sink_schema(spark, schema, new_root)
    old_s = spark.read.parquet(old_root).schema
    new_s = spark.read.parquet(new_root).schema
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in new_s] == [
        (f.name, f.dataType.simpleString(), f.nullable) for f in old_s
    ]
    # an appended row reads back through the seeded sink unchanged
    spark.createDataFrame(
        [(1, 2, 0.5, True, "x", 1.5)], schema
    ).repartition(1).write.mode("append").parquet(new_root)
    rows = spark.read.parquet(new_root).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 0.5, True, "x", 1.5)]

    # non-scalar field -> Spark-writer fallback still seeds a readable sink
    arr_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )
    arr_root = str(tmp_path / "arr")
    ST.seed_sink_schema(spark, arr_schema, arr_root)
    assert spark.read.parquet(arr_root).schema == spark.createDataFrame(
        [], arr_schema
    ).schema
    assert spark.read.parquet(arr_root).count() == 0


def _live_serve_fixture(spark, tmp_path):
    """A cells-gate index over 200 random 16-d vectors (8 cells) and two
    feeds: 30 vectors to ingest, then 40 queries."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    DIM, CELLS = 16, 8
    rng = random.Random(5)
    vec = lambda: [rng.uniform(-1, 1) for _ in range(DIM)]
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame([(i, vec()) for i in range(200)], schema)
    feeds = [
        spark.createDataFrame([(1000 + i, vec()) for i in range(30)], schema),
        spark.createDataFrame([(2000 + i, vec()) for i in range(40)], schema),
    ]
    cents = S.kmeans_centroids(base, CELLS, 2, train_mod=1)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    cor = S.ivf_assign(S.with_norms(S.spread(base)), cents, CELLS, keep=1).select(
        "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
    ).persist()
    cor.count()
    index = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
        comb=cor,
    )
    gate = S.CellEmbeddingIngestGate(
        index, str(tmp_path / "ingest"), DIM, cents, CELLS, 0.35,
        nprobe="auto", absorb_dedup=False,
    )

    def close():
        D.retire_pipeline_caches()
        index.close()
        cor.unpersist()

    return index, gate, feeds, DIM, close


def test_live_serve_epoch_job_count(spark, tmp_path):
    """One live query epoch — live_topk_serve against a cells-gate index
    after one ingest epoch, written by parquet append — runs exactly 4
    Spark jobs: the probe collect, the broadcast of the
    collected probes as a local relation, the lists scan + join + rank
    window's shuffle, and the rank filter + write. The query probes'
    cell assignment against the gate's centroid_lits() is a narrow
    projection, so it adds no shuffle job of its own. Jobs are counted
    through a job group set around the request, the way the benchmark's
    tracer counts them."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import similarity as S

    index, gate, feeds, DIM, close = _live_serve_fixture(spark, tmp_path)
    serve_root = str(tmp_path / "serve")
    ST.seed_sink_schema(spark, T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]), serve_root)
    sc = spark.sparkContext
    group = "live-serve-epoch-job-count"

    def body(batch_df, epoch_id):
        if epoch_id == 0:
            gate(batch_df, epoch_id)
            return
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            topk = S.live_topk_serve(
                index, gate.centroids, gate.n_cells, batch_df, k=5, dim=DIM,
                cents_lits=gate.centroid_lits(),
            )
            topk.select(
                "query_id", F.lit(int(epoch_id)).cast("int").alias("epoch"),
                "neighbor_id", "cos", "rank",
            ).write.mode("append").parquet(serve_root)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    ST.staged_foreach_batch(spark, feeds, body)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    served = spark.read.parquet(serve_root)
    assert served.select("query_id").distinct().count() == 40
    close()
    assert len(jobs) == 4, sorted(jobs)


def test_live_serve_guard_fallback_keeps_rows(spark, tmp_path):
    """live_topk_serve's broadcast guard on the job-count fixture: with
    autoBroadcastJoinThreshold below the 40-query probe side (80 probe
    rows at nprobe 2), and with broadcast disabled (-1), the serve plans
    the bounded ShuffledHashJoin and returns exactly the rows of the
    broadcast branch."""
    from pypeln_spark.ext import similarity as S

    index, gate, feeds, DIM, close = _live_serve_fixture(spark, tmp_path)
    gate(feeds[0], 0)

    def serve():
        topk = S.live_topk_serve(
            index, gate.centroids, gate.n_cells, feeds[1], k=5, dim=DIM,
            cents_lits=gate.centroid_lits(),
        )
        plan = topk._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(map(tuple, topk.collect()))

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        plan, want = serve()
        assert "BroadcastHashJoin [cid" in plan, plan
        assert len({r[0] for r in want}) == 40
        # a probe row estimates 2 · (296 + 8 + 4·8 + 16) = 704 bytes, so
        # 10000 bytes bound the broadcast at 14 of the 80 probe rows
        for limit in ("10000", "-1"):
            spark.conf.set(key, limit)
            plan, got = serve()
            assert "ShuffledHashJoin [cid" in plan, (limit, plan)
            assert "BroadcastHashJoin [cid" not in plan, (limit, plan)
            assert got == want, limit
    finally:
        spark.conf.set(key, prev)
        close()


def test_live_serve_empty_batch_returns_none(spark, tmp_path):
    """An empty query batch is served as None: nothing to write."""
    from pypeln_spark.ext import similarity as S

    index, gate, feeds, DIM, close = _live_serve_fixture(spark, tmp_path)
    try:
        assert S.live_topk_serve(
            index, gate.centroids, gate.n_cells, feeds[1].limit(0), k=5,
            dim=DIM, cents_lits=gate.centroid_lits(),
        ) is None
    finally:
        close()


GATE_EPOCH_JOBS = {
    "text": 19,
    "text_absorb_dedup": 24,
    "text_capped": 20,
    "hyperplane_comb": 12,
    "cells_comb": 12,
    "cells_durable": 13,
    "cells_capped": 13,
    "cells_stats": 20,
}


@pytest.mark.parametrize("case", sorted(GATE_EPOCH_JOBS))
def test_gate_epoch_job_count(spark, tmp_path, case):
    """One ingest-gate epoch, after a warm first epoch, runs a fixed
    number of Spark jobs per gate configuration. The gates share one
    per-epoch body; the pieces each gate plugs in (probe, verify, absorb)
    must not add or drop an action. Jobs are counted through a job group
    set around the second epoch, the way the benchmark's tracer counts
    them."""
    import random

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    rng = random.Random(11)
    root = str(tmp_path / "sink")
    if case.startswith("text"):
        from pypeln_spark.queries.dedup import BANDS, N_HASHES

        words = [f"w{i}" for i in range(40)]
        doc = lambda: " ".join(rng.choice(words) for _ in range(12))  # noqa: E731
        corpus = [(i, doc()) for i in range(0, 60, 2)]
        schema = "doc_id long, text string"
        feeds = [
            [(1000 + i, doc()) for i in range(10)] + [(1100, corpus[0][1])],
            [(2000 + i, doc()) for i in range(10)]
            + [(2100 + j, corpus[1][1]) for j in range(3)],
        ]
        cor_sh = D.pool_persist(
            D.shingle_arrays(D.spread(spark.createDataFrame(corpus, schema)),
                             "text", "doc_id", 5)
        )
        cor_sh.count()
        cor_bands = D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, N_HASHES // BANDS,
        )
        index = D.IncrementalLshIndex(
            cor_sh, cor_bands, bucket_cap=2 if case == "text_capped" else None
        )
        gate = D.TextIngestGate(
            index, root, N_HASHES, BANDS, 5, 0.5,
            absorb_dedup=case == "text_absorb_dedup",
        )
    else:
        DIM, CELLS = 8, 8
        vec = lambda: [rng.uniform(-1, 1) for _ in range(DIM)]  # noqa: E731
        schema = "vec_id long, embedding array<float>"
        corpus = [(i, vec()) for i in range(0, 80, 2)]
        feeds = [
            [(1000 + i, vec()) for i in range(10)] + [(1100, corpus[0][1])],
            [(2000 + i, vec()) for i in range(10)]
            + [(2100 + j, corpus[1][1]) for j in range(3)],
        ]
        base = spark.createDataFrame(corpus, schema)
        nf = S.with_norms(S.spread(base))
        if case == "hyperplane_comb":
            cor = S.lsh_bucket(nf, "_v", 3, DIM).select(
                "vec_id", "_v", "_norm", "bucket"
            ).localCheckpoint(eager=True)
        else:
            cents = S.kmeans_centroids(base, CELLS, 2, train_mod=1)
            cents = spark.createDataFrame(cents.collect(), cents.schema)
            cor = S.ivf_assign(nf, cents, CELLS, keep=1).select(
                "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
            ).localCheckpoint(eager=True)
        index = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            comb=cor,
            checkpoint_dir=(
                str(tmp_path / "index") if case == "cells_durable" else None
            ),
            bucket_cap=4 if case == "cells_capped" else None,
        )
        if case == "hyperplane_comb":
            gate = S.EmbeddingIngestGate(
                index, root, DIM, n_planes=3, threshold=0.9, absorb_dedup=False,
            )
        else:
            gate = S.CellEmbeddingIngestGate(
                index, root, DIM, cents, CELLS, 0.9, nprobe=2,
                absorb_dedup=False, collect_stats=case == "cells_stats",
            )
    frames = [
        spark.createDataFrame(rows, schema).localCheckpoint(eager=True)
        for rows in feeds
    ]
    sc = spark.sparkContext
    group = f"gate-epoch-job-count-{case}"
    gate(frames[0], 0)
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        gate(frames[1], 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    dups = spark.read.parquet(root).filter(F.col("dup_of").isNotNull()).count()
    D.retire_pipeline_caches()
    index.close()
    assert dups > 0
    assert len(jobs) == GATE_EPOCH_JOBS[case], (case, len(jobs))
