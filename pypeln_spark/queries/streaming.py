"""Structured Streaming queries — event-time windows, watermark/late-data,
stateful processing, as-of joins. Each runs a REAL streaming query (file
source → memory sink, processAllAvailable) and returns the final table, so
the driver's oracle gate checks genuine streaming semantics against batch
SQL replays of the same rules.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pypeln_spark import streaming as ST
from pypeln_spark.ext import asof as A
from pypeln_spark.functions import dsum, dsum_expr

from .base import load_table, register, tables


def _index_dir(entry: str):
    """The durable index dir of registry entry ``entry``: its own
    subdirectory of PYPELN_SPARK_INGEST_COMPACT_DIR, or None (in-session
    leaves) when the variable is unset. An index writes fixed file names
    (``<side>_base``, ``<side>_NNNNN``, ``MANIFEST.json``), so entries
    sharing the one directory would overwrite each other's files and
    manifest."""
    import os

    root = os.environ.get("PYPELN_SPARK_INGEST_COMPACT_DIR")
    return os.path.join(root, entry) if root else None


@register(
    "streaming_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events, {dsum_expr('value')} AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def streaming_tumbling_hourly(spark, sf_dir):
    """Tumbling 1h windows over a real stream (complete mode). F.window's
    epoch-aligned hour buckets ≡ date_trunc('hour')."""
    ev = ST.events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    out = ST.run_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_sliding_1h_30m",
    oracle="""
    WITH starts AS (
      SELECT e.*, unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                          time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
             AS window_start
      FROM events e
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events
    FROM starts GROUP BY 1, 2
    """,
)
def streaming_sliding_1h_30m(spark, sf_dir):
    """Sliding windows (1h length, 30m slide): every event lands in exactly
    two windows; the oracle enumerates both starts per event."""
    ev = ST.events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = ST.run_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
    )


@register(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, seq
    """,
)
def streaming_session_windows(spark, sf_dir):
    """session_window(ts, 30m) per user — Spark's native streaming session
    operator (update mode; a single microbatch emits each final session
    once). Oracle replays the merge rule: same session while gap < 30m;
    session end = last event + gap."""
    ev = ST.events_stream(spark, sf_dir).withWatermark("ts", "1 second")
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # session windows support append/complete only (not update); complete
    # emits every session, matching the batch oracle in full
    out = ST.run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register(
    "streaming_watermark_late_drop",
    oracle="""
    WITH b1 AS (SELECT * FROM events WHERE event_id < (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM events)),
    b2 AS (SELECT * FROM events WHERE event_id >= (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM events)),
    wm1 AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w FROM b1),
    wmf AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
            FROM (SELECT ts FROM b1 UNION ALL SELECT ts FROM b2)),
    kept AS (
      SELECT * FROM b1
      UNION ALL
      SELECT * FROM b2
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm1)
    )
    SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events
    FROM kept
    GROUP BY 1
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
    """,
)
def streaming_watermark_late_drop(spark, sf_dir):
    """Watermark + late-data semantics, exercised for real: the events table
    replays as two guaranteed-separate microbatches split by event_id (ts
    interleaves, so batch 2 contains genuinely late rows). Append mode with
    a 1h watermark: batch-2 rows whose window was already finalized are
    dropped; only windows closed by the final watermark emit. The oracle
    computes both watermarks (ms precision — Spark tracks event time in ms)
    and replays the drop/emit rules exactly."""
    ev = load_table(spark, sf_dir, "events")
    n_half = ev.count() // 2
    b1 = ev.filter(F.col("event_id") < n_half)
    b2 = ev.filter(F.col("event_id") >= n_half)

    def build(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    out = ST.staged_replay(spark, [b1, b2], build, output_mode="append")
    return out.select(F.col("window.start").alias("window_start"), "n_events")


@register(
    "streaming_stateful_running_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {dsum_expr('value')} AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_running_totals(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, decimal-exact sum) maintained in GroupState across microbatches.
    One batch here → final state ≡ the batch aggregate; the multi-batch
    accumulation contract is covered in tests/test_streaming.py."""
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = ST.events_stream(spark, sf_dir)

    def fn(key, pdfs, state: GroupState):
        n, total_str = state.get if state.exists else (0, "0")
        total = decimal.Decimal(total_str)
        exp = decimal.Decimal("0.000001")
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                # mirror dsum: quantize each term to 1e-6, exact decimal sum
                total += decimal.Decimal(float(v)).quantize(
                    exp, rounding=decimal.ROUND_HALF_UP
                )
        state.update((n, str(total)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [float(total)]}
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Python-stateful: per-batch cost is Arrow/Python compute, which wants
    # parallelism over fewer state stores (measured 1.7s @8 vs 2.3s @4)
    return ST.run_to_memory(
        agg, output_mode="update", state_partitions=ST.PYTHON_STATE_PARTITIONS
    )


@register(
    "asof_join_purchase_to_view",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MIN(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           v.ts AS view_ts, v.view_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_s
    FROM purchases p
    ASOF JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_join_purchase_to_view(spark, sf_dir):
    """As-of join (Spark has no native one): each purchase matched to the
    user's most recent view at-or-before it. Lowered as union+window — ONE
    shuffle on user_id, no range join (SURVEY.md §4.3). Right side deduped
    per (user, ts) for deterministic ties."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = A.asof_join(purchases, views, on="user_id", right_cols=["view_id"])
    return j.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_right").alias("view_ts"),
        F.col("view_id_right").alias("view_id"),
        (F.col("ts").cast("long") - F.col("ts_right").cast("long")).alias("gap_s"),
    )


@register(
    "range_join_purchase_after_signup",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           s.event_id AS signup_id, s.ts AS signup_ts,
           epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
)
def range_join_purchase_after_signup(spark, sf_dir):
    """Interval (range) join via the bucketed equi-join lowering
    (ext/asof.range_join): purchases matched to every same-user signup whose
    1-hour window contains them. The oracle is the plain theta-join — the
    bucketed plan must reproduce it exactly. At scale the theta-join is a
    per-key nested loop; the bucketed form is one equi-join shuffle."""
    from pypeln_spark.ext import asof as A

    (events,) = tables(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("_end_ts"),
    )
    return A.range_join(
        purchases, signups, on="user_id",
        point_ts="purchase_ts", start_ts="signup_ts", end_ts="_end_ts",
    ).select(
        "purchase_id", "user_id", "purchase_ts", "signup_id", "signup_ts",
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("signup_ts")))
        .alias("delay_us"),
    )


@register(
    "streaming_interval_join_purchase_signup",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           s.event_id AS signup_id, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
)
def streaming_interval_join_purchase_signup(spark, sf_dir):
    """STREAM-STREAM interval join: two live streams over the same event
    source, watermarked on both sides, joined on key + time-range — the
    Structured Streaming capability the reference has no analogue for.
    Watermarks bound the join state (each side retains only rows younger
    than watermark − 1h); the time-range predicate is what makes state
    cleanup possible at all. Inner matches emit as they are found, so the
    bounded replay reproduces the batch theta-join oracle exactly."""
    purchases = (
        ST.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    signups = (
        ST.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "2 hours")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = ST.run_to_memory(joined, output_mode="append")
    return out.select("purchase_id", "user_id", "purchase_ts", "signup_id", "signup_ts")


@register(
    "streaming_static_enrich_nation",
    oracle=f"""
    SELECT n.n_name AS nation, e.event_type,
           COUNT(*) AS n_events, {dsum_expr('e.value')} AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich_nation(spark, sf_dir):
    """Stream-static enrichment: a live stream hash-joined to a static
    dimension (broadcast per microbatch — the dimension never streams, no
    watermark needed on it), then aggregated in complete mode. The standard
    'enrich events with reference data' shape."""
    ev = ST.events_stream(spark, sf_dir)
    (nation,) = tables(spark, sf_dir, "nation")
    enriched = ev.join(
        F.broadcast(nation), ev.user_id % 25 == nation.n_nationkey
    )
    agg = enriched.groupBy(
        F.col("n_name").alias("nation"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    out = ST.run_to_memory(agg, output_mode="complete")
    return out.select("nation", "event_type", "n_events", "total_value")


@register(
    "streaming_kmv_daily_distinct",
    oracle="""
    WITH hh AS (
      SELECT date_trunc('day', ts) AS window_start, event_type,
             (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 2147483647) AS h
      FROM events
    ),
    sk AS (
      SELECT window_start, event_type,
             list_slice(list_sort(list(DISTINCT h)), 1, 64) AS kmin
      FROM hh GROUP BY 1, 2
    )
    SELECT window_start, window_start + INTERVAL 1 DAY AS window_end,
           event_type, array_to_string(kmin, ',') AS kmin_csv,
           CASE WHEN len(kmin) < 64 THEN CAST(len(kmin) AS DOUBLE)
                ELSE CAST(135291469761 AS DOUBLE) / CAST(kmin[64] AS DOUBLE)
           END AS est_distinct
    FROM sk
    """,
)
def streaming_kmv_daily_distinct(spark, sf_dir):
    """KMV distinct-count sketch as TRULY BOUNDED streaming state: daily
    windows per event_type, maintained by applyInPandasWithState via
    ext/sketch.kmv_stateful_stream — checkpoint state is exactly the
    bottom-k distinct hashes (O(k) longs) per (window, event_type), not the
    O(distinct-users) collect_set buffer the r2 version carried (the
    state-bound honesty note in ext/sketch.py; ADVICE r2 item 5). Each
    trigger emits the group's current sketch with a version counter — kmin
    only ever improves, so the max-version row per group is the final
    sketch, and any emitted version is a valid sketch of the data seen so
    far (what makes checkpoint resume safe). Estimates use the frozen md5
    family, value-checked against the oracle end to end; sketch state is
    serialized to csv for the driver check (arrays crash the pandas
    canonicalizer, VERDICT r1)."""
    from pyspark.sql import Window

    from pypeln_spark.ext.hashing import P31, h31
    from pypeln_spark.ext.sketch import kmv_stateful_stream

    k = 64
    ev = ST.events_stream(spark, sf_dir)
    keyed = ev.select(
        F.date_trunc("day", F.col("ts")).alias("window_start"),
        "event_type",
        h31(F.col("user_id").cast("string")).alias("_h"),
    )
    sketches = kmv_stateful_stream(keyed, ["window_start", "event_type"], k=k)
    out = ST.run_to_memory(sketches, output_mode="update")
    latest = (
        out.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("window_start", "event_type").orderBy(
                    F.col("version").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "version")
    )
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float((k - 1) * P31)) / F.col("kth").cast("double")
    )
    return latest.select(
        "window_start",
        (F.col("window_start") + F.expr("INTERVAL 1 DAY")).alias("window_end"),
        "event_type",
        "kmin_csv",
        est.alias("est_distinct"),
    )


@register(
    "streaming_dedup_events",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_unique, {dsum_expr('value')} AS total_value
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_events(spark, sf_dir):
    """Stateful streaming deduplication: the events stream UNIONED WITH
    ITSELF (so every event arrives at least twice) is deduplicated on
    event_id with dropDuplicatesWithinWatermark — the bounded-state form:
    the dedup state for an event expires once the watermark passes its
    event time, so state is O(events within the watermark horizon), not
    O(all events ever) (plain dropDuplicates). Per-type counts over the
    deduped stream must equal the batch table exactly — each duplicate
    admitted or dropped wrongly shifts a count. Aggregation runs batch-side
    on the sink because chaining a second stateful aggregate after
    within-watermark dedup in one query needs end-to-end append mode,
    which complete-mode counts can't use."""
    ev = ST.events_stream(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = ST.run_to_memory(deduped, output_mode="append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique"), dsum("value").alias("total_value")
    )


@register(
    "asof_join_view_to_next_purchase",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, MIN(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    views AS (SELECT event_id AS view_id, user_id, ts FROM events
              WHERE event_type = 'view')
    SELECT v.view_id, v.user_id, v.ts AS view_ts,
           p.ts AS purchase_ts, p.purchase_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_s
    FROM views v
    ASOF JOIN purchases p ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
)
def asof_join_view_to_next_purchase(spark, sf_dir):
    """FORWARD as-of join: each view matched to the user's next purchase
    at-or-after it (the attribution / conversion-lag shape). Same
    single-shuffle union+window lowering as backward, traversed in
    descending event time; DuckDB replays it natively via
    ``ASOF JOIN ... ON l.ts <= r.ts``."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    j = A.asof_join(
        views, purchases, on="user_id", right_cols=["purchase_id"],
        direction="forward",
    )
    return j.select(
        "view_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("ts_right").alias("purchase_ts"),
        F.col("purchase_id_right").alias("purchase_id"),
        (F.col("ts_right").cast("long") - F.col("ts").cast("long")).alias("gap_s"),
    )


_CMS_D, _CMS_W = 4, 256


def _cms_params_sql() -> str:
    from pypeln_spark.ext.hashing import MINHASH_PARAMS

    return ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(MINHASH_PARAMS[:_CMS_D])
    )


@register(
    "streaming_cms_daily_heavy_hitters",
    oracle=f"""
    WITH p(j, pa, pb) AS (VALUES {{params}}),
    hh AS (
      SELECT date_trunc('day', ts) AS day, user_id,
             {{h}} AS h
      FROM events
    ),
    bk AS (
      SELECT day, user_id, j,
             ((CAST(pa AS BIGINT) * h + pb) % 2147483647) % {_CMS_W} AS b
      FROM hh CROSS JOIN p
    ),
    c AS (
      SELECT day, j, b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bk GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT day, user_id, n_true FROM (
        SELECT day, user_id, CAST(COUNT(*) AS BIGINT) AS n_true,
               ROW_NUMBER() OVER (PARTITION BY day
                 ORDER BY COUNT(*) DESC, user_id) AS rn
        FROM hh GROUP BY 1, 2
      ) WHERE rn <= 3
    ),
    tb AS (
      SELECT DISTINCT t.day, t.user_id, t.n_true, bk.j, bk.b
      FROM t JOIN bk ON t.day = bk.day AND t.user_id = bk.user_id
    )
    SELECT tb.day AS window_start, tb.user_id, tb.n_true,
           CAST(MIN(c.cnt) AS BIGINT) AS n_est
    FROM tb JOIN c ON tb.day = c.day AND tb.j = c.j AND tb.b = c.b
    GROUP BY 1, 2, 3
    """.format(params=_cms_params_sql(),
               h="(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483647)"),
)
def streaming_cms_daily_heavy_hitters(spark, sf_dir):
    """Count-Min sketch as BOUNDED streaming state (the linear-sketch
    counterpart to streaming_kmv_daily_distinct's bottom-k state): the
    stream explodes each event into its d row-bucket keys and a windowed
    complete-mode count maintains the counters — streaming state is
    EXACTLY the sketch, ≤ days × d × w counter rows regardless of event
    volume, because CMS is linear and counter addition is the micro-batch
    merge. Heavy-hitter estimates (exact top-3 per day, from the batch
    table, with their CMS point estimates from the STREAMED counters)
    value-check the whole path cross-engine."""
    from pyspark.sql import Window

    from pypeln_spark.ext.sketch import _cms_buckets

    ev = ST.events_stream(spark, sf_dir)
    rows = ev.withColumn("_bk", _cms_buckets("user_id", _CMS_D, _CMS_W)).select(
        F.window("ts", "1 day").alias("win"),
        F.posexplode("_bk").alias("_j", "_b"),
    )
    counters = rows.groupBy("win", "_j", "_b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sink = ST.run_to_memory(counters, output_mode="complete")
    streamed = sink.select(
        F.col("win.start").alias("day"), "_j", "_b", "cnt"
    )

    evb = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    top = (
        evb.groupBy("day", "user_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("day").orderBy(F.desc("n_true"), F.asc("user_id"))
            ),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
    tb = top.withColumn("_bk", _cms_buckets("user_id", _CMS_D, _CMS_W)).select(
        "day", "user_id", "n_true", F.posexplode("_bk").alias("_j", "_b")
    )
    return (
        tb.join(F.broadcast(streamed), ["day", "_j", "_b"])
        .groupBy("day", "user_id", "n_true")
        .agg(F.min("cnt").alias("n_est"))
        .select(
            F.col("day").alias("window_start"), "user_id", "n_true", "n_est"
        )
    )


@register(
    "streaming_doc_quality_counts",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
                  AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
               AS stopword_ratio
      FROM documents
    )
    SELECT CASE WHEN n_tokens >= 20 AND stopword_ratio >= 0.02
                THEN 'keep' ELSE 'drop' END AS verdict,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM q GROUP BY 1
    """,
)
def streaming_doc_quality_counts(spark, sf_dir):
    """The ext text-quality operators composed onto a STREAM: documents
    arrive as a file-source stream, ext/text.quality_scores runs unchanged
    (its projections are streaming-safe Catalyst — spread() is a no-op on
    streams), and a complete-mode aggregate tallies keep/drop verdicts.
    Shows the curation layer is source-agnostic: the same operator
    DataFrame→DataFrame functions serve batch corpora and live feeds."""
    import os

    from pypeln_spark.ext import text as X

    docs = ST.read_stream_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    )
    scored = X.quality_scores(docs)
    verdict = F.when(
        (F.col("n_tokens") >= 20) & (F.col("stopword_ratio") >= 0.02), F.lit("keep")
    ).otherwise(F.lit("drop"))
    agg = (
        scored.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    out = ST.run_to_memory(agg, output_mode="complete")
    return out.select("verdict", "n_docs", "total_tokens")


def _streaming_hll_oracle() -> str:
    from pypeln_spark.ext.sketch import sql_hll_sketch

    return sql_hll_sketch(
        "events",
        ["date_trunc('day', ts)", "event_type"],
        "user_id",
        ["window_start", "event_type"],
    )


@register("streaming_hll_daily_distinct", oracle=_streaming_hll_oracle())
def streaming_hll_daily_distinct(spark, sf_dir):
    """HyperLogLog as streaming state — the third bounded-state streaming
    sketch alongside KMV (bottom-k via applyInPandasWithState) and CMS
    (windowed counters): registers ARE a windowed max() aggregate, so
    Structured Streaming maintains them natively with state bounded at
    days × groups × 256 rows no matter the event volume, and the register
    merge across micro-batches is the same max() that merges partitions in
    batch (mergeability is the whole point of HLL). The batch-side finalize
    (ext/sketch.hll_finalize) turns the STREAMED register table into
    estimates value-checked cross-engine — same md5-hex register family as
    sketch_hll_distinct_users, so the oracle replays everything."""
    from pypeln_spark.ext.sketch import hll_bucket_rho, hll_finalize

    ev = ST.events_stream(spark, sf_dir)
    bucket, rho = hll_bucket_rho(F.col("user_id").cast("string"))
    keyed = ev.filter(F.col("user_id").isNotNull()).select(
        F.window("ts", "1 day").alias("win"),
        "event_type",
        bucket.alias("_bkt"),
        rho.alias("_rho"),
    )
    regs = keyed.groupBy("win", "event_type", "_bkt").agg(
        F.max("_rho").alias("_r")
    )
    sink = ST.run_to_memory(regs, output_mode="complete")
    streamed = sink.select(
        F.col("win.start").alias("window_start"), "event_type", "_bkt", "_r"
    )
    return hll_finalize(streamed, ["window_start", "event_type"])


@register(
    "streaming_funnel_stages",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    tv AS (
      SELECT user_id, MIN(ts) AS t_v FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    tc AS (
      SELECT e.user_id, MIN(e.ts) AS t_c
      FROM events e JOIN tv ON e.user_id = tv.user_id
      WHERE e.event_type = 'click' AND e.ts > tv.t_v
      GROUP BY e.user_id
    ),
    tp AS (
      SELECT e.user_id, MIN(e.ts) AS t_p
      FROM events e JOIN tc ON e.user_id = tc.user_id
      WHERE e.event_type = 'purchase' AND e.ts > tc.t_c
      GROUP BY e.user_id
    )
    SELECT u.user_id, tv.t_v AS first_view, tc.t_c AS first_click,
           tp.t_p AS first_purchase,
           CAST(CASE WHEN tp.t_p IS NOT NULL THEN 3
                     WHEN tc.t_c IS NOT NULL THEN 2
                     WHEN tv.t_v IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_stage
    FROM users u
    LEFT JOIN tv ON u.user_id = tv.user_id
    LEFT JOIN tc ON u.user_id = tc.user_id
    LEFT JOIN tp ON u.user_id = tp.user_id
    """,
)
def streaming_funnel_stages(spark, sf_dir):
    """Stateful streaming funnel: per-user first-passage tracking
    (view → click → purchase, strict event-time order) as
    applyInPandasWithState with EXACTLY three timestamps of state per
    user — the live-funnel dashboard shape, with provably bounded
    checkpoint state (24 bytes/user however many events stream through).

    The incremental state machine processes each batch's events in
    (ts, event_id) order; because first-passage times only ever move a
    stage from unset→set in ts order, replaying time-ordered batches
    reproduces the batch funnel exactly (the oracle) — the multi-batch
    accumulation contract is exercised in tests/test_streaming.py.
    Production caveat, documented: batches must be event-time-ordered per
    user (pair with a watermark); a late event older than an already-set
    stage cannot retract it."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = ST.events_stream(spark, sf_dir)

    def fn(key, pdfs, state: GroupState):
        tv, tc, tp = state.get if state.exists else (0, 0, 0)
        rows = []
        for pdf in pdfs:
            for ts, et, eid in zip(
                pdf["ts"], pdf["event_type"], pdf["event_id"]
            ):
                rows.append((ts.value, int(eid), et))  # ns since epoch
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

        def to_ts(ns):
            return pd.Timestamp(ns) if ns else pd.NaT

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "first_view": [to_ts(tv)],
                "first_click": [to_ts(tc)],
                "first_purchase": [to_ts(tp)],
                "funnel_stage": [stage],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, first_view timestamp, first_click timestamp, "
            "first_purchase timestamp, funnel_stage int"
        ),
        stateStructType="tv long, tc long, tp long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return ST.run_to_memory(
        out, output_mode="update", state_partitions=ST.PYTHON_STATE_PARTITIONS
    )


@register(
    "asof_join_with_tolerance",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MIN(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           CASE WHEN v.ts >= p.ts - INTERVAL 1 HOUR THEN v.ts END AS view_ts,
           CASE WHEN v.ts >= p.ts - INTERVAL 1 HOUR THEN v.view_id END
             AS view_id
    FROM purchases p
    ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_join_with_tolerance(spark, sf_dir):
    """As-of join with a bounded match gap (pandas merge_asof tolerance):
    each purchase matched to the most recent view, but only within 1 hour
    — staler context is treated as no match (nulled, how='left'). Applied
    as a post-carry predicate, so it costs nothing on top of the
    single-shuffle union+window lowering; the oracle spells the same
    semantics as ASOF LEFT JOIN + a gap CASE."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("view_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts")
    )
    out = A.asof_join(
        purchases,
        views.select("user_id", "ts", "view_id"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["view_id"],
        suffix="_v",
        how="left",
        tolerance="1 HOUR",
    )
    return out.select(
        "purchase_id", "user_id", F.col("ts").alias("purchase_ts"),
        F.col("ts_v").alias("view_ts"), F.col("view_id_v").alias("view_id"),
    )


@register(
    "streaming_interval_left_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           s.event_id AS signup_id, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
)
def streaming_interval_left_join(spark, sf_dir):
    """STREAM-STREAM LEFT OUTER interval join — the shape the inner join
    (streaming_interval_join_purchase_signup) can't express: purchases with
    NO signup in the preceding hour must still emit, with nulls. Outer
    results are watermark-gated: an unmatched left row may only emit once
    the watermark proves no matching right row can still arrive, so the
    replay appends a far-future sentinel batch that pushes the watermark
    past every real row — exactly how a production stream drains (time
    advances, outer results flush). The sentinel itself stays unemitted
    (the watermark never passes it), so the result equals the batch LEFT
    JOIN oracle."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    max_ts = ev.agg(F.max("ts")).first()[0]
    # Sentinels must SURVIVE the per-side type filters (a filtered-out row
    # never reaches the watermark operator, and the global watermark is the
    # MIN across both sides) — so one future 'purchase' and one future
    # 'signup', with distinct impossible user_ids so they can't match each
    # other (and being future rows the watermark never passes them, so the
    # sentinel purchase itself never emits). TWO sentinel batches: the
    # watermark derives from the PREVIOUS batch's max event time, so the
    # batch after the first sentinel performs the eviction.
    sentinel = spark.createDataFrame(
        [
            (int(-1), max_ts, int(-1), "purchase"),
            (int(-2), max_ts, int(-2), "signup"),
        ],
        ev.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 HOURS"))
    sentinel2 = sentinel.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))

    def build(stream):
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        signups = (
            stream.filter(F.col("event_type") == "signup")
            .select(
                F.col("event_id").alias("signup_id"),
                F.col("user_id").alias("s_user_id"),
                F.col("ts").alias("signup_ts"),
            )
            .withWatermark("signup_ts", "2 hours")
        )
        return purchases.join(
            signups,
            (F.col("user_id") == F.col("s_user_id"))
            & (F.col("purchase_ts") >= F.col("signup_ts"))
            & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        )

    out = ST.staged_replay(spark, [ev, sentinel, sentinel2], build, output_mode="append")
    return out.select("purchase_id", "user_id", "purchase_ts", "signup_id", "signup_ts")


@register(
    "streaming_asof_static_enrich",
    oracle="""
    WITH views AS (
      SELECT user_id, ts, MIN(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    purchases AS (SELECT event_id AS purchase_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
    SELECT p.purchase_id, p.user_id, v.view_id
    FROM purchases p
    ASOF JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def streaming_asof_static_enrich(spark, sf_dir):
    """AS-OF enrichment on a STREAM: Structured Streaming has no native
    as-of join, but against a STATIC right side the batch operator
    decomposes cleanly over micro-batches — each left row's match depends
    only on itself and the static table, so running ext/asof.asof_join
    inside foreachBatch and unioning the epochs equals the one-shot batch
    as-of exactly (the oracle, DuckDB's native ASOF JOIN). The static
    views side broadcasts once per batch; left rows never wait on
    watermarks. This is the feature-store lookup pattern: late-arriving
    facts enriched with the most recent static dimension state.

    Sink shape: each epoch's enriched rows are APPENDED TO PARQUET from
    the executors (at scale that parquet IS the output dataset); nothing
    ever accumulates on the driver. For the registry harness the union is
    read back and localCheckpoint'ed (materialized in the block manager,
    distributed) so the scratch dir can be removed immediately. The sink
    dir is SEEDED with an empty, explicitly-typed parquet file before the
    stream starts (repartition(1) forces a real footer even for 0 rows),
    so a stream that yields zero epochs still reads back as a typed empty
    result instead of 'Unable to infer schema'. The scratch root comes
    from ST.stream_sink_dir — driver-local tempfile space by default
    (correct on local[*]); a cluster deployment points
    PYPELN_SPARK_STREAM_SINK_ROOT at shared storage (NFS mount or
    hdfs://…/s3a://… URI), exactly like any other executor-written sink
    path (tests/test_streaming.py pins the override being honored)."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import asof as A

    ev_static = load_table(spark, sf_dir, "events")
    views = (
        ev_static.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("view_id"))
    )
    stream = ST.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(F.col("event_id").alias("purchase_id"), "user_id", "ts")

    root = ST.stream_sink_dir("pypeln_spark_asof_epochs_")
    out_schema = T.StructType(
        [
            T.StructField("purchase_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("view_id", T.LongType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    def enrich(batch_df, epoch_id):
        j = A.asof_join(batch_df, views, on="user_id", right_cols=["view_id"])
        (
            j.select(
                "purchase_id", "user_id", F.col("view_id_right").alias("view_id")
            )
            .write.mode("append")
            .parquet(root)
        )

    ST.run_foreach_batch(stream, enrich)
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


def _incr_stream_oracle(bucket_cap=None) -> str:
    """Oracle for streaming_incremental_dedup: replays the 3-epoch ingest
    gate — per epoch, match the arriving batch against the CURRENT corpus
    index (banded-LSH candidates + exact-Jaccard verify, min-corpus-id
    survivor pick), then absorb the epoch's novel docs into the corpus
    before the next epoch. Unrolled (3 fixed epochs), because the epoch
    ORDER is the semantics: a doc absorbed in epoch 0 must be matchable
    in epochs 1-2.

    ``bucket_cap`` replays the capped-gate variant
    (streaming_incremental_dedup_capped): the corpus band view the epoch
    probes is a maintained table b{e} holding only the cap lowest-id rows
    per (band, sig) bucket — b0 = rank-filter of the initial corpus
    bands; after each epoch's absorb, b{e+1} = rank-filter(b{e} ∪ the
    novel docs' band rows), ITERATED capping exactly as
    IncrementalLshIndex applies it on every absorb (rows evicted by an
    earlier merge never come back)."""
    from .dedup import JACCARD_THRESHOLD, _MH_CTE, _SH_CTE

    ctes = [
        f"{_SH_CTE}",
        f"{_MH_CTE}",
        """banded AS (
          SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
          FROM mh GROUP BY doc_id, j // 4
        )""",
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)",
        "c0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)",
    ]
    if bucket_cap is not None:
        ctes.append(f"""b0 AS (
          SELECT doc_id, band, sig FROM (
            SELECT b.doc_id, b.band, b.sig,
                   ROW_NUMBER() OVER (PARTITION BY b.band, b.sig
                                      ORDER BY b.doc_id) AS rnk
            FROM banded b JOIN c0 ON c0.doc_id = b.doc_id)
          WHERE rnk <= {bucket_cap}
        )""")
    finals = []
    for e in range(3):
        cls = 2 * e + 1  # doc_id % 6 ∈ {1, 3, 5} → epochs 0, 1, 2
        ctes.append(
            f"n{e} AS (SELECT doc_id FROM documents WHERE doc_id % 6 = {cls})"
        )
        cand_corpus = (
            f"JOIN b{e} cb ON nb.band = cb.band AND nb.sig = cb.sig"
            if bucket_cap is not None
            else "JOIN banded cb ON nb.band = cb.band AND nb.sig = cb.sig"
        )
        cand_filter = (
            "" if bucket_cap is not None
            else f"\n                JOIN c{e} ON c{e}.doc_id = cb.doc_id"
        )
        ctes.append(f"""m{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT i.new_id, i.corpus_id,
                   CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
            FROM (
              SELECT p.new_id, p.corpus_id, COUNT(*) AS n_inter
              FROM (
                SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
                FROM banded nb
                {cand_corpus}
                JOIN n{e} ON n{e}.doc_id = nb.doc_id{cand_filter}
              ) p
              JOIN sh a ON a.doc_id = p.new_id
              JOIN sh b ON b.doc_id = p.corpus_id AND b.sh = a.sh
              GROUP BY p.new_id, p.corpus_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.new_id
            JOIN sizes sb ON sb.doc_id = i.corpus_id)
          WHERE jaccard >= {JACCARD_THRESHOLD}
        )""")
        ctes.append(f"""p{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT new_id, corpus_id, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY new_id
                                      ORDER BY corpus_id ASC) AS rn
            FROM m{e})
          WHERE rn = 1
        )""")
        ctes.append(f"""c{e + 1} AS (
          SELECT doc_id FROM c{e}
          UNION ALL
          SELECT n{e}.doc_id FROM n{e}
          ANTI JOIN p{e} ON p{e}.new_id = n{e}.doc_id
        )""")
        if bucket_cap is not None:
            ctes.append(f"""b{e + 1} AS (
              SELECT doc_id, band, sig FROM (
                SELECT u.doc_id, u.band, u.sig,
                       ROW_NUMBER() OVER (PARTITION BY u.band, u.sig
                                          ORDER BY u.doc_id) AS rnk
                FROM (
                  SELECT doc_id, band, sig FROM b{e}
                  UNION ALL
                  SELECT b.doc_id, b.band, b.sig FROM banded b
                  JOIN n{e} ON n{e}.doc_id = b.doc_id
                  ANTI JOIN p{e} ON p{e}.new_id = b.doc_id
                ) u)
              WHERE rnk <= {bucket_cap}
            )""")
        finals.append(
            f"""SELECT n{e}.doc_id, CAST({e} AS INTEGER) AS epoch,
                 p{e}.corpus_id AS dup_of, p{e}.jaccard AS jaccard
          FROM n{e} LEFT JOIN p{e} ON p{e}.new_id = n{e}.doc_id"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def _text_ingest_gate(spark, sf_dir, checkpoint_dir=None, bucket_cap=None):
    """The PRODUCTION INGEST GATE for a continuously crawled training set,
    run as a real stream (VERDICT r6 #8): new documents (odd doc_ids,
    three epochs by doc_id % 6) arrive through foreachBatch; each epoch
    band-joins against the corpus LSH index (even doc_ids, the SAME
    session-cached shingle/band frames the batch
    dedup_incremental_vs_corpus maintains), verifies candidates with
    exact Jaccard, emits one keep/drop decision per arriving doc — (doc,
    epoch, dup_of = min matching corpus id or NULL, jaccard) — APPENDED
    TO PARQUET FROM THE EXECUTORS, and then ABSORBS the epoch's novel
    docs into the index, so a near-dup of an epoch-0 novel doc arriving
    in epoch 2 is caught (tests/test_streaming.py plants exactly that).

    Scale shape: per epoch, only batch-side shingling/signatures are
    computed (∝ |batch|); candidates come from the band equi-join
    (new × index, never index × index); the growing index is the
    band/shingle table a deployment maintains — here the session-cached
    initial frames plus one level leaf holding every absorbed doc, merged
    on each absorb, so no epoch re-copies the corpus (at 100 TB the level
    is a table the absorb rewrites, and the decisions parquet IS the
    output dataset). Within-batch (new × new)
    duplicates are deliberately out of scope — that is the batch
    minhash_lsh_dedup's job upstream. The oracle unrolls the three
    epochs and replays banding, verification, survivor pick AND the
    absorb step, so epoch ordering itself is value-checked. The decisions
    sink is seeded with a typed empty parquet file; its root comes from
    ST.stream_sink_dir (shared-FS via PYPELN_SPARK_STREAM_SINK_ROOT on a
    cluster, driver-local tempfile on local[*] — same as the asof harness
    above). Index maintenance lives in ext/dedup.IncrementalLshIndex,
    which merges the novel docs into its level leaf on every absorb (its
    docstring says why the schedule is fixed)."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .dedup import BANDS, JACCARD_THRESHOLD, N_HASHES

    rpb = N_HASHES // BANDS
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    epochs = [docs.filter(F.col("doc_id") % 6 == c) for c in (1, 3, 5)]

    # initial index: the SAME session-cached frames as the batch query —
    # one maintained index, two consumers (batch absorb + streaming gate)
    cor_sh = S.cached_index(
        ("lsh_corpus_shingles", sf_dir),
        lambda: D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5),
    )
    cor_bands = S.cached_index(
        ("lsh_corpus_bands", sf_dir, N_HASHES, BANDS),
        lambda: D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, rpb,
        ),
    )

    root = ST.stream_sink_dir("pypeln_spark_incrdedup_")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    index = D.IncrementalLshIndex(
        cor_sh,
        cor_bands,
        checkpoint_dir=checkpoint_dir,
        bucket_cap=bucket_cap,
    )

    # per-epoch body lives in ext/dedup.TextIngestGate, symmetric with
    # the embedding gate, so depth experiments (SCALING.md "Compaction
    # knee at depth") drive the IDENTICAL gate code at 12+ epoch depths
    gate = D.TextIngestGate(
        index, root, N_HASHES, BANDS, 5, JACCARD_THRESHOLD,
        epoch_col=lambda: F.expr("CAST(((doc_id % 6) - 1) DIV 2 AS INT)"),
    )

    # The 4-partition streaming default (state_partitions) is load-bearing
    # here even though this query keeps NO state stores: the gate runs
    # ~10 shuffling operators per epoch on epoch-sized (|docs|/6) inputs,
    # and with AQE off under streaming nothing coalesces them — measured
    # at sf0.1, widening the gate to defaultParallelism=32 REGRESSED
    # 15.1s → 34.0s (task-launch overhead on tiny shuffles), so the
    # epoch-volume-sized default stands. A deployment whose epochs carry
    # millions of docs sizes this up via PYPELN_SPARK_STREAM_PARTITIONS.
    ST.staged_foreach_batch(spark, epochs, gate)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


@register("streaming_incremental_dedup", oracle=_incr_stream_oracle())
def streaming_incremental_dedup(spark, sf_dir):
    """The registry text ingest gate (see _text_ingest_gate). Compaction
    target = localCheckpoint (block-manager) unless the deployment env
    knob PYPELN_SPARK_INGEST_COMPACT_DIR points at a shared-FS dir (the
    index lives in this entry's subdirectory of it, _index_dir)."""
    return _text_ingest_gate(
        spark, sf_dir, _index_dir("streaming_incremental_dedup")
    )


@register("streaming_incremental_dedup_durable", oracle=_incr_stream_oracle())
def streaming_incremental_dedup_durable(spark, sf_dir):
    """The SAME text ingest gate with its index materialization on the
    DURABLE path (VERDICT r9 #5): every delta append and every compaction
    writes parquet under a checkpoint dir and reads it back — the
    "index as a maintained table" shape a real cluster runs, safe across
    executor loss where localCheckpoint blocks are not (a lost executor's
    block-manager checkpoint is non-recomputable, mid-stream fatal; see
    IncrementalLshIndex's docstring, ext/dedup.py). Decisions are
    target-invariant — this entry shares _incr_stream_oracle() verbatim
    with streaming_incremental_dedup, so the driver hash-checks that the
    filesystem round trip changes NOTHING — and its bench row prices the
    write-amplification of durability (SCALING.md r10). Here the dir is a
    driver-local tempdir (local[*] has no shared FS); a deployment sets
    PYPELN_SPARK_INGEST_COMPACT_DIR to shared storage and keeps the final
    generation as the recoverable index table instead of deleting it."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="pypeln_spark_ingest_ckpt_")
    try:
        # decisions localCheckpoint eagerly inside the helper, so the
        # index files are free to go once the frame is materialized
        return _text_ingest_gate(spark, sf_dir, ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "streaming_incremental_dedup_capped", oracle=_incr_stream_oracle(bucket_cap=2)
)
def streaming_incremental_dedup_capped(spark, sf_dir):
    """The text ingest gate with the HOT-BUCKET WIDTH CAP (the streaming
    twin of dedup_lsh_hot_bucket_star): the index's band view keeps only
    the 2 lowest-id rows per (band, sig) bucket — rank-filtered at init
    and re-applied at every absorb's merge, so
    the width every epoch probes is bounded FOREVER even as a
    sub-threshold template family grows its buckets without bound. cap=2
    binds on 10 initial sf0.01 corpus buckets plus whatever the absorbs
    add, so the driver check exercises eviction, iterated re-capping AND
    the decision consequences (a near-dup whose only matching members
    were evicted reads novel — the oracle replays exactly which). Keeping
    LOWEST ids makes exact-dup traffic decision-identical to the uncapped
    gate (the min-id member — the survivor pick's target — always
    survives capping; measured + test-pinned, SCALING.md r10)."""
    return _text_ingest_gate(spark, sf_dir, bucket_cap=2)


def _flood_stream_oracle() -> str:
    """Oracle for streaming_incremental_dedup_flood — the text gate with
    WITHIN-BATCH ABSORB DEDUP (absorb_dedup=True) on a stream carrying an
    identical-document flood. The arrival stream is constructed from the
    fixture: epoch 0 = the %6==1 docs PLUS same-text replicas of the
    low-id sources under doc_id+100000 (the within-batch flood — gate
    decisions never compare batch rows against each other, so without
    the guard every replica absorbs); epoch 1 = the %6==3 docs plus a
    SECOND replica wave (+200000) of the same sources, which must now
    read dup_of = the stored representative at jaccard 1.0 (the
    cross-epoch proof that the one kept copy serves later traffic);
    epoch 2 = the %6==5 docs. The replay re-derives shingles over the
    replicated view, ranks each epoch's novel set by the CANONICAL
    sorted shingle array keeping the min id (exactly the gate's
    array_sort window), and emits the per-row `absorbed` verdict the
    gate writes — so the driver hash-checks the dedup itself, not just
    its downstream consequences."""
    from .dedup import JACCARD_THRESHOLD, _MH_CTE, _SH_CTE

    src = "doc_id % 6 = 1 AND doc_id < 60"
    ctes = [
        f"""documents2 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE {src}
          UNION ALL
          SELECT doc_id + 200000, text FROM documents WHERE {src}
        )""",
        # the shared shingle CTE, re-pointed at the replicated view (the
        # replicas' shingle rows must exist for banding and verify)
        _SH_CTE.replace("FROM documents)", "FROM documents2)").strip(),
        _MH_CTE.strip(),
        """banded AS (
          SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
          FROM mh GROUP BY doc_id, j // 4
        )""",
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)",
        "skeys AS (SELECT doc_id, list(sh ORDER BY sh) AS skey FROM sh GROUP BY doc_id)",
        "c0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)",
        f"""n0 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 1
               UNION ALL
               SELECT doc_id + 100000 FROM documents WHERE {src})""",
        f"""n1 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 3
               UNION ALL
               SELECT doc_id + 200000 FROM documents WHERE {src})""",
        "n2 AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 5)",
    ]
    finals = []
    for e in range(3):
        ctes.append(f"""m{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT i.new_id, i.corpus_id,
                   CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
            FROM (
              SELECT p.new_id, p.corpus_id, COUNT(*) AS n_inter
              FROM (
                SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
                FROM banded nb
                JOIN banded cb ON nb.band = cb.band AND nb.sig = cb.sig
                JOIN n{e} ON n{e}.doc_id = nb.doc_id
                JOIN c{e} ON c{e}.doc_id = cb.doc_id
              ) p
              JOIN sh a ON a.doc_id = p.new_id
              JOIN sh b ON b.doc_id = p.corpus_id AND b.sh = a.sh
              GROUP BY p.new_id, p.corpus_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.new_id
            JOIN sizes sb ON sb.doc_id = i.corpus_id)
          WHERE jaccard >= {JACCARD_THRESHOLD}
        )""")
        ctes.append(f"""p{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT new_id, corpus_id, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY new_id
                                      ORDER BY corpus_id ASC) AS rn
            FROM m{e})
          WHERE rn = 1
        )""")
        # the absorb set: novel rows rank-filtered to the min id per
        # canonical shingle set — the gate's array_sort window, replayed
        ctes.append(f"""a{e} AS (
          SELECT doc_id FROM (
            SELECT nv.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY k.skey
                                      ORDER BY nv.doc_id) AS rnk
            FROM (SELECT n{e}.doc_id FROM n{e}
                  ANTI JOIN p{e} ON p{e}.new_id = n{e}.doc_id) nv
            JOIN skeys k ON k.doc_id = nv.doc_id)
          WHERE rnk = 1
        )""")
        ctes.append(f"""c{e + 1} AS (
          SELECT doc_id FROM c{e}
          UNION ALL
          SELECT doc_id FROM a{e}
        )""")
        finals.append(
            f"""SELECT n{e}.doc_id, CAST({e} AS INTEGER) AS epoch,
                 p{e}.corpus_id AS dup_of, p{e}.jaccard AS jaccard,
                 (a{e}.doc_id IS NOT NULL) AS absorbed
          FROM n{e}
          LEFT JOIN p{e} ON p{e}.new_id = n{e}.doc_id
          LEFT JOIN a{e} ON a{e}.doc_id = n{e}.doc_id"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@register("streaming_incremental_dedup_flood", oracle=_flood_stream_oracle())
def streaming_incremental_dedup_flood(spark, sf_dir):
    """The text ingest gate under an IDENTICAL-DOCUMENT FLOOD, with the
    r11 absorb_dedup guard live and oracle-replayed. Epoch 0 carries
    same-text replicas of the low-id sources alongside the regular
    arrivals — the mirror-burst shape: gates never compare a batch's
    rows against each other, so without the guard every replica absorbs
    and every later epoch's candidate join pays the flood's width (the
    measured failure absorb_dedup exists for; the embedding-side A/B in
    SCALING.md r11 reads 63.7s vs 199.0s at m=60000). With the guard,
    each epoch's novel set is rank-filtered to the min-id row per
    CANONICAL sorted shingle set before absorption, the output carries
    the per-row `absorbed` verdict, and epoch 1's second replica wave
    must read dup_of = the stored representative at jaccard 1.0 — the
    driver hash-checks flood eviction, the rep choice, AND the
    cross-epoch service of the one stored copy. Scale shape identical
    to streaming_incremental_dedup plus one narrow row_number window
    per epoch over the novel set (the flood key deliberately skews into
    a single task of skinny shingle rows)."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .dedup import BANDS, JACCARD_THRESHOLD, N_HASHES

    rpb = N_HASHES // BANDS
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the replica offsets (+100000/+200000) are baked into the oracle SQL;
    # a fixture whose real ids reach them would make the oracle's
    # per-doc_id shingle CTE merge a replica with a real doc while the
    # engine keeps two rows — fail loudly instead of hash-diverging
    # (sf0.001-sf1 tops out at 50k ids; one tiny max() job)
    max_id = docs.agg(F.max("doc_id")).first()[0] or 0
    if max_id >= 100000:
        raise ValueError(
            "streaming_incremental_dedup_flood: fixture doc_ids reach "
            f"{max_id} >= 100000 and would collide with the oracle's "
            "fixed replica id offsets — regenerate with larger offsets"
        )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    src = docs.filter((F.col("doc_id") % 6 == 1) & (F.col("doc_id") < 60))

    def replicas(off):
        return src.select(
            (F.col("doc_id") + off).alias("doc_id"), "text"
        )

    epochs = [
        docs.filter(F.col("doc_id") % 6 == 1).unionByName(replicas(100000)),
        docs.filter(F.col("doc_id") % 6 == 3).unionByName(replicas(200000)),
        docs.filter(F.col("doc_id") % 6 == 5),
    ]

    cor_sh = S.cached_index(
        ("lsh_corpus_shingles", sf_dir),
        lambda: D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5),
    )
    cor_bands = S.cached_index(
        ("lsh_corpus_bands", sf_dir, N_HASHES, BANDS),
        lambda: D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, rpb,
        ),
    )

    root = ST.stream_sink_dir("pypeln_spark_flooddedup_")
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("absorbed", T.BooleanType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    index = D.IncrementalLshIndex(cor_sh, cor_bands)
    # default epoch labels (the harness epoch_id): the replica ids break
    # the %6-derived formula the sibling entries use, and staged feeds
    # are ordered, so the label IS the feed ordinal
    gate = D.TextIngestGate(
        index, root, N_HASHES, BANDS, 5, JACCARD_THRESHOLD,
        absorb_dedup=True,
    )
    ST.staged_foreach_batch(spark, epochs, gate)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


def _curated_stream_oracle() -> str:
    """Oracle for streaming_curated_ingest — the COMPOSED production
    ingest pipeline: per epoch, arriving docs are quality-screened
    (C4/Gopher-style thresholds, the batch capstone's exact rules), only
    survivors face the LSH gate against the quality-curated corpus
    index, and only novel survivors are absorbed. Three unrolled epochs;
    every doc gets exactly one verdict row (low_quality | dup | keep)."""
    from .curation import MIN_TOKENS, MIN_STOPWORD_RATIO, TOKS, _STOP_EN
    from .dedup import JACCARD_THRESHOLD, _MH_CTE, _SH_CTE

    ctes = [
        f"{_SH_CTE}",
        f"{_MH_CTE}",
        """banded AS (
          SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
          FROM mh GROUP BY doc_id, j // 4
        )""",
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)",
        f"""qual AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter({TOKS},
                       t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                     / CAST(len({TOKS}) AS DOUBLE) AS stopword_ratio
            FROM documents)
          WHERE n_tokens >= {MIN_TOKENS}
            AND stopword_ratio >= {MIN_STOPWORD_RATIO}
        )""",
        """c0 AS (
          SELECT d.doc_id FROM documents d JOIN qual USING (doc_id)
          WHERE d.doc_id % 2 = 0
        )""",
    ]
    finals = []
    for e in range(3):
        cls = 2 * e + 1  # doc_id % 6 ∈ {1, 3, 5} → epochs 0, 1, 2
        ctes.append(
            f"n{e} AS (SELECT doc_id FROM documents WHERE doc_id % 6 = {cls})"
        )
        ctes.append(
            f"q{e} AS (SELECT doc_id FROM n{e} JOIN qual USING (doc_id))"
        )
        ctes.append(f"""m{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT i.new_id, i.corpus_id,
                   CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
            FROM (
              SELECT p.new_id, p.corpus_id, COUNT(*) AS n_inter
              FROM (
                SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
                FROM banded nb
                JOIN banded cb ON nb.band = cb.band AND nb.sig = cb.sig
                JOIN q{e} ON q{e}.doc_id = nb.doc_id
                JOIN c{e} ON c{e}.doc_id = cb.doc_id
              ) p
              JOIN sh a ON a.doc_id = p.new_id
              JOIN sh b ON b.doc_id = p.corpus_id AND b.sh = a.sh
              GROUP BY p.new_id, p.corpus_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.new_id
            JOIN sizes sb ON sb.doc_id = i.corpus_id)
          WHERE jaccard >= {JACCARD_THRESHOLD}
        )""")
        ctes.append(f"""p{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT new_id, corpus_id, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY new_id
                                      ORDER BY corpus_id ASC) AS rn
            FROM m{e})
          WHERE rn = 1
        )""")
        ctes.append(f"""c{e + 1} AS (
          SELECT doc_id FROM c{e}
          UNION ALL
          SELECT q{e}.doc_id FROM q{e}
          ANTI JOIN p{e} ON p{e}.new_id = q{e}.doc_id
        )""")
        finals.append(
            f"""SELECT n{e}.doc_id, CAST({e} AS INTEGER) AS epoch,
                 CASE WHEN q{e}.doc_id IS NULL THEN 'low_quality'
                      WHEN p{e}.new_id IS NOT NULL THEN 'dup'
                      ELSE 'keep' END AS verdict,
                 p{e}.corpus_id AS dup_of, p{e}.jaccard AS jaccard
          FROM n{e}
          LEFT JOIN q{e} ON q{e}.doc_id = n{e}.doc_id
          LEFT JOIN p{e} ON p{e}.new_id = n{e}.doc_id"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@register("streaming_curated_ingest", oracle=_curated_stream_oracle())
def streaming_curated_ingest(spark, sf_dir):
    """The COMPOSED streaming curation pipeline (r10) — the batch e2e
    capstone's front half run as a live stream, which is how a crawl
    actually feeds a training set: each arriving epoch is (1)
    quality-screened with the batch capstone's exact C4/Gopher-style
    thresholds (ext/text.quality_scores — n_tokens and stopword-ratio
    floors), (2) survivors face the text LSH ingest gate against a
    QUALITY-CURATED corpus index (even doc_ids that pass the same
    screen), and (3) only novel survivors are absorbed — low-quality
    docs never pollute the index, exactly as a deployment would run it.
    Every arriving doc gets ONE verdict row: low_quality (screen), dup
    (gate, with dup_of + jaccard), or keep. Scale shape: the screen is a
    pure projection fused into the epoch scan (zero extra shuffles —
    quality_scores is one Catalyst select); the gate inherits every
    measured property of streaming_incremental_dedup (band equi-join,
    lineage-cut deltas, K=1 compaction, width=auto); reject verdicts are
    a pure projection of the doc (no index state), so they are assembled
    batch-side after the stream instead of paying one append job per
    epoch (r13). The oracle replays screen,
    banding, verify, survivor pick AND the filtered absorb across the
    three unrolled epochs, so the COMPOSITION itself is value-checked —
    a doc that fails quality must be invisible to every later epoch's
    candidate set."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.ext import text as X

    from .curation import MIN_TOKENS, MIN_STOPWORD_RATIO
    from .dedup import BANDS, JACCARD_THRESHOLD, N_HASHES

    rpb = N_HASHES // BANDS
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def screen(df):
        # ONE projection — the same token/stopword arithmetic as
        # ext/text.quality_scores (which the oracle replays), inlined so
        # the screen never self-joins the batch against its own scores
        # (the first cut did, and the shuffle doubled the gate's wall:
        # 26.0s → 12.3s at sf0.1 under the query_ab protocol, vs 12.1s
        # for the screen-less gate — the screen is ~free, as a
        # projection should be)
        toks = X.tokenize(F.col("text"))
        n_toks = F.size(toks).cast("double")
        en_stop = F.array([F.lit(s) for s in X.STOPWORDS["en"]])
        stop_hits = F.size(
            F.filter(toks, lambda x: F.array_contains(en_stop, x))
        ).cast("double")
        return D.spread(df).select(
            "doc_id", "text",
            # coalesce: an empty/whitespace doc makes stop_hits/n_toks
            # NULL, and a null q_pass would drop the doc from BOTH the
            # reject and the pass branch — no verdict row at all. Empty
            # docs fail the screen, they don't vanish.
            F.coalesce(
                (F.size(toks).cast("long") >= MIN_TOKENS)
                & ((stop_hits / n_toks) >= MIN_STOPWORD_RATIO),
                F.lit(False),
            ).alias("q_pass"),
        )

    corpus = screen(docs.filter(F.col("doc_id") % 2 == 0)).filter(
        "q_pass"
    ).select("doc_id", "text")
    epochs = [docs.filter(F.col("doc_id") % 6 == c) for c in (1, 3, 5)]

    cor_sh = S.cached_index(
        ("lsh_qcorpus_shingles", sf_dir),
        lambda: D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5),
    )
    cor_bands = S.cached_index(
        ("lsh_qcorpus_bands", sf_dir, N_HASHES, BANDS),
        lambda: D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, rpb,
        ),
    )

    root = ST.stream_sink_dir("pypeln_spark_curingest_")
    gate_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    ST.seed_sink_schema(spark, gate_schema, root)

    index = D.IncrementalLshIndex(cor_sh, cor_bands)
    epoch_expr = "CAST(((doc_id % 6) - 1) DIV 2 AS INT)"
    gate = D.TextIngestGate(
        index, root, N_HASHES, BANDS, 5, JACCARD_THRESHOLD,
        epoch_col=lambda: F.expr(epoch_expr),
    )

    def body(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        # the reject branch is NOT written per epoch: a doc's
        # low_quality verdict is a pure projection of the doc itself
        # (screen touches no index state), so the reject rows are
        # assembled batch-side after the stream — the same pure-
        # derivation audit point staged feeds rest on. Three per-epoch
        # append jobs (+ the reject sink seed) become zero; the gate
        # still sees exactly the screened survivors, per epoch, in
        # order.
        gate(screen(batch_df).filter("q_pass").select("doc_id", "text"),
             epoch_id)

    ST.staged_foreach_batch(spark, epochs, body)
    D.retire_pipeline_caches()
    index.close()
    gate_rows = spark.read.parquet(root).select(
        "doc_id", "epoch",
        F.when(F.col("dup_of").isNotNull(), F.lit("dup"))
        .otherwise(F.lit("keep")).alias("verdict"),
        "dup_of", "jaccard",
    )
    rej_rows = (
        screen(docs.filter(F.col("doc_id") % 2 == 1))
        .filter(~F.col("q_pass"))
        .select(
            "doc_id",
            F.expr(epoch_expr).alias("epoch"),
            F.lit("low_quality").alias("verdict"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    out = gate_rows.unionByName(rej_rows).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


def _emb_gate_oracle() -> str:
    """Oracle for streaming_embedding_ingest — the EMBEDDING twin of
    _incr_stream_oracle: 3 unrolled epochs, per epoch match the arriving
    vectors against the CURRENT corpus index (hyperplane buckets with
    hd≤1 multiprobe — the probe-mask explode is equivalent to the pair
    predicate hamming(bucket_new, bucket_corpus) ≤ 1 — then exact-cosine
    verify, min-corpus-id survivor pick), then absorb the epoch's novel
    vectors before the next epoch. c{e} CTEs are AS MATERIALIZED — each
    is referenced twice (match + absorb), and DuckDB inlines by default."""
    from .similarity import _BUCKET, _dot, NEAR_DUP_T

    vv = _dot("v", "v")
    ctes = [
        """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)""",
        f"n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e)",
        f"bk AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n)",
        "c0 AS MATERIALIZED (SELECT vec_id FROM bk WHERE vec_id % 2 = 0)",
    ]
    finals = []
    for ep in range(3):
        cls = 2 * ep + 1  # vec_id % 6 ∈ {1, 3, 5} → epochs 0, 1, 2
        ctes.append(
            f"n{ep} AS (SELECT vec_id FROM bk WHERE vec_id % 6 = {cls})"
        )
        ctes.append(f"""m{ep} AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT a.vec_id AS new_id, b.vec_id AS corpus_id,
                   {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
            FROM bk a
            JOIN n{ep} ON n{ep}.vec_id = a.vec_id
            JOIN bk b ON bit_count(xor(a.bucket, b.bucket)) <= 1
            JOIN c{ep} ON c{ep}.vec_id = b.vec_id)
          WHERE cos >= {NEAR_DUP_T}
        )""")
        ctes.append(f"""p{ep} AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT new_id, corpus_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY new_id
                                      ORDER BY corpus_id ASC) AS rn
            FROM m{ep})
          WHERE rn = 1
        )""")
        ctes.append(f"""c{ep + 1} AS MATERIALIZED (
          SELECT vec_id FROM c{ep}
          UNION ALL
          SELECT n{ep}.vec_id FROM n{ep}
          ANTI JOIN p{ep} ON p{ep}.new_id = n{ep}.vec_id
        )""")
        finals.append(
            f"""SELECT n{ep}.vec_id, CAST({ep} AS INTEGER) AS epoch,
                 p{ep}.corpus_id AS dup_of, p{ep}.cos AS cos
          FROM n{ep} LEFT JOIN p{ep} ON p{ep}.new_id = n{ep}.vec_id"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@register("streaming_embedding_ingest", oracle=_emb_gate_oracle())
def streaming_embedding_ingest(spark, sf_dir):
    """The EMBEDDING ingest gate — the dense twin of
    streaming_incremental_dedup, closing the ingest-gate story (batch
    near-dup, streaming text gate, streaming VECTOR gate): continuously
    arriving embeddings (odd vec_ids, three epochs by vec_id % 6) are
    checked against a GROWING hyperplane-bucket vector index (even
    vec_ids seed it); each epoch buckets only the arriving batch,
    MULTIPROBES the new side (hd≤1 — measured by
    embedding_near_dup_recall_eval's arms at sf0.01: capture at cos
    0.35-0.45 is 0.2/0.0 single-bucket, 0.5/0.2 at hd≤1 [this gate's
    setting, 7 probes], 0.7/0.6 at hd≤2 [22 probes] — the probe budget
    is the gate's recall/cost dial), verifies candidates
    with exact cosine ≥ NEAR_DUP_T, emits one decision per vector —
    (vec_id, epoch, dup_of = min matching corpus id or NULL, cos) —
    appended to parquet from the executors, and absorbs novel vectors so
    a near-dup of an epoch-0 novel vector arriving in epoch 2 is caught
    (tests/test_streaming.py plants exactly that).

    Scale shape: per epoch only the batch side is bucketed (∝ |batch|);
    candidates come from the bucket equi-join (new × index, the probe
    explode multiplies only the skinny new side); the vector/bucket
    index is IncrementalLshIndex state — the cached base plus one level
    leaf that every absorb merges the novel vectors into — and both
    verify sides carry
    shuffle_hash hints (64-double arrays under-estimate like shingle
    arrays; same OOM class as the text gate's r7 sweep catch).

    SIZING RULE the 10× sweep makes concrete (SCALING.md): hyperplane
    buckets have FIXED cardinality 2^n_planes, so candidate mass grows
    ∝ |new|·|index| / 2^n_planes — unlike the text gate's MinHash bands,
    whose key space grows with the data. The fixed n_planes=6 here is
    the oracle-pinned test shape; a deployment sizes n_planes ≈
    log2(index_size / target_bucket_occupancy) and re-buckets the index
    as it grows (cheap: one narrow pass, the index stores vectors). The
    oracle unrolls the three epochs and replays bucketing, the multiprobe
    predicate, verification, survivor pick AND the absorb step.

    The sizing rule is wired into the gate:
    ext/similarity.EmbeddingIngestGate's ``occupancy_trigger`` re-buckets
    the whole index wider when mean bucket occupancy crosses it. This
    entry leaves the trigger off, because the oracle replays the fixed
    n_planes=6 shape; tests/test_streaming.py::test_embedding_gate_occupancy_trigger
    drives it on a growing synthetic stream."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .similarity import DIM, N_PLANES, NEAR_DUP_T

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    epochs = [emb.filter(F.col("vec_id") % 6 == c) for c in (1, 3, 5)]

    def build_index():
        return S.lsh_bucket(
            S.with_norms(S.spread(corpus)), "_v", N_PLANES, DIM
        ).select("vec_id", "_v", "_norm", "bucket")

    cor = S.cached_index(("emb_gate_index", sf_dir, N_PLANES), build_index)
    index = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"),
        cor.select("vec_id", "bucket"),
        checkpoint_dir=_index_dir("streaming_embedding_ingest"),
        # an embedding index is one (id, _v, _norm, bucket) side; the
        # two frames above only name its sh and band view columns
        comb=cor,
    )

    root = ST.stream_sink_dir("pypeln_spark_embingest_")
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    gate = S.EmbeddingIngestGate(
        index, root, DIM, N_PLANES, NEAR_DUP_T, probe_hamming=1,
        epoch_col=lambda: F.expr("CAST(((vec_id % 6) - 1) DIV 2 AS INT)"),
        # store-everything shape: the oracle replays every stored copy
        # (the class default is the deployment-rule ON since r13)
        absorb_dedup=False,
    )
    ST.staged_foreach_batch(spark, epochs, gate)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


def _emb_cells_gate_oracle() -> str:
    """Oracle for streaming_embedding_ingest_cells — the k-means-cell
    twin of _emb_gate_oracle: centroids train ONCE on the initial corpus
    (frozen-hash seeds, decimal-exact updates — the _kmeans_ctes replay,
    base = the corpus-only CTE), ONE shared assignment ranking serves
    both sides (corpus cells = rank 1, arriving probes = rank ≤ nprobe —
    equivalent to the gate's two ivf_assign calls because assignment is
    deterministic), then 3 unrolled epochs of cell equi-join → exact
    cosine verify → min-corpus-id survivor → absorb novel at rank 1."""
    from .similarity import (
        DIM, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
        _dot, _kmeans_ctes,
    )

    nprobe = 2
    vv = _dot("v", "v")
    km_cte, km_final = _kmeans_ctes(
        N_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD, prefix="g", base="cn"
    )
    ctes = [
        """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)""",
        f"n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e)",
        "cn AS (SELECT * FROM n WHERE vec_id % 2 = 0)",
        km_cte.strip().rstrip(","),
        f"""gasg AS MATERIALIZED (
          SELECT x.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id
                   ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC,
                            c.cid) AS rk
          FROM n x JOIN {km_final} c ON TRUE
        )""",
        """c0 AS MATERIALIZED (
          SELECT vec_id, cid FROM gasg WHERE rk = 1 AND vec_id % 2 = 0
        )""",
    ]
    finals = []
    for ep in range(3):
        cls = 2 * ep + 1  # vec_id % 6 ∈ {1, 3, 5} → epochs 0, 1, 2
        ctes.append(
            f"n{ep} AS (SELECT vec_id FROM n WHERE vec_id % 6 = {cls})"
        )
        ctes.append(f"""m{ep} AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT p.vec_id AS new_id, cc.vec_id AS corpus_id,
                   {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
            FROM gasg p
            JOIN n{ep} ON n{ep}.vec_id = p.vec_id
            JOIN c{ep} cc ON cc.cid = p.cid
            JOIN n a ON a.vec_id = p.vec_id
            JOIN n b ON b.vec_id = cc.vec_id
            WHERE p.rk <= {nprobe})
          WHERE cos >= {NEAR_DUP_T}
        )""")
        ctes.append(f"""p{ep} AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT new_id, corpus_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY new_id
                                      ORDER BY corpus_id ASC) AS rn
            FROM m{ep})
          WHERE rn = 1
        )""")
        ctes.append(f"""c{ep + 1} AS MATERIALIZED (
          SELECT vec_id, cid FROM c{ep}
          UNION ALL
          SELECT g.vec_id, g.cid FROM gasg g
          JOIN n{ep} ON n{ep}.vec_id = g.vec_id
          ANTI JOIN p{ep} ON p{ep}.new_id = g.vec_id
          WHERE g.rk = 1
        )""")
        finals.append(
            f"""SELECT n{ep}.vec_id, CAST({ep} AS INTEGER) AS epoch,
                 p{ep}.corpus_id AS dup_of, p{ep}.cos AS cos
          FROM n{ep} LEFT JOIN p{ep} ON p{ep}.new_id = n{ep}.vec_id"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@register("streaming_embedding_ingest_cells", oracle=_emb_cells_gate_oracle())
def streaming_embedding_ingest_cells(spark, sf_dir):
    """The embedding ingest gate in K-MEANS CELL mode (VERDICT r9 #4) —
    the bucketing a SEMANTIC-threshold deployment should run: the r9 sf1
    measurements showed the hyperplane gate's occupancy widen costs 27%
    of dup decisions at this query's low threshold (0.35) while costing
    zero at ≥0.9 — mid-cosine pairs are weakly bucket-stable under random
    hyperplanes, and widening only sharpens that. Cells bucket by the
    DATA's cluster structure instead: centroids train once on the initial
    corpus (ext/similarity.kmeans_centroids — frozen-hash seeds,
    decimal-exact means, hash-sampled training set, all DuckDB-replayable),
    arriving vectors probe their 2 nearest cells, the index stores each
    vector in its single nearest cell, and verify/survivor/absorb are the
    shared gate body (ext/similarity.CellEmbeddingIngestGate). Scale
    shape: assignment is a broadcast of n_cells tiny centroid rows — one
    narrow pass per epoch over the BATCH only — candidates come from the
    cell equi-join (new × index), and the at-scale maintenance move is a
    periodic centroid re-train + index.rebuild_combined (the standard IVF
    rebuild), not bucket widening. The oracle replays training,
    assignment, probing, verification, survivor pick AND absorb across
    the three unrolled epochs."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .similarity import (
        DIM, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    epochs = [emb.filter(F.col("vec_id") % 6 == c) for c in (1, 3, 5)]

    # train-once centroid artifact, keyed separately from the full-corpus
    # ANN quantizer: a gate only knows the corpus that exists at stream
    # start, so its centroids (and the oracle's) train on even ids only
    cents = S.trained_artifact(
        spark,
        ("gate_cells_cents", sf_dir, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD),
        lambda: S.kmeans_centroids(
            corpus, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD
        ),
    )

    def build_index():
        nf = S.with_norms(S.spread(corpus))
        return S.ivf_assign(nf, cents, N_CELLS, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )

    cor = S.cached_index(
        ("emb_gate_cells_index", sf_dir, N_CELLS, KMEANS_ITERS), build_index
    )
    index = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"),
        cor.select("vec_id", "bucket"),
        checkpoint_dir=_index_dir("streaming_embedding_ingest_cells"),
        # an embedding index is one (id, _v, _norm, bucket) side; the
        # two frames above only name its sh and band view columns
        comb=cor,
    )

    root = ST.stream_sink_dir("pypeln_spark_embcells_")
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    gate = S.CellEmbeddingIngestGate(
        index, root, DIM, cents, N_CELLS, NEAR_DUP_T, nprobe=2,
        epoch_col=lambda: F.expr("CAST(((vec_id % 6) - 1) DIV 2 AS INT)"),
        absorb_dedup=False,  # oracle-replay shape (class default ON, r13)
    )
    ST.staged_foreach_batch(spark, epochs, gate)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


def _ann_serving_oracle() -> str:
    """Oracle for streaming_ann_topk_serving: the IVF serving path over
    the SAME corpus-trained quantizer and cell assignment as the cells
    ingest gate (one index, two consumers). No absorb — each arriving
    query probes its nprobe nearest cells of the STATIC corpus, exact
    cosine over the probed lists, top-k per query — so the replay is one
    batch SQL over all queries, with the epoch label a pure function of
    the id."""
    from .similarity import (
        DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, _dot, _kmeans_ctes,
    )

    nprobe = 2
    vv = _dot("v", "v")
    km_cte, km_final = _kmeans_ctes(
        N_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD, prefix="g", base="cn"
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e),
    cn AS (SELECT * FROM n WHERE vec_id % 2 = 0),
    {km_cte.strip().rstrip(',')},
    gasg AS MATERIALIZED (
      SELECT x.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC,
                        c.cid) AS rk
      FROM n x JOIN {km_final} c ON TRUE
    ),
    cells AS (SELECT vec_id, cid FROM gasg WHERE rk = 1 AND vec_id % 2 = 0),
    probes AS (SELECT vec_id, cid FROM gasg
               WHERE rk <= {nprobe} AND vec_id % 2 = 1),
    scored AS (
      SELECT p.vec_id AS query_id, cc.vec_id AS neighbor_id,
             {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
      FROM probes p
      JOIN cells cc ON cc.cid = p.cid
      JOIN n a ON a.vec_id = p.vec_id
      JOIN n b ON b.vec_id = cc.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(((query_id % 6) - 1) // 2 AS INTEGER) AS epoch,
           neighbor_id, cos, CAST(rnk AS INTEGER) AS rank
    FROM ranked WHERE rnk <= {K}
    """


@register("streaming_ann_topk_serving", oracle=_ann_serving_oracle())
def streaming_ann_topk_serving(spark, sf_dir):
    """The RETRIEVAL half of the vector-index story (r10): a stream of
    query vectors (odd vec_ids, three epochs by vec_id % 6) served
    against the STATIC corpus IVF index — the production ANN serving
    shape (FAISS's search() as a stream), complementing the ingest gates
    (which build/maintain the index). Deliberately shares BOTH artifacts
    with streaming_embedding_ingest_cells: the corpus-trained centroids
    (same trained_artifact key) and the cell-assignment frame (same
    cached_index key) — one maintained index, two consumers, exactly how
    a deployment runs it. Per micro-batch: assign arriving queries to
    their nprobe=2 nearest cells (ivf_assign keep=2 over broadcast
    centroids — a narrow pass over the BATCH), equi-join the probed
    inverted lists, exact cosine, top-K per query by window, decisions
    appended from the executors. Scale shape: per-query cost is
    nprobe/n_cells of the corpus, the bounded probe side BROADCASTS so
    the corpus lists never move (measured 2.3x at sf1; the inline
    comment has the full A/B), and the static index is the bucketed
    table a cluster would pin in storage. No state grows — the gate is
    embarrassingly micro-batch-parallel (contrast: the ingest gates'
    absorb is the stateful half)."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .similarity import DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS

    # nprobe resolves from a recall target via the measured scan-fraction
    # physics (serving_nprobe docstring; VERDICT r11 #5) instead of the
    # r10 hardcode. target=0.12 -> ceil(0.12*16)=2, the committed
    # oracle/floor setting (pinned by tests/test_ext.py) — i.e. this
    # entry's declared contract is the COST point (12.5% corpus scan,
    # measured recall 0.22-0.30), not a high-recall point; a deployment
    # wanting recall r on an unmeasured corpus passes target=r.
    nprobe = S.serving_nprobe(N_CELLS, recall_target=0.12)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    epochs = [emb.filter(F.col("vec_id") % 6 == c) for c in (1, 3, 5)]

    cents = S.trained_artifact(
        spark,
        ("gate_cells_cents", sf_dir, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD),
        lambda: S.kmeans_centroids(
            corpus, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD
        ),
    )

    def build_index():
        nf = S.with_norms(S.spread(corpus))
        return S.ivf_assign(nf, cents, N_CELLS, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )

    cor = S.cached_index(
        ("emb_gate_cells_index", sf_dir, N_CELLS, KMEANS_ITERS), build_index
    )
    lists = cor.select(
        F.col("vec_id").alias("neighbor_id"), F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"), F.col("bucket").alias("cid"),
    )

    root = ST.stream_sink_dir("pypeln_spark_annserve_")
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, root)

    from pyspark.sql import Window

    from pypeln_spark.ext.similarity import dot_ieee

    def probes_of(df):
        return S.ivf_assign(S.with_norms(df), cents, N_CELLS, keep=nprobe).select(
            F.col("vec_id").alias("query_id"), F.col("_v").alias("qv"),
            F.col("_norm").alias("qn"), F.col("cid"),
        )

    payload = DIM * 8 + 24  # qv doubles + norm/ids

    def serve(batch_df, epoch_id):
        # the serving join's sides are asymmetric (probes = |batch|·nprobe
        # skinny rows, bounded by the micro-batch; lists = the CORPUS), so
        # the probes broadcast and the corpus lists never move — measured
        # at sf1 (10k queries vs 10k-vector lists, 16 cells):
        # broadcast-probes 22.3s vs shuffle_hash 50.6s (2.3x), decisions
        # identical. (The INGEST gates are the contrast: their batch side
        # carries corpus-scale shingle arrays.) The probes are read once,
        # up to the guard's bound, as the local relation the join
        # broadcasts; past the bound the join takes the bounded
        # shuffle_hash plan over the spread batch (collect_probe_side,
        # probe_side_join).
        probes, n_probes = S.collect_probe_side(
            probes_of(batch_df), payload, lambda: probes_of(S.spread(batch_df))
        )
        if probes is None:
            return
        scored = S.probe_side_join(
            lists, probes, "cid", probe_rows=n_probes, probe_row_bytes=payload
        ).withColumn(
            "cos", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K)
            .select(
                "query_id",
                F.expr("CAST(((query_id % 6) - 1) DIV 2 AS INT)").alias("epoch"),
                "neighbor_id", "cos", "rank",
            )
            .write.mode("append")
            .parquet(root)
        )

    ST.staged_foreach_batch(spark, epochs, serve)
    D.retire_pipeline_caches()
    out = spark.read.parquet(root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, root)
    return out


# the live entry's mid-stream retrain GROWS the cell count 16 -> 32 (the
# production IVF rebuild rule the r12 dial measured: n_cells tracks the
# grown index, serving_nprobe re-resolves so the scan fraction holds).
# Test-pinned against serving_nprobe(32, 0.12) = 4 = the oracle's rk bound.
LIVE_RETRAIN_CELLS = 32


def _ann_serving_live_oracle() -> str:
    """Oracle for streaming_ann_topk_serving_live — serve DURING ingest.
    Two interleaved rounds, unrolled (the flood entry's staging pattern):
    ingest epoch 0 absorbs novels under the corpus-trained centroids C0;
    query epoch 0 reads the LIVE index (corpus + novel0) under C0;
    RETRAIN replays k-means over the grown index (the second _kmeans_ctes
    chain, base = the live rows, n_cells GROWN to LIVE_RETRAIN_CELLS —
    gate.retrain(n_cells=32)'s exact constants); ingest epoch 1
    decides/absorbs under the retrained C1 geometry; query epoch 1 reads
    corpus + novel0 + novel1 under C1 at the re-resolved serve nprobe.
    Every stage — both quantizer trainings, both assignment rankings,
    dup decisions, absorb membership, and both top-k serves — is
    hash-checked."""
    from .similarity import (
        DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
        _dot, _kmeans_ctes,
    )

    ingest_np = 4  # nprobe="auto" at the semantic threshold (r11 rule)
    serve_np0 = 2  # serving_nprobe(16, 0.12) — the declared cost point
    serve_np1 = 4  # serving_nprobe(32, 0.12): scan fraction held as cells grow
    vv = _dot("v", "v")
    km0_cte, km0_final = _kmeans_ctes(
        N_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD, prefix="g", base="cn"
    )
    # the retrain GROWS the cell count (the production IVF rebuild rule —
    # occupancy-targeted; the r12 dial measurement) and the serve nprobe
    # follows via the recall-target resolution, holding the scan fraction
    km1_cte, km1_final = _kmeans_ctes(
        LIVE_RETRAIN_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD,
        prefix="r", base="s1",
    )
    ctes = [
        """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)""",
        f"n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e)",
        "cn AS (SELECT * FROM n WHERE vec_id % 2 = 0)",
        km0_cte.strip().rstrip(","),
        # one ranking under C0 serves ingest-0 probes, storage cells, and
        # query-0 probes (assignment is deterministic — same equivalence
        # the cells-gate oracle uses)
        f"""gasg AS MATERIALIZED (
          SELECT x.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id
                   ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC,
                            c.cid) AS rk
          FROM n x JOIN {km0_final} c ON TRUE
        )""",
        "i0 AS (SELECT vec_id FROM n WHERE vec_id % 12 = 1)",
        # ingest 0: probe rk<=4 cells of the CORPUS index, cosine verify,
        # min-corpus-id survivor pick
        f"""m0 AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT p.vec_id AS new_id, cc.vec_id AS corpus_id,
                   {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
            FROM gasg p
            JOIN i0 ON i0.vec_id = p.vec_id
            JOIN (SELECT vec_id, cid FROM gasg
                  WHERE rk = 1 AND vec_id % 2 = 0) cc ON cc.cid = p.cid
            JOIN n a ON a.vec_id = p.vec_id
            JOIN n b ON b.vec_id = cc.vec_id
            WHERE p.rk <= {ingest_np})
          WHERE cos >= {NEAR_DUP_T}
        )""",
        """p0 AS (
          SELECT new_id FROM m0 GROUP BY new_id
        )""",
        # live rows after ingest 0: corpus + novel absorbs
        """s1 AS MATERIALIZED (
          SELECT * FROM cn
          UNION ALL
          SELECT n.* FROM n JOIN i0 ON i0.vec_id = n.vec_id
          ANTI JOIN p0 ON p0.new_id = n.vec_id
        )""",
        # query 0: probes rk<=2 under C0 against the LIVE index's cells
        # (s1 members at their rk=1 C0 cell — exactly where the gate
        # stored them)
        "q0 AS (SELECT vec_id FROM n WHERE vec_id % 12 = 3)",
        f"""sc0 AS (
          SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
                 {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
          FROM gasg p
          JOIN q0 ON q0.vec_id = p.vec_id
          JOIN (SELECT g.vec_id, g.cid FROM gasg g
                JOIN s1 ON s1.vec_id = g.vec_id WHERE g.rk = 1) l
            ON l.cid = p.cid
          JOIN n a ON a.vec_id = p.vec_id
          JOIN n b ON b.vec_id = l.vec_id
          WHERE p.rk <= {serve_np0}
        )""",
        # retrain on the grown index (C1), then re-rank everything
        km1_cte.strip().rstrip(","),
        f"""rasg AS MATERIALIZED (
          SELECT x.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY x.vec_id
                   ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC,
                            c.cid) AS rk
          FROM n x JOIN {km1_final} c ON TRUE
        )""",
        "i1 AS (SELECT vec_id FROM n WHERE vec_id % 12 = 5)",
        f"""m1 AS (
          SELECT new_id, corpus_id, cos FROM (
            SELECT p.vec_id AS new_id, cc.vec_id AS corpus_id,
                   {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
            FROM rasg p
            JOIN i1 ON i1.vec_id = p.vec_id
            JOIN (SELECT g.vec_id, g.cid FROM rasg g
                  JOIN s1 ON s1.vec_id = g.vec_id WHERE g.rk = 1) cc
              ON cc.cid = p.cid
            JOIN n a ON a.vec_id = p.vec_id
            JOIN n b ON b.vec_id = cc.vec_id
            WHERE p.rk <= {ingest_np})
          WHERE cos >= {NEAR_DUP_T}
        )""",
        """p1 AS (
          SELECT new_id FROM m1 GROUP BY new_id
        )""",
        """s2 AS MATERIALIZED (
          SELECT vec_id FROM s1
          UNION ALL
          SELECT n.vec_id FROM n JOIN i1 ON i1.vec_id = n.vec_id
          ANTI JOIN p1 ON p1.new_id = n.vec_id
        )""",
        "q1 AS (SELECT vec_id FROM n WHERE vec_id % 12 = 7)",
        f"""sc1 AS (
          SELECT p.vec_id AS query_id, l.vec_id AS neighbor_id,
                 {_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos
          FROM rasg p
          JOIN q1 ON q1.vec_id = p.vec_id
          JOIN (SELECT g.vec_id, g.cid FROM rasg g
                JOIN s2 ON s2.vec_id = g.vec_id WHERE g.rk = 1) l
            ON l.cid = p.cid
          JOIN n a ON a.vec_id = p.vec_id
          JOIN n b ON b.vec_id = l.vec_id
          WHERE p.rk <= {serve_np1}
        )""",
        """united AS (
          SELECT 0 AS epoch, * FROM sc0
          UNION ALL
          SELECT 1 AS epoch, * FROM sc1
        )""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT query_id, CAST(epoch AS INTEGER) AS epoch, neighbor_id, cos,
           CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT epoch, query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY epoch, query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM united)
    WHERE rnk <= {K}
    """
    )


@register("streaming_ann_topk_serving_live", oracle=_ann_serving_live_oracle())
def streaming_ann_topk_serving_live(spark, sf_dir):
    """Serving against the LIVE index (VERDICT r11 #3 gap / #4 ask) — the
    retrieval stack's missing half composed from parts that all existed:
    query epochs INTERLEAVE with ingest epochs on one staged stream, and
    each query batch reads the CURRENT cells index — the corpus plus
    every vector absorbed so far — under the CURRENT centroid geometry,
    re-snapshotted mid-stream by the standard IVF rebuild
    (CellEmbeddingIngestGate.retrain -> index.rebuild_combined). Epoch plan
    (vec_id % 12): 1 -> ingest 0 (nprobe="auto" at the semantic
    threshold -> 4), 3 -> query 0 (top-K against corpus + novel0, C0
    centroids), then RETRAIN on the grown index — GROWING the cell
    count 16 -> 32, the occupancy-tracking rebuild rule the r12 dial
    measured (fixed cells is the one super-linear term in the 10x
    sweep; the serve nprobe re-resolves 2 -> 4 via serving_nprobe so
    the scan fraction and recall target hold) — 5 -> ingest 1 (decides
    against the live index under retrained C1), 7 -> query 1 (corpus +
    both absorb waves, C1).

    STALENESS SEMANTICS (the production contract, SCALING.md r12): reads
    are bounded-stale at micro-batch granularity — a query epoch sees
    every absorb from every EARLIER epoch and nothing from its own or
    later ones (staged_foreach_batch serializes epochs; the read is a
    plan over the base plus the one level leaf every earlier absorb
    merged into, never a re-derivation). Retrain swaps geometry between
    epochs atomically from the readers' view: query 0 is served entirely
    under C0, query 1 entirely under C1 — no query ever reads a
    half-rebuilt index, because rebuild_combined replaces the whole index
    between micro-batches. Scale shape: the serve join is the guarded
    probe-side broadcast against the live lists (never moves the
    corpus); ingest is the cells gate unchanged; retrain is two narrow
    passes over stored vectors. The oracle replays BOTH k-means
    trainings, both assignment rankings, dup decisions, absorb
    membership, and both serves."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    from .similarity import (
        DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    # interleaved feeds: ingest, query, ingest, query (classes 9/11 idle)
    epochs = [emb.filter(F.col("vec_id") % 12 == c) for c in (1, 3, 5, 7)]

    cents = S.trained_artifact(
        spark,
        ("gate_cells_cents", sf_dir, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD),
        lambda: S.kmeans_centroids(
            corpus, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD
        ),
    )

    def build_index():
        nf = S.with_norms(S.spread(corpus))
        return S.ivf_assign(nf, cents, N_CELLS, keep=1).select(
            "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
        )

    cor = S.cached_index(
        ("emb_gate_cells_index", sf_dir, N_CELLS, KMEANS_ITERS), build_index
    )
    index = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"),
        cor.select("vec_id", "bucket"),
        checkpoint_dir=_index_dir("streaming_ann_topk_serving_live"),
        # an embedding index is one (id, _v, _norm, bucket) side; the
        # two frames above only name its sh and band view columns
        comb=cor,
    )

    ingest_root = ST.stream_sink_dir("pypeln_spark_liveingest_")
    serve_root = ST.stream_sink_dir("pypeln_spark_liveserve_")
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("epoch", T.IntegerType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    ST.seed_sink_schema(spark, out_schema, serve_root)

    gate = S.CellEmbeddingIngestGate(
        index, ingest_root, DIM, cents, N_CELLS, NEAR_DUP_T, nprobe="auto",
        absorb_dedup=False,  # oracle-replay shape (class default ON, r13)
        # explicit, not defaulted: the oracle's km1 chain replays the
        # retrain with KMEANS_ITERS/KMEANS_TRAIN_MOD, so the gate must be
        # CONSTRUCTED with the same constants — relying on the class
        # defaults happening to equal them would turn a default change
        # into a silent driver hash mismatch (ADVICE r12)
        retrain_iters=KMEANS_ITERS, retrain_train_mod=KMEANS_TRAIN_MOD,
    )

    def serve(batch_df, qepoch):
        # the shared LIVE serve body (ext/similarity.live_topk_serve):
        # nprobe from the CURRENT geometry via the recall-target rule;
        # the query probes are read once, up to the broadcast guard's
        # bound, and broadcast as a local relation against the index's
        # combined side, which never moves; past the bound the join takes
        # the bounded shuffle_hash plan; the index read is two leaves
        # (base + the merged level leaf)
        topk = S.live_topk_serve(
            index, gate.centroids, gate.n_cells, batch_df, k=K, dim=DIM,
            recall_target=0.12, cents_lits=gate.centroid_lits(),
        )
        if topk is None:
            return
        (
            topk.select(
                "query_id",
                F.lit(int(qepoch)).cast("int").alias("epoch"),
                "neighbor_id", "cos", "rank",
            )
            .write.mode("append")
            .parquet(serve_root)
        )

    def body(batch_df, epoch_id):
        if epoch_id % 2 == 0:
            if epoch_id == 2:
                # the mid-stream re-snapshot: retrain centroids on the
                # grown index AND grow the cell count (16 -> 32, the
                # occupancy-tracking IVF rebuild — the r12 dial's
                # measured at-scale rule; live_topk_serve re-resolves
                # its nprobe from gate.n_cells so the scan fraction
                # holds), rebuild the band view — between epochs, so no
                # reader ever sees half-rebuilt geometry
                gate.retrain(n_cells=LIVE_RETRAIN_CELLS)
            gate(batch_df, epoch_id // 2)
        else:
            serve(batch_df, (epoch_id - 1) // 2)

    ST.staged_foreach_batch(spark, epochs, body)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(serve_root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, serve_root)
    ST.remove_sink_dir(spark, ingest_root)
    return out




# query batches arrive DOCUMENTS-SHAPED — (doc_id = query id, text = the
# query string) — because the staged stream carries one file-source
# schema for every epoch; the serve body tokenizes them into
# (query_id, term) rows, which is also how a real query log lands
BM25_LIVE_QUERIES = [(0, "spark window join"), (1, "stream hash vector")]
BM25_LIVE_K = 10
BM25_K1, BM25_B = 1.2, 0.75


def _bm25_live_oracle() -> str:
    """Oracle for streaming_bm25_topk_serving_live — the lexical twin of
    the live ANN serving oracle: per served epoch, the LIVE document set
    (corpus + every novel absorb from earlier ingest epochs, replayed
    through the full LSH-gate dedup chain — banding, Jaccard verify,
    min-corpus-id survivor pick, absorb) and the BM25 scores computed
    under THAT epoch's corpus-statistics snapshot (N, sum dl, per-term
    df over the live set — the IDF staleness dial). Scores follow
    bm25_serve's determinism contract: integer stats, one-division
    avgdl, log-free rational idf, identically-associated IEEE per-term
    scores, decimal-cast per-doc sum."""
    from pypeln_spark.ext.sketch import _dlit

    from .dedup import JACCARD_THRESHOLD, _MH_CTE, _SH_CTE

    vals = ", ".join(
        f"({q}, '{t}')" for q, text in BM25_LIVE_QUERIES for t in text.split()
    )
    ctes = [
        f"{_SH_CTE}",
        f"{_MH_CTE}",
        """banded AS (
          SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
          FROM mh GROUP BY doc_id, j // 4
        )""",
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)",
        "c0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)",
        f"q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term"
        f"       FROM (VALUES {vals}) AS t(query_id, term))",
        """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents)""",
        """post AS MATERIALIZED (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, term
        )""",
        """dlen AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
               FROM documents)""",
    ]
    finals = []
    norm = (
        f"({_dlit(BM25_K1)} * ({_dlit(1.0 - BM25_B)} + {_dlit(BM25_B)} * "
        f"(CAST(d.dl AS DOUBLE)"
        f" / (CAST(st{{s}}._sumdl AS DOUBLE) / CAST(st{{s}}._n AS DOUBLE)))))"
    )
    contrib = (
        f"(((CAST(st{{s}}._n - f{{s}}._df AS DOUBLE) + 0.5e0)"
        f" / (CAST(f{{s}}._df AS DOUBLE) + 0.5e0))"
        f" * ((CAST(p.tf AS DOUBLE) * {_dlit(BM25_K1 + 1.0)})"
        f" / (CAST(p.tf AS DOUBLE) + {norm})))"
    )
    for e in range(2):
        cls = 2 * e + 1  # ingest feeds: doc_id % 6 in {1, 3}
        ctes.append(
            f"n{e} AS (SELECT doc_id FROM documents WHERE doc_id % 6 = {cls})"
        )
        ctes.append(f"""m{e} AS (
          SELECT new_id, corpus_id, jaccard FROM (
            SELECT i.new_id, i.corpus_id,
                   CAST(i.n_inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
            FROM (
              SELECT p.new_id, p.corpus_id, COUNT(*) AS n_inter
              FROM (
                SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
                FROM banded nb
                JOIN banded cb ON nb.band = cb.band AND nb.sig = cb.sig
                JOIN n{e} ON n{e}.doc_id = nb.doc_id
                JOIN c{e} ON c{e}.doc_id = cb.doc_id
              ) p
              JOIN sh a ON a.doc_id = p.new_id
              JOIN sh b ON b.doc_id = p.corpus_id AND b.sh = a.sh
              GROUP BY p.new_id, p.corpus_id
            ) i
            JOIN sizes sa ON sa.doc_id = i.new_id
            JOIN sizes sb ON sb.doc_id = i.corpus_id)
          WHERE jaccard >= {JACCARD_THRESHOLD}
        )""")
        ctes.append(f"""c{e + 1} AS MATERIALIZED (
          SELECT doc_id FROM c{e}
          UNION ALL
          SELECT n{e}.doc_id FROM n{e}
          ANTI JOIN (SELECT DISTINCT new_id FROM m{e}) p{e}
            ON p{e}.new_id = n{e}.doc_id
        )""")
        s = e  # serve epoch s reads live set c{e+1}
        ctes.append(f"""st{s} AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS _n,
                 CAST(SUM(d.dl) AS BIGINT) AS _sumdl
          FROM dlen d JOIN c{e + 1} ON c{e + 1}.doc_id = d.doc_id
        )""")
        ctes.append(f"""f{s} AS (
          SELECT p.term, CAST(COUNT(*) AS BIGINT) AS _df
          FROM post p
          JOIN c{e + 1} ON c{e + 1}.doc_id = p.doc_id
          JOIN (SELECT DISTINCT term FROM q) t ON t.term = p.term
          GROUP BY p.term
        )""")
        ctes.append(f"""sc{s} AS (
          SELECT q.query_id, p.doc_id,
                 {dsum_expr(contrib.format(s=s), 12)} AS score
          FROM post p
          JOIN c{e + 1} ON c{e + 1}.doc_id = p.doc_id
          JOIN q ON q.term = p.term
          JOIN f{s} ON f{s}.term = p.term
          JOIN dlen d ON d.doc_id = p.doc_id
          CROSS JOIN st{s}
          GROUP BY q.query_id, p.doc_id
        )""")
        finals.append(f"""SELECT query_id, CAST({s} AS INTEGER) AS epoch,
                 doc_id, score, CAST(rank AS INTEGER) AS rank
          FROM (
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS rank
            FROM sc{s})
          WHERE rank <= {BM25_LIVE_K}""")
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


@register("streaming_bm25_topk_serving_live", oracle=_bm25_live_oracle())
def streaming_bm25_topk_serving_live(spark, sf_dir):
    """LIVE SPARSE retrieval — BM25 top-k served DURING ingest (VERDICT
    r12 #4), the lexical twin of streaming_ann_topk_serving_live: on one
    staged stream, query epochs interleave with ingest epochs, each query
    batch (query_id, term rows — the query set is DATA, as a serving
    tier receives it) scored against the CURRENT live document set under
    the CURRENT corpus statistics.

    Epoch plan: ingest 0 (docs doc_id%6==1 through the text LSH gate —
    band-join dedup against the corpus index, novel docs absorb) ->
    query 0 -> ingest 1 (%6==3) -> query 1. The BM25 index is a
    maintained postings/doclen pair (ext/text.bm25_postings): base =
    the session-cached corpus build, plus one LINEAGE-CUT delta per
    ingest epoch covering exactly that epoch's novel absorbs (read back
    from the decisions table the gate writes — the parquet contract IS
    the handoff between gate and index maintenance).

    STALENESS SEMANTICS — the lexical dial is the IDF SNAPSHOT, not
    centroid geometry: document-frequency, N and avgdl DRIFT as
    documents absorb, and a serving tier must choose when to
    re-snapshot them. Here bm25_serve recomputes the stats from the
    live frames at every query epoch (freshest possible at micro-batch
    granularity: query epoch q sees every absorb from epochs < q and
    nothing later — staged epochs serialize, the postings union swaps
    atomically between micro-batches). A deployment holding stats
    longer serves SCORES computed under stale idf against fresh
    postings — the documented trade (SCALING.md r13); the re-snapshot
    costs one skinny doclen aggregate + one per-term df aggregate, both
    streaming the postings against broadcast query frames.

    Scale shape: the postings side never moves (broadcast hash joins
    for qterms/df, one-row stats broadcast); only matched postings
    shuffle into the per-(query, doc) decimal sum and per-query top-k
    window; ingest is the text gate unchanged; the postings deltas are
    ∝ |epoch novel set|. The oracle replays the dedup chain (banding,
    verify, survivor pick, absorb) AND both statistics snapshots AND
    both serves — every score and rank hash-checked."""
    from pyspark.sql import types as T

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S
    from pypeln_spark.ext import text as X

    from .dedup import BANDS, JACCARD_THRESHOLD, N_HASHES

    rpb = N_HASHES // BANDS
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    ing = [docs.filter(F.col("doc_id") % 6 == c) for c in (1, 3)]
    qt = spark.createDataFrame(BM25_LIVE_QUERIES, "doc_id long, text string")

    # the SAME session-cached corpus LSH index frames as the other text
    # gates — one maintained index, many consumers
    cor_sh = S.cached_index(
        ("lsh_corpus_shingles", sf_dir),
        lambda: D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5),
    )
    cor_bands = S.cached_index(
        ("lsh_corpus_bands", sf_dir, N_HASHES, BANDS),
        lambda: D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, rpb,
        ),
    )
    base_post = S.cached_index(
        ("bm25_corpus_postings", sf_dir),
        lambda: X.bm25_postings(corpus)[0],
    )
    # doclen derives from the CACHED postings (dl is denormalized onto
    # every posting row; whitespace tokenize gives every doc >= 1 row),
    # not a second corpus tokenize pass (code-review r13)
    base_dl = S.cached_index(
        ("bm25_corpus_doclen", sf_dir),
        lambda: base_post.select("doc_id", "dl").distinct(),
    )

    ingest_root = ST.stream_sink_dir("pypeln_spark_bm25ingest_")
    serve_root = ST.stream_sink_dir("pypeln_spark_bm25serve_")
    dec_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ])
    ST.seed_sink_schema(spark, dec_schema, ingest_root)
    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    ST.seed_sink_schema(spark, out_schema, serve_root)

    index = D.IncrementalLshIndex(
        cor_sh, cor_bands,
        checkpoint_dir=_index_dir("streaming_bm25_topk_serving_live"),
    )
    gate = D.TextIngestGate(
        index, ingest_root, N_HASHES, BANDS, 5, JACCARD_THRESHOLD,
        epoch_col=lambda: F.expr("CAST(((doc_id % 6) - 1) DIV 2 AS INT)"),
    )
    posts = [base_post]
    dls = [base_dl]

    def body(batch_df, epoch_id):
        if epoch_id % 2 == 0:
            e = epoch_id // 2
            gate(batch_df, e)
            # the epoch's novel set, read back from the decisions table
            # (bounded-stale: this epoch's rows are fully written before
            # the next epoch starts — staged epochs serialize) — the
            # parquet contract is the gate -> index-maintenance handoff
            dups = (
                batch_df.sparkSession.read.parquet(ingest_root)
                .filter((F.col("epoch") == e) & F.col("dup_of").isNotNull())
                .select("doc_id")
            )
            novel = batch_df.join(dups, "doc_id", "left_anti")
            p, _ = X.bm25_postings(novel)
            # lineage cut: the delta derives from this epoch's decisions
            # read; uncut, every later serve would replay the gate chain.
            # The doclen delta derives from the CUT postings delta (dl is
            # on every posting row) — one evaluation of the novel lineage
            p = p.localCheckpoint(eager=True)
            posts.append(p)
            dls.append(p.select("doc_id", "dl").distinct())
        else:
            qe = (epoch_id - 1) // 2
            qterms = batch_df.select(
                F.col("doc_id").alias("query_id"),
                F.explode(X.tokenize(F.col("text"))).alias("term"),
            )
            live_p = posts[0]
            for extra in posts[1:]:
                live_p = live_p.unionByName(extra)
            live_d = dls[0]
            for extra in dls[1:]:
                live_d = live_d.unionByName(extra)
            top = X.bm25_serve(
                live_p, live_d, qterms, k=BM25_LIVE_K, k1=BM25_K1, b=BM25_B
            )
            (
                top.select(
                    "query_id",
                    F.lit(int(qe)).cast("int").alias("epoch"),
                    "doc_id", "score", "rank",
                )
                .write.mode("append")
                .parquet(serve_root)
            )

    ST.staged_foreach_batch(spark, [ing[0], qt, ing[1], qt], body)
    D.retire_pipeline_caches()
    index.close()
    out = spark.read.parquet(serve_root).localCheckpoint(eager=True)
    ST.remove_sink_dir(spark, serve_root)
    ST.remove_sink_dir(spark, ingest_root)
    return out


@register(
    "streaming_merge_upsert_orders",
    oracle=f"""
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'U2'
                  WHEN o_orderkey % 5 = 0 THEN 'U1'
                  ELSE o_orderstatus END AS status,
             o_totalprice
      FROM orders
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_expr('o_totalprice')} AS total_price
    FROM final GROUP BY status
    """,
)
def streaming_merge_upsert_orders(spark, sf_dir):
    """CDC-style STREAMING MERGE: three update epochs arrive in order
    (initial load, then two overlapping status-update waves) through a
    real foreachBatch query, and each epoch merges into the running
    snapshot with merge_upsert (anti-join + union — updates win), the
    snapshot re-written per epoch (the no-table-format merge shape;
    partition-aligned dynamic overwrite is the at-scale variant,
    relational.merge_upsert docstring). Epoch ORDER is the semantics —
    a key updated in waves 1 AND 2 must end at wave 2's value — and
    staged_foreach_batch guarantees it (one file per feed, drained before
    the next). The oracle replays the final state with a CASE over the
    update predicates; totals use the decimal convention. Snapshot root
    via ST.stream_sink_dir — shared-FS on clusters, like the other
    executor-written sinks."""
    from pypeln_spark import relational as R

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b0 = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    b1 = b0.filter(F.col("o_orderkey") % 5 == 0).withColumn("status", F.lit("U1"))
    b2 = b0.filter(F.col("o_orderkey") % 7 == 0).withColumn("status", F.lit("U2"))

    root = ST.stream_sink_dir("pypeln_spark_merge_state_")
    state = {"path": None}

    def apply_epoch(batch_df, epoch_id):
        nxt = f"{root}/state_{epoch_id}"
        if state["path"] is None:
            batch_df.write.parquet(nxt)
        else:
            cur = batch_df.sparkSession.read.parquet(state["path"])
            R.merge_upsert(cur, batch_df, on="o_orderkey").df.write.parquet(nxt)
        state["path"] = nxt

    ST.staged_foreach_batch(spark, [b0, b1, b2], apply_epoch)
    final = spark.read.parquet(state["path"])
    agg = final.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )
    # materialize the (≤ #statuses rows) aggregate so the state epochs can
    # be deleted NOW instead of accumulating across bench/registry sweeps —
    # the returned frame would otherwise lazily re-read the state parquet
    rows, schema = agg.collect(), agg.schema
    ST.remove_sink_dir(spark, root)
    return spark.createDataFrame(rows, schema)


@register(
    "streaming_drift_daily_mix",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('day', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    day_tot AS (
      SELECT window_start, CAST(SUM(n) AS BIGINT) AS day_total
      FROM counts GROUP BY window_start
    ),
    base AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS b_n FROM counts GROUP BY event_type
    ),
    base_tot AS (SELECT CAST(SUM(n) AS BIGINT) AS b_total FROM counts)
    SELECT c.window_start, c.event_type, c.n, d.day_total,
           CAST(c.n AS DOUBLE) / CAST(d.day_total AS DOUBLE) AS p_day,
           CAST(b.b_n AS DOUBLE) / CAST(t.b_total AS DOUBLE) AS p_base,
           ABS(c.n * t.b_total - b.b_n * d.day_total) * 20
             > d.day_total * t.b_total AS drifted
    FROM counts c
    JOIN day_tot d ON d.window_start = c.window_start
    JOIN base b ON b.event_type = c.event_type
    CROSS JOIN base_tot t
    """,
)
def streaming_drift_daily_mix(spark, sf_dir):
    """Streaming drift monitor: the event stream maintains per-(day,
    event_type) counts as native windowed state (complete mode); the
    batch-side finalize compares each day's type mix against the
    whole-history baseline and flags days where a type's share moved more
    than 5 points — the serving-vs-training drift check run as a live
    query instead of a nightly batch. The flag is integer
    cross-multiplied like quality_drift_events_cohorts (log-free,
    bit-reproducible; at extreme row counts the cross-products would need
    a decimal widening — counts here are far below the long boundary);
    the two shares are single exact-integer divisions. Scale: streamed
    state is days × types rows; the finalize joins broadcast one-row /
    type-keyed totals back over it."""
    import os

    ev = ST.read_stream_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    counts = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    sunk = ST.run_to_memory(counts, output_mode="complete")
    # the finalize self-joins the memory-sink view three ways, which trips
    # conflicting-reference resolution on the shared MemoryPlan; the sink
    # rows are already driver-resident and tiny (days × types), so rebase
    # them onto a fresh local frame
    streamed = spark.createDataFrame(sunk.collect(), sunk.schema)
    day_tot = streamed.groupBy("window_start").agg(
        F.sum("n").alias("day_total")
    )
    base = streamed.groupBy("event_type").agg(F.sum("n").alias("b_n"))
    base_tot = streamed.agg(F.sum("n").alias("b_total"))
    return (
        streamed.join(day_tot, "window_start")
        .join(F.broadcast(base), "event_type")
        .join(F.broadcast(base_tot))
        .select(
            "window_start",
            "event_type",
            "n",
            "day_total",
            (F.col("n").cast("double") / F.col("day_total").cast("double")).alias(
                "p_day"
            ),
            (F.col("b_n").cast("double") / F.col("b_total").cast("double")).alias(
                "p_base"
            ),
            (
                F.abs(F.col("n") * F.col("b_total") - F.col("b_n") * F.col("day_total"))
                * 20
                > F.col("day_total") * F.col("b_total")
            ).alias("drifted"),
        )
    )
