"""Data-quality layer: expectations and one-pass column profiling.

Two operators every 100 TB ingest pipeline runs before anything else:

- ``expect`` — dbt/DLT-style row expectations: named boolean rules with a
  policy per rule (keep-and-count, drop-and-count, or fail the job).
  Violation counts ride the SAME action as the data (DataFrame.observe —
  no second scan, commit-exact under retries); the rules themselves are
  Catalyst predicates, so ``drop`` policies push into the scan like any
  filter.
- ``profile`` — per-column statistics in ONE aggregate pass over the
  table: nulls, distinct estimate (exact count_distinct here; swap
  approx_count_distinct at scale), min/max, and numeric moments. The
  shuffle is a single global aggregate row regardless of table width —
  the ANALYZE TABLE shape.
"""

from __future__ import annotations

import typing as tp

from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T


class ExpectationError(RuntimeError):
    """Raised by an ``on_fail="fail"`` rule at action time."""


def expect(
    df: DataFrame,
    rules: tp.Mapping[str, tp.Tuple[Column, str]],
) -> tp.Tuple[DataFrame, tp.Optional[Observation]]:
    """Apply named expectations: ``{name: (bool_condition, policy)}`` with
    policy ∈ {"keep", "drop", "fail"}.

    Returns ``(df, observation)`` where the observation (read after the
    first action) holds ``{name: violation_count}`` for every rule —
    including dropped rows, which are counted BEFORE the drop filter.
    "fail" rules raise ExpectationError driver-side after the action when
    violations exist (check via ``enforce``); NULL conditions count as
    violations (a rule that can't be evaluated didn't pass).

    Streaming inputs return ``(df, None)`` — there is no Observation to
    block on, so a "fail" rule could never be enforced and would fail only
    silently (ADVICE r3). expect() therefore REJECTS "fail" rules on a
    streaming DataFrame; monitor the named metrics through the query's
    progress events (``StreamingQueryListener`` /
    ``query.lastProgress["observedMetrics"]["expectations"]``) and stop the
    query from the listener instead."""
    if df.isStreaming:
        failing = [n for n, (_c, p) in rules.items() if p == "fail"]
        if failing:
            raise ValueError(
                f"policy='fail' rules {failing} cannot be enforced on a "
                "streaming DataFrame (no Observation to read); watch the "
                "'expectations' observed metrics in the query's progress "
                "events and stop the query from a StreamingQueryListener"
            )
    metrics = [
        # outer coalesce: SUM over zero rows is NULL; no rows = 0 violations
        F.coalesce(
            F.sum((~F.coalesce(cond, F.lit(False))).cast("long")), F.lit(0)
        ).alias(name)
        for name, (cond, _policy) in rules.items()
    ]
    obs = None
    if df.isStreaming:
        df = df.observe("expectations", *metrics)
    else:
        obs = Observation()
        df = df.observe(obs, *metrics)
    for name, (cond, policy) in rules.items():
        if policy == "drop":
            df = df.filter(F.coalesce(cond, F.lit(False)))
        elif policy not in ("keep", "fail"):
            raise ValueError(f"rule {name!r}: unknown policy {policy!r}")
    return df, obs


def enforce(obs: Observation, rules: tp.Mapping[str, tp.Tuple[Column, str]]) -> dict:
    """Read the observation (blocks until the action ran) and raise
    ExpectationError if any "fail" rule saw violations. Returns the full
    violation-count dict either way on the keep/drop side."""
    got = obs.get
    failed = {
        name: got[name]
        for name, (_c, policy) in rules.items()
        if policy == "fail" and got.get(name, 0) > 0
    }
    if failed:
        raise ExpectationError(f"expectations failed: {failed}")
    return dict(got)


# min/max over these types keeps an immutable aggregation buffer, which
# rules out a hash aggregate for the whole aggregate it sits in
_IMMUTABLE_BUFFER = (T.StringType, T.BinaryType, T.ArrayType, T.MapType, T.StructType)


def profile(df: DataFrame, columns: tp.Optional[tp.List[str]] = None) -> DataFrame:
    """One-pass column profile → rows (column, n_rows, n_nulls, n_distinct,
    min_value, max_value, numeric mean/stddev or NULLs).

    All statistics compute in one final row and unpivot driver-free via a
    literal stack — table width adds expressions, never passes. min/max
    stringify for a uniform schema; mean is the decimal-exact dsum
    convention so the oracle replays it bit-identically; stddev is left
    out of the oracle surface (its float reduction is order-dependent)
    and lives in the engine only.

    Aggregate SPLIT: Spark rewrites multiple count_distinct's as Expand +
    an aggregate KEYED by every distinct column, and a min/max whose
    aggregation buffer is immutable (string, binary, array, map, struct)
    anywhere in that aggregate forces the whole keyed phase to
    SortAggregate — two global sorts of the expanded
    (n_distinct_cols+1)×rows set (measured: the dominant cost of
    profiling at every scale; plan in plans/r14/). Min/max of those
    columns therefore compute in a SEPARATE keyless pass (keyless
    sort-aggregation performs no sort), leaving the expanded dedup
    aggregate all-mutable — a pure HashAggregate. Numeric, boolean, date
    and timestamp min/max have mutable buffers and stay in it. The
    one-row frames cross-join back together only when an immutable
    min/max exists; every expression, and so every output bit, is
    unchanged."""
    from ..functions import davg

    cols = columns or df.columns
    aggs: tp.List[Column] = [F.count(F.lit(1)).alias("__n")]
    str_aggs: tp.List[Column] = []
    numeric = set()
    for c in cols:
        dt = df.schema[c].dataType
        # coalesce: SUM over zero rows is NULL, but "no rows" means 0 nulls
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"{c}__nulls"
            )
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        mm = str_aggs if isinstance(dt, _IMMUTABLE_BUFFER) else aggs
        mm.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        mm.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
        if isinstance(dt, T.NumericType):
            numeric.add(c)
            aggs.append(davg(c, 6).alias(f"{c}__mean"))
    row = df.agg(*aggs)
    if str_aggs:
        # both sides are exactly one row — a deliberate broadcast cross
        # of scalar aggregates (lint-exempted, the 1×1 combine)
        row = row.crossJoin(F.broadcast(df.agg(*str_aggs)))
    parts = []
    for c in cols:
        mean = F.col(f"{c}__mean") if c in numeric else F.lit(None).cast("double")
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
                mean.alias("mean_value"),
            )
        )
    return row.select(F.explode(F.array(*parts)).alias("_p")).select("_p.*")


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: tp.Union[str, tp.List[str]],
) -> DataFrame:
    """Reconcile two snapshots of a table: one row per differing key with
    status ∈ {'added', 'removed', 'changed'} (identical rows drop out).

    The migration/backfill acceptance test at scale: joins on the key and
    compares the NON-key payload as a single struct (null-safe), so only
    one equality per row regardless of width. Shuffle is the one key join;
    at 100 TB pre-bucketed snapshots reconcile without any shuffle at all.
    Output columns: keys + status — project payloads back by joining the
    status frame to either side when samples are needed."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in left.columns if c not in keys]
    lpay = F.struct(*[F.col(c) for c in payload]).alias("_lpay")
    rpay = F.struct(*[F.col(c) for c in payload]).alias("_rpay")
    l = left.select(*keys, lpay)
    r = right.select(*keys, rpay)
    j = l.join(r, keys, "full_outer")
    status = (
        F.when(F.col("_lpay").isNull(), F.lit("added"))
        .when(F.col("_rpay").isNull(), F.lit("removed"))
        .when(~F.col("_lpay").eqNullSafe(F.col("_rpay")), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*keys, "status")
    )
