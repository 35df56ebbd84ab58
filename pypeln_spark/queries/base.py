from __future__ import annotations

import os
import typing as tp
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import ship_package


@dataclass
class Query:
    name: str
    fn: tp.Callable[[SparkSession, str], DataFrame]
    oracle: tp.Optional[str]  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: tp.Dict[str, Query] = {}

# Retired entries (see the RETIREMENT POLICY above _PRIORITY in
# queries/__init__.py): superseded parameter variants removed from the
# DRIVER-VISIBLE surface only. They keep their Query object here, so the
# local DuckDB gate still replays their oracles every pytest run and the
# plan-contract tests still reach their plans — retirement frees rotation
# window capacity, never coverage. PYPELN_SPARK_RETIRED=1 re-registers
# them (e.g. to replay a historical CORRECTNESS row).
RETIRED: tp.Dict[str, Query] = {}


def register(name: str, oracle: tp.Optional[str] = None,
             retired_by: tp.Optional[str] = None):
    def deco(fn):
        q = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        if retired_by and not os.environ.get("PYPELN_SPARK_RETIRED"):
            RETIRED[name] = q
        else:
            REGISTRY[name] = q
        return fn

    return deco


def ensure_session_defaults(spark: SparkSession) -> None:
    """Runtime-settable session invariants the oracle comparison depends on.

    The driver calls queries() with ITS OWN SparkSession — we cannot assume
    builder-time config. UTC session timezone is load-bearing: DuckDB's
    timestamps are naive-UTC, so any other session TZ shifts every timestamp
    value (and date_trunc/year/month boundaries) in the hash compare.

    Python-harness queries additionally need pypeln_spark importable inside
    executor python workers; a session created before our import never saw
    our PYTHONPATH export, so ship the package as a zip via addPyFile —
    the runtime-safe mechanism (workers put SparkFiles on sys.path)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime-settable perf invariants (see session.py for rationale):
        # AQE + a 64m broadcast ceiling let join-heavy pipelines drop
        # shuffles based on measured sizes even under a driver-owned session
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    except Exception:
        pass
    ship_package(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_defaults(spark)
    """Read one testdata table; normalizes the events table's ts column to a
    regular (UTC-instant) microsecond TIMESTAMP whatever the generator
    wrote:

    - TIMESTAMP(NANOS) parquet (r1/r2 testdata) — Spark's reader rejects it
      outright, so the nanosAsLong escape hatch + integer DIV (ns values
      ~1.7e18 overflow double mantissa — never divide these as floats);
    - timestamp[us] WITHOUT isAdjustedToUTC (r3 testdata) — Spark infers
      TIMESTAMP_NTZ, which watermarks/event-time ops refuse; session TZ is
      pinned UTC (ensure_session_defaults), so cast("timestamp") maps each
      naive value to the identical UTC instant DuckDB sees."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F, types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tp.List[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]
