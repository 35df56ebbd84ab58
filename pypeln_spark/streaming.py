"""Structured Streaming layer.

The reference's pipelines ARE streams (unbounded iterables with backpressure,
SURVEY.md §2.2) but have no event-time notion: no watermarks, no windows, no
stateful operators. This module adds those as first-class operators on top
of Structured Streaming — the genuinely-new capability layer — plus the
bounded-replay harness that lets a batch of parquet rows drive a streaming
query to completion deterministically (used by tests, the oracle gate, and
as the local stand-in for kafka/rate sources).

Backpressure mapping: the reference's ``maxsize`` queue bound becomes
``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` trigger sizing — Spark
paces the source instead of blocking producers.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import typing as tp
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


def stream_sink_dir(prefix: str) -> str:
    """Fresh scratch dir for every streaming-harness path that must be
    visible beyond the driver on a real cluster: executor-written epoch
    sinks (the asof harness, the incremental-dedup ingest gate, the CDC
    merge snapshot), staged source feeds, and checkpointLocations — all
    of which executors read or write. Default: driver-local
    ``tempfile.mkdtemp`` — correct on local[*], where driver and
    executors share one filesystem. On a real cluster deployments set
    ``PYPELN_SPARK_STREAM_SINK_ROOT`` to a shared-FS location every node
    can reach — a mounted path (NFS/Lustre) or a Hadoop-FS URI
    (hdfs://… , s3a://…); each call returns a fresh ``prefix``-named,
    uuid-suffixed subdir under it, so concurrent queries never collide.
    Every dir a drive-to-completion harness creates is dead the moment
    its query stops — pair with remove_sink_dir() (plain shutil can't
    remove URI roots), or garbage accumulates across bench/registry
    sweeps."""
    root = os.environ.get("PYPELN_SPARK_STREAM_SINK_ROOT")
    if not root:
        return tempfile.mkdtemp(prefix=prefix)
    sub = f"{prefix}{uuid.uuid4().hex}"
    if "://" not in root:
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, sub)
        os.makedirs(path)
        return path
    return root.rstrip("/") + "/" + sub


def remove_sink_dir(spark: SparkSession, path: str) -> None:
    """Best-effort removal of a stream_sink_dir() scratch dir. Local paths
    go through shutil; URI roots (hdfs://, s3a://) go through the JVM
    Hadoop FileSystem bound to the path's scheme."""
    if "://" not in path:
        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(hconf).delete(p, True)
    except Exception:  # cleanup is best-effort, never fail the query
        pass


def seed_sink_schema(spark: SparkSession, schema, path: str) -> None:
    """Seed an executor-append sink dir with its schema as ONE empty
    parquet file — so the first read of a not-yet-appended sink infers
    the right schema — WITHOUT launching a Spark job (r13 optimization
    round: the previous `createDataFrame([], schema).repartition(1)
    .write` seed cost one ~0.3-0.5 s job per sink, ~11 sites across the
    streaming entries). Scalar types write driver-side through pyarrow
    (parquet physical types match what Spark's own writer emits — INT64/
    INT32/DOUBLE/BOOLEAN/BYTE_ARRAY(UTF8) — so footer-based inference
    and validate_sink_schema read identical types); anything fancier, or
    a URI-rooted shared-FS sink, falls back to the Spark write."""
    from pyspark.sql import types as T

    _MAP = {
        T.LongType: "int64", T.IntegerType: "int32", T.DoubleType: "float64",
        T.FloatType: "float32", T.BooleanType: "bool_", T.StringType: "string",
    }
    if "://" not in path:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            fields = [
                pa.field(f.name, getattr(pa, _MAP[type(f.dataType)])())
                for f in schema.fields
            ]
            os.makedirs(path, exist_ok=True)
            # write to a temp name and rename into place (ADVICE r13): a
            # write_table that dies mid-file would otherwise leave a
            # partial parquet beside the Spark-fallback seed and poison
            # every later read of the sink. os.rename is atomic on the
            # local/shared POSIX filesystems this branch serves.
            seed = os.path.join(path, "part-00000-schema-seed.parquet")
            tmp = seed + ".inprogress"
            try:
                pq.write_table(
                    pa.Table.from_arrays(
                        [pa.array([], type=f.type) for f in fields],
                        schema=pa.schema(fields),
                    ),
                    tmp,
                )
                os.rename(tmp, seed)
            except Exception:
                if os.path.exists(tmp):
                    os.unlink(tmp)
                raise
            return
        except KeyError:
            pass  # non-scalar field type — the Spark writer knows them all
        except Exception:
            pass  # missing/odd pyarrow — the job-based seed always works
    spark.createDataFrame([], schema).repartition(1).write.mode(
        "append"
    ).parquet(path)


def shuffle_width(spark: SparkSession) -> int:
    """The live session's spark.sql.shuffle.partitions as an int — the
    width the ingest gates size their verify repartition to (the streaming
    scope's setting under _stream_partitions). GUARDED (ADVICE r8): some
    managed runtimes set the conf to a non-numeric value ("auto"), which a
    bare int() turns into a query-fatal ValueError inside foreachBatch;
    fall back to defaultParallelism, the pre-r8 sizing."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: tp.Optional[int] = None,
) -> DataFrame:
    """File-source stream over a parquet directory (or a single file — the
    file source itself only accepts directories, so a file path becomes its
    parent dir + a pathGlobFilter). Schema is mandatory for streaming reads;
    default = infer from a batch read of the same path."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def events_stream(spark: SparkSession, sf_dir: str, path: tp.Optional[str] = None) -> DataFrame:
    """The events table as a stream, with the same TIMESTAMP(NANOS)
    normalization as the batch path (queries/base.load_table)."""
    from .queries.base import ensure_session_defaults

    ensure_session_defaults(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = path or os.path.join(sf_dir, "events.parquet")
    df = read_stream_parquet(spark, src)
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # naive-µs parquet (no isAdjustedToUTC) infers NTZ, which
        # watermarks refuse; session TZ is UTC so the cast is instant-exact
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling(df: DataFrame, ts_col: str, duration: str) -> tp.Tuple[DataFrame, F.Column]:
    return df, F.window(F.col(ts_col), duration)


def _parse_stream_partitions() -> tp.Tuple[int, bool]:
    """PYPELN_SPARK_STREAM_PARTITIONS: an int (the scope width), or
    "auto" (r10, VERDICT r9 #6) — the scope still STARTS at the measured
    default 4, and each ingest-gate micro-batch then re-sizes the width
    from its own row count (autosize_stream_width)."""
    v = os.environ.get("PYPELN_SPARK_STREAM_PARTITIONS", "4")
    if v.strip().lower() == "auto":
        return 4, True
    return int(v), False


STREAM_STATE_PARTITIONS, STREAM_WIDTH_AUTO = _parse_stream_partitions()

# rows per shuffle task the r9 width curve identifies as the optimum
# operating point (SCALING.md "The gates' scope-width curve"): sf0.1
# epochs (~833 docs) measured best at width 4-8 → ceil(833/500)=2,
# clamped to the 4 floor; sf1 epochs (~8333) best at 16 of {4,8,16,32}
# → ceil(8333/500)=17. Below the floor, state/task-launch overhead
# dominates (32 on tiny shuffles regressed 2.3x); the ceiling is
# defaultParallelism — a real cluster epoch with millions of rows wants
# every core.
AUTO_WIDTH_TARGET_ROWS = 500


def autosize_stream_width(spark: SparkSession, n_rows: int) -> int:
    """Size this micro-batch's shuffle width from its row count when the
    width knob is "auto"; otherwise report the scope's width unchanged.
    Gates call this right after materializing the arriving batch (the
    count is already paid), so every epoch's shuffles — band join,
    verify repartition, groupBys — run at clamp(rows/500, 4,
    defaultParallelism) instead of one static number that is only right
    at one epoch volume. Setting the session conf inside foreachBatch is
    safe here: the gates are the only planner of batch jobs inside the
    stream, and the _stream_partitions scope restores the original conf
    when the stream ends."""
    if not STREAM_WIDTH_AUTO:
        return shuffle_width(spark)
    import math

    w = max(
        4,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(n_rows / AUTO_WIDTH_TARGET_ROWS),
        ),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(w))
    return w

# applyInPandasWithState queries override to this: their per-batch cost is
# Python-worker compute, which WANTS parallelism, not state-commit overhead,
# which wants fewer stores (measured: running-totals 1.7s @8 vs 2.3s @4,
# while the pure-JVM interval join is 2.4s @4 vs 3.0s @8)
PYTHON_STATE_PARTITIONS = int(os.environ.get("PYPELN_SPARK_PY_STATE_PARTITIONS", "8"))


class _stream_partitions:
    """Scope a smaller shuffle-partition count around a streaming query
    start: every stateful operator keeps ONE state store PER partition and
    commits ALL of them each micro-batch, so state overhead is
    O(partitions × operators × batches) in filesystem work regardless of
    data volume — at bench scale 32 partitions spend ~4× longer committing
    state than computing (measured: the stream-stream interval join drops
    7.9s → 2.5s going 32 → 8, and another ~0.5s at 4; below 4 it's flat).
    The partition count is captured into the query's checkpoint at start,
    so this must wrap .start(); batch queries in the same session are
    untouched. Size it to key cardinality × throughput on a real cluster
    (env PYPELN_SPARK_STREAM_PARTITIONS).

    NOT THREAD-SAFE (ADVICE r2): this mutates session-global
    spark.sql.shuffle.partitions around query start, so a concurrent batch
    query or second stream starting inside the window sees the reduced
    count, and nested use restores the inner value. Fine for the
    single-threaded driver/bench harness this serves; concurrent starters
    should clone the config scope via spark.newSession() instead."""

    def __init__(self, spark: SparkSession, n: int | None = None):
        self.spark = spark
        self.n = n or STREAM_STATE_PARTITIONS

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: tp.Optional[str] = None,
    state_partitions: tp.Optional[int] = None,
) -> DataFrame:
    """Drive a (bounded) streaming DataFrame to completion through the memory
    sink; returns the result as a batch DataFrame. processAllAvailable makes
    it synchronous and deterministic — every available file is consumed."""
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = stream_sink_dir("pypeln_spark_ckpt_")
    with _stream_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            remove_sink_dir(spark, ckpt)  # memory-sink rows live on the driver
    return spark.table(name)


def run_foreach_batch(
    stream_df: DataFrame,
    fn: tp.Callable[[DataFrame, int], None],
    state_partitions: tp.Optional[int] = None,
) -> None:
    """foreachBatch sink, driven to completion — the Spark-native home for
    reference-style ``each`` side effects. Delivery is AT-LEAST-once per
    epoch: after a restart Spark replays the last uncommitted ``batchId``,
    so ``fn`` must be idempotent on its ``epoch_id`` argument (for example
    an overwrite keyed by epoch) for the effect to be exactly-once."""
    ckpt = stream_sink_dir("pypeln_spark_ckpt_")
    with _stream_partitions(stream_df.sparkSession, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            remove_sink_dir(stream_df.sparkSession, ckpt)


class rocksdb_state:
    """Scope the RocksDB state-store provider around a streaming query
    start — the LARGE-STATE path Spark ships for stateful streaming. The
    default (HDFSBackedStateStoreProvider) keeps every partition's state
    map ON HEAP, so total state is bounded by executor memory; RocksDB
    keeps state off-heap/on-disk with incremental checkpointing, the
    production choice once keys × operators outgrow the heap (large
    dedup-within-watermark key sets, wide session maps). Like
    _stream_partitions, the provider is captured into the query's
    checkpoint at start, so this must wrap .start(); same
    single-threaded-driver scoping caveat."""

    PROVIDER = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    KEY = "spark.sql.streaming.stateStore.providerClass"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.KEY)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.KEY, self.PROVIDER)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.KEY)
        else:
            self.spark.conf.set(self.KEY, self.prev)


def _stage_feed_files(
    spark: SparkSession, batches: tp.Sequence[DataFrame]
) -> tp.Tuple[tp.Optional[str], tp.List[tp.Optional[str]]]:
    """Compute and write EVERY staged feed in ONE Spark job (r13
    optimization round): union the batches with a feed-index column and
    dynamic-partition the write by it — `repartition(index)` puts each
    feed's rows in exactly one task, so each `_feed=i/` dir holds exactly
    one part file, which the epoch loop later renames (one atomic rename,
    the same boundary guarantee as before) into the monitored dir. The
    legacy path paid one write JOB per feed (~0.3 s each of scheduling +
    commit at sf0.1) plus a full repartition(1) shuffle of the feed; the
    staged job shuffles the same bytes once and commits once. Feed CONTENT
    is unchanged — the audit point is that every feed is a pure derivation
    of the inputs (true of all registry entries: filters/unions of source
    tables or literal frames), never a read of sink state an earlier epoch
    wrote, so computing them before the stream starts is equivalent.

    Returns (stage_dir, files) where files[i] is the one part file for
    feed i, or None when that feed must fall back to the legacy per-feed
    write (empty feed — dynamic partitioning emits no dir for zero rows,
    but the epoch must still FIRE so epoch_ids line up; unexpected file
    count; rename-unfriendly URI root; or a union/type mismatch, in which
    case stage_dir is None and every feed goes legacy)."""
    feed_col = "_feed"
    while any(feed_col in b.columns for b in batches):
        feed_col += "_"
    stage = None
    try:
        u = None
        for i, b in enumerate(batches):
            bb = b.withColumn(feed_col, F.lit(i))
            u = bb if u is None else u.unionByName(bb)
        stage = stream_sink_dir("pypeln_spark_feeds_")
        if "://" in stage:
            # nothing materialized: stream_sink_dir only mints a name
            # under a URI root, it does not create the remote dir
            return None, [None] * len(batches)
        u.repartition(feed_col).write.partitionBy(feed_col).mode(
            "overwrite"
        ).parquet(stage)
    except Exception:
        # the staging dir may already exist when the union/write raised
        # (ADVICE r13): the caller's cleanup is gated on stage is not
        # None, so an abandoned dir here would leak scratch space
        if stage is not None:
            remove_sink_dir(spark, stage)
        return None, [None] * len(batches)
    import glob as _glob

    files: tp.List[tp.Optional[str]] = []
    for i in range(len(batches)):
        parts = _glob.glob(os.path.join(stage, f"{feed_col}={i}", "part-*"))
        files.append(parts[0] if len(parts) == 1 else None)
    return stage, files


def staged_foreach_batch(
    spark: SparkSession,
    batches: tp.Sequence[DataFrame],
    fn: tp.Callable[[DataFrame, int], None],
    state_partitions: tp.Optional[int] = None,
) -> None:
    """staged_replay's foreachBatch twin: each batch DataFrame arrives as
    its OWN micro-batch epoch, in order, and ``fn(batch_df, epoch_id)``
    runs exactly once per epoch — the deterministic harness for CDC/merge
    pipelines, where epoch ordering IS the semantics (later updates must
    win). ONE data file lands per feed (repartition(1) — load-bearing,
    not a tidy-up: a multi-partition feed commits N part-files by
    SEQUENTIAL rename while the idle stream is polling the directory, so
    the source can list a PARTIAL feed and split one epoch across two
    micro-batches. Measured at the synthetic sf1, r9: 3 feeds arrived as
    4-5 nondeterministic micro-batches across trials — e.g. epoch 0 as
    1306+2028 rows — which made the ingest gates' decisions
    run-to-run-nondeterministic at scale while every sf0.01 replay
    stayed green. One file = one atomic rename = the boundary actually
    guaranteed), and processAllAvailable drains it before the next feed
    is written. All feeds are computed and written in ONE staging job up
    front (_stage_feed_files) and each epoch lands as one file RENAME —
    same one-atomic-rename boundary, N-1 fewer write jobs."""
    src_dir = stream_sink_dir("pypeln_spark_cdc_")
    ckpt = stream_sink_dir("pypeln_spark_ckpt_")
    stream = spark.readStream.schema(batches[0].schema).parquet(src_dir)
    with _stream_partitions(spark, state_partitions):
        stage, staged = _stage_feed_files(spark, batches)
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            for i, b in enumerate(batches):
                if staged[i] is None:
                    b.repartition(1).write.mode("append").parquet(src_dir)
                else:
                    os.rename(
                        staged[i],
                        os.path.join(src_dir, "feed-%05d.parquet" % i),
                    )
                q.processAllAvailable()
        finally:
            q.stop()
            remove_sink_dir(spark, src_dir)
            remove_sink_dir(spark, ckpt)
            if stage is not None:
                remove_sink_dir(spark, stage)


def staged_replay(
    spark: SparkSession,
    batches: tp.Sequence[DataFrame],
    build_query: tp.Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    state_partitions: tp.Optional[int] = None,
) -> DataFrame:
    """Replay N batch DataFrames as N guaranteed-separate microbatches.

    Writes each batch as ONE parquet file into a monitored directory and
    calls processAllAvailable between writes — this is how watermark/
    late-data semantics are exercised deterministically (file-source
    trigger order is otherwise timing-dependent). The repartition(1) is
    the same atomic-feed guarantee staged_foreach_batch documents: a
    multi-file feed can be listed PARTIALLY mid-commit and split one
    intended micro-batch into two, which changes watermark advancement
    and late-data outcomes nondeterministically at scale."""
    src_dir = stream_sink_dir("pypeln_spark_replay_")
    ckpt = stream_sink_dir("pypeln_spark_ckpt_")
    name = f"mem_{uuid.uuid4().hex[:12]}"

    schema = batches[0].schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = build_query(stream)
    with _stream_partitions(spark, state_partitions):
        stage, staged = _stage_feed_files(spark, batches)
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            for i, b in enumerate(batches):
                if staged[i] is None:
                    b.repartition(1).write.mode("append").parquet(src_dir)
                else:
                    os.rename(
                        staged[i],
                        os.path.join(src_dir, "feed-%05d.parquet" % i),
                    )
                q.processAllAvailable()
        finally:
            q.stop()
            remove_sink_dir(spark, src_dir)  # memory rows live on the driver
            remove_sink_dir(spark, ckpt)
            if stage is not None:
                remove_sink_dir(spark, stage)
    return spark.table(name)
