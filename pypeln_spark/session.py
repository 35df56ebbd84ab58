"""SparkSession factory with scale-aware defaults.

Tuned for the test harness (local[N], single JVM) but every knob is the one
you'd also set on a 1000-executor cluster: AQE on (runtime re-planning +
skew-join splitting + partition coalescing), shuffle partitions sized to the
parallelism at hand, Arrow for every Python<->JVM hop, UTC session timezone
so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_package_path() -> None:
    """Make pypeln_spark importable inside executor Python workers.

    The harness ships cloudpickled closures that reference this package; on a
    real cluster you'd ship a wheel (--py-files), locally the PYTHONPATH env
    var reaches the forked python workers.
    """
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{current}" if current else pkg_parent
        )


def ship_package(spark: SparkSession) -> str:
    """Ship this package to the session's Python workers as a zip through
    ``addPyFile`` (workers put SparkFiles on ``sys.path``), once per
    context, and return the zip's driver-local path. A session built
    without get_spark never saw the PYTHONPATH export, and its workers
    would otherwise fail to import pypeln_spark."""
    sc = spark.sparkContext
    if getattr(sc, "_pypeln_spark_shipped", None):
        return sc._pypeln_spark_shipped
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="pypeln_spark_ship_")
    zip_base = os.path.join(staging, "pypeln_spark_pkg")
    # zip with the package as the top-level entry so workers can import it
    shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="pypeln_spark"
    )
    try:
        sc.addPyFile(zip_base + ".zip")
    except Exception:
        pass  # e.g. file added twice by concurrent sessions — harmless
    sc._pypeln_spark_shipped = zip_base + ".zip"
    return sc._pypeln_spark_shipped


def get_spark(
    app_name: str = "pypeln_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _export_package_path()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("PYPELN_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64m broadcast ceiling: executors hold GBs, and letting AQE pick a
        # broadcast join for sub-64MB sides (e.g. a 5M-doc shingle table at
        # bench scale, any dimension table at cluster scale) removes a full
        # shuffle from join-heavy pipelines. AQE decides from MEASURED size,
        # so oversized sides still get SMJ — this raises the ceiling, it
        # doesn't force anything.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PYPELN_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
