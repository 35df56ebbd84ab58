"""Time ONE registry query under the CURRENT environment — the arm
runner for env-knob A/Bs (PYPELN_SPARK_STREAM_PARTITIONS=4|16,
PYPELN_SPARK_INGEST_COMPACT_DIR, durable-vs-local entries...).
Each arm runs in its own process because several knobs parse at import;
the calling shell sets the env and sweeps the arms SEQUENTIALLY (the
measurement discipline: never two Spark sessions on the box).

Usage: python tools/query_ab.py QUERY SF_DIR [RUNS=3]
Prints one JSON line: {"query", "sf_dir", "runs", "samples", "min_s",
"env": {the PYPELN_SPARK_* vars that were set}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    name, sf_dir = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pypeln_spark.queries import REGISTRY, RETIRED
    from pypeln_spark.session import get_spark

    spark = get_spark(app_name=f"query_ab_{name}")
    spark.range(1000).selectExpr("sum(id)").collect()  # session warm-up
    # retired entries stay runnable (historical-row replay)
    q = REGISTRY.get(name) or RETIRED[name]
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({
        "query": name,
        "sf_dir": sf_dir,
        "runs": runs,
        "samples": samples,
        "min_s": min(samples),
        "env": {
            k: v for k, v in os.environ.items() if k.startswith("PYPELN_SPARK_")
        },
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
