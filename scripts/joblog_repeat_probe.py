#!/usr/bin/env python
"""Run ONE registry query N times in one session with the event log
on, reporting per-invocation deterministic work metrics. Diagnoses
"steady slower than cold" anomalies: if later invocations run more
jobs/tasks or read more bytes than the first, state accumulates
across invocations; if the work is identical, the slowdown is
JVM/GC/host-side.

Usage: python scripts/joblog_repeat_probe.py <query> [n=3]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from joblog_probe import _log_file, summarize  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if "SPARK_GRAFT_INITIAL_PARTITIONS" not in os.environ:
        total = sum(f.stat().st_size for f in Path(SF_DIR).glob("*.parquet"))
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        os.environ["SPARK_GRAFT_INITIAL_PARTITIONS"] = str(
            max(cpus, min(8 * cpus, total // (64 << 20) + 1))
        )
    log_dir = tempfile.mkdtemp(prefix="sparklog-")
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES
    from quantlab_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="joblog-repeat",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.range(1).write.format("noop").mode("overwrite").save()
    lf = _log_file(log_dir)
    runs = []
    for i in range(n):
        offset = lf.stat().st_size
        spark.sparkContext.setJobDescription(f"repeat:{name}:{i}")
        t0 = time.perf_counter()
        SPARK_QUERIES[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = round(time.perf_counter() - t0, 3)
        m = summarize(lf, offset)
        m["wall_sec"] = wall
        runs.append(m)
        print(f"run {i}: {json.dumps(m)}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "query": name, "runs": runs}))
    spark.stop()
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
