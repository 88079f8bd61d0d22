"""Tuned SparkSession builder.

One place to pin the configs the 100 TB design depends on, so tests,
bench, and the driver entry all run the same engine settings:

- **AQE on** (runtime coalescing + skew-join splitting) — the safety
  net under our explicit salting (SURVEY.md §4 "Partitioning").
- **Arrow on** with a bounded ``maxRecordsPerBatch`` — long transcript
  payloads mean batch size must be bounded by rows, not left at the
  10k default (SURVEY.md §4 "Spill / memory").
- **UTC session timezone** — for the timestamps a caller makes itself.
  No operator depends on it: the testdata timestamps are TIMESTAMP_NTZ
  and the operators read them through zone-free expressions
  (operators/relational.py), so a session built elsewhere, in any
  zone, gets the same rows, and nothing here rewrites its conf.
- **shuffle.partitions ≈ 2-3× cores** locally; on a real cluster this
  is set per-job from executor count (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else str(os.cpu_count() or 8)
        shuffle_partitions = max(8, int(n))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # sandbox inputs are single ~10-100 MB files; split at 2 MB
        # (and don't let openCost re-merge the splits) so scans use all
        # cores. On a cluster the input is many 100 MB+ files and these
        # two are deployment-tuned back up (128m/4m defaults).
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

