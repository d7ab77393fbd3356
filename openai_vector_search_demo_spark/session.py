"""SparkSession construction conventions for the engine.

One place that encodes the scale posture (SURVEY.md §4.4):

- **AQE on** — runtime coalescing of shuffle partitions and skew-join
  splitting; at 100 TB the static partition count is always wrong somewhere.
- **UTC session timezone** — timestamps compare bit-identically against the
  DuckDB oracle and across clusters.
- **Arrow on** — every Python boundary (pandas UDF, toPandas) is Arrow-batched.
- **shuffle partitions** default to cores on local mode; on a real cluster this
  is overridden to ~2-3× total executor cores (AQE coalesces down).
- **codegen cache of 1000 classes** (``spark.sql.codegen.cache.maxEntries``,
  default 100) — one continuous-ingestion batch cycle (MinHash admission,
  line-dedup admission, repetition signals, chunk+embed append and a
  read-after-write ``search``) generates 133 distinct classes, so the
  default LRU evicts each class before the next batch asks for it again:
  every steady-state batch recompiled 114 classes with Janino (measured
  on 4 cores), each then compiled again by the JIT.  With room for them,
  a steady-state batch compiles about 3 (1 in the admission and append
  steps, 2 in the read-after-write ``search``; AQE can add a few whole-
  stage classes whose stage number depends on stage completion order).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "openai-vector-search-demo-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's conventions applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench share
    one code path; on a cluster the caller simply passes ``master=None`` with a
    pre-configured environment and only the session-level confs below apply.

    AQE is always on — it is the documented 100 TB skew/coalesce lever,
    and a real-module A/B showed no net win from disabling it even on
    KB-scale test fixtures (UDF/setup cost dominates there).  Execution
    guarantees never depend on it: e.g. the E3 once-per-candidate pin
    rests on an explicit ``localCheckpoint`` boundary
    (``plans/pipeline.py``), not on AQE's exchange materialization.

    The codegen cache size is a static conf, so it only takes effect on
    the session this call creates; the pin that a repeated ingest batch
    reuses its compiled classes is
    ``tests/test_plans.py::test_ingest_batch_cycle_reuses_compiled_code``.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # driver-side literals (query vectors, tiny lookup frames) don't need
        # one partition per core
        .config("spark.sql.leafNodeDefaultParallelism", "4")
        # static; sized for an ingest batch cycle (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    return builder.getOrCreate()
