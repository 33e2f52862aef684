"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same settings are cluster-safe: AQE handles runtime
re-planning (partition coalescing, skew-join splitting, dynamic
broadcast), shuffle partitions are sized for the local core count and
meant to be overridden per deployment.

Correctness assumptions (documented per SURVEY.md §4):
- ``spark.sql.ansi.enabled=false``: CAST of garbage returns NULL, which
  matches the reference's observable behavior on cleaned inputs
  (Snowflake strict CAST after sentinel scrubbing + try_to_double for
  known-dirty columns).
- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive;
  pinning UTC makes parquet timestamp comparisons exact.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _local_heap_default() -> str:
    """Heap for a local[N] JVM: half the visible memory limit, capped
    at 16 GiB, floored at the 1 GiB Spark default. Checks the cgroup
    v2/v1 limit before /proc/meminfo so a container-limited run never
    sets -Xmx past what the kernel will actually grant (an -Xmx above
    the cgroup cap turns graceful spills into an OOM-kill)."""
    limit_bytes = None
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw.isdigit():
                limit_bytes = int(raw)
            break
        except OSError:
            continue
    if limit_bytes is None or limit_bytes > 1 << 50:  # "max" / no cap
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        limit_bytes = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    if limit_bytes is None:
        return "1g"
    return f"{max(1, min(16, limit_bytes // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "formula1_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Cheap to call repeatedly — Spark returns the active session when one
    exists (configs are applied only at first creation).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- parallelism: ~cores locally; cluster deployments override.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- AQE: runtime partition coalescing, skew-join splitting,
        #     sort-merge->broadcast demotion. Core of the 100 TB story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 256MB threshold misses moderately-skewed partitions
        # on a 32-core local box (LSH hot bands, boilerplate keys);
        # split anything 5x median above 64MB
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "67108864")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
        # --- correctness policy (see module docstring).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # --- Arrow for every pandas_udf / applyInPandas / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- keep parquet scans splittable at 128 MiB (default, explicit
        #     because bench varies it); row-group pruning + pushdown on.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- testdata events.parquet carries TIMESTAMP(NANOS) which
        #     Spark's parquet reader rejects; read as long and convert
        #     (queries.load truncates to micros, matching DuckDB's cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- generated-class cache (static conf, JVM-wide). Spark keeps
        #     100 compiled classes by default, but one op of this
        #     package needs more: with an unbounded cache a season
        #     rebuild (realtime reload + 15-model run + assertion report
        #     + mart reads) used ~355 distinct classes, a corpus dedup
        #     op (exact + MinHash-LSH + near-dup clusters) ~170, the
        #     lazy registry pipeline on the test fixtures ~290. At 100
        #     entries every rerun of the same plans evicted and
        #     recompiled them (~340 / ~145 / ~330 compiles per op at
        #     ~25 ms each). 1000 covers the union with headroom; reruns
        #     then compile nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        #     The cache is keyed by generated source, which by default
        #     names its class after the plan's codegen stage id. AQE
        #     numbers stages in the order it re-plans them, which
        #     follows stage completion timing, so an identical plan
        #     could still miss and recompile ~10 classes on an
        #     occasional rerun; without the id it always hits.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # --- managed tables (bucketed layouts) land in tmp, not cwd;
        #     static conf, so it must be set at session build.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-warehouse"),
            ),
        )
        # --- quiet non-interactive runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # --- heap (LOCAL masters only): local-mode defaults to 1g for the
    #     WHOLE JVM, which starves 32 concurrent tasks into spills +
    #     GC churn (bench runs log MemoryManager >95% warnings).
    #     Sized to half the visible cgroup/host memory, capped 16 GiB
    #     (matched-load A/B: heavy dedup subset 40.8 s vs 48.7 s,
    #     light queries unchanged); SPARK_GRAFT_DRIVER_MEM overrides.
    #     Non-local masters are untouched — cluster deployments size
    #     driver/executor memory per node. Honored at first JVM launch
    #     only (launch_gateway passes it to spark-submit); a
    #     pre-existing session keeps its heap.
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _local_heap_default(),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
