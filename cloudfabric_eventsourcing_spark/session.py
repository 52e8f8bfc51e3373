"""SparkSession factory with scale-aware defaults.

Defaults target correctness-on-local + 100TB-readiness knobs that are safe
everywhere: AQE (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability; the reference
stores UTC-only timestamps — PostgresqlProjectionRepository.cs:974-975),
Arrow for the Pandas-UDF slow path.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "cloudfabric_eventsourcing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~ cores; on a real cluster leave the
    # (much larger) default or rely on AQE coalescing.
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write µs-timestamp parquet (not INT96): round-trips through
        # pyarrow/duckdb without nanos coercion
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the Spark jobs this thread runs inside the block with `text`
    in the Spark UI, and give back the caller's label after it."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


def estimated_bytes(df) -> int:
    """Catalyst's size estimate of `df`'s plan, read without a job."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def cluster_conf(
    target_partition_mb: int = 128,
    executors: int = 1000,
    cores_per_executor: int = 4,
) -> dict:
    """Recommended conf overrides for a REAL cluster at the ~100 TB
    design point — pass as ``build_session(extra_conf=cluster_conf())``
    (they are deliberately NOT defaults: on local[32] they only add
    overhead; on a cluster they are the difference between a plan that
    survives and one that spills or floods the driver).

    Rationale per knob:
    - shuffle partitions ~= 3x total cores: enough tasks to keep every
      core busy through stragglers, few enough that task overhead stays
      amortized; AQE coalesces small ones anyway.
    - initial/max AQE partition bounds bracket that figure so runtime
      re-planning can move both ways (splitting skew, merging splinters).
    - maxPartitionBytes 128 MiB: scan-side parallelism unit — at 100 TB
      that is ~800k input splits, each comfortably in-memory for a
      4 GiB-heap core even with decode amplification.
    - autoBroadcastJoinThreshold 64 MiB: dims up to region/nation/
      supplier scale broadcast; fact-fact joins never should (AQE can
      still demote a misestimated broadcast).
    - shuffle spill compression + zstd: shuffle volume dominates cost at
      this scale; zstd trades a little CPU for ~30% less network/disk.
    - skewJoin thresholds: split any post-shuffle partition over 256 MiB
      that is 5x the median — the salting operator (operators/skew.py)
      remains for aggregates, where AQE does not apply.
    """
    total_cores = executors * cores_per_executor
    shuffle_parts = 3 * total_cores
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            4 * shuffle_parts
        ),
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
        "spark.io.compression.codec": "zstd",
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
    }
