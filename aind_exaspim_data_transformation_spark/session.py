"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by env for
local testing: AQE handles runtime re-planning (skew joins, partition
coalescing), Arrow makes the Python UDF boundary vectorized, and shuffle
partitions default to the local core count (a real cluster deployment would
set ``spark.sql.shuffle.partitions`` ~ 2-3x total executor cores, or rely on
AQE's coalescing from a high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Compressed-input bytes per initial shuffle partition. Rationale: the
# scan targets ~128 MB post-decompression partitions
# (spark.sql.files.maxPartitionBytes below) and zstd/snappy parquet for
# these tables measures ~4x compression, so 32 MB of compressed input
# feeding one shuffle partition keeps shuffle blocks in the same ~128 MB
# in-memory band. AQE only coalesces DOWN from the initial number — it
# cannot split an under-partitioned shuffle (short of skew-join
# triggers), so the initial count must come from input size. Measured
# (sf30, ROUND_NOTES 10f): q09 at 32 partitions = 18.9 s, at 128 = 13.8 s;
# this helper yields 188 for that input — the same band.
BYTES_PER_SHUFFLE_PARTITION = 32 * 1024 * 1024


def shuffle_partitions_for_bytes(
    input_bytes: int, cpus: int | None = None
) -> int:
    """Initial ``spark.sql.shuffle.partitions`` sized from the bytes a
    job will scan: never below the core count (parallelism floor),
    scaling linearly above it so partitions stay shuffle-spill-safe at
    any SF. Pass the sum of the input files' on-disk sizes."""
    import math

    cpus = cpus or DEFAULT_CPUS
    return max(cpus, math.ceil(input_bytes / BYTES_PER_SHUFFLE_PARTITION))


def _prepend_worker_pythonpath(path: str) -> None:
    """Put ``path`` on the PYTHONPATH of Python WORKER processes. It
    must be in the env BEFORE the JVM launches: workers inherit the
    JVM's env."""
    current = os.environ.get("PYTHONPATH", "")
    if path not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{path}{os.pathsep}{current}" if current else path
        )


def _ensure_protoshim_pythonpath() -> None:
    """When no real google.protobuf exists, expose the from-spec shim's
    vendor package to Python workers. A regular ``google`` package on
    any sys.path entry beats the namespace-package portions Python
    otherwise assembles from Spark's jars (spark-core contains a
    ``google/`` resource directory), which is exactly the shadowing the
    TWS state clients trip over."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    from .protoshim import vendor_path

    _prepend_worker_pythonpath(vendor_path())


# The Python worker daemon of every local session (pyworker.py:
# pyspark.daemon minus the per-task re-read of pyspark.zip's directory,
# measured at ~200 ms of every Python task on a 4-vCPU host). The daemon
# is imported before any task runs, so the package root must be on the
# workers' PYTHONPATH when the JVM starts; a site-packages install
# already is (and site-packages must not go ahead of the stdlib). On a
# cluster the daemon starts before --py-files reach its path, so there
# the conf is not forced: set spark.python.daemon.module to this module
# only where the package is installed on every executor.
WORKER_DAEMON_MODULE = f"{__package__}.pyworker"


def _ensure_package_pythonpath() -> None:
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in site.getsitepackages() + [site.getusersitepackages()]:
        _prepend_worker_pythonpath(root)


def get_spark(
    app_name: str = "exaspim-spark-engine",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    target_input_bytes: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster the master/deploy settings come from spark-submit;
    everything here is master-agnostic except the local[] fallback and
    its worker daemon (:data:`WORKER_DAEMON_MODULE`).

    ``target_input_bytes`` (opt-in): size the INITIAL shuffle-partition
    count from the input the job will scan, via
    :func:`shuffle_partitions_for_bytes`. Applied as a runtime conf, so
    it also takes effect when an existing session is returned.
    """
    cpus = cpus or DEFAULT_CPUS
    _ensure_protoshim_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching. Essential at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow across the JVM <-> Python boundary (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which the parquet reader
        # rejects unless read as raw longs (load_table truncates to micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # TIMESTAMP(MICROS) isAdjustedToUTC=false columns read as TIMESTAMP
        # directly at the scan (value-preserving under the UTC session TZ)
        # instead of TIMESTAMP_NTZ + a per-row cast projection.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Shuffle sizing: local default = core count; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Broadcast threshold: dims like region/nation/supplier must
        # broadcast; 64 MB is a sane cluster default (driver memory permits).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # maxPartitionBytes keeps scan tasks ~128MB which holds at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        _ensure_package_pythonpath()
        builder = builder.master(f"local[{cpus}]").config(
            "spark.python.daemon.module", WORKER_DAEMON_MODULE
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if target_input_bytes is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for_bytes(target_input_bytes, cpus)),
        )
    return spark
