"""SparkSession factory with the engine's default tuning."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# driver heap default: half of host RAM, capped at the 24 GB this
# engine's largest builds were tuned with
DRIVER_MEM_CAP_MB = 24 << 10


def host_sizing(cores: int | str, host_cpus: int | None,
                host_ram_bytes: int | None) -> tuple[int, str]:
    """(core count, default driver memory) for local[cores] on a host
    with ``host_cpus`` CPUs and ``host_ram_bytes`` of RAM (None:
    unknown). cores="*" means every CPU; the driver heap defaults to
    half of the host's RAM, never above DRIVER_MEM_CAP_MB."""
    ncores = (host_cpus or 8) if cores == "*" else int(cores)
    mem_mb = DRIVER_MEM_CAP_MB
    if host_ram_bytes:
        mem_mb = max(min(mem_mb, host_ram_bytes // 2 // (1 << 20)), 512)
    return ncores, f"{mem_mb}m"


def _host_ram_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None


def get_spark(cores: int | str = "*", shuffle_partitions: int | None = None,
              app: str = "lucene_solr_1_spark", driver_mem: str | None = None,
              extra: dict | None = None) -> SparkSession:
    """local[cores] session tuned for this engine.

    AQE on (runtime coalesce + skew-join), Arrow on (every kernel is a
    pandas UDF), shuffle partitions sized to cores not the 200 default.
    """
    # every executor-side kernel is already NumPy-vectorized per task;
    # nested BLAS/OpenMP threading in 32 concurrent python workers just
    # oversubscribes the cores — pin libraries to one thread per worker
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    ncores, default_mem = host_sizing(cores, os.cpu_count(), _host_ram_bytes())
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem or os.environ.get("SPARK_DRIVER_MEM",
                                                                 default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
