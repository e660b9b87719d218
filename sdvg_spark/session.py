"""SparkSession helpers.

The engine relies on Java two's-complement wrap-around arithmetic for its
deterministic hash kernels (SplitMix64/XorShift64 on signed longs), so it
requires ``spark.sql.ansi.enabled=false`` at runtime. All timestamps are
UTC. Both are runtime-settable SQL confs, so :func:`configure_session`
can fix up an externally provided session (e.g. the verify driver's).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

from sdvg_spark.plan_stats import dataset_bytes


def tune_malloc() -> None:
    """Stop glibc from returning large buffers to the OS on free.

    numpy/Arrow free their batch buffers after every pandas-UDF batch;
    with the default mmap threshold (128 KB) each buffer is munmap'd and
    the next batch page-faults the same memory back in. On hosts with
    slow first-touch (lazy/ballooned VM memory) that fault storm
    dominates runtime. Raising the mmap/trim thresholds makes malloc
    serve large buffers from the reusable sbrk heap: pages fault once
    per worker process, then stay resident.

    Env vars only apply to processes spawned AFTER they are set, so we
    both export them (JVM → python workers inherit) and mallopt() the
    current process via ctypes.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(-3), ctypes.c_int(1 << 30))  # M_MMAP_THRESHOLD
        libc.mallopt(ctypes.c_int(-1), ctypes.c_int(1 << 30))  # M_TRIM_THRESHOLD
    except Exception:  # pragma: no cover - non-glibc platform
        pass


tune_malloc()

# Runtime confs every engine entry point enforces on the session it is
# handed. Safe to set mid-session (all are dynamic SQL confs).
_RUNTIME_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched pandas UDFs are the engine's slow-path escape hatch;
    # make sure they actually go through Arrow.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. the driver's events table) is
    # otherwise unreadable; surfaces as long nanos that callers convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked down
            pass
    return spark


def scale_shuffle_partitions(
    spark: SparkSession,
    *paths: str,
    target_bytes: int = 16 << 20,
    cap: int = 4096,
) -> int:
    """Derive ``spark.sql.shuffle.partitions`` from input size instead of
    leaving it pinned at the CPU count.

    A fixed local setting (32) was sized for the sf0.1 fixture; at the
    100× scale point one shuffle (dedup_simhash) spilled 696 MB because
    every reduce partition had to hold ~190 MB of shuffle read
    (SHUFFLE_r06 outlier). AQE's ``coalescePartitions`` only merges DOWN
    from the configured number — it never splits up — so the configured
    number must scale with input: ``max(current, ceil(input_bytes /
    target_bytes))``, capped. The target is ON-DISK parquet bytes per
    partition: decompression (~2-4×) plus operator shuffle amplification
    (up to ~4× for the blocking dedups, measured sf10) mean 16 MB of
    input per partition targets ≲128 MB of in-memory shuffle per
    partition — Spark's conventional per-partition budget. AQE then
    coalesces small-query shuffles back down, so over-provision is
    cheap and under-provision (spill) is avoided.

    ``paths`` are datasets (files or directory trees, counted by
    ``plan_stats.dataset_bytes``'s committed-file rule). Returns the
    partition count set. Callers that know their dataset dir (bench,
    shuffle reports, CLI jobs) call this once per dataset.
    """
    total = sum(dataset_bytes(p) for p in paths)
    # floor at the cluster's parallelism (not the current conf value, so
    # per-dataset calls are idempotent: sf10 then sf0.1 sizes back down)
    floor = spark.sparkContext.defaultParallelism
    n = max(floor, min(cap, -(-total // target_bytes)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def _is_local(master: str | None) -> bool:
    return (master or os.environ.get("SPARK_MASTER") or "local").startswith("local")


def default_cpus(master: str | None = None) -> str:
    """The session's parallelism: ``SPARK_GRAFT_CPUS`` if set; else, in
    local mode, the CPUs this process may run on, and 32 on a cluster."""
    local = _is_local(master)
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)) if local else 32)


def _daemon_finds_package() -> bool:
    """Whether a Python process started here imports this package from
    the same root: the working directory, ``PYTHONPATH`` or
    site-packages (the local workers' daemon sees only those)."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(app_name: str = "sdvg-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a session with engine defaults.

    Designed for a real cluster: nothing here assumes local mode. Without
    ``master`` or ``SPARK_MASTER`` it runs ``local[default_cpus()]``. In
    local mode the Python workers fork from ``sdvg_spark.worker_daemon``
    (no per-task zip re-read) when it can import this package.
    """
    cpus = default_cpus(master)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Advisory target for AQE-coalesced reduce partitions, in
        # COMPRESSED shuffle bytes. The 64 MB default assumes narrow
        # rows; this engine's dedup joins move multi-KB payloads
        # (minhash signatures, shingle arrays) that decompress 3-10x,
        # so a 64 MB coalesced partition becomes a 200-600 MB sort
        # buffer or shuffle-hash build — at the sf100 probe that
        # spilled 5.7 GB in one SMJ stage and failed an SHJ build
        # outright ("can't acquire 128 MB to build hash relation").
        # 16 MB compressed keeps every post-coalesce task within the
        # per-task execution budget at 32 concurrent tasks; small
        # queries still coalesce up to it, so tiny-query overhead is
        # unchanged.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if _is_local(master) and _daemon_finds_package():
        builder = builder.config("spark.python.daemon.module", "sdvg_spark.worker_daemon")
    spark = builder.getOrCreate()
    return configure_session(spark)
