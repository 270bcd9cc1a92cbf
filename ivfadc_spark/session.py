"""SparkSession factory with engine-appropriate defaults.

Local-mode analog of the reference's ``nt`` thread pool
(/root/reference/MultiThd.h:37-64): Spark's scheduler + AQE replace the
atomic task counter; ``spark.sql.shuffle.partitions`` replaces ``nt``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# minimum free tmpfs bytes before /dev/shm is used for shuffle/spill by default
_SHM_MIN_FREE = 16 << 30


def _default_local_dir() -> str:
    """tmpfs scratch dir if it is safe, else Spark's normal disk default.
    SPARK_GRAFT_LOCAL_DIR always wins."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    try:
        import shutil

        if shutil.disk_usage("/dev/shm").free >= _SHM_MIN_FREE:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark-local")


def total_cores_from_master(master: str) -> int | None:
    """Total executor cores a master string promises, or None if unknowable
    from the string alone (yarn/standalone urls)."""
    if master.startswith("local-cluster["):
        n, c = master[master.find("[") + 1 : master.find("]")].split(",")[:2]
        return int(n) * int(c)
    if master.startswith("local["):
        n = master[master.find("[") + 1 : master.find("]")]
        return os.cpu_count() if n == "*" else int(n)
    return None


def wait_for_executors(spark: SparkSession, timeout_s: float = 60.0) -> int:
    """Block until every executor the master string promises has registered,
    and return the total core count. On a real cluster a job submitted
    before executors register just runs under-parallel; for a scaling
    measurement that skews the whole leg, so the bench waits. No-op for
    plain local[N] (executors are the driver)."""
    import time as _t

    sc = spark.sparkContext
    want = total_cores_from_master(sc.master)
    if want is None or not sc.master.startswith("local-cluster"):
        return want or sc.defaultParallelism
    deadline = _t.time() + timeout_s
    while _t.time() < deadline:
        # defaultParallelism = sum of registered executors' cores
        if sc.defaultParallelism >= want:
            return want
        _t.sleep(0.2)
    raise TimeoutError(
        f"only {sc.defaultParallelism}/{want} cores registered after {timeout_s}s"
    )


def get_spark(
    app_name: str = "ivfadc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Allocator env for every python worker: mimalloc Arrow pool (the
    # default jemalloc pool is bimodally slow under many-process concurrency)
    # and no page purging (returning freed pages to the OS makes concurrent
    # workers re-fault them each chunk; kernel page-fault/zeroing contention
    # was the worst measured scaling bottleneck — 9x on the encode kernel at
    # 16 workers). See functions/arrow_pool.py for the measurements.
    from ivfadc_spark.functions.arrow_pool import scalable_alloc_env

    alloc_env = scalable_alloc_env()
    for k, v in alloc_env.items():
        os.environ.setdefault(k, v)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # not under spark-submit (whose gateway already carries --master):
        # fall back to the local default
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None and master is not None:
        # match local cores, not the 200 default
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n.split(",")[0]))
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # partitionBy writes: with the default 0, FileFormatWriter SORTS each
        # task's rows by partition key before writing — for the index build
        # that re-moves every encoded block byte through a Tungsten sorter
        # (measured: stage 01 anti-scaled 61s@4 -> 72s@16 cores). With a
        # limit above term_buckets+1 (default 64+1 sentinel) each task keeps
        # one open writer per bucket instead; per-writer buffering is only
        # what the task itself writes to that bucket (tens of MB total).
        .config("spark.sql.maxConcurrentOutputFileWriters", "128")
        # local file:// writes: ChecksumFileSystem's .crc sidecar DOUBLES
        # file operations, and the partitioned index write produces
        # thousands of small files — measured at sf0.1 the blocks write
        # halves (20s -> 10s) with raw local FS. Parquet pages carry their
        # own CRCs, so integrity is not lost. Inert on cluster schemes
        # (hdfs://, s3a:// resolve through their own keys).
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # v2 committer: task outputs move to the final dir at task commit
        # (one rename per file) instead of a serial job-commit merge pass
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # shuffle/spill on tmpfs: local-mode shuffle through ext4 caps the
        # scaling of shuffle-heavy stages at ~disk bandwidth regardless of
        # cores (cluster analog: fast local SSDs / remote shuffle service).
        # Only defaulted when /dev/shm is actually large enough — small-shm
        # hosts (often 50% RAM or less) would hit no-space/OOM where plain
        # disk degrades gracefully.
        .config("spark.local.dir", _default_local_dir())
        # FAIR across scheduler pools: the build overlaps independent jobs
        # (stage-00 doc_map write alongside the stage-01 combiner; stage-02's
        # doc_lens + dictionary lanes) from separate threads, each tagged
        # with its own pool. Under the default FIFO mode the first job's
        # tasks hold every slot and the "concurrent" job only fills tail
        # gaps; FAIR splits slots between pools so a JVM-bound write really
        # does run under a python-worker-bound job. Single-job workloads are
        # unaffected (one pool behaves as FIFO).
        .config("spark.scheduler.mode", "FAIR")
    )
    # declared pool weights for the build lanes (build_blocks 3x) — without
    # the file every pool use logs a FairSchedulableBuilder WARN and
    # silently gets default weight 1. Only set when the xml is a real file:
    # under --py-files the package lives in a zip the JVM can't open.
    _alloc = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml")
    if os.path.isfile(_alloc):
        builder = builder.config("spark.scheduler.allocation.file", _alloc)
    for k, v in alloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    builder = (
        builder
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list a segment's term_buckets + 1 partition directories on the
        # driver: above this many directories Spark lists them with a job,
        # and the default 32 is below the default 64 + 1, so every segment
        # open paid a 65-task listing job (~0.3 s on 4 cores) to stat a few
        # hundred local files
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # spark-submit path: size the shuffle to the actual core count.
        # Parse the master string rather than defaultParallelism — under
        # local-cluster the latter reads 2 until executors register.
        cores = total_cores_from_master(spark.sparkContext.master)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, cores or spark.sparkContext.defaultParallelism)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
