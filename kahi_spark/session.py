"""SparkSession factory tuned for the CDC/ingest workload.

Local-mode defaults are sized for the sandbox (local[N], single JVM)
but every knob is the one we would set on a 1000-executor cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions
matched to parallelism, Arrow enabled for the vectorized UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir() -> str | None:
    """Scratch dir for shuffle/spill files (``spark.local.dir``).

    On a real cluster this is the fastest local storage available
    (NVMe scratch disks — standard executor provisioning); the
    sandbox analogue is the tmpfs at /dev/shm. Measured on the
    24M-event replay at local[32]: shuffle files on the root ext4
    disk cost 11-17 % SYSTEM CPU (filesystem/journal overhead under
    32 writer threads) vs ~1.5 % on tmpfs — clean-window walls
    8.2-10.7 s → 7.1-7.7 s. Env ``KAHI_SPARK_LOCAL_DIR`` overrides
    (any path, or empty string = keep Spark's default); tmpfs is
    only auto-picked when it exists, is writable, and has >16 GiB
    free (shuffle data counts against RAM — a thin /dev/shm must
    not be tipped over by spill)."""
    if "KAHI_SPARK_LOCAL_DIR" in os.environ:
        return os.environ["KAHI_SPARK_LOCAL_DIR"] or None
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if os.access(shm, os.W_OK) and st.f_bavail * st.f_frsize > (16 << 30):
            return os.path.join(shm, "kahi_spark_local")
    except OSError:
        pass
    return None


#: ``spark.sql.codegen.cache.maxEntries``: how many compiled
#: generated classes Spark keeps per JVM. The default of 100 is below
#: this engine's working set, so the cache evicted classes the next
#: epoch needed and recompiled them forever: an indexed-ingest round
#: (3 epochs of 4k events) compiled 519 classes every time, the third
#: identical replay included. Working sets, measured as the distinct
#: classes compiled with a 4000-entry cache on local[4]: keyed ingest
#: 59; indexed ingest 221 (165 in the warm-up epoch, 56 more in the
#: first full round, 0 after); the 58-query registry 651, the largest
#: set a workload repeats; the whole test suite 2625 in one pass. 4000
#: gives the registry 6x headroom and holds the whole suite, so a
#: long-lived driver compiles each class once.
CODEGEN_CACHE_ENTRIES = 4000

#: ``spark.sql.sources.parallelPartitionDiscovery.threshold``: a read
#: over more paths than this lists their files with a Spark job
#: instead of on the driver. A MOR table's read passes every live delta
#: dir to one ``parquet(*deltas)`` call, so at the default of 32 a
#: table with 40 deltas started a job while ``read()`` was only being
#: built, and a base with more than 32 ``_bucket=`` dirs does the same.
#: Live deltas are bounded by compaction and buckets by the table's
#: layout, far below 1024, and listing that many local or HDFS dirs on
#: the driver takes milliseconds where a job costs a scheduling round.
LISTING_JOB_THRESHOLD = 1024


def get_spark(
    app_name: str = "kahi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the
    sandbox; on a real cluster it is left to spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]") if "[" in master else cpus
        shuffle_partitions = int(n) if n.isdigit() else 32

    mem = os.environ.get("KAHI_SPARK_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy default) carries NO parquet min/max
        # statistics — the sink's per-file watermark lineage reads
        # footer stats, and modern readers (DuckDB, pyarrow) prefer
        # MICROS anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # static conf: must be set before the JVM's first session
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_JOB_THRESHOLD),
        )
        # long replays accumulate RDD/broadcast/checkpoint refs whose
        # cleanup rides ContextCleaner WEAK references — the default
        # periodic System.gc() every 30 min is longer than an entire
        # soak, so an 80-epoch run piled up localCheckpoint blocks and
        # per-epoch broadcasts until the heap thrashed (240M-event
        # soak, GC-overhead-limit kill at ~epoch 30). 2 min bounds the
        # backlog at negligible cost; on a real cluster the same knob
        # is standard streaming-driver hygiene.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # -Xms=-Xmx + AlwaysPreTouch: fault every heap page in at JVM
        # start. Without it, first-touch page faults under 32 threads
        # ran 85-97% SYSTEM time in this virtualized sandbox — 10×+
        # run-to-run variance on CPU-bound stages. (On a real cluster
        # the same flags are standard executor hygiene.)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
    )
    local_dir = _default_local_dir()
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
