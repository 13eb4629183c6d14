"""SparkSession factory.

Arrow on (all Python work crosses the JVM boundary in Arrow batches —
the ``input_hint`` mandate), AQE on (runtime skew-join splitting and
partition coalescing are the built-in half of the reference's degree-aware
work distribution, SURVEY §4 P1/P3/P6).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def driver_memory_from_meminfo(meminfo: str) -> str:
    """Default ``spark.driver.memory`` for a host: half of MemTotal, capped
    at 32g, from the text of ``/proc/meminfo`` ("32g" if MemTotal is
    missing). A fixed 32g heap is larger than a 16 GB host: the kernel
    OOM-kills the JVM once the heap grows past physical memory."""
    m = re.search(r"^MemTotal:\s+(\d+)\s+kB", meminfo, re.MULTILINE)
    if m is None:
        return "32g"
    return f"{min(int(m.group(1)) // 2048, 32 * 1024)}m"


def _default_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        meminfo = ""
    return driver_memory_from_meminfo(meminfo)


def get_spark(
    master: str | None = None,
    app_name: str = "jaccard-ml-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the dedup pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the job is submitted via ``spark-submit --py-files`` and the
    master comes from the submit environment (pass ``master=None`` there).
    """
    # glibc malloc tunables for the JVM and every forked Python worker.
    # Without these, each multi-MB Arrow/numpy/shuffle buffer >128 KB is
    # serviced by mmap and returned by munmap: at 16+ concurrent tasks
    # the kernel serializes on mmap_lock and every munmap broadcasts TLB
    # shootdown IPIs to all cores — measured 675M page faults and 65-83%
    # SYSTEM time on a 3.7M-turn run, making local[16] 76% SLOWER than
    # local[4]. Pinning the mmap threshold at glibc's 32 MiB cap (larger
    # values are silently ignored) and matching the trim threshold keeps
    # big blocks on arena free lists: faults drop ~60× and the stage
    # walls scale with cores again. On a real cluster each executor JVM
    # inherits these via spark.executorEnv.* below.
    _MALLOC_ENV = {
        "MALLOC_MMAP_THRESHOLD_": "33554432",
        "MALLOC_TRIM_THRESHOLD_": "33554432",
        "MALLOC_TOP_PAD_": "33554432",
    }
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        n = int(cpus) if master.startswith("local") else 200
        shuffle_partitions = max(n, 8)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # zstd shuffle/IO compression: this pipeline's dominant shuffle
        # columns are int64 hash arrays, where zstd-1 out-compresses
        # lz4 enough that the byte savings beat the extra compress CPU
        # at EVERY cluster size measured — 45M-turn two-level record:
        # N 721→689s, 4N 288→253s (BENCH/scaling_runs.json; the wide
        # level gains more because shuffle bytes are the scarce shared
        # resource there). Standard practice for shuffle-heavy
        # workloads at the 100-TB tier.
        "spark.io.compression.codec": "zstd",
        # transcripts at 10^12-turn scale arrive as many small-ish files;
        # 128 MiB split targets keep scan tasks balanced.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # deterministic timestamps in tests / oracle comparisons
        "spark.sql.session.timeZone": "UTC",
        # Conversation assembly (collect_list over conv_id) runs as
        # ObjectHashAggregate; Spark's default sort-based fallback
        # threshold is 128 KEYS, so any real partition (10^4-10^5
        # conversations) abandons the hash map immediately and
        # external-sorts every task through the memory manager —
        # jstack at 45M turns showed 3 of 4 task threads blocked on
        # the UnsafeKVExternalSorter allocation monitor and ~34% task
        # CPU utilization. The fallback is the ONLY spill valve for
        # object aggregates (it is key-count-, not memory-based), so
        # the session-wide value is sized against the SMALLEST
        # supported executor, not the benchmark harness: a 4 GiB /
        # 4-core executor gives ~1 GiB per task; budgeting a quarter
        # of that for the agg map at ~4 KiB per conversation buffer
        # (struct overhead + ~1-2 KB text) bounds the map at ~64k
        # keys. Contexts that guarantee bigger heaps AND data-scaled
        # partitions (BENCH/scaling.py: 20 GiB executors, ~200k-turn
        # partitions) raise this via extra_conf instead.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold":
            "65536",
        # local mode: driver heap hosts every task's sort/join/window
        # buffers plus the block-manager cache — size for the thread
        # count (8g starves 32 concurrent tasks into GC thrash), within
        # the host's memory
        "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                                or _default_driver_memory()),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # keep per-batch Arrow IPC buffers well under the 32 MiB glibc
        # mmap threshold so UDF exchange allocations recycle through
        # arena free lists instead of mmap/munmap (see _MALLOC_ENV)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        # the tables this engine persists are dominated by shingle /
        # MinHash hash arrays — uniform-random longs that the columnar
        # cache codecs (RLE/delta/dict) cannot shrink, so the encode
        # attempt is pure CPU on the cache-build path (measured 21.7s
        # -> 14.5s materializing the sets cache across 4 executors).
        # Flip per-table on text-heavy caches if memory is the binding
        # constraint instead.
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
    }
    if master.startswith("local"):
        # local and local-cluster masters share ONE co-tenant virtio
        # disk for shuffle files; measured writeback throttling
        # inflated shuffle-write time 28x (14s -> 407s) when 4 executor
        # JVMs wrote concurrently. A real cluster node has its own
        # local disks per executor — tmpfs is the sandbox equivalent.
        # On a real cluster the cluster manager provides local dirs
        # and this key is never set.
        # Guard: tmpfs is RAM-backed — if /dev/shm is small relative to
        # plausible shuffle volume (small machines, containers with a
        # tiny shm mount), silently defaulting to it trades a slow
        # shuffle for ENOSPC/OOM. Fall back to Spark's default disk
        # dirs unless there is comfortable headroom (or the user chose
        # a dir explicitly via SPARK_GRAFT_LOCAL_DIR).
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None:
            import shutil
            try:
                free = shutil.disk_usage("/dev/shm").free
            except OSError:
                free = 0
            if free >= 16 * 1024**3:
                local_dir = "/dev/shm/spark-local"
        if local_dir:
            try:
                os.makedirs(local_dir, exist_ok=True)
                conf["spark.local.dir"] = local_dir
            except OSError:
                pass
    for k, v in _MALLOC_ENV.items():
        conf[f"spark.executorEnv.{k}"] = v
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
