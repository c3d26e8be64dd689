"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB design point and merely *sized
down* for the local[N] sandbox: AQE on (runtime coalescing + skew-join
splitting), explicit shuffle partition count, Arrow for all pandas-UDF
traffic, UTC session time so timestamp arithmetic is stable across
drivers/executors.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """SPARK_GRAFT_CPUS if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory(meminfo: str | None = None) -> str:
    """Driver heap size: SPARK_GRAFT_DRIVER_MEM if set, else about half of
    MemAvailable (from `meminfo`, default /proc/meminfo), between 1g and
    16g. The heap is pre-touched at boot (see get_spark), so it must fit
    in memory that is free now, not in the machine's total."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    m = re.search(r"^MemAvailable:\s+(\d+) kB", meminfo, re.MULTILINE)
    if m is None:
        return "1g"
    half_mb = int(m.group(1)) // 1024 // 2
    return f"{min(max(half_mb, 1024), 16 * 1024)}m"


def tune_process_env() -> None:
    """glibc malloc tuning for numpy-heavy Arrow workers.

    Without this, every large numpy temporary is mmap'd and munmap'd,
    and 32 concurrent Python workers turn into a kernel page-fault storm
    (measured: 38 CPU-min of sys time on an 8M-row drift pass; 2.8 min
    with the thresholds raised). Python workers inherit the JVM env, which
    inherits ours — so set this before the JVM starts."""
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")


def local_dirs() -> str:
    """Prefer tmpfs for shuffle/spill in this sandbox (the root disk is a
    slow virtio device; a real cluster would use NVMe local disks)."""
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


def get_spark(
    app_name: str = "ssimulacra2_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    tune_process_env()
    # At 100 TB shuffle_partitions is sized to keep post-shuffle partitions
    # ~128-256 MB (AQE coalesces down); locally 2x cores keeps all lanes busy.
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    heap = driver_memory()
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # A compact post-shuffle stage must never serialize onto a handful
        # of fat tasks while the rest of the cluster idles: with the 64MB
        # default advisory, the fused ordering check's ~140MB window stage
        # coalesced to ~6 tasks x 26MB and ran 6x9s on 6 of 32 cores
        # (parallelismFirst alone did not prevent it on Spark 4.1).
        # 8MB x 32 cores right-sizes small CPU-heavy shuffles; big shuffles
        # are unaffected (they exceed the advisory per-partition anyway and
        # stay at spark.sql.shuffle.partitions). Measured: suite idle
        # core-time 26-33% -> 15% at 8M turns. On a real cluster this knob
        # scales with per-executor memory, not cores — keep >= a few MB.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Accept subset co-partitioning for joins: a join on (a, b) whose
        # sides are both already hash-partitioned by a alone needs no new
        # exchange. Planning the 113 sf0.001 registry queries and the
        # 12-check suite with the setting true and false, false removes:
        #   - the rollup side's hashpartitioning(partition_id, check_id)
        #     exchange under the suite's verdict-overlay left join
        #     (17 -> 16 exchanges; pinned in tests/test_plan_shapes.py);
        #   - exchanges from ann_ivf_recall (9 -> 6), ann_lsh_recall
        #     (11 -> 9) and ann_pq_recall (15 -> 13).
        # No other registry plan changes.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", heap)
        # -Xms=-Xmx + pre-touch: the heap faults in once at JVM boot. This
        # sandbox VM services first-touch page faults through an
        # intermittently serialized hypervisor path (~1-2 GB/s, no parallel
        # speedup, measured on the 32-core VM); lazy heap growth under
        # 32 running threads becomes a kernel fault convoy that burned
        # 70-88% of ALL cpus in sys time before this flag.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", local_dirs())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
