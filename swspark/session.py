"""SparkSession factory with the confs this engine assumes.

Local mode stands in for a multi-executor cluster (BASELINE.md evidence
protocol): only ``master`` and the core-proportional shuffle partitions
differ between the N and 4N runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """A quarter of physical memory, at most 8 GiB: the heap must fit
    in RAM beside the Python workers and other processes."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{min(8192, total_kb // 4096)}m"


def get_spark(
    app_name: str = "swspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` uses ``SPARK_GRAFT_CPUS`` (default all cores).
    ``shuffle_partitions`` defaults to the core count so small-scale
    local runs don't pay 200-partition scheduling overhead; at cluster
    scale the caller sets it to ~2-3x total cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # local mode = one JVM: spark.driver.memory is the whole heap.
    # Must be sized for the task count (32 concurrent tasks x sort/
    # shuffle buffers overflow the 1g default instantly).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    # Shuffle spill dir. On a real cluster every executor brings its
    # own local SSDs, so shuffle bandwidth scales with the node count;
    # a single-box local[N] run shares ONE disk across all task
    # threads, which silently caps scaling. SPARK_GRAFT_LOCAL_DIR
    # (e.g. /dev/shm/spark-tmp) restores the cluster-like property for
    # scaling measurements.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.driver.memory", driver_mem)
        # the scheduler's boundary probe (scheduler._bucket_of; small
        # since the r5 hot-host gating, but unbounded hot-host counts
        # can widen it) and other wide generated projections compile to single
        # methods past HotSpot's 8 KB DontCompileHugeMethods cutoff;
        # without this flag such methods run INTERPRETED forever
        # (measured: 2.6 s -> 26 s for the same 30M-row projection the
        # moment it crossed the cutoff). Standard Spark codegen tuning;
        # set on executors too for real clusters.
        .config("spark.driver.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # AQE: runtime coalesce + skew-join split; our salting handles
        # pre-join placement skew, AQE handles residual post-shuffle skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when one side's
        # per-partition build fits (guide §3.1/§9): the seen anti-join
        # streams the candidate side with NO sort of either side
        # (measured r6: wave 5.0 s -> 4.0 s steady-state). Falls back
        # to SMJ automatically when the build side outgrows the
        # planner's size conditions, so 10^10-row seen tables still
        # sort-merge; the AQE threshold below also lets runtime stats
        # rewrite SMJ -> SHJ for post-shuffle partitions < 64 MB.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        # (r6 note: a global openCostInBytes cut was measured and
        # REVERTED — it split every small single-row-group input into
        # ~30 empty scan tasks, pure scheduling overhead. Small-input
        # parallelism comes from file layout instead: the fixture
        # corpus is written as one file per core, guide §6.)
        # Arrow is the hot path for every extraction/robots UDF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Driver-side collects are tiny (manifests, traces); keep results small.
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
