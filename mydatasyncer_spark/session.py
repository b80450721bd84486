"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the same configuration keys are
what you would set on a 1000-executor cluster — AQE handles runtime
re-planning (coalescing post-shuffle partitions, skew-join splitting),
and Arrow makes the few pandas-UDF paths batch-transfer instead of
row-at-a-time pickling.

One default trades diagnostics for driver time:
``spark.python.sql.dataFrameDebugging.enabled=false`` turns off
PySpark's DataFrame origin capture. With it on, every Column and
DataFrame call also walks the Python stack and records the call site
in the JVM (extra py4j round trips per call), which made up a large
share of the driver time of building a sync's read and diff plans.
The cost of turning it off: Python call sites no longer appear in the
query context of analysis and runtime errors (the SQL fragment and
the error itself still do). PySpark reads the conf once per process,
from the session active at the first Column or DataFrame call, so a
process whose session was built without it (a vanilla session) keeps
capturing — and computes the same results; nothing in the engine
depends on the setting.

:class:`SparkPool` is the one way the engine runs Spark work on
threads of its own.
"""

from __future__ import annotations

import os
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# Tuned for the local[32] test harness; on a real cluster these come
# from spark-submit/cluster conf and AQE re-plans partition counts at
# runtime anyway.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let the planner/AQE pick shuffled-hash over sort-merge when the
    # per-partition build side fits (guide §3.1). A/B over the 10 most
    # join-heavy bench queries (r15, two interleaved median-of-3 runs,
    # steal-metered): shuffled-hash ≤ sort-merge on 9 of 10, ratios
    # 0.73–0.97 (sole exception scd2_asof_join_ts at 1.07 in one run).
    # Results are strategy-independent (oracle parity re-proven after
    # the flip). The 256 MB AQE local-map threshold bounds the build:
    # a partition above it stays sort-merge, so the OOM risk SHJ
    # carries is capped per task; on a real cluster both keys come
    # from cluster conf like everything else here.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        256 * 1024 * 1024
    ),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # the events fixture stores TIMESTAMP(NANOS) which Spark rejects;
    # read as long and convert at the table loader
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # origin capture off: see the module docstring for the trade
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "mydatasyncer-spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Shuffle width tracks the ACTUAL core count instead of a
    # constant (r14): a fixed 32 over-splits a lower-core run into
    # multiple task waves of tiny partitions (the driver measures
    # core-count scaling) and under-splits a wider box. On a real
    # cluster this comes from cluster conf and AQE re-coalesces at
    # runtime either way; callers can still override via extra_conf.
    n_cores = os.cpu_count() or 32
    if cpus != "*":
        try:
            n_cores = int(cpus)
        except ValueError:
            pass
    # Python workers (pandas UDF / mapInPandas) unpickle closures that
    # reference this package — make sure they can import it regardless
    # of the driver's cwd. (On a cluster, ship the package with
    # --py-files instead.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = {
        **_DEFAULT_CONF,
        "spark.sql.shuffle.partitions": str(n_cores),
        **extra_conf,
    }
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


class SparkPool(ThreadPoolExecutor):
    """A thread pool whose tasks run under the submitting thread's
    Spark local properties (job group, job description, scheduler
    pool) and session tags.

    Each submission is wrapped on its own, so it gets its own clone of
    the properties as they stand at ``submit``: what one task sets
    (its own job group, say) is not seen by its siblings or by the
    caller. A wrapper shared by several tasks would hand them all one
    properties object."""

    def __init__(self, spark: SparkSession, max_workers: int):
        super().__init__(max_workers=max_workers)
        self._spark = spark

    def submit(self, fn, /, *args, **kwargs) -> Future:
        target = inheritable_thread_target(self._spark)(fn)
        return super().submit(target, *args, **kwargs)
