"""Cache lifecycle helpers (VERDICT r02 #7): operator-internal persist()
entries must not outlive the computation when callers use the scoped
helpers."""

from __future__ import annotations

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.caching import (
    cache_is_empty,
    cache_scope,
    released,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (
    dedup as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (
    load_table,
)

from .conftest import SF_SMOKE


def test_released_evicts_operator_internal_persist(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    shingled = ops.word_shingles(docs)
    with released(shingled):
        n_pairs = ops.jaccard_pairs(shingled, threshold=0.8).count()
        # the operator persisted the shingle table internally
        assert not cache_is_empty(spark)
    assert n_pairs >= 0
    assert cache_is_empty(spark)


def test_cache_scope_clears_everything(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    with cache_scope(spark):
        shingled = ops.word_shingles(docs)
        ops.minhash_lsh_pairs(shingled, threshold=0.8).count()
        assert not cache_is_empty(spark)
    assert cache_is_empty(spark)


def test_runtime_confs_respect_user_shuffle_partitions(spark):
    """apply_runtime_confs resizes ONLY the untouched 200 default: a
    session whose owner set shuffle partitions (a sized cluster) must
    never be clobbered to 2x local cores."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        apply_runtime_confs,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") != "200"

        spark.conf.set("spark.sql.shuffle.partitions", "1000")
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1000"

        # An owner who DELIBERATELY wants exactly 200 (indistinguishable
        # from the untouched default) opts out via env var.
        import os as _os

        spark.conf.set("spark.sql.shuffle.partitions", "200")
        _os.environ["SPARK_GRAFT_KEEP_SHUFFLE_PARTITIONS"] = "1"
        try:
            apply_runtime_confs(spark)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        finally:
            del _os.environ["SPARK_GRAFT_KEEP_SHUFFLE_PARTITIONS"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_runtime_confs_size_bare_session_from_spark_graft_cpus(spark, monkeypatch):
    """A bare-default session (shuffle partitions at Spark's untouched 200)
    is resized from $SPARK_GRAFT_CPUS, the core count get_spark uses, not
    from the host's core count; without the variable the CPU affinity mask
    decides."""
    import os as _os

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.session import (
        apply_runtime_confs,
        local_cpus,
    )

    bare = spark.newSession()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.delenv("SPARK_GRAFT_KEEP_SHUFFLE_PARTITIONS", raising=False)
    assert local_cpus() == 6
    bare.conf.set("spark.sql.shuffle.partitions", "200")
    apply_runtime_confs(bare)
    assert bare.conf.get("spark.sql.shuffle.partitions") == "12"

    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    if hasattr(_os, "sched_getaffinity"):
        assert local_cpus() == len(_os.sched_getaffinity(0))
    bare.conf.set("spark.sql.shuffle.partitions", "200")
    apply_runtime_confs(bare)
    assert bare.conf.get("spark.sql.shuffle.partitions") == str(max(2 * local_cpus(), 8))

    # Without an affinity mask (macOS, Windows) the host's core count is
    # the best there is.
    monkeypatch.delattr(_os, "sched_getaffinity", raising=False)
    assert local_cpus() == (_os.cpu_count() or 4)
