#!/usr/bin/env python
"""CLI dispatcher — drop-in replacement for the reference's ``main.py``.

Same roles as ``/root/reference/main.py:13-48`` (``producer``,
``consumer1``, ``consumer2``, ``spark-job1``, ``spark-job2``), same
``config.yaml`` layout, but every leg is Spark-native:

- ``producer``   — wide metrics CSV -> 4 narrow (topic, value) wire streams
                   -> batch Kafka sink (replaces the kafka-python replay
                   loop, producer.py:61-86). ``--dry-run`` lands the wire
                   messages as parquet instead, so the full transform runs
                   without a broker.
- ``consumer1/2``— Structured Streaming Kafka source -> topic demux ->
                   typed CSV landing with checkpointed offsets (replaces
                   the poll/append/flush consumers; exactly-once instead of
                   auto-commit at-most-once).
- ``spark-job1/2``— batch analytics over the landed files: join -> sliding
                   window agg -> CASE alerts -> CSV (spark_job1.py /
                   spark_job2.py semantics, explicit schemas, no
                   inferSchema).
- ``stream-job1/2``— bonus: both reference jobs' plans as continuous
                   pipelines (Kafka -> parse -> keyed pairing of the two
                   topics per (ts, server_id) -> windowed agg -> alerts),
                   which the reference's design doc aspired to but never
                   wired up. A checkpoint written by the earlier
                   stream-stream-join plan cannot be resumed.

Usage: python main.py <role> [--config config.yaml] [--parquet] [--dry-run]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark import (  # noqa: E402
    config as cfg,
    schemas,
    session,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.operators import (  # noqa: E402
    monitoring as ops,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources import (  # noqa: E402
    kafka as kafka_io,
    readers,
)
from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (  # noqa: E402
    parse,
)

ROLES = (
    "producer",
    "consumer1",
    "consumer2",
    "spark-job1",
    "spark-job2",
    "stream-job1",
    "stream-job2",
    "query",
    "sql",
    "layout",
)

# (metric, topic-attr, landed file stem) per consumer, consumer1.py:30-36 /
# consumer2.py:30-36.
CONSUMER_TOPICS = {
    "consumer1": [("cpu", "topic_cpu", "cpu_data"), ("mem", "topic_mem", "mem_data")],
    "consumer2": [("net", "topic_net", "net_data"), ("disk", "topic_disk", "disk_data")],
}


def wire_messages(spark, config: cfg.PipelineConfig):
    """The producer's wide->narrow fan-out (producer.py:68-71) as one
    DataFrame: union of per-topic (topic, value) CSV messages."""
    wide = readers.read_metrics_csv(spark, config.paths.data_file, "wide")
    parts = [
        parse.to_wire(wide.select("ts", "server_id", *cols), metric, getattr(config.kafka, attr))
        for metric, attr, cols in [
            ("cpu", "topic_cpu", ["cpu_pct"]),
            ("mem", "topic_mem", ["mem_pct"]),
            ("net", "topic_net", ["net_in", "net_out"]),
            ("disk", "topic_disk", ["disk_io"]),
        ]
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_producer(spark, config: cfg.PipelineConfig, dry_run: bool) -> dict:
    """Fan out + deliver, then report run statistics mirroring the
    reference's producer instrumentation (producer.py:90-104): total
    records, elapsed, records/sec, per-topic delivered/error counts.

    Delivery accounting: the reference counts per-message async callbacks;
    the Spark batch sink is transactional per topic-partition write with
    acks=all, so a completed save() means every message was acked
    (errors=0) and a raised exception means the job did not commit.
    """
    import time

    wire = wire_messages(spark, config)
    start = time.time()
    if dry_run:
        dest = os.path.join(config.paths.output_dir, "wire_messages")
        wire.write.mode("overwrite").parquet(dest)
        delivered = spark.read.parquet(dest)  # count what actually landed
    else:
        kafka_io.require_kafka_connector(spark)
        # Persist before the save so the stats below count the SAME
        # materialization that was written — without it the groupBy would
        # rescan the source, and the printed "delivered" numbers could
        # diverge from what Kafka actually received.
        wire = wire.persist()
        (
            wire.write.format("kafka")
            .option("kafka.bootstrap.servers", config.kafka.broker)
            .option("kafka.compression.type", "snappy")
            .option("kafka.acks", "all")
            .save()
        )
        delivered = wire
    by_topic = {
        r["topic"]: r["count"] for r in delivered.groupBy("topic").count().collect()
    }
    if not dry_run:
        wire.unpersist()
    elapsed = time.time() - start
    total_messages = sum(by_topic.values())
    # One message per source record per topic (producer.py:68-71 fan-out).
    total_records = by_topic.get(config.kafka.topic_cpu, 0)
    stats = {
        "total_records": total_records,
        "total_messages": total_messages,
        "by_topic": by_topic,
        "elapsed_sec": elapsed,
        "records_per_sec": total_records / elapsed if elapsed > 0 else 0.0,
    }
    mode = "dry-run -> " + os.path.join(config.paths.output_dir, "wire_messages") if dry_run else f"kafka -> {config.kafka.broker}"
    print("=" * 60)
    print(f"FINAL PRODUCER STATISTICS ({mode}):")
    print(f"Total records processed: {total_records}")
    print(f"Total messages delivered: {total_messages}")
    print(f"Total time: {elapsed:.2f} seconds")
    if elapsed > 0:
        print(f"Average throughput: {total_records / elapsed:.2f} records/sec")
    print("-" * 20)
    for topic in config.kafka.all_topics:
        print(f"{topic}: {by_topic.get(topic, 0)} delivered | 0 errors")
    print("=" * 60)
    return stats


def run_consumer(spark, config: cfg.PipelineConfig, role: str, parquet: bool = False) -> None:
    """Kafka -> demux -> typed landing, one streaming query per topic.

    CSV landing is the reference-parity default (consumer1.py:30-36);
    ``--parquet`` lands columnar instead — the scale path (splittable,
    compressed, pruned on read by the downstream jobs).
    """
    kafka_io.require_kafka_connector(spark)
    topics = CONSUMER_TOPICS[role]
    records = kafka_io.kafka_source(
        spark, config.kafka, topics=[getattr(config.kafka, attr) for _, attr, _ in topics]
    ).load()
    queries = []
    for metric, attr, stem in topics:
        landed = parse.demux_topic(records, getattr(config.kafka, attr), metric)
        writer = (
            landed.writeStream.format("parquet" if parquet else "csv")
            .option("path", os.path.join(config.paths.output_dir, stem))
            .option(
                "checkpointLocation",
                os.path.join(config.paths.output_dir, f"_checkpoint_{stem}"),
            )
        )
        if not parquet:
            writer = writer.option("header", "true")
        queries.append(writer.start())
    for q in queries:
        q.awaitTermination()


def _landed(spark, config: cfg.PipelineConfig, stem: str, metric: str):
    """Read a landed metric table; accepts our directory landing (CSV or
    parquet, per the consumer's --parquet flag) and the reference's single
    ``<stem>.csv`` file."""
    base = config.paths.output_dir
    path = os.path.join(base, stem)
    if not os.path.exists(path) and os.path.exists(path + ".csv"):
        path = path + ".csv"
    schema = schemas.TOPIC_SCHEMAS[metric]
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return spark.read.schema(schema).parquet(path)
    return spark.read.schema(schema).csv(path, header=True)


def run_spark_job(
    spark,
    config: cfg.PipelineConfig,
    role: str,
    parquet: bool,
    float32_parity: bool = False,
) -> None:
    if role == "spark-job1":
        result = ops.cpu_mem_job(
            _landed(spark, config, "cpu_data", "cpu"),
            _landed(spark, config, "mem_data", "mem"),
            config=config,
            time_format="HH:mm:ss",
            float32_parity=float32_parity,
        )
        stem, ref_stem = "cpu_mem_alerts", f"team_{config.team_number}_CPU_MEM.csv"
    else:
        result = ops.net_disk_job(
            _landed(spark, config, "net_data", "net"),
            _landed(spark, config, "disk_data", "disk"),
            config=config,
            time_format="HH:mm:ss",
            float32_parity=float32_parity,
        )
        stem, ref_stem = "net_disk_alerts", f"team_{config.team_number}_NET_DISK.csv"
    if parquet:
        dest = os.path.join(config.paths.output_dir, stem)
        readers.write_partitioned_parquet(result, dest)
    else:
        # CSV is the drop-in parity path: reference output naming
        # (spark_job1.py:56-57, team_number from config.yaml:1).
        dest = os.path.join(config.paths.output_dir, ref_stem)
        readers.write_single_csv(result, dest)
    print(f"{role}: alerts -> {dest}")


def run_stream_job(spark, config: cfg.PipelineConfig, role: str) -> None:
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.streaming import (
        jobs,
    )

    kafka_io.require_kafka_connector(spark)
    if role == "stream-job1":
        topics = (config.kafka.topic_cpu, config.kafka.topic_mem)
        metrics = ("cpu", "mem")
        job, stem = jobs.streaming_cpu_mem_job, "cpu_mem_alerts_stream"
    else:
        topics = (config.kafka.topic_net, config.kafka.topic_disk)
        metrics = ("net", "disk")
        job, stem = jobs.streaming_net_disk_job, "net_disk_alerts_stream"
    records = kafka_io.kafka_source(spark, config.kafka, topics=list(topics)).load()
    left = parse.demux_topic(records, topics[0], metrics[0])
    right = parse.demux_topic(records, topics[1], metrics[1])
    alerts = job(left, right, config=config)
    (
        alerts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(config.paths.output_dir, stem))
        .option(
            "checkpointLocation",
            os.path.join(config.paths.output_dir, f"_checkpoint_{role}"),
        )
        .start()
        .awaitTermination()
    )


def run_query(spark, args) -> None:
    """The ad-hoc analytics entrypoint: run any registered engine query
    by name against a testdata-layout directory and show or persist the
    result — what a reference user reaches for instead of editing
    spark_job1.py. ``--list`` enumerates the registry."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
        all_queries,
    )

    qs = all_queries()
    df = qs[args.name](spark, args.sf_dir)
    if args.scale_check:
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
            assert_scale_safe,
        )

        report = assert_scale_safe(df)
        print(
            f"scale-check ok: exchanges={report['exchanges']} "
            f"broadcast_joins={report['broadcast_joins']} "
            f"python_stages={report['python_stages']}"
        )
    if args.explain:
        df.explain("formatted")
        return
    if args.out:
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
            write_partitioned_parquet,
        )

        write_partitioned_parquet(df, args.out)
        print(f"{args.name}: wrote {args.out}")
    else:
        df.show(args.show_rows, truncate=False)


def run_sql(spark, args) -> None:
    """Ad-hoc SQL over the testdata catalog: every table registered as a
    temp view, then ONE statement from ``--query`` (or a file via
    ``--query-file``) runs through the same Catalyst pipeline as the named
    queries — pushdown, pruning, AQE and the optional scale guard all
    apply. The escape hatch for queries the registry doesn't name."""
    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        register_views,
    )

    sql = args.query
    if not sql and args.query_file:
        with open(args.query_file) as fh:
            sql = fh.read()
    if not sql or not sql.strip():
        raise SystemExit("sql: provide a statement via --query or --query-file")
    register_views(spark, args.sf_dir)
    df = spark.sql(sql)
    if args.scale_check:
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.plans.guard import (
            assert_scale_safe,
        )

        report = assert_scale_safe(df)
        print(
            f"scale-check ok: exchanges={report['exchanges']} "
            f"broadcast_joins={report['broadcast_joins']} "
            f"python_stages={report['python_stages']}"
        )
    if args.explain:
        df.explain("formatted")
        return
    if args.out:
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
            write_partitioned_parquet,
        )

        write_partitioned_parquet(df, args.out)
        print(f"sql: wrote {args.out}")
    else:
        df.show(args.show_rows, truncate=False)


def run_layout(spark, args) -> None:
    """Table-maintenance probe: the small-file/layout health report for a
    landed parquet store (``--path``), sorted worst-fragmented first."""
    from pyspark.sql import functions as F

    from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.sources.readers import (
        file_layout_report,
    )

    report = file_layout_report(
        spark, args.path, small_file_bytes=args.small_bytes
    ).orderBy(F.col("n_small_files").desc(), F.col("n_files").desc())
    report.show(args.show_rows, truncate=False)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("role", choices=ROLES)
    ap.add_argument("--config", help="reference-layout config.yaml")
    ap.add_argument("--name", help="query: registered query name to run")
    ap.add_argument("--query", help="sql: the SQL statement to run over the testdata views")
    ap.add_argument("--query-file", help="sql: file holding the SQL statement")
    ap.add_argument("--path", help="layout: parquet store directory to report on")
    ap.add_argument(
        "--small-bytes",
        type=int,
        default=32 * 1024 * 1024,
        help="layout: files below this size count as small (default 32 MiB)",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="query: testdata-layout directory (default sf0.001)",
    )
    ap.add_argument("--out", help="query: write result as parquet here instead of showing")
    ap.add_argument("--show-rows", type=int, default=20, help="query: rows to show")
    ap.add_argument("--list", action="store_true", help="query: list registered queries")
    ap.add_argument(
        "--scale-check",
        action="store_true",
        help="query: run plans.guard.assert_scale_safe on the plan before executing "
        "(fails fast on nested-loop joins)",
    )
    ap.add_argument(
        "--explain",
        action="store_true",
        help="query: print the formatted physical plan instead of executing "
        "(pair with --scale-check to also assert it)",
    )
    ap.add_argument(
        "--parquet", action="store_true", help="partitioned parquet output (scale-safe sink)"
    )
    ap.add_argument(
        "--dry-run", action="store_true", help="producer: land wire messages locally, no broker"
    )
    ap.add_argument(
        "--float32-parity",
        action="store_true",
        help="spark-jobs: reproduce the reference's pre-avg float32 downcast "
        "(spark_job1.py:20-21); default keeps double precision",
    )
    args = ap.parse_args(argv)

    if args.role == "query":
        # Registry listing / name validation need no SparkSession — keep
        # `--list` (and the bad-name error) instant and side-effect free.
        from real_time_server_monitoring_distributed_pipeline_with_apache_kafka_and_spark_spark.queries import (
            all_queries,
        )

        names = all_queries()
        if args.list:
            for name in sorted(names):
                print(name)
            return
        if not args.name or args.name not in names:
            known = ", ".join(sorted(names)[:8])
            raise SystemExit(
                f"--name must be one of the {len(names)} registered queries "
                f"(e.g. {known}, ...); use --list to see all"
            )

    config = cfg.from_yaml(args.config) if args.config else cfg.DEFAULT_CONFIG
    os.makedirs(config.paths.output_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = session.get_spark(app_name=f"rtsm-{args.role}")

    if args.role == "producer":
        run_producer(spark, config, args.dry_run)
    elif args.role in CONSUMER_TOPICS:
        run_consumer(spark, config, args.role, args.parquet)
    elif args.role in ("spark-job1", "spark-job2"):
        run_spark_job(spark, config, args.role, args.parquet, args.float32_parity)
    elif args.role in ("stream-job1", "stream-job2"):
        run_stream_job(spark, config, args.role)
    elif args.role == "query":
        run_query(spark, args)
    elif args.role == "sql":
        run_sql(spark, args)
    elif args.role == "layout":
        if not args.path:
            raise SystemExit("layout: provide the store directory via --path")
        run_layout(spark, args)
    if owns_session:  # don't stop a session we borrowed (tests, notebooks)
        spark.stop()


if __name__ == "__main__":
    main()
