"""Pipeline self-observability: the monitoring pipeline monitoring itself.

The reference operates blind — its consumers print rows and nothing
records whether the pipeline is keeping up (reference
consumers/consumer1.py writes output with no throughput/lag accounting).
On a real cluster the FIRST operational question is "is ingest falling
behind", so this module surfaces Spark's two built-in, zero-extra-pass
observability channels as typed DataFrames:

- ``ProgressRecorder`` — a ``StreamingQueryListener`` capturing every
  micro-batch's ``QueryProgressEvent``: input rows, input/processed
  rows-per-second, trigger duration, stateful-operator state size, state
  store instances and commit time (a trigger's fixed cost grows with
  both), and any ``observe()`` metrics riding the batch. Listener
  callbacks run on the DRIVER, one event per micro-batch — O(1) driver
  work per trigger and a bounded deque, so attaching it costs nothing at
  any data scale.
- ``observed`` / ``observation_row`` — ``Dataset.observe`` data-quality
  counters (row counts, null counts, domain violations) computed as
  accumulator-style aggregates INSIDE the existing job: no second scan,
  no extra shuffle, exact values for the partitions that actually ran.
  The same expressions attach to a streaming DataFrame, where their
  per-batch values arrive in ``QueryProgressEvent.observedMetrics`` and
  are captured by ``ProgressRecorder``.

At 100 TB the alternative — re-aggregating the source to count nulls —
is a full second scan per quality gate; ``observe`` rides the one scan
the job already does. The recorder's output lands in the same idempotent
parquet stores as any other leg, making throughput history queryable
next to the data it describes.
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("batch_ts", T.StringType(), True),
        T.StructField("num_input_rows", T.LongType(), True),
        T.StructField("input_rows_per_second", T.DoubleType(), True),
        T.StructField("processed_rows_per_second", T.DoubleType(), True),
        T.StructField("trigger_execution_ms", T.LongType(), True),
        T.StructField("state_rows_total", T.LongType(), True),
        T.StructField("state_store_instances", T.LongType(), True),
        T.StructField("state_commit_ms", T.LongType(), True),
        T.StructField("observed", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


class ProgressRecorder(StreamingQueryListener):
    """Driver-side micro-batch progress capture, bounded to ``max_events``.

    Attach with ``spark.streams.addListener(rec)`` (and detach with
    ``removeListener`` — pytest fixtures must, or events from later tests
    leak in). Thread-safe: Spark delivers events from its listener-bus
    thread while the test/driver thread reads.
    """

    def __init__(self, max_events: int = 10_000) -> None:
        self._events: deque = deque(maxlen=max_events)
        self._lock = threading.Lock()

    # -- StreamingQueryListener interface (all driver-side, O(1) each) --
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        state_rows = state_stores = state_commit_ms = None
        if p.stateOperators:
            state_rows = sum(s.numRowsTotal for s in p.stateOperators)
            state_stores = sum(s.numStateStoreInstances for s in p.stateOperators)
            state_commit_ms = sum(s.commitTimeMs for s in p.stateOperators)
        observed = (
            {
                f"{group}.{k}": str(v)
                for group, row in p.observedMetrics.items()
                for k, v in row.asDict().items()
            }
            if p.observedMetrics
            else None
        )
        row = Row(
            query_id=str(p.id),
            batch_id=p.batchId,
            batch_ts=p.timestamp,
            num_input_rows=p.numInputRows,
            input_rows_per_second=float(p.inputRowsPerSecond or 0.0),
            processed_rows_per_second=float(p.processedRowsPerSecond or 0.0),
            trigger_execution_ms=p.durationMs.get("triggerExecution"),
            state_rows_total=state_rows,
            state_store_instances=state_stores,
            state_commit_ms=state_commit_ms,
            observed=observed,
        )
        with self._lock:
            self._events.append(row)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def rows(self) -> list[Row]:
        with self._lock:
            return list(self._events)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The captured progress history as a typed DataFrame (empty-safe)."""
        return spark.createDataFrame(self.rows(), PROGRESS_SCHEMA)


def observed(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> tuple[DataFrame, Observation | None]:
    """Attach accumulator-style quality counters to ``df``'s one pass.

    Batch: returns ``(df, Observation)`` — after ONE action on the
    returned frame, ``observation.get`` holds the exact aggregate values
    (no second scan). Streaming: returns ``(df, None)`` and the named
    metric group arrives per micro-batch in ``observedMetrics`` (captured
    by ``ProgressRecorder``); Spark requires the name-only form there.

    ``metrics`` values must be aggregate expressions on ``df``'s columns
    (at least one, per the observe contract).
    """
    if not metrics:
        raise ValueError("observe requires at least one aggregate metric")
    cols = [c.alias(n) for n, c in metrics.items()]
    if df.isStreaming:
        return df.observe(name, *cols), None
    obs = Observation(name)
    return df.observe(obs, *cols), obs


def observation_row(obs: Observation) -> dict:
    """The observed metric values (call after exactly one action ran)."""
    return dict(obs.get)


def read_state_store(spark, checkpoint_dir: str, **options) -> DataFrame:
    """The live contents of a streaming query's state store as a
    DataFrame (Spark's ``statestore`` reader): one row per state key with
    the operator's typed value struct and its shuffle ``partition_id``.

    This is the at-scale debugging surface the reference's print-rows
    consumers have no analogue for: when a stateful query misbehaves in
    production, the state itself (millions of keys across executors) is
    queryable OFFLINE from the checkpoint — no instrumented rerun, no
    driver-side dump. Pass reader options through ``options``
    (``batchId``, ``operatorId``, ``storeName``, ...) to pin a specific
    snapshot/operator; key-partitioned reads mean inspecting one hot key
    scans one partition, not the store.
    """
    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(checkpoint_dir)


def read_state_metadata(spark, checkpoint_dir: str) -> DataFrame:
    """The checkpoint's operator/state-store metadata (Spark's
    ``state-metadata`` reader): operator ids/names, store names,
    partition counts, and the min/max retained batch ids — the
    what-can-I-inspect index for ``read_state_store`` and the first
    stop when a checkpoint's retention or operator layout is in doubt."""
    return spark.read.format("state-metadata").load(checkpoint_dir)
