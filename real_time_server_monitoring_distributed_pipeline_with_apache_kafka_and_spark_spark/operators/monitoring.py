"""Server-monitoring operator library: the reference's analytics leg.

Reference parity (SURVEY.md SS2):
- J1/J2  composite-key inner join        (spark_job1.py:18, spark_job2.py:18)
- A1/A2  grouped sliding-window avg/max  (spark_job1.py:27-33, spark_job2.py:27-33)
- P7     3-branch CASE alert classifier  (spark_job1.py:39-44, spark_job2.py:39-44)
- P1/F1/F2 final projection w/ date_format + round (spark_job1.py:47-54)

Every function is ``DataFrame -> DataFrame`` and works identically on batch
and streaming inputs (Structured Streaming compiles the same logical plan).

Scale notes (100 TB posture):
- The batch join shuffles both sides on (ts, entity) - at scale,
  pre-bucketing the landed tables on the entity key or ingesting via one
  wide Kafka topic removes this shuffle entirely. AQE handles skewed hot
  entities.
- Streams pair the topics with :func:`paired_window_agg` instead: a union
  and a per-(ts, entity) aggregation, one shuffle of the union and one
  state store per partition where a stream-stream join keeps four (both
  sides' rows and match counts). A stream trigger's fixed cost is mostly
  state-store commits, so going from five stores per partition (join plus
  window) to two cuts it; the per-key state is a few counters, not
  buffered rows.
- The windowed agg is a hash aggregate with map-side partial aggregation;
  the sliding window multiplies rows by duration/slide (3x here) *after*
  partial aggregation, so the expansion happens on grouped keys, not events.
- Deviations from the reference, both deliberate (SURVEY.md SS1.2): metrics
  stay double (no float32 downcast before avg), and timestamps are full
  timestamps rather than date-anchored HH:mm:ss strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, WindowConfig


def join_metric_streams(
    left: DataFrame,
    right: DataFrame,
    keys: tuple[str, str] = ("ts", "server_id"),
    how: str = "inner",
) -> DataFrame:
    """J1/J2: re-assemble two narrow metric streams into a wide row.

    Reference: ``cpu_df.join(mem_df, on=["ts","server_id"], how="inner")``
    (spark_job1.py:18). USING-style join so key columns are not duplicated.
    Catalyst picks sort-merge or broadcast (AQE may switch at runtime).
    """
    return left.join(right, on=list(keys), how=how)


def sliding_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """A1/A2: groupBy(entity, window(ts, duration, slide)).agg(...).

    Reference: spark_job1.py:27-33 with durations from config.yaml:18-20.
    Output keeps the ``window`` struct (start/end) like Spark's native shape.
    """
    window = window or DEFAULT_CONFIG.window
    grouped = df.groupBy(
        F.col(entity_col),
        F.window(F.col(ts_col), window.duration, window.slide),
    )
    return grouped.agg(*[col.alias(name) for name, col in aggs.items()])


def paired_window_agg(
    left: DataFrame,
    right: DataFrame,
    aggs: dict[str, tuple[str, str]],
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """J1/J2 + A1/A2 without the join: the sliding-window aggregate of the
    inner join of ``left`` and ``right`` on (ts, entity), computed as a
    union and two keyed aggregations.

    ``aggs`` maps an output name to ``(kind, column)``; ``kind`` is
    ``"avg"`` or ``"max"`` and ``column`` belongs to exactly one side.

    1. Union the sides. Each keeps its own watermark, so a stream's
       global watermark is still the min over the sides.
    2. Aggregate per (entity, ts): each side's row count, and per metric
       its sum and non-NULL count (avg) or its max. Keep only the keys
       present on both sides; NULL keys are dropped, as the join drops
       them.
    3. Window those keys. A key with ``n_l`` left and ``n_r`` right rows
       stands for ``n_l * n_r`` joined pairs, so a left average is
       ``sum(sum_c * n_r) / sum(nonnull_c * n_r)``: exactly the mean over
       the join's pairs, duplicates and NULL values included. A max does
       not depend on the pair count.

    On a stream both aggregations run in append mode in the same trigger,
    so a window comes out in the trigger the join-based plan emits it in,
    with two state stores per partition instead of the join's four plus
    the window's one.
    """
    keys = [entity_col, "ts"]
    side_cols = {"l": [], "r": []}
    per_key = [F.count("__l").alias("__n_l"), F.count("__r").alias("__n_r")]
    per_window = {}
    for name, (kind, col) in aggs.items():
        if col in keys or (col in left.columns) == (col in right.columns):
            raise ValueError(f"{name}: column {col!r} must belong to exactly one side")
        side = "l" if col in left.columns else "r"
        side_cols[side].append(col)
        if kind == "max":
            per_key.append(F.max(col).alias(f"__max_{name}"))
            per_window[name] = F.max(f"__max_{name}")
        elif kind == "avg":
            pairs = F.col("__n_r" if side == "l" else "__n_l")
            per_key += [F.sum(col).alias(f"__sum_{name}"), F.count(col).alias(f"__nn_{name}")]
            per_window[name] = F.try_divide(
                F.sum(F.col(f"__sum_{name}") * pairs), F.sum(F.col(f"__nn_{name}") * pairs)
            )
        else:
            raise ValueError(f"{name}: kind must be 'avg' or 'max', got {kind!r}")

    def project(df: DataFrame, side: str) -> DataFrame:
        cols = dict.fromkeys(side_cols[side])
        return df.select(*keys, *cols, F.lit(True).alias(f"__{side}"))

    unioned = project(left, "l").unionByName(project(right, "r"), allowMissingColumns=True)
    keyed = (
        unioned.where(F.col(entity_col).isNotNull() & F.col("ts").isNotNull())
        .groupBy(*keys)
        .agg(*per_key)
        .where((F.col("__n_l") > 0) & (F.col("__n_r") > 0))
    )
    return sliding_window_agg(keyed, per_window, "ts", entity_col, window)


_DURATION_UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                   "hour": 3600, "hours": 3600}


def _duration_seconds(spec: str) -> int:
    qty, unit = spec.strip().split()
    return int(qty) * _DURATION_UNITS[unit.lower()]


def sliding_window_agg_exploded(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str = "server_id",
    window: WindowConfig | None = None,
) -> DataFrame:
    """A1/A2 sliding-window agg via explode'd slide offsets, not F.window.

    Produces the IDENTICAL epoch-aligned (entity, window) groups as
    :func:`sliding_window_agg` — start = floor(epoch/slide)*slide - k*slide
    for k in 0..duration/slide-1, the same arithmetic ``F.window``
    compiles to — but through GenerateExec (explode) instead of
    ExpandExec. The difference is purely physical: ExpandExec discards
    its child's output partitioning, forcing a shuffle before the final
    aggregate even when the input is already hash-partitioned on the
    entity (bucketed landing); GenerateExec preserves it, so over an
    entity-bucketed table the aggregation runs with zero exchanges
    (tests/test_plans.py::test_bucketed_flagship_job_no_exchange).

    Requires duration % slide == 0 (true for the reference's 30s/10s,
    config.yaml:19-20). Timestamp arithmetic routes TIMESTAMP_NTZ through
    a session-tz cast (sessions pin UTC) because NTZ has no direct
    numeric cast.
    """
    window = window or DEFAULT_CONFIG.window
    dur_s = _duration_seconds(window.duration)
    slide_s = _duration_seconds(window.slide)
    if dur_s % slide_s:
        raise ValueError(
            f"duration {window.duration!r} must be a multiple of slide "
            f"{window.slide!r} for the exploded formulation"
        )
    n = dur_s // slide_s
    ts_type = df.schema[ts_col].dataType.simpleString()
    secs = F.col(ts_col).cast("timestamp").cast("long")
    base = secs - F.pmod(secs, F.lit(slide_s))
    exploded = df.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(n)])).alias("__slide_k")
    )
    start_s = base - F.col("__slide_k") * slide_s
    win = F.struct(
        F.timestamp_seconds(start_s).cast(ts_type).alias("start"),
        F.timestamp_seconds(start_s + dur_s).cast(ts_type).alias("end"),
    )
    grouped = exploded.groupBy(F.col(entity_col), win.alias("window"))
    return grouped.agg(*[col.alias(name) for name, col in aggs.items()])


def tumbling_window_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    entity_col: str | None = "server_id",
    duration: str = "30 seconds",
) -> DataFrame:
    """T2 surface: tumbling window (degenerate slide == duration)."""
    keys = [F.window(F.col(ts_col), duration)]
    if entity_col:
        keys.insert(0, F.col(entity_col))
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def metric_bucket(
    value_col: Column, width: float = 50.0, n_buckets: int = 10
) -> Column:
    """Fixed-width histogram bucket for a metric value: integer math
    (floor + clamp), so assignments are engine-exact and identical
    between the batch drift query (queries/monitoring.py::
    monitor_drift_psi) and the streaming histogram leg
    (streaming/jobs.py::bucket_count_stream) — sharing this expression
    IS the stream==batch guarantee for drift detection."""
    return F.least(F.floor(value_col / width).cast("int"), F.lit(n_buckets - 1))


def alert_case(
    combined_label: str,
    first: tuple[str, float, str],
    second: tuple[str, float, str],
    ok_label: str = "OK",
) -> Column:
    """P7: the reference's 3-branch CASE classifier; branch order is
    load-bearing (combined condition first - spark_job1.py:39-44).

    ``first``/``second`` are (column, threshold, label) triples.
    """
    c1, t1, l1 = first
    c2, t2, l2 = second
    return (
        F.when((F.col(c1) > t1) & (F.col(c2) > t2), combined_label)
        .when(F.col(c1) > t1, l1)
        .when(F.col(c2) > t2, l2)
        .otherwise(ok_label)
    )


def format_window_output(
    df: DataFrame,
    entity_col: str,
    metric_cols: list[str],
    time_format: str | None = None,
    extra_cols: list[str] = ("alert",),
    round_fn=None,
) -> DataFrame:
    """P1/P4/F1/F2: final projection - entity, window start/end, rounded
    metrics, alert (spark_job1.py:47-54).

    ``time_format=None`` keeps full timestamps (scale-safe); pass
    ``"HH:mm:ss"`` for strict reference-output parity (SURVEY.md SS1.2
    date-anchoring quirk). ``round_fn`` defaults to the reference's
    ``F.round(x, 2)`` (F2); pass ``functions.display_round`` for
    cross-engine-deterministic rounding (oracle comparison).
    """
    if round_fn is None:
        round_fn = lambda c: F.round(c, 2)  # noqa: E731
    if time_format:
        start = F.date_format(F.col("window.start"), time_format)
        end = F.date_format(F.col("window.end"), time_format)
    else:
        start, end = F.col("window.start"), F.col("window.end")
    cols = [
        F.col(entity_col),
        start.alias("window_start"),
        end.alias("window_end"),
        *[round_fn(F.col(m)).alias(m) for m in metric_cols],
        *[F.col(c) for c in extra_cols],
    ]
    return df.select(*cols)


def cpu_mem_job(
    cpu: DataFrame,
    mem: DataFrame,
    config=DEFAULT_CONFIG,
    entity_col: str = "server_id",
    cpu_col: str = "cpu_pct",
    mem_col: str = "mem_pct",
    time_format: str | None = None,
    round_fn=None,
    float32_parity: bool = False,
    sliding_agg_fn=None,
) -> DataFrame:
    """Reference spark_job1 end-to-end: join -> window avg -> alert -> format
    (spark_job1.py:6-54), parameterized over column names so the same
    operator runs on the reference metric schema and the testdata analog.

    ``float32_parity=True`` reproduces the reference's pre-avg float
    downcast (spark_job1.py:20-21): metrics lose precision to float32
    BEFORE averaging, shifting results in the ~7th significant digit.
    Default keeps double (deliberate deviation, SURVEY.md SS1.2).
    ``sliding_agg_fn`` swaps the window-agg implementation (same
    signature/semantics as :func:`sliding_window_agg`; pass
    :func:`sliding_window_agg_exploded` for the bucketed zero-exchange
    layout).
    """
    joined = join_metric_streams(cpu, mem, keys=("ts", entity_col))
    if float32_parity:
        joined = joined.withColumn(cpu_col, F.col(cpu_col).cast("float")).withColumn(
            mem_col, F.col(mem_col).cast("float")
        )
    agged = (sliding_agg_fn or sliding_window_agg)(
        joined,
        {"avg_cpu": F.avg(cpu_col), "avg_mem": F.avg(mem_col)},
        entity_col=entity_col,
        window=config.window,
    )
    alerts = agged.withColumn(
        "alert",
        alert_case(
            "High CPU + Memory stress",
            ("avg_cpu", config.thresholds.cpu_pct, "CPU spike suspected"),
            ("avg_mem", config.thresholds.mem_pct, "Memory saturation suspected"),
        ),
    )
    return format_window_output(alerts, entity_col, ["avg_cpu", "avg_mem"], time_format, round_fn=round_fn)


def net_disk_job(
    net: DataFrame,
    disk: DataFrame,
    config=DEFAULT_CONFIG,
    entity_col: str = "server_id",
    net_col: str = "net_in",
    disk_col: str = "disk_io",
    time_format: str | None = None,
    round_fn=None,
    float32_parity: bool = False,
    sliding_agg_fn=None,
) -> DataFrame:
    """Reference spark_job2 end-to-end: join -> window max -> alert -> format
    (spark_job2.py:6-54). ``float32_parity`` as in :func:`cpu_mem_job`
    (reference casts net_in and disk_io, spark_job2.py:20-21; net_out is
    never cast there and never aggregated). ``sliding_agg_fn`` as in
    :func:`cpu_mem_job` (bucketed zero-exchange layout)."""
    joined = join_metric_streams(net, disk, keys=("ts", entity_col))
    if float32_parity:
        joined = joined.withColumn(net_col, F.col(net_col).cast("float")).withColumn(
            disk_col, F.col(disk_col).cast("float")
        )
    agged = (sliding_agg_fn or sliding_window_agg)(
        joined,
        {"max_net_in": F.max(net_col), "max_disk_io": F.max(disk_col)},
        entity_col=entity_col,
        window=config.window,
    )
    alerts = agged.withColumn(
        "alert",
        alert_case(
            "Network flood + Disk thrash suspected",
            ("max_net_in", config.thresholds.net_in, "Possible DDoS"),
            ("max_disk_io", config.thresholds.disk_io, "Disk thrash suspected"),
        ),
    )
    return format_window_output(alerts, entity_col, ["max_net_in", "max_disk_io"], time_format, round_fn=round_fn)
