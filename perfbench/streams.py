"""The streaming workload ``alert_live`` and, in its traced run, the
catch-up drains.

Both feed the engine the reference producer's cpu/mem wire messages
through a file-stream directory written by ``gen.py`` (a separate
process), parse them with ``streaming.parse.demux_topic`` and run
``streaming.jobs.streaming_cpu_mem_job`` (stream-stream join, sliding
average, CASE alert). The catch-up drains also take a backlog through
the landing leg, ``streaming.jobs.ingest_store_stream``.

Outputs are checked against the batch job, ``operators.monitoring.
cpu_mem_job``, run over every generated message, late ones included.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime

from .common import BENCH_DIR, InvalidRun, engine, pct, read_json
WATERMARK_S = 2
WATERMARK = f"{WATERMARK_S} seconds"
TRIGGER_S = 4
# The reference's 30 s / 10 s window overlaps each event into three
# windows. The benchmark keeps that 3x overlap with a slide equal to the
# trigger interval, so every close instant meets the trigger schedule in
# the same phase and a short run still sees several of them.
WINDOW = (f"{3 * TRIGGER_S} seconds", f"{TRIGGER_S} seconds")
RECORD_SCHEMA = "topic STRING, value STRING"
# Trigger parts Spark reports in ``durationMs``, in the order they run,
# and the layer each belongs to.
TRIGGER_PARTS = {
    "latestOffset": "sources",
    "getBatch": "sources",
    "queryPlanning": "streaming",
    "addBatch": "streaming",
    "walCommit": "streaming",
    "commitOffsets": "streaming",
}


def _config():
    config = engine("config")
    return config.PipelineConfig(window=config.WindowConfig(*WINDOW))


def _gen(mode: str, out: str, summary: str, seed: int, *extra: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, str(BENCH_DIR / "gen.py"), mode, "--out", out,
         "--summary", summary, "--seed", str(seed), *extra],
    )


def _wait(proc: subprocess.Popen, what: str, timeout: float = 60) -> None:
    if proc.wait(timeout=timeout) != 0:
        raise RuntimeError(f"{what} exited with code {proc.returncode}")


def _records(spark, path: str, stream: bool, max_files: int | None = None):
    reader = spark.readStream if stream else spark.read
    reader = reader.schema(RECORD_SCHEMA).option("sep", "\t")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.csv(path)


def _alert_frame(spark, path: str, stream: bool, max_files: int | None = None):
    """The reference's cpu/mem alert job over the wire messages at ``path``:
    streaming (``streaming_cpu_mem_job``) or batch (``cpu_mem_job``)."""
    parse = engine("streaming.parse")
    records = _records(spark, path, stream, max_files)
    cpu = parse.demux_topic(records, "topic-cpu", "cpu")
    mem = parse.demux_topic(records, "topic-mem", "mem")
    if stream:
        jobs = engine("streaming.jobs")
        return jobs.streaming_cpu_mem_job(cpu, mem, config=_config(), watermark=WATERMARK)
    return engine("operators.monitoring").cpu_mem_job(cpu, mem, config=_config())


def _window_rows(df):
    from pyspark.sql import functions as F

    return df.select(
        "server_id",
        F.col("window_start").cast("double").alias("ws"),
        F.col("window_end").cast("double").alias("we"),
        "avg_cpu", "avg_mem", "alert",
    ).collect()


class AlertSink:
    """``foreachBatch`` sink that stamps each emitted window with the time
    its batch's rows reached this process."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self.last_end = 0.0

    def __call__(self, df, batch_id: int) -> None:
        rows = _window_rows(df)
        emitted = time.time()
        self.rows.extend((*tuple(r), emitted) for r in rows)
        self.last_end = max([self.last_end, *(r["we"] for r in rows)])


def check_windows(spark, path: str, emitted: list[tuple], watermark_s: float, res, leg: str):
    """Compare emitted windows with the batch job over every message at
    ``path``. Windows ending at or before the last batch's watermark must
    each appear exactly once with the batch job's values."""
    thresholds = _config().thresholds
    expected = {}
    for r in _window_rows(_alert_frame(spark, path, stream=False)):
        if r["we"] <= watermark_s:
            expected[(r["server_id"], r["ws"], r["we"])] = (r["avg_cpu"], r["avg_mem"], r["alert"])
    seen: dict[tuple, tuple] = {}
    dupes = 0
    for sid, ws, we, cpu, mem, alert, *_ in emitted:
        key = (sid, ws, we)
        dupes += key in seen
        seen[key] = (cpu, mem, alert)
    wrong = 0
    for key, (cpu, mem, alert) in expected.items():
        got = seen.get(key)
        if got is None or not _same_window(got, (cpu, mem, alert), thresholds):
            wrong += 1
    extra = sum(1 for k in seen if k not in expected and k[2] <= watermark_s)
    res.attempted += len(expected)
    if wrong or extra or dupes:
        res.fail(f"{leg}: {wrong} windows missing or wrong, {extra} unexpected, "
                 f"{dupes} emitted twice, of {len(expected)}", wrong + extra + dupes)
    return len(expected)


def _same_window(got, want, thresholds) -> bool:
    """Averages are rounded to 2 places on both sides; a sum taken in
    another order may round the other way, so allow one step. The alert
    label may differ only when an average sits on its threshold."""
    (gc, gm, ga), (wc, wm, wa) = got, want
    if abs(gc - wc) > 0.0100001 or abs(gm - wm) > 0.0100001:
        return False
    if ga == wa:
        return True
    return (abs(wc - thresholds.cpu_pct) <= 0.0100001
            or abs(wm - thresholds.mem_pct) <= 0.0100001)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _watermark(progress: list[dict]) -> float:
    wm = progress[-1].get("eventTime", {}).get("watermark") if progress else None
    return _epoch(wm) if wm else 0.0


def trace_triggers(tracer, progress: list[dict], parent, leg_layer: str) -> None:
    """One span per trigger, with a child per ``durationMs`` part laid end
    to end; whatever the parts leave uncovered is the ``other`` child, so
    the children sum to ``triggerExecution``."""
    for p in progress:
        d = p.get("durationMs", {})
        total = d.get("triggerExecution", 0) / 1000.0
        start = _epoch(p["timestamp"])
        sid = tracer.add("streaming", f"trigger {p['batchId']}", start, start + total, parent)
        at = start
        for part, layer in TRIGGER_PARTS.items():
            ms = d.get(part, 0) / 1000.0
            if part == "addBatch":
                layer = leg_layer
            tracer.add(layer, part, at, at + ms, sid)
            at += ms
        tracer.add("streaming", "other", at, start + total, sid)


def trigger_metrics(progress: list[dict], res) -> None:
    """Per-layer figures from ``StreamingQueryProgress`` of the measured
    triggers (data triggers and no-data triggers alike)."""
    durs = [p["durationMs"] for p in progress if "triggerExecution" in p.get("durationMs", {})]
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def mean_part(part):
        return statistics.fmean(d.get(part, 0) for d in durs) if durs else 0.0

    trig = [d["triggerExecution"] for d in durs]
    res.put("streaming.trigger_ms_p50", pct(trig, 50), "ms")
    res.put("streaming.trigger_ms_p99", pct(trig, 99), "ms")
    res.put("streaming.query_planning_ms", mean_part("queryPlanning"), "ms")
    res.put("streaming.wal_commit_ms", mean_part("walCommit"), "ms")
    res.put("streaming.commit_offsets_ms", mean_part("commitOffsets"), "ms")
    res.put("sources.latest_offset_ms", mean_part("latestOffset"), "ms")
    res.put("sources.get_batch_ms", mean_part("getBatch"), "ms")
    res.put("streaming.triggers", len(progress), "count")
    res.put("streaming.no_data_triggers", len(progress) - len(data), "count")
    res.put("streaming.add_batch_ms", mean_part("addBatch"), "ms")
    res.put("streaming.other_ms",
            statistics.fmean(d["triggerExecution"] - sum(d.get(k, 0) for k in TRIGGER_PARTS)
                             for d in durs) if durs else 0.0, "ms")
    per_row_metrics(progress, res)
    ops = [p.get("stateOperators", []) for p in progress]
    res.put("streaming.state_commit_ms",
            statistics.fmean(sum(s.get("commitTimeMs", 0) for s in o) for o in ops) if ops else 0.0,
            "ms")
    last = ops[-1] if ops else []
    res.put("streaming.state_rows", sum(s.get("numRowsTotal", 0) for s in last), "count")
    res.put("streaming.state_mb", sum(s.get("memoryUsedBytes", 0) for s in last) / 2**20, "MB")
    res.put("streaming.watermark_dropped_rows",
            sum(s.get("numRowsDroppedByWatermark", 0) for o in ops for s in o), "count")


def per_row_metrics(progress: list[dict], res) -> None:
    """``addBatch`` time per input row and rows per trigger, over the
    triggers that read data."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    rows = sum(p["numInputRows"] for p in data)
    add_ms = sum(p["durationMs"].get("addBatch", 0) for p in data)
    res.put("streaming.add_batch_us_per_row", 1000.0 * add_ms / rows if rows else 0.0, "us")
    res.put("sources.rows_per_trigger", rows / len(data) if data else 0.0, "count")


def _stop_between_triggers(q, timeout: float = 2 * TRIGGER_S) -> None:
    """Stop ``q`` while no trigger runs: interrupting a running trigger
    makes the stream thread fail on its way out."""
    deadline = time.time() + timeout
    while q.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.02)
    q.stop()


def _new_progress(q, since: int) -> list[dict]:
    return [p for p in q.recentProgress if p["batchId"] >= since]


# -- alert_live --------------------------------------------------------------

MAX_TICKS = 170


def _due_slot(close: float) -> float:
    """The trigger slot at which the window closing at ``close`` (window
    end + watermark) is due.

    Triggers fire on multiples of ``TRIGGER_S``. The first trigger after
    ``close`` reads the tick that moves the watermark past the window's
    end; Spark applies a new watermark from the next batch on, so the
    window is due one interval later. The schedule fixes this slot; the
    engine's work decides how long after it the window comes out."""
    return (math.floor(close / TRIGGER_S) + 2) * TRIGGER_S


def _next_slot(t: float) -> float:
    return (math.floor(t / TRIGGER_S) + 1) * TRIGGER_S


def _on_slot(p: dict) -> bool:
    """Whether a trigger started on its slot. Spark starts the next trigger
    at once, off its slot, when one runs past the next slot."""
    start = _epoch(p["timestamp"])
    return abs(start - round(start / TRIGGER_S) * TRIGGER_S) < 0.05


def _overran(p: dict) -> bool:
    start = _epoch(p["timestamp"])
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0 > _next_slot(start)


def _due_closes(m_start: float, m_end: float) -> list[float]:
    """Close instants of the windows due at a trigger slot in [m_start, m_end).
    Windows end on multiples of the slide, which equals ``TRIGGER_S``."""
    ks = range(math.floor(m_start / TRIGGER_S) - 3, math.ceil(m_end / TRIGGER_S))
    return [c for c in (k * TRIGGER_S + WATERMARK_S for k in ks) if m_start <= _due_slot(c) < m_end]


def alert_live(ctx) -> None:
    """Open loop at 1,000 servers x 1 reading/s per metric (2,000 msgs/s)."""
    res, tracer = ctx.res, ctx.tracer
    in_dir = str(ctx.work / "in")
    stop_file = ctx.work / "gen.stop"
    gen_summary = str(ctx.work / "gen.json")
    start = math.ceil(time.time()) + 0.5
    gen = _gen("live", in_dir, gen_summary, ctx.seed, "--start", repr(start),
               "--ticks", str(MAX_TICKS), "--stop-file", str(stop_file))
    try:
        spark = ctx.start_session()
        sink = AlertSink()
        with tracer.span("streaming", "first trigger"):
            q = (
                _alert_frame(spark, in_dir, stream=True)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(ctx.work / "ckpt"))
                .trigger(processingTime=f"{TRIGGER_S} seconds")
                .start()
            )
            while q.lastProgress is None:
                q.awaitTermination(0.05)
        ctx.setup_done()
        # Warm phase: the first triggers run long and back to back. The
        # interval starts at the slot after the first trigger that started
        # on its slot and ended before the next; from then on every window
        # comes out of an on-slot trigger unless one overruns.
        with tracer.span("streaming", "warm phase"):
            warm_until = time.time() + 60
            while not (aligned := [p for p in q.recentProgress
                                   if _on_slot(p) and not _overran(p)]):
                q.awaitTermination(0.1)
                if time.time() > warm_until:
                    raise RuntimeError("the trigger loop never started a trigger on its slot")
        first_measured = aligned[0]["batchId"]
        m_start = round(_epoch(aligned[0]["timestamp"]) / TRIGGER_S + 1) * TRIGGER_S
        m_end = m_start + ctx.seconds
        closes = _due_closes(m_start, m_end)
        # Run until the last window due inside the interval is out.
        with tracer.span("bench", "measured interval") as run_span:
            while sink.last_end + WATERMARK_S < closes[-1]:
                q.awaitTermination(0.1)
                if not q.isActive:
                    raise RuntimeError(f"alert query stopped: {q.exception()}")
                if time.time() > m_end + 60:
                    raise RuntimeError("windows due in the measured interval were never emitted")
        ctx.measured()
        stop_file.touch()
        _wait(gen, "generator")
        _stop_between_triggers(q)
        progress = _new_progress(q, first_measured)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    gen_stats = read_json(gen_summary)

    # Every row of a batch carries the same emission stamp: one figure per slot.
    lags, emitted_at = [], {}
    for row in sink.rows:
        close, emitted = row[2] + WATERMARK_S, row[6]
        slot = _due_slot(close)
        if m_start <= slot < m_end:
            lags.append(emitted - close)
            emitted_at[slot] = max(emitted_at.get(slot, 0.0), emitted)
    watermark = _watermark(q.recentProgress)
    check_windows(spark, in_dir, sink.rows, watermark, res, "alert_live")

    delays = [emitted_at[slot] - slot for slot in sorted(emitted_at)]
    delay = statistics.median(delays)
    p50, p99 = pct(lags, 50), pct(lags, 99)
    trend = delays[-1] - delays[0]
    # A trigger that overruns starts the next one late, with more input;
    # its windows' delay shows that. The backlog grows when every trigger
    # overruns, or when the delay keeps rising across the interval.
    # The first trigger in ``progress`` ended the warm phase on its slot.
    overran = [_overran(p) for p in progress[1:]]
    res.put("result_s", delay, "s")
    res.say("alert_due_delay_s", delay, "s")
    res.say("alert_lag_p50_s", p50, "s")
    res.say("alert_lag_p99_s", p99, "s")
    res.say("alert_lag_samples", len(lags), "count")
    res.say("due_slots", len(delays), "count")
    res.say("lag_trend_s", trend, "s")
    res.say("overrun_triggers", sum(overran), "count")
    res.say("gen.late_p99_s", gen_stats["late_p99_s"], "s")
    if gen_stats["late_p99_s"] > 0.5 or all(overran) or trend > TRIGGER_S / 2:
        raise InvalidRun(f"open loop did not hold: generator late p99 "
                         f"{gen_stats['late_p99_s']:.3f} s, {sum(overran)} of {len(overran)} "
                         f"triggers ran past their next slot, due delay rose {trend:.3f} s")
    if tracer.enabled:
        trigger_metrics(progress, res)
        trace_triggers(tracer, progress, run_span, "streaming")
        res.put("streaming.lag_samples", len(lags), "count")
        res.put("streaming.lag_trend_s", trend, "s")
        res.put("streaming.overrun_triggers", sum(overran), "count")
        res.put("gen.offered_eps", gen_stats["offered_eps"], "1/s")
        res.put("gen.late_p99_s", gen_stats["late_p99_s"], "s")
        res.put("gen.events", gen_stats["events"], "count")
        res.put("self_s.gen", gen_stats["busy_s"], "s")
        catchup_drains(ctx)


# -- catch-up drains (traced run) --------------------------------------------

BACKLOG_TICKS = 80
# 80,000 messages a trigger: per-row work dominates the fixed cost.
FILES_PER_TRIGGER = 4
# The landing leg's warm-up drain reads the first lines of the backlog.
WARM_LINES = 2000


def _drain(spark, leg: str, src: str, out, max_files: int, sink: AlertSink | None):
    """Drain ``src`` with ``Trigger.AvailableNow`` through one leg; return
    (seconds, progress)."""
    jobs = engine("streaming.jobs")
    ckpt = str(out / "ckpt")
    t0 = time.perf_counter()
    if leg == "land":
        stream = _records(spark, src, stream=True, max_files=max_files)
        writer = jobs.ingest_store_stream(stream, str(out / "store"), ckpt)
    else:
        writer = _alert_frame(spark, src, stream=True, max_files=max_files).writeStream.foreachBatch(sink)
        writer = writer.option("checkpointLocation", ckpt)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    secs = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"{leg} drain failed: {q.exception()}")
    return secs, q.recentProgress


def check_landing(spark, src: str, store: str, res) -> None:
    """Every generated message landed exactly once: as many rows landed as
    were sent, and none of the sent ones is missing (multiset difference)."""
    sent = _records(spark, src, stream=False)
    landed = spark.read.parquet(store).select("topic", "value")
    n_sent, n_landed = sent.count(), landed.count()
    missing = sent.exceptAll(landed).count()
    res.attempted += n_sent
    if missing or n_landed != n_sent:
        res.fail(f"landing: {n_landed} landed of {n_sent}, {missing} missing",
                 max(missing, abs(n_landed - n_sent)))


def catchup_drains(ctx) -> None:
    """Traced ``alert_live`` run only: drain a pre-generated backlog with
    ``Trigger.AvailableNow``, once through the landing leg and once through
    the alert leg, then part of it again on ``local[1]``. These are the
    layers the live stream barely exercises: the landing write (``sink``)
    and per-row trigger cost. Both legs' outputs are checked."""
    res, tracer, spark = ctx.res, ctx.tracer, ctx.spark
    src = str(ctx.work / "backlog")
    summary = str(ctx.work / "backlog.json")
    gen = _gen("backlog", src, summary, ctx.seed, "--ticks", str(BACKLOG_TICKS))
    try:
        _wait(gen, "generator")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    gen_stats = read_json(summary)
    events = gen_stats["events"]
    # The live run warmed the alert leg; the landing leg starts cold.
    warm = ctx.work / "warm"
    warm.mkdir()
    with open(os.path.join(src, sorted(os.listdir(src))[0])) as f:
        head = [line for _, line in zip(range(WARM_LINES), f)]
    (warm / "warm.tsv").write_text("".join(head))
    _drain(spark, "land", str(warm), ctx.work / "warm-land", 1, None)

    secs, progress = {}, {}
    sink = AlertSink()
    for leg, layer in (("land", "sink"), ("alert", "streaming")):
        with tracer.span(layer, f"drain {leg}") as drain_span:
            secs[leg], progress[leg] = _drain(spark, leg, src, ctx.work / f"drain-{leg}",
                                              FILES_PER_TRIGGER, sink if leg == "alert" else None)
        trace_triggers(tracer, progress[leg], drain_span, layer)
    check_landing(spark, src, str(ctx.work / "drain-land" / "store"), res)
    check_windows(spark, src, sink.rows, _watermark(progress["alert"]), res, "catch-up")

    res.say("catchup_land_eps", events / secs["land"], "1/s")
    res.say("catchup_alert_eps", events / secs["alert"], "1/s")
    res.say("backlog_events", events, "count")
    per_row_metrics(progress["alert"], res)
    land = [p for p in progress["land"] if p.get("numInputRows", 0) > 0]
    store = ctx.work / "drain-land" / "store"
    files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]
    nbytes = sum(os.path.getsize(f) for f in files)
    res.put("sink.add_batch_ms",
            statistics.fmean(p["durationMs"].get("addBatch", 0) for p in land) if land else 0.0, "ms")
    res.put("sink.mb_written", nbytes / 2**20, "MB")
    res.put("sink.files_written", len(files), "count")
    res.put("sink.bytes_per_event", nbytes / events, "B")
    res.put("self_s.gen", res.metrics["self_s.gen"][0] + gen_stats["busy_s"], "s")
    local1_baseline(ctx, src, events)


LOCAL1_FILES = 4


def local1_baseline(ctx, src: str, events: int) -> None:
    """Traced run only: drain part of the backlog through both legs on a
    single core (``local[1]``), the single-threaded baseline."""
    ctx.spark.stop()
    spark = ctx.start_session(cpus=1)
    part = ctx.work / "local1-src"
    part.mkdir()
    names = sorted(os.listdir(src))[:LOCAL1_FILES]
    for name in names:
        shutil.copy(os.path.join(src, name), part)
    n = events * len(names) / len(os.listdir(src))
    land_s, _ = _drain(spark, "land", str(part), ctx.work / "local1-land", FILES_PER_TRIGGER, None)
    alert_s, _ = _drain(spark, "alert", str(part), ctx.work / "local1-alert", FILES_PER_TRIGGER, AlertSink())
    ctx.res.put("sink.local1_land_eps", n / land_s, "1/s")
    ctx.res.put("streaming.local1_alert_eps", n / alert_s, "1/s")
