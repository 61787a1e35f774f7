"""The batch workload: registered queries over the sf0.01 tables.

A closed loop: one query at a time, each built with ``queries.
all_queries()[name](spark, sf_dir)`` and executed into the ``noop`` sink.
The build memo of ``operators.similarity`` is cleared before every query,
so memoized index builds are paid as a new session pays them, and the
caches ``operators.sketches`` registers are released after it.

The warm-up pass collects every query's rows; after the timed passes each
is compared with the query's registry DuckDB oracle over the same files.

Seed 0 reads the committed tables as they are. Any other seed reads a copy
whose rows are permuted by the seed; the answers must not change.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import numpy as np

from .common import BENCH_DIR, engine
from .trace import NullTracer

DATA = BENCH_DIR / "data" / "sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# JVM scan / shuffle / codegen-bound queries.
RELATIONAL = [
    "monitor_cpu_mem_alerts", "rel_pricing_summary",
    "rel_multiway_revenue", "rel_topk_per_group", "rel_scd2_intervals", "monitor_mttr",
]
# Queries bound by construction in the Spark application process,
# memoized builds and Python workers.
CURATION = [
    "dedup_exact", "sim_coreset_kcenter", "text_bpe_train", "text_token_stats",
    "mm_ahash_arrow", "text_chunk_udtf",
]
GROUPS = {"relational": RELATIONAL, "curation": CURATION}
# Queries whose construction goes through the build memo.
MEMOIZED = ["sim_coreset_kcenter"]


def permuted_copy(seed: int, out) -> str:
    """The tables with rows in a seeded order (seed 0: the originals)."""
    if seed == 0:
        return str(DATA)
    import pyarrow.parquet as pq

    out.mkdir()
    for i, t in enumerate(TABLES):
        table = pq.read_table(DATA / f"{t}.parquet")
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(order), out / f"{t}.parquet")
    return str(out)


class Runner:
    """Builds and executes one query, recording construct and execute
    time, and spans when tracing."""

    def __init__(self, ctx, sf_dir: str) -> None:
        self.spark = ctx.spark
        self.sc = self.spark.sparkContext
        self.sf_dir = sf_dir
        self.tracer = ctx.tracer
        self.queries = engine("queries").all_queries()
        self.clear_builds = engine("operators.similarity").clear_ivf_build_cache
        self.release = engine("operators.sketches").release_kmv_caches
        self.marks: dict[str, tuple[float, float, float]] = {}

    def build(self, name: str):
        return self.queries[name](self.spark, self.sf_dir)

    def run(self, name: str, tag: str, collect: bool = False):
        """Clear the memo, build, execute; return (construct_s, execute_s, rows)."""
        self.clear_builds()
        self.sc.setJobGroup(f"perfbench:{tag}:{name}", name)
        rows = None
        with self.tracer.span("queries", name):
            t0 = time.time()
            with self.tracer.span("queries", "construct"):
                df = self.build(name)
            t1 = time.time()
            with self.tracer.span("operators", "execute"):
                if collect:
                    rows = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        self.release()
        self.spark.catalog.clearCache()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.marks[f"{tag}:{name}"] = (t0, t1, t2)
        return t1 - t0, t2 - t1, rows


def timed_pass(runner: Runner, tag: str) -> dict[str, float]:
    """Each query's construct + execute time in one pass over the set."""
    out = {}
    for name in RELATIONAL + CURATION:
        c, e, _ = runner.run(name, tag)
        out[name] = c + e
    return out


def batch_sf001(ctx) -> None:
    res, tracer = ctx.res, ctx.tracer
    sf_dir = permuted_copy(ctx.seed, ctx.work / "tables")
    ctx.start_session()
    runner = Runner(ctx, sf_dir)
    answers = {}
    with tracer.span("queries", "warm-up pass"):
        for name in RELATIONAL + CURATION:
            answers[name] = runner.run(name, "warm", collect=True)[2]
    ctx.setup_done()

    passes = []
    deadline = time.perf_counter() + ctx.seconds
    # Two passes at least, and more until the run time is used up. Each
    # query counts with its fastest pass: other guests on a shared host
    # slow a query now and then, never speed it up, and the second pass
    # also runs with the JIT further along than the first.
    while len(passes) < 2 or time.perf_counter() < deadline:
        passes.append(timed_pass(runner, f"p{len(passes)}"))
    ctx.measured()
    best = {name: min(p[name] for p in passes) for name in passes[0]}
    total = sum(best.values())
    res.put("result_s", total, "s")
    res.say("batch_total_s", total, "s")
    for group, names in GROUPS.items():
        res.say(f"batch_{group}_s", sum(best[name] for name in names), "s")
    res.say("passes", len(passes), "count")
    res.say("batch_pass_median_s", statistics.median(sum(p.values()) for p in passes), "s")

    if tracer.enabled:
        trace_pass(ctx, runner)
    check_oracles(answers, sf_dir, res)


# -- traced run ---------------------------------------------------------------


def _opt(o):
    """A Scala ``Option`` read over py4j."""
    return o.get() if o.isDefined() else None


def _stage_metrics(sc) -> tuple[list[tuple[str, float]], dict[int, dict]]:
    """This run's tagged jobs (group, submission time) and their stages,
    from Spark's status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tagged: list[tuple[str, float]] = []
    stage_job: dict[int, str] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = _opt(job.jobGroup())
        if group and group.startswith("perfbench:"):
            sub = _opt(job.submissionTime())
            tagged.append((group, sub.getTime() / 1000.0 if sub else 0.0))
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_job[int(ids.apply(k))] = group
    stages: dict[int, dict] = {}
    for sid, group in stage_job.items():
        s = store.lastStageAttempt(sid)
        if str(s.status()) != "COMPLETE":
            continue
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        stages[sid] = {
            "group": group,
            "start": sub.getTime() / 1000.0 if sub else 0.0,
            "end": done.getTime() / 1000.0 if done else 0.0,
            "tasks": int(s.numTasks()),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "input_records": int(s.inputRecords()),
            "shuffle_write_b": int(s.shuffleWriteBytes()),
            "shuffle_records": int(s.shuffleWriteRecords()),
            "spill_b": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        }
    return tagged, stages


def trace_pass(ctx, runner: Runner) -> None:
    """A further pass in which each query runs once more, then untraced
    and then traced, back to back, each with the build memo cleared; stages
    are attributed to the traced runs by job group. Plus the cold-minus-warm construct
    time of the memoized builds.

    Per query, the construct and execute spans must cover the traced query
    span up to the tracer's own time in it; each query's construct plus
    execute time is printed next to its untraced time."""
    res, tracer = ctx.res, ctx.tracer
    traced = {group: [0.0, 0.0] for group in GROUPS}
    with tracer.span("queries", "traced pass") as pass_span:
        for group, names in GROUPS.items():
            for name in names:
                runner.tracer = NullTracer()
                # The first run after another query pays for caches that
                # query displaced; the compared runs both come after it.
                runner.run(name, "again")
                c0, e0, _ = runner.run(name, "untraced")
                runner.tracer = tracer
                own, first = tracer.own_s, len(tracer.spans)
                c, e, _ = runner.run(name, "traced")
                own = tracer.own_s - own
                query = tracer.spans[first]
                uncovered = (query[5] - query[4]) - (c + e)
                print(f"perfbench: {name}: untraced {c0 + e0:.4f} s, traced construct {c:.4f} s "
                      f"+ execute {e:.4f} s = {c + e:.4f} s, outside both {uncovered * 1e6:.0f} us, "
                      f"tracer {own * 1e6:.0f} us", file=sys.stderr)
                if abs(uncovered) > own + 1e-3:
                    print(f"perfbench: trace check: {name}: construct + execute leave "
                          f"{uncovered:.4f} s of the query span uncovered", file=sys.stderr)
                traced[group][0] += c
                traced[group][1] += e
    for group, (cons, exe) in traced.items():
        res.put(f"queries.construct_s.{group}", cons, "s")
        res.put(f"operators.execute_s.{group}", exe, "s")

    build = 0.0
    for name in MEMOIZED:
        runner.clear_builds()
        t0 = time.perf_counter()
        runner.build(name)
        t1 = time.perf_counter()
        runner.build(name)
        build += (t1 - t0) - (time.perf_counter() - t1)
    runner.clear_builds()
    res.put("operators.build_s", build, "s")

    jobs, stages = _stage_metrics(runner.sc)
    mine = [s for s in stages.values() if s["group"].startswith("perfbench:traced:")]
    eager = [g for g, submitted in jobs if g.startswith("perfbench:traced:")
             and submitted < runner.marks[g.split(":", 1)[1]][1]]
    for s in mine:
        tracer.add("operators", "stage", s["start"], s["end"], _query_span(tracer, s, runner, pass_span))
    exe_s = sum(e for _c, e in traced.values())
    cpu = sum(s["cpu_s"] for s in mine)
    res.put("queries.eager_jobs", len(eager), "count")
    res.put("operators.task_run_s", sum(s["run_s"] for s in mine), "s")
    res.put("operators.task_cpu_s", cpu, "s")
    res.put("operators.gc_s", sum(s["gc_s"] for s in mine), "s")
    res.put("operators.cpu_util", cpu / (exe_s * ctx.cpus) if exe_s else 0.0, "ratio")
    res.put("operators.shuffle_write_mb", sum(s["shuffle_write_b"] for s in mine) / 2**20, "MB")
    res.put("operators.shuffle_records", sum(s["shuffle_records"] for s in mine), "count")
    res.put("operators.spill_mb", sum(s["spill_b"] for s in mine) / 2**20, "MB")
    res.put("operators.input_records", sum(s["input_records"] for s in mine), "count")
    res.put("operators.stages", len(mine), "count")
    res.put("operators.tasks", sum(s["tasks"] for s in mine), "count")


def _query_span(tracer, stage, runner, pass_span):
    """The construct or execute span a stage ran under."""
    tag_name = stage["group"].split(":", 1)[1]
    name = tag_name.split(":", 1)[1]
    t1 = runner.marks[tag_name][1]
    want = "construct" if stage["start"] < t1 else "execute"
    for sid, parent, _layer, span_name, start, end in reversed(tracer.spans):
        if span_name == want and start <= stage["start"] <= end:
            query = tracer.spans[parent] if parent is not None else None
            if query is not None and query[3] == name:
                return sid
    return pass_span


# -- oracle check -------------------------------------------------------------


def check_oracles(answers: dict, sf_dir: str, res) -> None:
    """Each query's rows against its registry DuckDB oracle on ``sf_dir``."""
    import duckdb

    oracles = engine("queries").all_oracles()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name, (cols, rows) in answers.items():
        res.attempted += 1
        problem = _compare(cols, rows, con, oracles[name])
        if problem:
            res.fail(f"{name}: {problem}")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def _compare(cols, rows, con, sql) -> str | None:
    """Order-insensitive comparison; floats may differ in the last bits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mine = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_sort_key)
    got = con.execute(sql)
    dcols = [d[0] for d in got.description]
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    if [cols[i] for i in order] != [dcols[i] for i in dorder]:
        return f"columns differ: {sorted(cols)} vs oracle {sorted(dcols)}"
    theirs = sorted((tuple(_norm(r[i]) for i in dorder) for r in got.fetchall()), key=_sort_key)
    if len(mine) != len(theirs):
        return f"{len(mine)} rows vs oracle {len(theirs)}"
    bad = sum(1 for a, b in zip(mine, theirs) if not _row_close(a, b))
    return f"{bad} of {len(mine)} rows differ from the oracle" if bad else None


def _row_close(a, b) -> bool:
    if a == b:
        return True
    return len(a) == len(b) and all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12))
        for x, y in zip(a, b)
    )
