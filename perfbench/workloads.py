"""The benchmark's workloads, their timed loops and their correctness gates.

Each workload runs in one process as a closed loop with one client: the
next operation is issued only after the previous one returned. Work is
timed in whole passes after ``WARMUP_PASSES`` untimed ones; the metrics
always cover the first ``TIMED_PASSES`` timed passes, so every run
measures the same set of operations. Passes keep running while
``--seconds`` have not elapsed, but those extra passes are not counted.

A fixed plain-Spark job that calls no engine code (:func:`reference_job`)
runs ``REF_REPS`` times just before every timed pass. Their median time
measures the host's speed at that moment, and the pass's times are
scaled by it (see ``REF_NOMINAL_S``), so that a host that drifts slower
or faster, within a run or between runs, does not read as a change of
the engine. ``setup_s`` is not scaled: the reference, a warm job, does
not follow the cold start that set-up time is made of.

In a traced run the passes go untraced, traced, traced, untraced (ABBA),
so the same process yields the per-layer split (from the traced passes)
and the tracing overhead (traced against untraced passes at the same
point of warm-up).
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import check, gen
from perfbench.trace import SparkView, Tracer, union_length

HERE = os.path.dirname(os.path.abspath(__file__))

#: query_mix's queries, from ``__spark_entry__.queries()``, each checked
#: against its ``oracle_sql()`` entry. Only four: a fresh JVM spends 15-25 s
#: on even their first pass, and a run has to stay near a minute.
#: Together they reach every layer the benchmark reports: table loads, the
#: aggregate memo (one of profile / jb_report misses, the other hits), the
#: report, and the expression memo, spread and overlapped actions
#: (dataset_card).
QUERY_MIX = {
    # query: the table it reads (its rows count toward rows_per_s)
    "profile_events": "events",                # memo miss
    "jb_report_events": "events",              # report; memo hit
    "dataset_card_documents": "documents",     # expr memo, overlap, spread
    "distinct_rows_documents": "documents",
}

#: the committed copy of the engine's sf0.01 test tables
MIX_DATA = os.path.join(HERE, "data", "sf0.01")

#: stream_replay: events per pass, and the time-ordered files they are
#: written as (one file per trigger; the queries stay up, so state still
#: carries from trigger to trigger across passes)
STREAM_ROWS = 10_000
STREAM_FILES = 1
STREAM_RULES = [("not_null", "value"), ("in_range", "value", 0.0, 50.0),
                ("in_set", "event_type",
                 ("view", "click", "purchase", "signup", "error"))]

#: untimed passes before the timed ones: the first compiles every plan
WARMUP_PASSES = 2

#: timed passes the metrics cover; a multiple of four, for the ABBA order
#: of a traced run (with three, stream_replay's pass_s spread wider over
#: seeds, and a run took nearly as long)
TIMED_PASSES = 4

#: the reference job's time on the host the scale is pinned to (4 vCPUs,
#: calm): a pass's times are reported times REF_NOMINAL_S / (the median
#: reference time just before the pass), i.e. as seconds on that host
REF_NOMINAL_S = 0.3
REF_ROWS = 1_000_000
REF_COLUMNS = 8
#: reference jobs before each timed pass
REF_REPS = 2

#: how each workload uses its seed and issues work (the why is in
#: BENCHMARK.json); every run stamp carries it with the input sizes
WORKLOADS = {
    "query_mix": {
        "seed": "orders the queries of every pass",
        "loop": "closed", "clients": 1, "warmup": "two passes",
    },
    "stream_replay": {
        "seed": "generates the events (values, keys, timestamps)",
        "loop": "closed", "clients": 1, "warmup": "two passes",
    },
}


#: end-to-end metrics (untraced): name -> unit. Every workload reports
#: every one; an "op" is one query (query_mix) or one non-empty trigger
#: (stream_replay), a "pass" one round over all of the workload's ops.
END_TO_END = {
    "setup_s": "s",              # process start to the first timed pass
    "pass_s": "s",               # median wall time of one pass
    "rows_per_s": "rows/s",      # input rows / summed op time
    "jvm_live_heap_mb": "MB",    # least JVM heap in use after a full GC
}

#: per-layer metrics (traced passes), per pass unless a ratio or peak:
#: name -> unit. A layer a workload does not reach reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "operators.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "jobs.count": "count",
    "jobs.wall_s": "s",
    "jobs.tasks": "count",
    "jobs.executor_run_s": "s",
    "jobs.executor_util": "ratio",
    "jobs.input_bytes": "bytes",
    "jobs.shuffle_write_bytes": "bytes",
    "jobs.unattributed": "count",
    "driver.tail_s": "s",
    "layers.sum_error": "ratio",
    "report.jb_report_s": "s",
    "memo.agg_row.calls": "count",
    "memo.agg_row.hit_ratio": "ratio",
    "memo.exprs.calls": "count",
    "memo.exprs.hit_ratio": "ratio",
    "spread.calls": "count",
    "spread.applied_ratio": "ratio",
    "spread.decide_s": "s",
    "overlap.calls": "count",
    "overlap.thunks": "count",
    "overlap.wall_s": "s",
    "stream.triggers": "count",
    "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.state_rows_peak": "count",
    "stream.state_mb_peak": "MB",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Op:
    """One timed operation. Times are epoch seconds."""
    name: str
    wall: float
    traced: bool
    rows: int = 0            # input rows the op processed
    pass_no: int = 0         # index into Result.passes
    group: str = ""
    t0: float = 0.0
    t1: float = 0.0          # operator call returned, collect starts
    t2: float = 0.0
    phases: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


@dataclass
class Pass:
    wall: float
    traced: bool
    window: tuple[float, float]      # epoch seconds


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)
    live_heap_mb: list[float] = field(default_factory=list)
    ref_s: list[float] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    warmup: list[float] = field(default_factory=list)
    layer: dict = field(default_factory=dict)

    def fail(self, name: str, why) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{name}: {why}")

    def slowdown(self, pass_no: int) -> float:
        """How much slower than the pinned host the host was just before
        the given timed pass: the median time of the reference jobs run
        then, over ``REF_NOMINAL_S``."""
        ref = self.ref_s[pass_no * REF_REPS:(pass_no + 1) * REF_REPS]
        return statistics.median(ref) / REF_NOMINAL_S


def reference_job(spark, cores: int) -> float:
    """Run the fixed plain-Spark job once; returns its wall time, s.

    Like a query of the mix it builds a frame column by column over py4j
    (an analysis per call), then runs a scan, an aggregate and a shuffle
    on every core and collects a small result, so host contention slows
    it the way it slows the workloads. It calls no engine code, and pins
    the session settings it depends on, so a change of the engine or of
    its session defaults does not move it."""
    from pyspark.sql import functions as F
    pinned = {"spark.sql.shuffle.partitions": str(cores),
              "spark.sql.adaptive.enabled": "false",
              "spark.sql.codegen.wholeStage": "true"}
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        t = time.perf_counter()
        df = spark.range(0, REF_ROWS, 1, cores)
        for i in range(REF_COLUMNS):
            df = df.withColumn(f"c{i}", (F.col("id") * (i + 7)) % 1009)
        rows = df.groupBy((F.col("id") % 64).alias("k")).agg(
            *[F.sum(f"c{i}") for i in range(REF_COLUMNS)]).collect()
        wall = time.perf_counter() - t
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if len(rows) != 64:
        raise RuntimeError(f"reference job returned {len(rows)} rows")
    return wall


class Harness:
    def __init__(self, spark, tracer: Tracer, *, seed: int, seconds: float,
                 traced: bool, work: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cores = self.sc.defaultParallelism
        self.view = SparkView(spark)
        self.pass_no = 0
        self._n = 0

    def settle(self) -> float:
        """Full GC in the Spark JVM; returns the heap then in use, MB. Run
        between passes so no collection of an earlier pass's garbage
        lands in a timed one. Python collects first, so that the JVM
        objects its dropped py4j proxies held are garbage too."""
        gc.collect()
        jvm = self.sc._jvm
        jvm.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def warm_up(self, run_pass, res: Result) -> None:
        """``WARMUP_PASSES`` untimed passes, each after ``REF_REPS``
        reference jobs (which warm up too)."""
        for _ in range(WARMUP_PASSES):
            for _ in range(REF_REPS):
                reference_job(self.spark, self.cores)
            t = time.perf_counter()
            run_pass()
            res.warmup.append(time.perf_counter() - t)
        self.settle()

    def passes(self, run_pass, res: Result) -> None:
        """The timed passes: ``TIMED_PASSES`` of them, then more while
        ``seconds`` have not elapsed (the metrics skip those). Each
        follows ``REF_REPS`` reference jobs, and a full GC follows each.
        A traced run orders its passes untraced, traced, traced,
        untraced."""
        start = time.perf_counter()
        while (len(res.passes) < TIMED_PASSES
               or time.perf_counter() - start < self.seconds):
            self.pass_no = len(res.passes)
            traced = self.traced and self.pass_no % 4 in (1, 2)
            res.ref_s += [reference_job(self.spark, self.cores)
                          for _ in range(REF_REPS)]
            self.tracer.enabled = traced
            t, lo = time.perf_counter(), time.time()
            run_pass(traced)
            res.passes.append(Pass(time.perf_counter() - t, traced,
                                   (lo, time.time())))
            self.tracer.enabled = False
            res.live_heap_mb.append(self.settle())

    def group(self, traced: bool) -> str:
        self._n += 1
        g = f"perfbench-op-{self._n}" if traced else ""
        if traced:
            self.sc.setJobGroup(g, g)
        return g

    def batch_op(self, name: str, call, traced: bool):
        """Time ``call()`` (the operator call) plus the collect of the
        frame it returns. Returns (Op, columns, rows)."""
        g = self.group(traced)
        self.tracer.op = g
        t0 = time.time()
        with self.tracer.span("op"):
            with self.tracer.span("operators.call"):
                df = call()
            t1 = time.time()
            with self.tracer.span("collect"):
                rows = df.collect()
        t2 = time.time()
        op = Op(name, t2 - t0, traced, pass_no=self.pass_no, group=g,
                t0=t0, t1=t1, t2=t2)
        if traced:
            op.phases = self.view.phases(df)
            self.sc.setJobGroup("perfbench-idle", "between operations")
        return op, df.columns, rows


# --------------------------------------------------------------------------
# per-layer accounting (traced passes)
# --------------------------------------------------------------------------

def _iv(job: dict):
    if job.get("submissionTime") is None or job.get("completionTime") is None:
        return None
    return job["submissionTime"] / 1000.0, job["completionTime"] / 1000.0


def batch_layers(op: Op, jobs: list[dict]) -> None:
    """Split a traced batch op's wall time into build, Catalyst, jobs and
    driver tail. Jobs and Catalyst are measured by Spark: the union of
    the intervals of the jobs in the op's job group, and the final plan's
    phase intervals outside any job, neither clipped to the op. Build and
    tail are what the driver spent in the operator call and in the
    collect outside those intervals. The four add up to the op's wall
    time exactly when all the Spark time attributed to the op lies
    inside it; ``layers.sum_error`` reports by how much they do not."""
    J = [iv for iv in map(_iv, jobs) if iv]
    C = list(op.phases.values())
    inf = float("inf")
    jobs_s = union_length(J, -inf, inf)
    cat_s = union_length(C, -inf, inf, minus=J)
    build = (op.t1 - op.t0) - union_length(J, op.t0, op.t1) \
        - union_length(C, op.t0, op.t1, minus=J)
    tail = (op.t2 - op.t1) - union_length(J, op.t1, op.t2) \
        - union_length(C, op.t1, op.t2, minus=J)
    op.layers = {"build": build, "catalyst": cat_s, "jobs": jobs_s,
                 "tail": tail}


def job_layers(res: Result, h: Harness, groups: set[str]) -> dict:
    """jobs.* and the wrapped layers' counters over the traced passes.
    The jobs counted are those of the given job groups (one per op, or
    one per streaming query) submitted during a traced pass; a job
    submitted then in any other group is unattributed."""
    tracer, cores = h.tracer, h.cores
    jobs, stages = h.view.jobs()

    def in_traced_pass(j) -> bool:
        t = j.get("submissionTime")
        return t is not None and any(
            p.window[0] <= t / 1000.0 <= p.window[1]
            for p in res.passes if p.traced)
    jobs = [j for j in jobs if in_traced_pass(j)]
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    by_group: dict[str, list] = {}
    for j in mine:
        by_group.setdefault(j["jobGroup"], []).append(j)
    for op in res.ops:
        if op.traced and op.t2:
            batch_layers(op, by_group.get(op.group, []))
    unattributed = [j for j in jobs if j.get("jobGroup") not in groups]
    stage_ids = {s for j in mine for s in j["stageIds"]}
    st = [stages[s] for s in stage_ids if s in stages]
    n = max(1, sum(p.traced for p in res.passes))
    wall = union_length([iv for iv in map(_iv, mine) if iv],
                        0.0, float("inf"))
    run_s = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
    c = tracer.counts

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0
    return {
        "jobs.count": len(mine) / n,
        "jobs.wall_s": wall / n,
        "jobs.tasks": sum(j.get("numCompletedTasks", 0) for j in mine) / n,
        "jobs.executor_run_s": run_s / n,
        "jobs.executor_util": run_s / (wall * cores) if wall else 0.0,
        "jobs.input_bytes": sum(s.get("inputBytes", 0) for s in st) / n,
        "jobs.shuffle_write_bytes":
            sum(s.get("shuffleWriteBytes", 0) for s in st) / n,
        "jobs.unattributed": len(unattributed),
        "sources.load_calls": c["sources.load.calls"] / n,
        "sources.load_s": tracer.self_time("sources.load") / n,
        "report.jb_report_s": tracer.self_time("report.jb_report") / n,
        "memo.agg_row.calls": c["memo.agg_row.calls"] / n,
        "memo.agg_row.hit_ratio": ratio("memo.agg_row.hits",
                                        "memo.agg_row.calls"),
        "memo.exprs.calls": c["memo.exprs.calls"] / n,
        "memo.exprs.hit_ratio": ratio("memo.exprs.hits", "memo.exprs.calls"),
        "spread.calls": c["spread.calls"] / n,
        "spread.applied_ratio": ratio("spread.applied", "spread.calls"),
        "spread.decide_s": tracer.self_time("spread") / n,
        "overlap.calls": c["overlap.calls"] / n,
        "overlap.thunks": c["overlap.thunks"] / n,
        "overlap.wall_s": tracer.self_time("overlap") / n,
    }


def _ms(d: dict, k: str) -> float:
    return float(d.get(k, 0) or 0)


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

def query_mix(h: Harness, res: Result, only: list[str] | None = None):
    """Generator of the workload's phases: yields once when set-up is done
    (the first timed op follows), then runs the timed passes and the
    correctness gate."""
    import __spark_entry__ as entry
    from flink_descriptive_stats_spark.functions.memo import clear_all_memos

    names = list(only or QUERY_MIX)
    queries, oracle = entry.queries(), entry.oracle_sql()
    outputs: dict[str, list] = {}
    tables = sorted(f[:-len(".parquet")] for f in os.listdir(MIX_DATA))
    n_rows = {t: pq.ParquetFile(os.path.join(MIX_DATA, f"{t}.parquet"))
              .metadata.num_rows for t in tables}
    res.inputs = {"files": len(tables), "rows": n_rows, "bytes": sum(
        os.path.getsize(os.path.join(MIX_DATA, f"{t}.parquet"))
        for t in tables)}

    def one_pass(traced: bool, timed: bool) -> None:
        clear_all_memos()          # a pass is a fresh session's worth
        for name in h.rng.sample(names, len(names)):
            try:
                op, cols, rows = h.batch_op(
                    name, lambda: queries[name](h.spark, MIX_DATA), traced)
            except Exception as e:      # counted, and the run goes on
                res.fail(name, e)
                continue
            if timed:
                op.rows = n_rows.get(QUERY_MIX.get(name), 0)
                res.ops.append(op)
                outputs.setdefault(name, []).append((cols, rows))

    h.warm_up(lambda: one_pass(False, False), res)
    yield
    h.passes(lambda traced: one_pass(traced, True), res)
    if h.traced:
        groups = {op.group for op in res.ops if op.traced}
        res.layer = job_layers(res, h, groups)
    con = check.duck({t: os.path.join(MIX_DATA, f"{t}.parquet")
                      for t in tables}, h.cores)
    for name in names:
        want = con.execute(oracle[name]).df()
        for cols, rows in outputs.get(name, []):
            res.attempted += 1
            bad = check.compare(cols, rows, want)
            if bad:
                res.failed += 1
                res.problems.append(f"{name}: {bad}")
    con.close()


# --------------------------------------------------------------------------
# stream_replay
# --------------------------------------------------------------------------

def stream_replay(h: Harness, res: Result):
    """Generator like :func:`query_mix`. Set-up starts the three
    streaming operators, each on a source directory of its own; they run
    for the whole workload. A pass writes the next ``STREAM_FILES``
    seeded event files (30 days of events, later than every earlier
    pass's), then for each operator in turn links them into its
    directory and drains it. An op is one non-empty trigger, timed by
    Spark's ``triggerExecution``."""
    from flink_descriptive_stats_spark.sources import tables
    from flink_descriptive_stats_spark.streaming import pipeline_stream as ps
    from flink_descriptive_stats_spark.streaming import profile_stream as pf

    names = ("windowed_profile", "streaming_exact_dedup",
             "start_constraint_monitor")
    stage = os.path.join(h.work, "stream_stage")     # every file so far
    ck = os.path.join(h.work, "stream_ck")
    src = {n: os.path.join(h.work, "stream_in", n) for n in names}
    for d in src.values():
        os.makedirs(d)
    replayed = []                    # the events written so far
    staged: list[str] = []           # and their files
    res.inputs = {"files": 0, "rows": 0, "bytes": 0, "per_pass": {
        "files": STREAM_FILES, "rows": STREAM_ROWS}}
    progress: list[tuple[dict, bool]] = []
    # an idle query lists its source directory every pollingDelay; at the
    # 10 ms default three idle queries keep a core busy between passes
    h.spark.conf.set("spark.sql.streaming.pollingDelay", "50ms")

    def write() -> None:
        """Write the next pass's files."""
        part = len(replayed)
        events = gen.events(STREAM_ROWS, h.seed, part)
        files = gen.write_parts(events, os.path.join(stage, str(part)),
                                STREAM_FILES, first=part * STREAM_FILES)
        res.inputs["files"] += len(files)
        res.inputs["rows"] += events.num_rows
        res.inputs["bytes"] += sum(map(os.path.getsize, files))
        replayed.append(events)
        staged.extend(files)

    def feed(name: str) -> None:
        """Link the files written last into ``name``'s source (a link
        keeps the file's mtime, which orders the stream)."""
        for f in staged[-STREAM_FILES:]:
            os.link(f, os.path.join(src[name], os.path.basename(f)))

    write()
    schema = h.spark.read.parquet(staged[0]).schema

    def stream(name: str):
        return tables.stream_table(h.spark, src[name], "events",
                                   schema=schema, maxFilesPerTrigger=1)

    def memory_sink(df, name: str):
        return (df.writeStream.format("memory").queryName(name)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(ck, name))
                .start())

    queries = {
        "windowed_profile": memory_sink(pf.windowed_profile(
            stream("windowed_profile"), window="6 hours",
            watermark="1 hour"), "wp"),
        "streaming_exact_dedup": memory_sink(ps.streaming_exact_dedup(
            stream("streaming_exact_dedup"), content_col="props",
            ts_col="ts", delay="1 hour"), "dd"),
        "start_constraint_monitor": ps.start_constraint_monitor(
            stream("start_constraint_monitor"), STREAM_RULES,
            os.path.join(ck, "cc_sink"),
            state_path=os.path.join(ck, "cc_state"),
            checkpoint_path=os.path.join(ck, "cc_ck")),
    }
    outputs = {
        "windowed_profile": lambda: h.spark.table("wp"),
        "streaming_exact_dedup": lambda: h.spark.table("dd").select("props"),
        "start_constraint_monitor":
            lambda: h.spark.read.parquet(os.path.join(ck, "cc_sink")),
    }
    seen = {name: -1 for name in queries}     # last batchId read
    broken: set[str] = set()

    n_pass = 0

    def one_pass(traced: bool, timed: bool) -> None:
        nonlocal n_pass
        if n_pass:                   # set-up wrote the first pass's files
            write()
        n_pass += 1
        for name, q in queries.items():
            if name in broken:
                continue
            try:
                feed(name)
                q.processAllAvailable()
            except Exception as e:      # counted, and the run goes on
                broken.add(name)
                res.fail(name, e)
                continue
            new = [p for p in q.recentProgress
                   if p and p["batchId"] > seen[name]]
            if new:
                seen[name] = max(p["batchId"] for p in new)
            if not timed:
                continue
            for p in new:
                progress.append((p, traced))
                if p["numInputRows"]:
                    res.ops.append(Op(
                        name, _ms(p["durationMs"], "triggerExecution") / 1e3,
                        traced, rows=p["numInputRows"], pass_no=h.pass_no))

    try:
        h.warm_up(lambda: one_pass(False, False), res)
        yield
        h.passes(lambda traced: one_pass(traced, True), res)
    finally:
        for q in queries.values():
            q.stop()
    if h.traced:
        groups = {str(q.runId) for q in queries.values()}
        res.layer = job_layers(res, h, groups)
        n = max(1, sum(p.traced for p in res.passes))
        tp = [p for p, t in progress if t]
        res.layer["stream.triggers"] = sum(
            1 for p in tp if p["numInputRows"]) / n
        for k in ("getBatch", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets"):
            res.layer[f"stream.{k}_ms"] = sum(
                _ms(p["durationMs"], k) for p in tp) / n
        states = [so for p in tp for so in p.get("stateOperators") or []]
        res.layer["stream.state_rows_peak"] = max(
            (so["numRowsTotal"] for so in states), default=0)
        res.layer["stream.state_mb_peak"] = max(
            (so["memoryUsedBytes"] for so in states), default=0) / 2**20

    # gate: each operator's output over every replayed event, against
    # DuckDB
    from flink_descriptive_stats_spark import oracle
    from flink_descriptive_stats_spark import oracle_pipeline as opl
    con = check.duck({"events": os.path.join(stage, "*", "*.parquet")},
                     h.cores)
    wm_us = int(replayed[-1].column("ts").to_numpy().max().astype("int64")) \
        - 3_600_000_000
    wants = {
        # append mode emits a window once the watermark (latest event
        # time less the 1 hour delay) has passed its end
        "windowed_profile": con.execute(
            f"SELECT * FROM ({oracle.windowed_profile_sql()}) "
            f"WHERE epoch_us(window_end) <= {wm_us}").df(),
        "streaming_exact_dedup": con.execute(
            "SELECT DISTINCT props FROM events").df(),
        "start_constraint_monitor": con.execute(
            opl.check_constraints_sql("events", STREAM_RULES)).df(),
    }
    for name, output in outputs.items():
        if name in broken:
            continue
        res.attempted += 1
        df = output()
        bad = check.compare(df.columns, df.collect(), wants[name])
        if bad:
            res.failed += 1
            res.problems.append(f"{name}: {bad}")
    con.close()


RUNNERS = {"query_mix": query_mix, "stream_replay": stream_replay}


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def counted(res: Result, traced: bool | None = None) -> list[int]:
    """Indices of the first ``TIMED_PASSES`` timed passes, only those
    with the given tracing state unless ``traced`` is None."""
    return [i for i, p in enumerate(res.passes[:TIMED_PASSES])
            if traced is None or p.traced == traced]


def end_to_end(res: Result, traced: bool | None) -> dict:
    """pass_s / rows_per_s in reference-host seconds (see
    ``REF_NOMINAL_S``), over the counted passes with the given tracing
    state (``None``: all of them).

    No per-op percentile: a pass's ops are a few kinds of very different
    cost, so the median op falls in the gap between two kinds and moves
    with the extreme op of one of them (its spread over seeds was twice
    that of ``pass_s``)."""
    idx = counted(res, traced)
    ops = [o for o in res.ops if o.pass_no in idx]
    slow = res.slowdown
    return {"pass_s": statistics.median(res.passes[i].wall / slow(i)
                                        for i in idx),
            "rows_per_s": sum(o.rows for o in ops)
            / sum(o.wall / slow(o.pass_no) for o in ops),
            "ops": len(ops)}


def overhead_ratio(res: Result) -> float:
    """Tracing overhead: median traced pass time over median untraced
    pass time (each scaled by its reference), less one. The ABBA order
    puts both at the same average point of warm-up."""
    def median_wall(traced):
        return statistics.median(res.passes[i].wall / res.slowdown(i)
                                 for i in counted(res, traced))
    return median_wall(True) / median_wall(False) - 1.0


def batch_layer_metrics(res: Result) -> dict:
    """Per-pass build / Catalyst / driver-tail time of the traced batch
    ops (over every traced pass, like :func:`job_layers`), the Catalyst phase durations, and the worst disagreement between
    an op's wall time and the sum of its layers."""
    ops = [o for o in res.ops if o.traced and o.layers]
    n = max(1, sum(p.traced for p in res.passes))
    out = {"operators.build_s": sum(o.layers["build"] for o in ops) / n,
           "driver.tail_s": sum(o.layers["tail"] for o in ops) / n}
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = 1e3 * sum(
            o.phases[ph][1] - o.phases[ph][0] for o in ops
            if ph in o.phases) / n
    out["layers.sum_error"] = max(
        (abs(sum(o.layers.values()) - o.wall) / o.wall for o in ops),
        default=0.0)
    return out
