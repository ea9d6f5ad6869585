"""The workloads. Each drives the engine through its public entry
points only and returns an :class:`Outcome`.

Every workload reports the same end-to-end metrics (``END_TO_END`` in
``run.py``); what one "request" is differs by workload (README.md). In a
traced run, units of work alternate between probed and unprobed, so the
run measures its own tracing overhead.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field
from types import SimpleNamespace

import numpy as np

import gen
import tables
from probes import (
    CatalystProbe,
    JobCounter,
    ProgressProbe,
    Tracer,
    dir_bytes,
    median,
    newest_versions,
    pct,
    phase_metrics,
)

# ops_pipeline: a streaming gate, the upsert/DLQ stream, the exact-cosine
# dedup and a store refresh, the code ROADMAP D2-D5 change. Chosen so that
# a run fits the benchmark's budget on 4 cores (README.md lists the keys
# left out, and why stream_dedup_minhash is one of them).
PIPELINE_KEYS = [
    "stream_semantic_dedup_ingest",
    "stream_upsert_dlq",
    "ext_semantic_dedup",
    "maintenance_signature_refresh",
]
SF = 0.1
# Passes per ops_pipeline run, at least: three give each key a median of
# three, and a traced run both probed and unprobed passes.
MIN_PASSES = 3

# cdc_tail sizing: the offered rate is fixed, well below what the seed
# code sustains with this state size.
TAIL_RATE = 2_000
TAIL_CADENCE_MS = 250
TAIL_PRELOAD_KEYS = 100_000
TAIL_KEYS = 105_000
TAIL_PRELOAD_MERGES = 3
TAIL_WARM_S = 12.0
# the generator's first file is due this long after the stream starts
TAIL_DELAY_S = 1.5
# An open-loop run whose generator ran later than this is invalid.
LATE_MAX_S = 1.0
LATE_P99_S = 0.25
# The kernel writes a dirty page back about 30 s after it was dirtied
# (vm.dirty_expire_centisecs). On ext4 mounted with ``discard``, that
# write-back, and the trim that follows when a written-back file is then
# deleted, stall the merges for 1-3 s. Set-up is synced just before the
# stream starts, so a window that ends this long after the sync sees no
# write-back (README.md, "Page cache").
TAIL_CLEAN_S = 28.0


class InvalidRun(RuntimeError):
    """The run cannot be scored (the load generator missed its schedule)."""


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    p50_ms: float = 0.0
    p90_ms: float = 0.0
    setup_end: float = 0.0
    # time before setup_end spent on the benchmark's own work (input
    # generation, the oracle side of checks), left out of setup_s
    unscored_s: float = 0.0
    notes: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    tracer: Tracer
    layers: dict[str, float]


def settle(spark=None) -> float:
    """Write everything set-up dirtied back to disk now, so that its
    write-back does not land in the timed region. With ``spark``, first a
    full JVM GC, so that Spark's ContextCleaner deletes the shuffle files
    of set-up jobs instead of writing them. Benchmark hygiene, not the
    program's set-up: returns the seconds taken, which set-up time leaves
    out."""
    t = time.time()
    if spark is not None:
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.3)  # the cleaner deletes asynchronously
    os.sync()
    return time.time() - t


def overhead_pct(probed: list[float], plain: list[float]) -> float:
    if not probed or not plain:
        return 0.0
    return (median(probed) / median(plain) - 1.0) * 100.0


# ----------------------------------------------------------- ops_pipeline --


def run_ops_pipeline(ctx: Ctx) -> Outcome:
    """Closed loop over ``PIPELINE_KEYS``, whole passes until ``--seconds``
    have passed, at least ``MIN_PASSES``. A request is one pass; its time is
    reported as the sum of each key's median invocation."""
    from mongodb_cdc_spark.registry import QUERIES

    spark, tracer, out = ctx.spark, ctx.tracer, Outcome()
    keys = PIPELINE_KEYS
    data = os.path.join(ctx.run_dir, "data")
    with tracer.span("setup.inputs", "setup"):
        t = time.time()
        tables.generate(ctx.seed, SF, data)
        settle()
        ctx.layers["setup.inputs_s"] = out.unscored_s = time.time() - t

    # Warm-up pass: the program's own set-up (store builds, JIT and scan
    # caches), one cold invocation per key, which is also the run's
    # correctness gate. The DuckDB oracle side of the check is the
    # benchmark's work, timed apart and left out of setup_s. The JIT is
    # still compiling during the first timed passes; each key's median
    # over at least three passes keeps that out of p50_ms.
    with tracer.span("setup.stores", "setup"):
        t, unscored = time.time(), out.unscored_s
        out.failed += check_keys(spark, keys, data, out)
        out.attempted += len(keys)
        ctx.layers["setup.stores_s"] = time.time() - t - (out.unscored_s - unscored)
    # The warm-up pass's stores and outputs are written back now, and its
    # shuffle files deleted first; neither is the program's set-up cost.
    out.unscored_s += settle(spark)

    jobs = JobCounter(spark) if ctx.trace else None
    catalyst = CatalystProbe(spark) if ctx.trace else None
    progress = ProgressProbe() if ctx.trace else None
    if progress is not None:
        spark.streams.addListener(progress)

    pass_s = {False: [], True: []}
    all_passes: list[float] = []
    per_key: dict[str, list[float]] = {k: [] for k in keys}
    probed_key: dict[str, list[float]] = {k: [] for k in keys}
    probe_rows: list[dict[str, float]] = []
    out.setup_end = time.time()
    n = 0
    passes = 0
    while passes < MIN_PASSES or time.time() - out.setup_end < ctx.seconds:
        probed = ctx.trace and passes % 2 == 1
        tracer.on = probed
        if probed:
            catalyst.register()
        t_pass = time.time()
        for key in keys:
            n += 1
            out.attempted += 1
            try:
                dt, row = invoke(spark, QUERIES[key], key, data, f"pb-{n}", tracer, jobs, catalyst if probed else None)
            except Exception as exc:
                out.failed += 1
                out.notes.append(f"{key} raised: {exc!r}"[:300])
                continue
            per_key[key].append(dt)
            if probed:
                probed_key[key].append(dt)
                probe_rows.append(row)
        pass_s[probed].append(time.time() - t_pass)
        all_passes.append(pass_s[probed][-1])
        if probed:
            catalyst.unregister()
        passes += 1
    tracer.on = False
    out.p50_ms = sum(median(v) for v in per_key.values()) * 1000
    out.p90_ms = pct(all_passes, 0.90) * 1000
    out.notes.append(
        f"{passes} passes, pass_s={[round(p, 3) for p in all_passes]}, key medians_s="
        + str({k: round(median(v), 3) for k, v in per_key.items()})
    )

    if ctx.trace:
        col = lambda name: [r[name] for r in probe_rows]  # noqa: E731
        mean = lambda name: float(np.mean(col(name))) if probe_rows else 0.0  # noqa: E731
        ctx.layers.update(
            {
                "registry.build_ms": median(col("build_ms")),
                "registry.build_jobs": mean("build_jobs"),
                "catalyst.analysis_ms": median(col("analysis_ms")),
                "catalyst.optimization_ms": median(col("optimization_ms")),
                "catalyst.planning_ms": median(col("planning_ms")),
                "exec.run_ms": median(col("run_ms")),
                "exec.jobs": mean("jobs"),
                "exec.stages": mean("stages"),
                "exec.tasks": mean("tasks"),
                # the first pass (unprobed) still runs while the JIT compiles
                "trace.overhead_pct": overhead_pct(pass_s[True], pass_s[False][1:]),
            }
        )
        ctx.layers.update(phase_metrics(progress.batches()))
        spark.streams.removeListener(progress)
        for key, v in probed_key.items():
            ctx.layers[f"operators.{key}.ms"] = median(v) * 1000
    return out


class TimedCon:
    """A DuckDB connection whose queries (execute and fetch) are timed, so
    that the oracle's share of a check can be left out of set-up time."""

    def __init__(self, con) -> None:
        self.con = con
        self.seconds = 0.0

    def execute(self, sql: str):
        t = time.time()
        df = self.con.execute(sql).df()
        self.seconds += time.time() - t
        return SimpleNamespace(df=lambda: df)


def check_keys(spark, keys: list[str], data: str, out: Outcome) -> int:
    """Run each key once and hash-check it against its DuckDB oracle
    (rows-only for a key without one). Returns the keys that differ or
    raised; the oracle's time goes to ``out.unscored_s``."""
    from mongodb_cdc_spark.registry import ORACLES, QUERIES
    from mongodb_cdc_spark.testing import driver_strict_compare, duckdb_connect

    failed = 0
    t = time.time()
    raw = duckdb_connect(data)
    raw.execute(f"SET threads = {os.environ['SPARK_GRAFT_CPUS']}")
    con = TimedCon(raw)
    out.unscored_s += time.time() - t
    try:
        for key in keys:
            try:
                if key in ORACLES:
                    rep = driver_strict_compare(spark, key, data, con)
                    if not rep.ok:
                        out.notes.append(f"oracle mismatch: {rep}")
                        failed += 1
                else:
                    QUERIES[key](spark, data).count()
            except Exception as exc:  # a failing key is counted, not fatal
                out.notes.append(f"{key} raised: {exc!r}"[:300])
                failed += 1
    finally:
        raw.close()
    out.unscored_s += con.seconds
    return failed


def invoke(spark, fn, key, data, group, tracer, jobs, catalyst):
    """One timed invocation: build the DataFrame, then run it to the noop
    sink. With ``catalyst`` set, also read the layer probes."""
    if catalyst is not None:
        jobs.set_group(group)
    with tracer.span("ops.invoke", f"{key}#{group}") as root:
        t0 = time.time()
        with tracer.span("registry.build") as build:
            df = fn(spark, data)
        t1 = time.time()
        if catalyst is not None:
            # jobs submitted before the build returned belong to the build
            # (eager keys run work inside the call); not timed
            catalyst.wait_bus()
            build_jobs = len(jobs.job_ids(group))
        t1b = time.time()
        with tracer.span("exec.run") as run:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    dt = (t1 - t0) + (t2 - t1b)
    if catalyst is None:
        return dt, {}
    n_jobs, n_stages, n_tasks = jobs.counts(group)
    jobs.clear_group()
    phases = [CatalystProbe.phases(df._jdf.queryExecution())] + catalyst.drain()
    sums = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for ph in phases:
        for name, (lo, hi) in ph.items():
            sums[name] = sums.get(name, 0.0) + (hi - lo) * 1000
            parent = build if lo < t1 else run
            tracer.add(f"catalyst.{name}", root["trace"], lo, hi, parent["id"])
    return dt, {
        "build_ms": (t1 - t0) * 1000,
        "run_ms": (t2 - t1b) * 1000,
        "build_jobs": build_jobs,
        "analysis_ms": sums["analysis"],
        "optimization_ms": sums["optimization"],
        "planning_ms": sums["planning"],
        "jobs": n_jobs,
        "stages": n_stages,
        "tasks": n_tasks,
    }


# --------------------------------------------------------------- cdc_tail --


class ProbedTarget:
    """``MergeTarget`` wrapper: times the delegated ``merge_batch``. When ``probe_on``
    says so for an epoch, it also counts the batch's jobs and tasks (the
    stream's job group) and sizes what the merge wrote on disk. Each call is
    also timed whole, probes included, for the tracing overhead."""

    def __init__(self, inner, tracer: Tracer, jobs: JobCounter | None, probe_on):
        self.inner = inner
        self.tracer = tracer
        self.jobs = jobs
        self.probe_on = probe_on
        self.batches: list[dict] = []

    def merge_batch(self, batch, epoch_id: int) -> None:
        call_start = time.time()
        probed = self.jobs is not None and self.probe_on(epoch_id)
        self.tracer.on = probed
        rec = {"epoch": epoch_id, "probed": probed}
        if probed:
            group = batch.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id")
            before_jobs = set(self.jobs.job_ids(group))
            before_versions = newest_versions(self.inner.path)
        with self.tracer.span("upsert.merge", f"batch-{epoch_id}") as span:
            t0 = time.time()
            self.inner.merge_batch(batch, epoch_id)
            t1 = time.time()
        rec.update(start=t0, end=t1)
        if probed:
            rec["span"] = span["id"]
            new_jobs = [j for j in self.jobs.job_ids(group) if j not in before_jobs]
            n_jobs, _, tasks = self.jobs.totals(new_jobs)
            after = newest_versions(self.inner.path)
            touched = [b for b, v in after.items() if before_versions.get(b) != v]
            rec.update(
                jobs=n_jobs,
                tasks=tasks,
                buckets=len(touched),
                bytes=sum(dir_bytes(os.path.join(self.inner.path, b, after[b])) for b in touched),
            )
        rec["call_s"] = time.time() - call_start
        self.batches.append(rec)


def batch_files(ckpt: str) -> dict[int, list[str]]:
    """Change-event files of each micro-batch, read from the file source's
    metadata log in the query checkpoint (``sources/0``)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out: dict[int, list[str]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines:
            e = json.loads(line)
            out.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    return {b: sorted(set(fs)) for b, fs in out.items()}


def attach_files(batches: list[dict], ckpt: str) -> None:
    files = batch_files(ckpt)
    for b in batches:
        b["files"] = files.get(b["epoch"], [])


def state_mismatches(spark, target, expected_path: str) -> int:
    """Keys whose replicated row differs from the generator's expected row
    (missing on either side counts)."""
    from pyspark.sql import functions as F

    cur = target.current(spark)
    exp = spark.read.parquet(expected_path)
    if cur is None:
        return exp.count()
    cols = [c for c in exp.columns if c != "_id"]
    j = cur.alias("c").join(exp.alias("e"), "_id", "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"c.{c}").eqNullSafe(F.col(f"e.{c}"))
    return j.filter(~same).count()


def listener_mismatches(report, counts: dict) -> int:
    r = report
    return (
        abs(r.total_inserts - counts["inserts"])
        + abs(r.total_updates - counts["updates"])
        + abs(r.total_deletes_dropped - counts["deletes"])
    )


def wait_listener(spark, report, events: int, timeout_s: float = 20.0) -> None:
    deadline = time.time() + timeout_s
    while report.total_events < events and time.time() < deadline:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(2_000)
        time.sleep(0.05)


def cdc_layers(ctx: Ctx, progress: ProgressProbe, batches: list[dict], events_per_file: int,
               backlog_max: float, target_path: str) -> None:
    """Per-layer metrics of the CDC path from probed batches."""
    prog = progress.batches()
    ctx.layers.update(phase_metrics(prog))
    merge_ms = [(b["end"] - b["start"]) * 1000 for b in batches]
    ev = [len(b["files"]) * events_per_file for b in batches]
    ctx.layers.update(
        {
            "upsert.merge_ms.p50": median(merge_ms),
            "upsert.merge_ms.p95": pct(merge_ms, 0.95),
            "upsert.jobs_per_batch": float(np.mean([b["jobs"] for b in batches])) if batches else 0.0,
            "upsert.tasks_per_batch": float(np.mean([b["tasks"] for b in batches])) if batches else 0.0,
            "upsert.buckets_touched_per_batch": float(np.mean([b["buckets"] for b in batches])) if batches else 0.0,
            "upsert.bytes_written_per_event": sum(b["bytes"] for b in batches) / max(1, sum(ev)),
            "changefeed.backlog_files_max": float(backlog_max),
        }
    )
    vers = newest_versions(target_path)
    ctx.layers["upsert.state_mb"] = sum(
        dir_bytes(os.path.join(target_path, b, v)) for b, v in vers.items()
    ) / 1e6
    # Lay the streaming phases out as spans, parent of the measured merge.
    by_batch = {b["epoch"]: b for b in batches}
    for p in prog:
        d = p.get("durationMs", {})
        start = _iso_epoch(p["timestamp"])
        trace = f"batch-{p['batchId']}-{p['runId'][:8]}"
        ctx.tracer.on = True
        ctx.tracer.add("pipeline.trigger", trace, start, start + d.get("triggerExecution", 0) / 1000, None)
        root = ctx.tracer.spans[-1]["id"]
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            dur = d.get(phase, 0) / 1000
            ctx.tracer.add(f"pipeline.{phase}", trace, t, t + dur, root)
            if phase == "addBatch" and p["batchId"] in by_batch and "span" in by_batch[p["batchId"]]:
                sid = by_batch[p["batchId"]]["span"]
                for s in ctx.tracer.spans:
                    if s["id"] == sid:
                        s["parent"] = ctx.tracer.spans[-1]["id"]
                        s["trace"] = trace
            t += dur
        ctx.tracer.on = False


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run_cdc_tail(ctx: Ctx) -> Outcome:
    from mongodb_cdc_spark.streaming.monitor import CDCHealthListener
    from mongodb_cdc_spark.streaming.pipeline import new_scratch_dir, start_cdc_replication
    from mongodb_cdc_spark.streaming.upsert import ParquetUpsertTarget, upsert_projection
    from mongodb_cdc_spark.sources.changefeed import EVENT_SCHEMA

    out, spark = Outcome(), ctx.spark
    data = os.path.join(ctx.run_dir, "data")
    with ctx.tracer.span("setup.inputs", "setup"):
        t = time.time()
        preload = gen.write_preload(ctx.seed, data, TAIL_KEYS, TAIL_PRELOAD_KEYS, TAIL_PRELOAD_MERGES)
        os.makedirs(os.path.join(data, "events"), exist_ok=True)
        ctx.layers["setup.inputs_s"] = out.unscored_s = time.time() - t
    target_path = new_scratch_dir("bench_target")
    inner = ParquetUpsertTarget(target_path)
    with ctx.tracer.span("setup.preload", "setup"):
        t = time.time()
        # Several merges, not one: they also take the merge path through
        # its JIT warm-up against a growing, realistic state.
        for i, path in enumerate(preload):
            pre = spark.read.schema(EVENT_SCHEMA).parquet(path)
            inner.merge_batch(upsert_projection(pre), i)
        ctx.layers["setup.preload_s"] = time.time() - t
    # The stream's first two merges prune the preload's synced state
    # versions and stall on the trim; the warm-up absorbs that.
    out.unscored_s += settle(spark)

    jobs = JobCounter(spark) if ctx.trace else None
    progress = ProgressProbe() if ctx.trace else None
    target = ProbedTarget(inner, ctx.tracer, jobs, lambda e: e % 2 == 1)
    health = CDCHealthListener()
    spark.streams.addListener(health)
    if progress is not None:
        spark.streams.addListener(progress)
    ev_dir = os.path.join(data, "events")
    ckpt = new_scratch_dir("bench_ckpt")
    q = start_cdc_replication(
        spark, ev_dir, target, ckpt,
        available_now=False, processing_time="0 seconds", max_files_per_trigger=100_000,
    )
    out.setup_end = time.time()
    duration = TAIL_WARM_S + ctx.seconds
    n_files = int(duration * 1000 // TAIL_CADENCE_MS)
    per_file = TAIL_RATE * TAIL_CADENCE_MS // 1000
    start_at = time.time() + TAIL_DELAY_S
    if TAIL_DELAY_S + duration > TAIL_CLEAN_S:
        out.notes.append(f"window ends {TAIL_DELAY_S + duration:.1f} s after set-up was synced, "
                         f"past {TAIL_CLEAN_S:.0f} s: page-cache write-back may stall it")
    here = os.path.dirname(os.path.abspath(__file__))
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "gen.py"), "tail", "--seed", str(ctx.seed),
         "--out", data, "--rate", str(TAIL_RATE), "--cadence-ms", str(TAIL_CADENCE_MS),
         "--duration-s", str(duration), "--start-at", repr(start_at),
         "--keys", str(TAIL_KEYS), "--preload-keys", str(TAIL_PRELOAD_KEYS)],
    )
    backlog: list[tuple[float, int]] = []
    try:
        # The generator keeps its schedule whatever the stream does; here we
        # only watch the backlog (files written, not yet in a merged batch).
        while gen_proc.poll() is None:
            if q.exception() is not None:
                break
            written = sum(1 for f in os.listdir(ev_dir) if not f.startswith("."))
            files = batch_files(ckpt)
            merged = sum(len(files.get(b["epoch"], [])) for b in list(target.batches))
            backlog.append((time.time(), written - merged))
            time.sleep(0.2)
        gen_proc.wait(timeout=60)
        with open(os.path.join(data, "report.json")) as f:
            report = json.load(f)
        # Drain: every written file merged and its batch's progress (with
        # the op counters) delivered to the health listener.
        deadline = time.time() + 60
        while q.exception() is None and time.time() < deadline:
            files = batch_files(ckpt)
            if sum(len(files.get(b["epoch"], [])) for b in list(target.batches)) >= n_files:
                break
            time.sleep(0.1)
        wait_listener(spark, health.report, report["events"])
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        q.stop()
    ctx.tracer.on = False

    attach_files(target.batches, ckpt)
    if report["late_max_s"] > LATE_MAX_S or report["late_p99_s"] > LATE_P99_S:
        raise InvalidRun(
            f"generator ran late (max {report['late_max_s']:.3f} s, "
            f"p99 {report['late_p99_s']:.3f} s)"
        )
    out.attempted = report["events"]
    if q.exception() is not None:
        out.failed = report["events"]
        out.notes.append(f"stream raised: {q.exception()}"[:300])
    else:
        out.failed = state_mismatches(spark, inner, os.path.join(data, "expected.parquet"))
        out.failed += listener_mismatches(health.report, report)
    spark.streams.removeListener(health)

    # Lag of each event due inside the measured window: from its due time
    # to the return of the merge_batch call that committed its file.
    window_lo = start_at + TAIL_WARM_S
    window_hi = window_lo + ctx.seconds
    offsets = np.arange(per_file) / TAIL_RATE
    lags = []
    for b in target.batches:
        for name in b["files"]:
            k = int(name.split("-")[1].split(".")[0])
            due = start_at + k * TAIL_CADENCE_MS / 1000 + offsets
            lags.append(b["end"] - due[due >= window_lo])
    lags = np.concatenate(lags) if lags else np.zeros(0)
    out.p50_ms = median(lags) * 1000
    out.p90_ms = pct(lags, 0.90) * 1000
    # Keep-up check, not a score: events committed per second inside the
    # window (the slope over commit times) stays at the offered rate while
    # the engine keeps up.
    inside = [b for b in target.batches if window_lo <= b["end"] < window_hi]
    commit_eps = 0.0
    if len(inside) > 1:
        done = np.cumsum([len(b["files"]) * per_file for b in inside])
        commit_eps = float(np.polyfit([b["end"] for b in inside], done, 1)[0])
    # A backlog that does not grow: its peak in the window's second half is
    # no higher than in the first.
    mid = window_lo + ctx.seconds / 2
    halves = [max((n for t, n in backlog if lo <= t < hi), default=0)
              for lo, hi in ((window_lo, mid), (mid, window_hi))]
    backlog_max = max((n for _, n in backlog), default=0)
    out.notes.append(
        f"{len(target.batches)} batches, committed {commit_eps:.0f} events/s "
        f"(offered {TAIL_RATE}), backlog_files_max={backlog_max} "
        f"(window halves {halves[0]} -> {halves[1]}), "
        f"generator late max={report['late_max_s']:.3f}s p99={report['late_p99_s']:.3f}s"
    )
    if ctx.trace:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        spark.streams.removeListener(progress)
        probed = [b for b in target.batches if b["probed"]]
        plain = [b for b in target.batches if not b["probed"]]
        cdc_layers(ctx, progress, probed, per_file, backlog_max, target_path)
        # whole foreachBatch calls, probe work included
        ctx.layers["trace.overhead_pct"] = overhead_pct(
            [b["call_s"] for b in probed], [b["call_s"] for b in plain]
        )
    return out


WORKLOADS = {
    "cdc_tail": run_cdc_tail,
    "ops_pipeline": run_ops_pipeline,
}
