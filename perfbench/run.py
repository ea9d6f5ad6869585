#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_tail --seed 3 --seconds 10 --trace 0

Runs one workload (``cdc_tail`` or ``ops_pipeline``) against the engine in the checkout that contains this
file, checks its outputs, and prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics and writes the run's spans to
``.perfbench/spans/<workload>-seed<n>.jsonl``.

Each run works in a fresh directory under ``.perfbench/`` (engine scratch,
Spark local dirs, generated inputs) and removes it before exiting.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
}


def layer_names(pipeline_keys: list[str]) -> dict[str, str]:
    names = {
        "memory.peak_rss_mb": "MB",
        "session.start_s": "s",
        "registry.load_s": "s",
        "setup.inputs_s": "s",
        "setup.stores_s": "s",
        "setup.preload_s": "s",
        "changefeed.offset_ms": "ms",
        "changefeed.backlog_files_max": "count",
        "changefeed.rows_per_batch": "count",
        "pipeline.batches": "count",
        "pipeline.plan_ms": "ms",
        "pipeline.log_ms": "ms",
        "pipeline.trigger_ms.p50": "ms",
        "pipeline.trigger_ms.p95": "ms",
        "upsert.merge_ms.p50": "ms",
        "upsert.merge_ms.p95": "ms",
        "upsert.jobs_per_batch": "count",
        "upsert.tasks_per_batch": "count",
        "upsert.buckets_touched_per_batch": "count",
        "upsert.bytes_written_per_event": "B",
        "upsert.state_mb": "MB",
        "registry.build_ms": "ms",
        "registry.build_jobs": "count",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "exec.run_ms": "ms",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
    }
    names.update({f"operators.{k}.ms": "ms" for k in pipeline_keys})
    names.update({"trace.overhead_pct": "%", "trace.spans": "count"})
    return names


def isolate(run_dir: str) -> None:
    """Point every scratch location of the engine, Spark and the JVM into
    ``run_dir``, and let Spark's Python workers import the engine."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # A fixed, modest driver heap: peak RSS then tracks what the workload
    # needs rather than how far the collector let an 8 GB heap grow.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    tmp_opt = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {tmp_opt}".strip()
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes), and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-cdc-engine benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["cdc_tail", "ops_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mongodb_cdc_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    isolate(run_dir)

    from probes import Tracer, peak_rss_mb
    from workloads import PIPELINE_KEYS, WORKLOADS, Ctx, InvalidRun

    tracer = Tracer()
    tracer.on = bool(a.trace)
    layers: dict[str, float] = {}
    spark = None
    try:
        with tracer.span("session.start", "setup"):
            t = time.time()
            from mongodb_cdc_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{a.workload}")
            layers["session.start_s"] = time.time() - t
        with tracer.span("registry.load", "setup"):
            t = time.time()
            from mongodb_cdc_spark.registry import load_all_operators

            load_all_operators()
            layers["registry.load_s"] = time.time() - t
        ctx = Ctx(spark, a.seed, a.seconds, bool(a.trace), run_dir, tracer, layers)
        try:
            out = WORKLOADS[a.workload](ctx)
        except InvalidRun as exc:
            print(f"run invalid, not scored: {exc}", file=sys.stderr)
            return 3
        layers["memory.peak_rss_mb"] = peak_rss_mb(spark)
    finally:
        tracer.on = False
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {
        "setup_s": out.setup_end - T_PROCESS - out.unscored_s,
        "p50_ms": out.p50_ms,
    }
    if a.trace:
        spans = tracer.write(os.path.join(base, "spans", f"{a.workload}-seed{a.seed}.jsonl"))
        layers["trace.spans"] = float(len(spans))
        out.notes.append(f"{len(spans)} spans, min self_ms "
                         f"{min((s['self_ms'] for s in spans), default=0.0):.3f}")
    error_rate = out.failed / out.attempted if out.attempted else 1.0
    for note in out.notes:
        print(f"# {a.workload}: {note}")
    print(f"# {a.workload}: error_rate={error_rate:.6f} "
          + " ".join(f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items())
          + f" p90_ms={out.p90_ms:.4f} ms peak_rss_mb={layers['memory.peak_rss_mb']:.1f} MB")
    if a.trace:
        names = layer_names(PIPELINE_KEYS)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in names.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
