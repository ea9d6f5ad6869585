"""Shared determinism helpers for exact-oracle operators (SURVEY.md §2B
"FP discipline").

Why not ``round()`` / ``CAST(.. AS DECIMAL)``: engines disagree on rare
rows. Spark casts double->decimal through Java BigDecimal's shortest
string representation (double-rounding), DuckDB through its own scaled
conversion; at sf0.01 this already produced a one-cent mismatch in a
60k-row sum. The only portable formulation is explicit integer
arithmetic spelled out identically on both sides:

* per-row fixed-point: ``FLOOR(x * 10000)`` — the multiply is a single
  IEEE-754 op (bit-identical in both engines), FLOOR is exact, and floor
  has no rounding ties.
* exact BIGINT sums (associative -> independent of partial-agg order).
* final half-up rounding as ``(S + 50) DIV 100`` — no library rounding
  rule involved.

Each helper returns a (spark_sql, duckdb_sql) pair from one template; the
only dialect difference is integer division (``div`` vs ``//``). Outputs
are DOUBLE (``cents / 100.0`` — exact for any |cents| < 2^52).

Scale bound: |x| * 10000 must stay below 2^53 per row (|x| < 9e11) and the
scaled BIGINT sum below 2^63 (~9.2e14 in value units) — comfortably true
for this schema even at SF 1000; beyond that, swap BIGINT for DECIMAL(38,0)
accumulators.
"""

from __future__ import annotations

import glob as _glob
import logging as _logging
import os as _os
import shutil as _shutil
import threading as _threading
import time as _time
import uuid as _uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCALE = 10000  # 4 implicit fractional digits of working precision


_STAGE_STALE_S = 3600  # a live concurrent build is minutes old, not hours


def new_stage(path: str) -> str:
    """Per-session-unique stage directory beside ``path`` for
    stage-then-rename store builds. A FIXED shared stage dir
    (``path + ".stage"``) lets two concurrent sessions building the same
    store interleave their overwrite writes inside the stage before
    either renames, so the rename winner can publish a mixed/partial
    store; the uuid suffix keeps each session's stage private while
    :func:`publish_store` keeps final-path atomicity.

    A build that crashes between write and publish leaks its uuid stage
    dir; retries never reuse the name, so scratch would grow unboundedly
    across crashed sessions. Reclaim here: any ``path.stage-*`` sibling
    whose mtime is older than an hour cannot be a live concurrent build
    and is removed before this build starts."""
    for old in _glob.glob(f"{path}.stage-*"):
        try:
            if _time.time() - _os.path.getmtime(old) > _STAGE_STALE_S:
                _shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass  # concurrent janitor already removed it
    return f"{path}.stage-{_uuid.uuid4().hex[:8]}"


def publish_store(stage: str, path: str) -> None:
    """Atomically publish ``stage`` as ``path`` via rename. On a lost
    race the winner's store has identical content (stores are pure
    functions of the fixture), so drop our stage dir instead of leaving
    it on disk permanently. A rename failure with NO winner on disk
    (permissions, stale mount) is a genuine error — swallowing it would
    hand the caller a path that does not exist and surface later as a
    confusing parquet-read failure — so it re-raises."""
    try:
        _os.rename(stage, path)
    except OSError:
        _shutil.rmtree(stage, ignore_errors=True)
        if not _os.path.exists(path):
            raise


"""In-flight cap for :func:`run_parallel` (guide §2.6: "2-3 jobs in
flight is plenty: enough to fill the tail, not so many that they fight
for executors"). Parameterised, never a local-core constant: the local
default (3) is the guide's number and the right shape on a shared
cluster too; a deployment with idle headroom can raise it per-env."""
PARALLEL_JOBS = max(1, int(_os.environ.get("SPARK_GRAFT_PARALLEL_JOBS", "3")))

_pool = None  # long-lived shared pool (round-11 ADVICE: per-batch pools
#               churn a JVM thread + py4j connection per short-lived
#               Python thread under pinned-thread mode; one module pool
#               reused across batches/appliers churns none)
_pool_lock = _threading.Lock()
_in_thunk = _threading.local()


def _shared_pool():
    global _pool
    with _pool_lock:
        if _pool is None:
            from concurrent.futures import ThreadPoolExecutor

            _pool = ThreadPoolExecutor(
                max_workers=PARALLEL_JOBS, thread_name_prefix="graft-par"
            )
        return _pool


def run_parallel(*thunks):
    """Run independent Spark actions concurrently from driver threads
    (optimization guide §2.6 "overlap independent jobs"). Actions are
    only sequential because driver code calls them sequentially; inside
    a foreachBatch micro-batch the per-gate state commits, the verdict
    write, and the per-gate fold compactions are independent jobs on
    batch-sized data whose scheduling/commit latency — not compute —
    dominates, so running them from a small thread pool collapses the
    batch wall from the SUM of the actions toward their MAX. Results
    return in thunk order.

    Concurrency contract (round-11 VERDICT #1/#4 + ADVICE):

    * **Bounded, globally.** All calls share ONE long-lived pool of
      ``PARALLEL_JOBS`` (default 3) workers — guide §2.6's 2-3 jobs in
      flight. A NESTED call (a thunk that itself calls ``run_parallel``)
      runs its thunks inline in the calling worker thread, so nesting
      can never multiply in-flight jobs past the cap (and the shared
      bounded pool cannot deadlock: workers never wait on the pool).
    * **Local-property inheritance.** Under py4j pinned-thread mode
      (PySpark 4.x default) each Python thread maps to its own JVM
      thread, so a plain pool thread starts with EMPTY Spark local
      properties — jobs launched from it would escape the streaming
      batch's job group (uncancellable) and lose the job description.
      Each task therefore clones the CALLER's local properties into the
      worker before running (InheritableThread semantics, done per-task
      because the pool threads are long-lived).
    * **FAIR-pool tagging.** Every overlapped job additionally sets
      ``spark.scheduler.pool=graft_overlap`` — a no-op under the default
      FIFO scheduler (local bench numbers stay comparable), and on a
      shared cluster running ``spark.scheduler.mode=FAIR`` it routes all
      overlap jobs into one pool so they share with other tenants
      instead of FIFO-starving them.
    * **No exception is dropped.** Every thunk runs to completion; the
      first (thunk-order) exception propagates after all finish, the
      rest are logged — a multi-failure micro-batch shows every
      traceback, not just the first.

    Scale note: this changes scheduling only — each job's plan, its
    shuffle layout, and every committed file's content are identical to
    the sequential form; concurrent jobs share the executors FIFO, which
    is exactly the back-fill behaviour the guide describes."""
    if len(thunks) == 1 or getattr(_in_thunk, "active", False):
        return [t() for t in thunks]

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    props = sc._jsc.sc().getLocalProperties().clone() if sc is not None else None

    def run(t):
        _in_thunk.active = True
        try:
            cur = SparkContext._active_spark_context
            if props is not None and cur is not None:
                cur._jsc.sc().setLocalProperties(props.clone())
                cur.setLocalProperty("spark.scheduler.pool", "graft_overlap")
            return t()
        finally:
            _in_thunk.active = False

    futures = [_shared_pool().submit(run, t) for t in thunks]
    results, errors = [], []
    for f in futures:
        try:
            results.append(f.result())
        except BaseException as exc:  # noqa: BLE001 — aggregated below
            results.append(None)
            errors.append(exc)
    if errors:
        for extra in errors[1:]:
            _logging.getLogger(__name__).error(
                "run_parallel: additional thunk failure (suppressed by "
                "the first): %r",
                extra,
            )
        raise errors[0]
    return results


def _round_cents(S: str, div: str) -> str:
    """Half-up rounding of a scale-4 integer ``S`` to cents, sign-symmetric.

    Written with positive-only division so Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree.
    """
    return (
        f"CAST((CASE WHEN {S} >= 0 THEN ({S} + 50) {div} 100 "
        f"ELSE -((-({S}) + 50) {div} 100) END) AS DOUBLE) / 100.0"
    )


def sum2_sql(expr: str, alias: str) -> tuple[str, str]:
    """Deterministic SUM(expr) rounded to 2 decimals, as (spark, duckdb) SQL."""
    S = f"SUM(CAST(FLOOR(({expr}) * {_SCALE}) AS BIGINT))"
    return tuple(
        f"{_round_cents(S, div)} AS {alias}" for div in ("div", "//")
    )  # type: ignore[return-value]


def avg2_sql(expr: str, alias: str) -> tuple[str, str]:
    """Deterministic AVG(expr) rounded to 2 decimals, as (spark, duckdb) SQL.

    avg = S / (10000 * n); half-up to cents in integer domain:
    cents = (2*S + 100*n) DIV (200*n) for S >= 0 (mirrored for S < 0).
    """
    out = []
    for div in ("div", "//"):
        S = f"SUM(CAST(FLOOR(({expr}) * {_SCALE}) AS BIGINT))"
        n = "COUNT(*)"
        pos = f"(2 * ({S}) + 100 * {n}) {div} (200 * {n})"
        neg = f"-((-2 * ({S}) + 100 * {n}) {div} (200 * {n}))"
        out.append(
            f"CAST((CASE WHEN {S} >= 0 THEN {pos} ELSE {neg} END) AS DOUBLE)"
            f" / 100.0 AS {alias}"
        )
    return tuple(out)  # type: ignore[return-value]


def round2_sql(expr: str, alias: str) -> tuple[str, str]:
    """Deterministic per-row round-to-2-decimals (half-up for positives),
    as (spark, duckdb) SQL: ``FLOOR(x*100 + 0.5) / 100.0`` — identical
    IEEE ops in both engines, no library rounding."""
    s = (
        f"CAST(CAST(FLOOR(({expr}) * 100 + 0.5) AS BIGINT) AS DOUBLE)"
        f" / 100.0 AS {alias}"
    )
    return (s, s)


def sum2(expr: str, alias: str) -> Column:
    """Spark Column for :func:`sum2_sql` (use inside ``.agg``)."""
    return F.expr(sum2_sql(expr, alias)[0].rsplit(" AS ", 1)[0]).alias(alias)


def avg2(expr: str, alias: str) -> Column:
    """Spark Column for :func:`avg2_sql` (use inside ``.agg``)."""
    return F.expr(avg2_sql(expr, alias)[0].rsplit(" AS ", 1)[0]).alias(alias)


def round2(expr: str, alias: str) -> Column:
    """Spark Column for :func:`round2_sql`."""
    return F.expr(round2_sql(expr, alias)[0].rsplit(" AS ", 1)[0]).alias(alias)


def epoch_s(col: Column | str, alias: str) -> Column:
    """Timestamp -> epoch seconds BIGINT (floor), safe to hash cross-engine
    (Spark sees µs precision, DuckDB ns; floor-to-second is stable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_unix_timestamp(c).cast("bigint").alias(alias)


def oracle_epoch(expr: str, alias: str) -> str:
    """DuckDB SQL twin of :func:`epoch_s`. ``epoch_ns(..) // 1e9`` stays in
    integer domain — ``date_part('epoch', ..)`` would return fractional
    DOUBLE seconds on ns timestamps."""
    return f"(epoch_ns({expr}) // 1000000000) AS {alias}"
