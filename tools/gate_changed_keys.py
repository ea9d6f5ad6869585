"""Pre-commit behavior-freeze check: gate-sim every registered key whose
implementing file changed since a git ref (default HEAD).

The round-4 lesson, generalized (VERDICT r4, item 5): an operator with a
green driver row must never be committed with changed behavior unless it is
re-verified — a stale green row is worse than no row. This wrapper makes
that a one-liner in the dev loop:

    python tools/gate_changed_keys.py              # vs HEAD, sf0.01 + sf0.1
    python tools/gate_changed_keys.py --ref HEAD~3 # vs an older ref
    python tools/gate_changed_keys.py --sf /root/testdata/sf0.01  # one SF

Mechanics: each registered callable's ``__code__.co_filename`` names the
module that implements it; any key whose file appears in
``git diff --name-only <ref>`` is re-run through
``driver_gate_sim.py --hostile`` at sf0.01 and sf0.1. A changed package
file that implements no key (a shared helper such as
``functions/vectors.py`` or ``operators/_util.py``, or registry.py, whose
edits can reach any oracle) can move any key, so it runs
``tools/gate_full_sweep.sh`` at each SF instead. Exit non-zero on any
failure. No changed package files -> exit 0 immediately.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def changed_files(ref: str) -> set[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", ref],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    staged = subprocess.run(
        ["git", "diff", "--name-only", "--cached", ref],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    return {ln.strip() for ln in (out + staged).splitlines() if ln.strip()}


def keys_by_file(files: set[str]) -> dict[str, list[str]]:
    """Changed file -> the registered keys it implements."""
    from mongodb_cdc_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    by_abs = {os.path.join(REPO, f): f for f in files}
    hit: dict[str, list[str]] = {f: [] for f in files}
    for key, fn in QUERIES.items():
        target = fn
        while hasattr(target, "__wrapped__"):
            target = target.__wrapped__
        src = getattr(getattr(target, "__code__", None), "co_filename", "")
        if src in by_abs:
            hit[by_abs[src]].append(key)
    return hit


def main() -> int:
    ref = "HEAD"
    if "--ref" in sys.argv:
        ref = sys.argv[sys.argv.index("--ref") + 1]
    sfs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    if "--sf" in sys.argv:
        sfs = [sys.argv[sys.argv.index("--sf") + 1]]

    files = changed_files(ref)
    op_files = {f for f in files if f.startswith("mongodb_cdc_spark/")}
    if not op_files:
        print(f"no package files changed vs {ref}; nothing to gate")
        return 0
    by_file = keys_by_file(op_files)
    shared = sorted(
        f for f, keys in by_file.items()
        if not keys or f == "mongodb_cdc_spark/registry.py"
    )
    if shared:
        print(f"changed package files {shared} implement no registered key "
              f"and can move any key; running the full sweep vs {ref}")
        sweep = os.path.join(REPO, "tools", "gate_full_sweep.sh")
        cmds = [[sweep, sf] for sf in sfs]
    else:
        keys = sorted(k for ks in by_file.values() for k in ks)
        print(f"gating {len(keys)} changed key(s) vs {ref}: {keys}")
        sim = os.path.join(REPO, "tools", "driver_gate_sim.py")
        cmds = [[sys.executable, sim, sf, "--hostile", "--keys", ",".join(keys)]
                for sf in sfs]
    rc = 0
    for cmd in cmds:
        rc = subprocess.run(cmd, cwd=REPO).returncode or rc
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
