"""A/B the benchmark: a base commit against the working tree.

    python tools/ab.py --workload sync --seeds 1 2 3 [--base HEAD] [--seconds 5] [--trace 0]

Run from the repository root. The base commit (default ``HEAD``, i.e.
the working tree's uncommitted change; pass ``HEAD~1`` once it is
committed) is exported with ``git archive`` to a temporary directory.
For each seed the two sides run ``perfbench/run.py --workload W
--seed S`` back to back, one process each, in alternating order
(base first on the first seed, tree first on the next, ...), so a slow
stretch of the host falls on both sides alike.

Prints one line per run with the host's pace (the median burst of
``common.Pace``, in seconds; lower is faster) and load average, then
one line per metric: the median over seeds of each side, the relative
change of the medians and how many seeds moved the same way, and the
interquartile range of the base side. With ``--trace 1`` the metrics
are the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """Write the files of commit ``rev`` to ``dest``."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True,
        capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(cwd: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run in ``cwd``; returns its host line and result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed in {cwd} (seed {seed}, exit {proc.returncode})")
    host = json.loads(lines[-2])["host"]
    result = json.loads(lines[-1])
    return {"host": host, "result": result}


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(runs: dict[str, list[dict]]) -> list[str]:
    """Per-metric lines: base and tree medians, the change of the
    medians, seeds that moved the same way, and the base IQR."""
    names = list(runs["base"][0]["result"]["metrics"])
    out = [f"{'metric':40s} {'base':>12s} {'tree':>12s} {'change':>8s} {'seeds':>6s} {'base IQR':>12s}"]
    for name in names:
        base = [r["result"]["metrics"][name]["value"] for r in runs["base"]]
        tree = [r["result"]["metrics"][name]["value"] for r in runs["tree"]]
        mb, mt = statistics.median(base), statistics.median(tree)
        change = (mt - mb) / mb * 100.0 if mb else 0.0
        same = sum((t < b) == (mt < mb) for b, t in zip(base, tree) if t != b)
        q1, q3 = _quartiles(base)
        out.append(
            f"{name:40s} {mb:12.4g} {mt:12.4g} {change:+7.1f}% "
            f"{same:>3d}/{len(base):<2d} {q3 - q1:12.4g}"
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("read", "sync"))
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--base", default="HEAD", help="commit to compare the tree against")
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="ab-base-")
    try:
        export(a.base, tmp)
        sides = {"base": tmp, "tree": ROOT}
        runs: dict[str, list[dict]] = {"base": [], "tree": []}
        for i, seed in enumerate(a.seeds):
            order = ("base", "tree") if i % 2 == 0 else ("tree", "base")
            for side in order:
                r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
                runs[side].append(r)
                host, res = r["host"], r["result"]
                pace = host.get("pace", {})
                pace_s = sum(pace.get(k, 0.0) for k in ("hash", "gather", "sort"))
                load = host["loadavg_start"][0], host["loadavg_end"][0]
                print(
                    f"seed {seed} {side:4s}: correct={res['correct']} failed={res['failed']} "
                    f"pace={pace_s:.3f}s load={load[0]:.1f}->{load[1]:.1f}",
                    flush=True,
                )
        print()
        print(f"{a.workload}: medians over seeds {a.seeds}, base {a.base}")
        print("\n".join(report(runs)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
