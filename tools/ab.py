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
one line per metric with what a claimed gain must show (ten or more
pairs, the tree winning nine tenths of them, and medians further apart
than the base's own spread):

- the median of each side and the relative change of the medians;
- the pairs the tree won, in the metric's ``better`` direction from
  ``BENCHMARK.json``, out of all pairs; a tie counts for neither side;
- each side's first and third quartiles;
- ``yes`` when |tree median - base median| exceeds the base
  interquartile range.

With ``--trace 1`` the metrics are the per-layer ones.
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


def directions() -> dict[str, str]:
    """Metric name -> its ``better`` direction (``lower``/``higher``)
    as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def report(runs: dict[str, list[dict]], better: dict[str, str]) -> list[str]:
    """Per-metric lines: base and tree medians and their change, pairs
    won by the tree in the metric's ``better`` direction (``lower``
    when ``better`` does not name it; ties count for neither side),
    each side's quartiles, and whether the medians differ by more than
    the base IQR. ``runs[side][i]`` of both sides form pair ``i``."""
    names = list(runs["base"][0]["result"]["metrics"])
    out = [
        f"{'metric':40s} {'base':>10s} {'tree':>10s} {'change':>8s} {'won':>6s} "
        f"{'base q1..q3':>21s} {'tree q1..q3':>21s} {'>IQR':>5s}"
    ]
    for name in names:
        base = [r["result"]["metrics"][name]["value"] for r in runs["base"]]
        tree = [r["result"]["metrics"][name]["value"] for r in runs["tree"]]
        mb, mt = statistics.median(base), statistics.median(tree)
        change = (mt - mb) / mb * 100.0 if mb else 0.0
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        won = sum(sign * (t - b) > 0 for b, t in zip(base, tree))
        bq1, bq3 = _quartiles(base)
        tq1, tq3 = _quartiles(tree)
        beyond = "yes" if abs(mt - mb) > bq3 - bq1 else "no"
        out.append(
            f"{name:40s} {mb:10.4g} {mt:10.4g} {change:+7.1f}% {won:>3d}/{len(base):<2d} "
            f"{bq1:10.4g}..{bq3:<9.4g} {tq1:10.4g}..{tq3:<9.4g} {beyond:>5s}"
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
        print("\n".join(report(runs, directions())))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
