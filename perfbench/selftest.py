"""Self-tests of the benchmark itself; run from the repository root:

    python3 perfbench/selftest.py

1. Every generator writes byte-identical files for the same seed and
   different files for another seed.
2. A small smoke run of each workload, untraced and traced, passes its
   output checks and prints exactly the metric names of BENCHMARK.json;
   every per-layer metric is produced by at least one workload.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SMOKE_SCALE = "0.2"


def _generate(out: str, seed: int) -> None:
    gen.testdata_tables(os.path.join(out, "tables"), seed, 0.2)
    gen.domain_warehouse(os.path.join(out, "warehouse"), seed, 0.1)
    landing = os.path.join(out, "landing")
    os.makedirs(landing)
    day = gen.zenput_day(landing, seed, 0, 50, 100)
    gen.zenput_day(landing, seed, 1, 50, 100, late=day["sample"])


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_generators_deterministic() -> None:
    root = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            _generate(os.path.join(root, name), seed)
        assert _same_tree(os.path.join(root, "a"), os.path.join(root, "b")), \
            "same seed, different bytes"
        assert not _same_tree(os.path.join(root, "a"), os.path.join(root, "c")), \
            "different seeds, same bytes"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", SMOKE_SCALE],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and len(lines) >= 2, p.stderr[-3000:]
    host, result = json.loads(lines[-2])["host"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
        (workload, trace, p.stderr[-3000:])
    return {"names": set(result["metrics"]), "not_exercised": set(host["not_exercised"])}


def test_smoke_and_metric_names() -> None:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    unexercised = set(layer)
    for w in (w["name"] for w in spec["workloads"]):
        assert w in run.WORKLOADS
        out = _smoke(w, 0)
        assert out["names"] == e2e and not out["not_exercised"], (w, out)
        out = _smoke(w, 1)
        assert out["names"] == layer, w
        unexercised &= out["not_exercised"]
    assert not unexercised, f"per-layer metrics no workload produces: {sorted(unexercised)}"


if __name__ == "__main__":
    for t in (test_generators_deterministic, test_smoke_and_metric_names):
        t()
        print(f"ok {t.__name__}", flush=True)
