"""``tools/ab.report`` states the claim rule for a gain: pairs won in
each metric's ``better`` direction (ties for neither side), each side's
quartiles, and whether the medians differ by more than the base IQR.
Synthetic runs, no Spark."""

from __future__ import annotations

from tools.ab import directions, report


def _runs(values: dict[str, tuple[list[float], list[float]]]) -> dict[str, list[dict]]:
    pairs = len(next(iter(values.values()))[0])
    return {
        side: [
            {"result": {"metrics": {
                name: {"value": sides[k][i]} for name, sides in values.items()
            }}}
            for i in range(pairs)
        ]
        for k, side in enumerate(("base", "tree"))
    }


def _row(lines: list[str], name: str) -> list[str]:
    [line] = [ln for ln in lines if ln.split()[0] == name]
    return line.split()


def test_report_counts_wins_by_direction_and_ties_for_neither():
    base = [100.0, 102.0, 98.0, 104.0, 96.0, 101.0, 99.0, 103.0, 97.0, 100.0]
    lower = [80.0, 82.0, 78.0, 84.0, 76.0, 81.0, 79.0, 83.0, 77.0, 100.0]  # pair 10 ties
    runs = _runs({
        "op_ms": (base, lower),
        "trace.ops": (base, lower),  # better = higher: the tree lost 9 pairs
        "batch_s": (base, [b + 1.0 for b in base[:9]] + [90.0]),
    })
    lines = report(runs, {"op_ms": "lower", "trace.ops": "higher", "batch_s": "lower"})

    op = _row(lines, "op_ms")
    assert op[1:5] == ["100", "80.5", "-19.5%", "9/10"]
    # inclusive quartiles of base: 98.25 and 101.75 (IQR 3.5 < 19.5)
    assert op[5:7] == ["98.25..101.8", "78.25..82.75"]
    assert op[-1] == "yes"
    assert _row(lines, "trace.ops")[4] == "0/10"

    batch = _row(lines, "batch_s")
    assert batch[4] == "1/10"
    assert batch[-1] == "no"  # medians 0.5 apart, base IQR 3.5


def test_directions_read_every_benchmark_metric():
    better = directions()
    assert better["op_ms"] == "lower"
    assert better["trace.ops"] == "higher"
    assert set(better.values()) == {"lower", "higher"}
