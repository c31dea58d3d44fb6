"""Regenerate QUERIES.md — the auto-generated driver-contract index.

Run from the repo root: ``python tools/gen_queries_md.py``. The
"About" column is the ``# ---`` banner comment directly above each
query's ``@_register`` block (functions sharing a banner: only the
first one shows it).
"""

from __future__ import annotations

import inspect
import sys

sys.path.insert(0, ".")

from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES  # noqa: E402


def about(fn) -> str:
    try:
        src_lines, start = inspect.getsourcelines(fn)
        all_lines = inspect.getsource(sys.modules[fn.__module__]).splitlines()
    except (OSError, TypeError):
        return ""
    i = start - 2  # line above the decorator block (0-indexed)
    block: list[str] = []
    while i >= 0:
        stripped = all_lines[i].strip()
        if not stripped.startswith("#"):
            break
        block.append(stripped.lstrip("#").strip())
        i -= 1
    text = " ".join(
        seg for seg in reversed(block) if seg and not set(seg) <= {"-"}
    )
    return " ".join(text.split())[:150]


def render() -> str:
    """The full QUERIES.md text for the current registry."""
    lines = [
        "# QUERIES — driver-contract index (auto-generated)",
        "",
        f"{len(QUERIES)} registered queries; {len(ORACLES)} have DuckDB"
        " oracle twins",
        "(the rest are rows-only by nature: iterative algorithms and",
        "engine-specific sketches). Each runs as"
        " `queries()[name](spark, sf_dir)`;",
        "COVERAGE.md maps them to SURVEY.md §2 operator ids.",
        "",
        "| Query | Oracle | Module | About |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        oracle = "sql" if name in ORACLES else "rows-only"
        lines.append(f"| `{name}` | {oracle} | {mod} | {about(fn)} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open("QUERIES.md", "w") as f:
        f.write(render())
    print(f"QUERIES.md: {len(QUERIES)} queries, {len(ORACLES)} oracles")


if __name__ == "__main__":
    main()
