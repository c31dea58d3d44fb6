"""Helpers shared by the workloads: run context, result digests and
the per-op statistics every workload reports."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from tracing import Tracer

#: a pace sample times fixed work that does not depend on the program
#: under test, on every CPU at once: ``hash`` is PACE_ITERS sha256 of a
#: 4 KiB block per CPU (large enough that hashlib releases the GIL),
#: ``gather`` PACE_GATHERS random gathers over a 64 MiB array per CPU
#: (memory-bound), ``sort`` a java.util.Arrays.parallelSort of
#: PACE_SORT_N ints in the Spark driver's JVM (the JVM's fork-join pool);
#: the pace of a sample is the sum of the three
PACE_ITERS = 500
PACE_GATHERS = 4
PACE_SORT_N = 1 << 18
#: the pace that normalised times are expressed at
REF_PACE_S = 0.045
_NCPU = len(os.sched_getaffinity(0))
_POOL = ThreadPoolExecutor(_NCPU)
_MEM = np.arange(8 << 20, dtype=np.int64)
_IDX = np.random.default_rng(0).integers(0, len(_MEM), 1 << 17)


def _hash_loop(_) -> None:
    block = b"x" * 4096
    for _ in range(PACE_ITERS):
        block = hashlib.sha256(block).digest() * 128


def _gather_loop(_) -> None:
    for _ in range(PACE_GATHERS):
        _MEM.take(_IDX).sum()


class Pace:
    """Pace samples of one run: how fast the host runs at each moment."""

    def __init__(self, jvm):
        self._arrays = jvm.java.util.Arrays
        self._base = jvm.java.util.Random(0).ints(PACE_SORT_N).toArray()
        self.samples: list[dict] = []

    def _sample(self) -> dict:
        out = {}
        for name, loop in (("hash", _hash_loop), ("gather", _gather_loop)):
            t0 = time.perf_counter()
            list(_POOL.map(loop, range(_NCPU)))
            out[name] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self._arrays.parallelSort(self._arrays.copyOf(self._base, PACE_SORT_N))
        out["sort"] = time.perf_counter() - t0
        return out

    def burst(self, n: int = 2) -> None:
        """Record the least disturbed of ``n`` samples taken back to
        back (the JVM's JIT and GC threads may still be busy right after
        an operation); call between operations, outside timed regions."""
        self.samples.append(min((self._sample() for _ in range(n)), key=_pace))

    def speed(self) -> float:
        """Factor that turns a time measured in this run into the time
        at the reference pace: REF_PACE_S over the run's median burst."""
        return REF_PACE_S / statistics.median(_pace(s) for s in self.samples)

    def summary(self) -> dict:
        out = {k: round(statistics.median(s[k] for s in self.samples), 5) for k in self.samples[0]}
        out.update(bursts=len(self.samples), speed=round(self.speed(), 4))
        return out


def _pace(sample: dict) -> float:
    return sum(sample.values())


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch dir inside the checkout, removed at exit
    scale: float = 1.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    pacer: Pace | None = None

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong output is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def traced(self, i: int) -> bool:
        """In a traced run every other op is traced; the untraced ones
        give the same-run baseline for the tracing overhead."""
        return self.trace and i % 2 == 1


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if f != f:
            return "NULL"
        if f.is_integer() and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return str(v)


def digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result; columns are
    matched by lower-cased name so two engines' outputs compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha1()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def spark_layer(ops: list[dict]) -> dict:
    """Engine and Python-worker numbers, as means per traced op."""
    ops = [o for o in ops if o["traced"] and "stages" in o]
    return {
        "spark.jobs": mean([len(o["jobs"]) for o in ops]),
        "spark.stages": mean([o["stages"] for o in ops]),
        "spark.tasks": mean([o["tasks"] for o in ops]),
        "spark.executor_run_ms": mean([o["executor_run_ms"] for o in ops]),
        "spark.executor_cpu_ms": mean([o["executor_cpu_ms"] for o in ops]),
        "spark.jvm_gc_ms": mean([o["jvm_gc_ms"] for o in ops]),
        "spark.shuffle_read_bytes": mean([o["shuffle_read_bytes"] for o in ops]),
        "spark.shuffle_write_bytes": mean([o["shuffle_write_bytes"] for o in ops]),
        "spark.spill_bytes": mean([o["spill_bytes"] for o in ops]),
        "python.bytes_sent": mean([o["python_bytes_sent"] for o in ops]),
        "python.rows_returned": mean([o["python_rows_returned"] for o in ops]),
        "sources.scan_tasks": mean([o["scan_tasks"] for o in ops]),
        "sources.input_bytes": mean([o["input_bytes"] for o in ops]),
        "sources.input_rows": mean([o["input_rows"] for o in ops]),
        "driver.gap_ms": mean([o["gap_ms"] for o in ops]),
    }


def overhead_pct(ops: list[dict]) -> float:
    """Tracing overhead: per op name, median traced wall over median
    untraced wall, averaged over the names that have both."""
    ratios = []
    for name in {o["name"] for o in ops}:
        t = [o["wall_s"] for o in ops if o["name"] == name and o["traced"]]
        u = [o["wall_s"] for o in ops if o["name"] == name and not o["traced"]]
        if t and u:
            ratios.append(p50(t) / p50(u))
    return (mean(ratios) - 1.0) * 100.0 if ratios else 0.0
