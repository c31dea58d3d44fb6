"""Traced-run harvester: spans around the benchmark's calls into the
package's layers, one Spark job group per operation, and the Spark
status stores read back once the run is over.

Tracing is opt-in per operation (``Tracer.op(..., traced=True)``).
An untraced operation sets no job group and records no spans, so the
traced run can time traced and untraced operations side by side and
report the difference as the tracing overhead.

Spans and operations stay in memory; :meth:`Tracer.harvest` reads the
job, stage and SQL status stores after the listener bus drains and
attributes every job to the operation whose group launched it.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time

#: SQL plan nodes that run Python workers (Arrow / pandas UDF paths)
_PY_NODE = re.compile(r"Python|Pandas|InArrow|ArrowEval")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """First value of a formatted SQL metric: either a plain number or
    'total (min, med, max ...)\\n<total> (...)' with an optional size
    unit."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([-\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._op: dict | None = None
        self._stack: list[int] = []
        self._wrappers: dict[int, object] = {}

    # -- recording ---------------------------------------------------------

    @property
    def active(self) -> bool:
        """Whether the current op is traced."""
        return self._op is not None and self._op["traced"]

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)

    @contextlib.contextmanager
    def op(self, kind: str, name: str, traced: bool):
        """One benchmark operation. Its wall is always recorded; when
        ``traced`` its Spark jobs run under the group ``op<N>``."""
        rec = {
            "id": len(self.ops), "kind": kind, "name": name, "traced": traced,
            "group": f"op{len(self.ops)}" if traced else None, "extra": {},
        }
        self.ops.append(rec)
        self._op = rec
        if traced:
            self._set_group(rec["group"])
        rec["t0_epoch_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1_epoch_ms"] = time.time() * 1000.0
            if traced:
                self._set_group(None)
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """A span inside the current traced op. ``group`` switches the
        job group for its duration (``op<N>/<group>``) so the jobs it
        launches can be told apart from the rest of the op's jobs."""
        op = self._op
        if not self.active:
            yield None
            return
        rec = {
            "op": op["id"], "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_epoch_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            self._set_group(f"{op['group']}/{group}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            self._stack.pop()
            if group is not None:
                self._set_group(op["group"])

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a wrapper recording a span (a
        no-op outside traced ops). One wrapper per function, installed
        in its defining module too, so cloudpickle still pickles it by
        reference (Python workers import the unwrapped original)."""
        fn = getattr(module, attr)
        if getattr(fn, "__perfbench_wrapped__", False):
            return
        wrapper = self._wrappers.get(id(fn))
        if wrapper is None:

            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    return fn(*args, **kwargs)

            wrapper.__perfbench_wrapped__ = True
            self._wrappers[id(fn)] = wrapper
            home = sys.modules.get(fn.__module__)
            if home is not None and getattr(home, fn.__name__, None) is fn:
                setattr(home, fn.__name__, wrapper)
        setattr(module, attr, wrapper)

    # -- harvesting --------------------------------------------------------

    def harvest(self) -> None:
        """Attach Spark job/stage/SQL numbers to every traced op."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(1.0)
        by_group = {op["group"]: op for op in self.ops if op["traced"]}
        for op in by_group.values():
            op.update(jobs=[], stages=0, tasks=0, executor_run_ms=0.0,
                      executor_cpu_ms=0.0, jvm_gc_ms=0.0, input_bytes=0.0,
                      input_rows=0.0, scan_tasks=0, shuffle_read_bytes=0.0,
                      shuffle_write_bytes=0.0, spill_bytes=0.0,
                      python_bytes_sent=0.0, python_rows_returned=0.0,
                      scan_rows={}, sub_jobs={})
        store = jsc.statusStore()
        job_op = {}
        seen_stages = set()
        for jd in _seq(store.jobsList(None)):
            grp = jd.jobGroup()
            if not grp.isDefined():
                continue
            top, _, sub = grp.get().partition("/")
            op = by_group.get(top)
            if op is None:
                continue
            jid = jd.jobId()
            job_op[jid] = op
            op["jobs"].append((_opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())))
            if sub:
                op["sub_jobs"][sub] = op["sub_jobs"].get(sub, 0) + 1
            for sid in _seq(jd.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never ran
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                n = st.numTasks()
                op["stages"] += 1
                op["tasks"] += n
                op["executor_run_ms"] += st.executorRunTime()
                op["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                op["jvm_gc_ms"] += st.jvmGcTime()
                if st.inputRecords() > 0 or st.inputBytes() > 0:
                    op["scan_tasks"] += n
                op["input_bytes"] += st.inputBytes()
                op["input_rows"] += st.inputRecords()
                op["shuffle_read_bytes"] += st.shuffleReadBytes()
                op["shuffle_write_bytes"] += st.shuffleWriteBytes()
                op["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._harvest_sql(job_op)
        for op in by_group.values():
            op["gap_ms"] = _uncovered_ms(op)

    def _harvest_sql(self, job_op: dict) -> None:
        """Python-worker traffic and rows out of each file-scan format
        (``scan_rows``, e.g. ``text`` or ``parquet``) from the SQL plan
        metrics of every execution whose jobs belong to a traced op."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _seq(sql.executionsList()):
            it = ex.jobs().keysIterator()
            op = None
            while it.hasNext():
                op = job_op.get(it.next()) or op
            if op is None:
                continue
            values = None
            for node in _seq(sql.planGraph(ex.executionId()).allNodes()):
                words = node.name().split()  # e.g. "Scan text "
                scan = words[1] if len(words) > 1 and words[0] == "Scan" else None
                if scan is None and not _PY_NODE.search(node.name()):
                    continue
                if values is None:
                    # keyed by boxed Long: copy to a dict rather than
                    # probing the Scala map with Py4J's Integer keys
                    values, it = {}, sql.executionMetrics(ex.executionId()).iterator()
                    while it.hasNext():
                        kv = it.next()
                        values[kv._1()] = kv._2()
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is None:
                        continue
                    if scan is not None:
                        if m.name() == "number of output rows":
                            op["scan_rows"][scan] = op["scan_rows"].get(scan, 0.0) + _metric_total(v)
                    elif m.name() == "data sent to Python workers":
                        op["python_bytes_sent"] += _metric_total(v)
                    elif m.name() == "number of output rows":
                        op["python_rows_returned"] += _metric_total(v)

    def self_ms(self, op_id: int, name: str) -> float:
        """Total self time of the spans called ``name`` in one op: each
        span's duration minus what its direct children cover."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["op"] != op_id or s["name"] != name:
                continue
            child = sum(c["ms"] for c in self.spans if c["parent"] == i)
            total += s["ms"] - child
        return total

    def span_ms(self, op_id: int, name: str) -> tuple[int, float]:
        """(count, total ms) of the spans called ``name`` in one op that
        are not nested in another span of that name."""
        hits = [
            s["ms"] for s in self.spans
            if s["op"] == op_id and s["name"] == name
            and (s["parent"] is None or self.spans[s["parent"]]["name"] != name)
        ]
        return len(hits), sum(hits)


def _uncovered_ms(op: dict) -> float:
    """Op wall not covered by any of its running Spark jobs."""
    lo, hi = op["t0_epoch_ms"], op["t1_epoch_ms"]
    ivs = sorted(
        (max(lo, s), min(hi, e)) for s, e in op["jobs"] if s is not None and e is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (hi - lo) - covered)
