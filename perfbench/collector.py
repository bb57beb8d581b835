"""Traced-run collector: per-op Spark work read from outside the engine.

Each op runs under its own job group. After the op, the collector drains
the listener bus and reads the op's jobs and stages from the AppStatusStore,
the Python-worker metrics of the op's SQL executions from the SQL status
store, and keeps spans (op -> construct / action -> Spark job -> stage) in
memory until ``write`` puts them in a file.
"""

from __future__ import annotations

import json
import re

# SQL metric names of the Arrow/Python exec nodes (PythonSQLMetrics). The
# "time to initialize Python workers" metric is left out: with reused
# workers it reads far above the op's own wall time.
_PY_START = ("time to start Python workers",)
_PY_RUN = ("time to run Python workers",)
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*([0-9.]+)\s*(ms|s|m|h)\b")


def _timing_s(formatted: str) -> float:
    """Total of a formatted SQL timing metric ("total (min, med, max)\\n3.1 s (...)")."""
    line = formatted.split("\n", 1)[-1]
    m = _TOTAL.match(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Collector:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1  # newest SQL execution already read
        self.spans: list[dict] = []

    def _new_executions(self):
        """SQL executions newer than the last read, newest first (the SQL
        status store keeps the newest 1000)."""
        n = self._sql.executionsCount()
        window = self._sql.executionsList(max(0, n - 1000), 1000)
        out = []
        for i in range(window.size() - 1, -1, -1):
            ex = window.apply(i)
            if ex.executionId() <= self._last_exec:
                break
            out.append(ex)
        if out:
            self._last_exec = out[0].executionId()
        return out

    def _python_s(self, executions) -> tuple[float, float]:
        start = run = 0.0
        for ex in executions:
            values = self._sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            seen = set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                acc = m.accumulatorId()
                if acc in seen or m.name() not in _PY_START + _PY_RUN:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if not v.isDefined():
                    continue
                if m.name() in _PY_START:
                    start += _timing_s(v.get())
                else:
                    run += _timing_s(v.get())
        return start, run

    def begin(self) -> None:
        """Forget executions that ran before the op about to start."""
        self._bus.waitUntilEmpty()
        self._new_executions()

    def python_since_last_read(self) -> tuple[float, float]:
        """(start, run) seconds of Python workers over the SQL executions
        since the last read."""
        self._bus.waitUntilEmpty()
        return self._python_s(self._new_executions())

    def collect(
        self,
        op_id: str,
        name: str,
        groups: list[str],
        start: float,
        construct_end: float,
        end: float,
    ) -> dict:
        """Read the op's Spark work and record its spans. Times are epoch
        seconds; ``construct_end`` splits construction from the action."""
        self._bus.waitUntilEmpty()
        job_ids = sorted(
            j for g in groups for j in self._sc.statusTracker().getJobIdsForGroup(g)
        )
        py_start, py_run = self._python_s(self._new_executions())
        out = {
            "jobs": len(job_ids),
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "shuffle_bytes": 0,
            "python_start_s": py_start,
            "python_run_s": py_run,
        }
        root = len(self.spans)
        self.spans.append(
            {"id": root, "parent": None, "op": op_id, "name": name,
             "start": start, "end": end}
        )
        phases = {
            "construct": (root + 1, start, construct_end),
            "action": (root + 2, construct_end, end),
        }
        for phase, (sid, s, e) in phases.items():
            self.spans.append(
                {"id": sid, "parent": root, "op": op_id, "name": phase,
                 "start": s, "end": e}
            )
        for jid in job_ids:
            job = self._store.job(jid)
            out["tasks"] += job.numCompletedTasks()
            j_start, j_end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            parent = (
                phases["construct"][0]
                if j_start is not None and j_start < construct_end
                else phases["action"][0]
            )
            job_span = len(self.spans)
            self.spans.append(
                {"id": job_span, "parent": parent, "op": op_id, "name": f"job {jid}",
                 "start": j_start, "end": j_end}
            )
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = self._store.lastStageAttempt(stage_ids.apply(k))
                s_start = _opt_ms(stage.submissionTime())
                if s_start is None:  # skipped: its output was reused
                    continue
                out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                out["shuffle_bytes"] += stage.shuffleWriteBytes()
                self.spans.append(
                    {"id": len(self.spans), "parent": job_span, "op": op_id,
                     "name": f"stage {stage.stageId()}", "start": s_start,
                     "end": _opt_ms(stage.completionTime())}
                )
        return out

    def write(self, path: str) -> None:
        """Write the spans, each with its self time: duration minus the part
        of its interval that its children cover."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if s["start"] is None or s["end"] is None:
                s["self_s"] = None
                continue
            covered, cursor = 0.0, s["start"]
            kids = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
                if c["start"] is not None and c["end"] is not None
            )
            for a, b in kids:
                a = max(a, cursor)
                if b > a:
                    covered += b - a
                    cursor = b
            s["self_s"] = (s["end"] - s["start"]) - covered
        with open(path, "w") as f:
            json.dump(self.spans, f)
