"""Turns a traced run's Spark event log into the per-layer table.

The benchmark sets a job group `<pass>:<layer.op>` around every call it
makes into the engine (`workloads.Pass`), so each job, and through the
job each stage and task, is attributed to one operator call of one pass.
The engine's own `plans.metrics.task_metrics` sums a whole log; this
reader keeps the job-group split and the SQL metrics of the Python
worker stages, which that summary does not carry.
"""

from __future__ import annotations

import json
import os
from statistics import median

# SQL metric names of Spark's Python-worker operators (PythonSQLMetrics),
# timings in ms. "time to initialize Python workers" is not read: it is
# measured from the worker process's start, so a reused worker reports its
# whole idle time since an earlier pass. Worker start-up is read from
# "time to start Python workers" instead.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_METRICS = (PY_SENT, PY_RETURNED, PY_START, PY_RUN)


def _events(log_dir: str):
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith("appstatus"):
                continue
            with open(os.path.join(root, f), errors="ignore") as fh:
                for line in fh:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class Stage:
    __slots__ = ("group", "tasks", "durations", "run_ms", "cpu_ns", "gc_ms",
                 "in_rows", "in_bytes", "sh_read", "sh_write", "spill",
                 "result_bytes", "py")

    def __init__(self, group: str):
        self.group = group
        self.tasks = 0
        self.durations: list[float] = []
        self.run_ms = self.cpu_ns = self.gc_ms = 0.0
        self.in_rows = self.in_bytes = self.sh_read = self.sh_write = 0.0
        self.spill = self.result_bytes = 0.0
        self.py = dict.fromkeys(PY_METRICS, 0.0)


class EventLog:
    """Jobs, stages and tasks of one application log, keyed by job group."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, Stage] = {}
        first_job_of_stage: dict[int, int] = {}
        ran: set[int] = set()
        tasks: list[dict] = []
        for ev in _events(log_dir):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                sids = list(ev.get("Stage IDs") or [])
                self.jobs[jid] = {"group": group, "start": ev.get("Submission Time", 0),
                                  "end": None, "stages": sids}
                for s in sids:
                    first_job_of_stage.setdefault(s, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                ran.add(info.get("Stage ID"))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
        for sid, jid in first_job_of_stage.items():
            if sid in ran:
                self.stages[sid] = Stage(self.jobs[jid]["group"])
        for ev in tasks:
            st = self.stages.get(ev.get("Stage ID"))
            if st is None:
                continue
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            st.tasks += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                st.durations.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            im = tm.get("Input Metrics") or {}
            st.in_rows += im.get("Records Read", 0)
            st.in_bytes += im.get("Bytes Read", 0)
            srm = tm.get("Shuffle Read Metrics") or {}
            st.sh_read += srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)
            st.sh_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += tm.get("Disk Bytes Spilled", 0)
            if ev.get("Task Type") == "ResultTask":
                st.result_bytes += tm.get("Result Size", 0)
            # SQL metric updates are per task; a stage's accumulator
            # *value* is cumulative over every execution of the plan node
            for acc in info.get("Accumulables") or ():
                if acc.get("Name") in st.py:
                    st.py[acc["Name"]] += _num(acc.get("Update"))

    def _select(self, match):
        jobs = {j: v for j, v in self.jobs.items() if match(v["group"])}
        stages = {s: v for s, v in self.stages.items() if match(v.group)}
        return jobs, stages

    def summary(self, match) -> dict:
        """Counts and sums over every job whose group satisfies match."""
        jobs, stages = self._select(match)
        listed = sum(len(j["stages"]) for j in jobs.values())
        skew = 0.0
        for st in stages.values():
            if len(st.durations) >= 4:
                med = median(st.durations)
                skew = max(skew, max(st.durations) / max(med, 1e-3))
        total = lambda attr: sum(getattr(s, attr) for s in stages.values())  # noqa: E731
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "stages_skipped": max(listed - len(stages), 0),
            "tasks": total("tasks"),
            "executor_run_s": total("run_ms") / 1e3,
            "executor_cpu_s": total("cpu_ns") / 1e9,
            "gc_s": total("gc_ms") / 1e3,
            "input_rows": total("in_rows"),
            "input_bytes": total("in_bytes"),
            "shuffle_read_bytes": total("sh_read"),
            "shuffle_write_bytes": total("sh_write"),
            "spill_bytes": total("spill"),
            "result_bytes": total("result_bytes"),
            "task_skew": skew,
            **{name: sum(s.py[name] for s in stages.values()) for name in PY_METRICS},
        }

    def covered_s(self, match, t0_ms: float, t1_ms: float) -> float:
        """Seconds of [t0, t1] during which at least one matching job ran."""
        spans = sorted((max(j["start"], t0_ms), min(j["end"] or t1_ms, t1_ms))
                       for j in self._select(match)[0].values())
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
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
        return covered / 1e3


def ops_of(log: EventLog, tag: str) -> dict[str, dict]:
    """Per-operator job/stage counts of one pass."""
    groups = {j["group"] for j in log.jobs.values() if j["group"].startswith(tag + ":")}
    out = {}
    for g in groups:
        s = log.summary(lambda x, g=g: x == g)
        out[g[len(tag) + 1:]] = {"jobs": s["jobs"], "stages": s["stages"]}
    return out
