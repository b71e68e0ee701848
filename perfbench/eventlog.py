"""Fold an uncompressed Spark event log into engine-layer totals.

Jobs are picked by a predicate over their start properties (job tags)
or start time; stages and tasks count toward a job's totals through
the job's stage list.
"""

from __future__ import annotations

import json

TOTALS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_ms", "python_boot_ms",
)
# SQL metrics of the Python operators (ms), summed over tasks.
PYTHON_RUN = "time to run Python workers"
PYTHON_BOOT = ("time to start Python workers", "time to initialize Python workers")


def read(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"props": ev.get("Properties") or {},
                             "start_ms": ev["Submission Time"], "end_ms": None}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _zero())
                st["stages"] = 1
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _zero())
                _add_task(st, ev)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


def _zero() -> dict:
    return dict.fromkeys(TOTALS[1:], 0)


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == PYTHON_RUN:
            st["python_ms"] += float(acc.get("Update", 0))
        elif name in PYTHON_BOOT:
            st["python_boot_ms"] += float(acc.get("Update", 0))


def fold(log: dict, pick) -> dict:
    """Totals over the jobs ``pick`` accepts (it sees each job's start
    properties and start time), plus the intervals those jobs ran (ms),
    for driver-only time."""
    chosen = {jid for jid, j in log["jobs"].items() if pick(j)}
    out = dict.fromkeys(TOTALS, 0.0)
    out["jobs"] = float(len(chosen))
    for sid, st in log["stages"].items():
        if log["stage_job"].get(sid) in chosen:
            for k, v in st.items():
                out[k] += v
    out["intervals"] = sorted(
        (log["jobs"][j]["start_ms"], log["jobs"][j]["end_ms"] or log["jobs"][j]["start_ms"])
        for j in chosen
    )
    return out


def covered_ms(intervals, lo_ms: float, hi_ms: float) -> float:
    """Length of the union of intervals, clipped to [lo_ms, hi_ms]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        a, b = max(a, lo_ms), min(b, hi_ms)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
