"""Benchmark for the reference dedup topology and the batch registry.

    python3 perfbench/run.py --workload ref_dedup --seed 1 --seconds 20 --trace 0

Workloads:

- ``ref_dedup``: topology 2 in its reference-parity form
  (``dedup_topology(exact_parity=True, evict_state=True)``) behind the
  file-stream stand-in for Kafka, decode, dead-letter split and the
  idempotent parquet sink.
- ``registry_batch``: a cold pass over 15 ``queries.REGISTRY`` entries,
  each forced with the noop writer. On this workload the end-to-end
  metrics read: entries per second, median and p99 entry wall, and the
  wall of the pass.

Every workload reports every end-to-end metric, so on each of them
``throughput_eps`` and ``batch_wall_s`` are one measurement read two
ways (events or entries over the wall): they move together.

Every timed Spark driver is a fresh ``worker.py`` process, so set-up
includes interpreter start and JVM launch; a run sets up twice and
reports the median. A streaming run feeds a warm query an open loop at
a fixed rate for ``--seconds`` (latency: from each event's scheduled
creation time to the return of the sink call for its batch), then
fixed backlogs, each landed at once (throughput and wall: from the
start of the trigger that takes a backlog to the return of its sink
call). Outputs are checked against references computed here from the
generator's ledger (``reference.py``) or fixed row counts;
``attempted``/``failed`` count events (streaming) or entries (batch).
A worker that fails fails every event or entry it did not deliver, and
the run still prints every metric; a figure it left unmeasured is null.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same work with the Spark event log on and the process tree's RSS
sampled, folds progress, state, sink and engine numbers into per-layer
metrics, and repeats the same work untraced to report the tracing
overhead. The last stdout line is one JSON object; the line before it
is the full record (nproc, load average, persisted RDDs, failures),
also kept under ``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

import eventlog  # noqa: E402
import reference  # noqa: E402
import tables  # noqa: E402
import worker  # noqa: E402

# Event counts of the dedup query's feeds, and the open loop's offered
# rate (events/s): constants of the benchmark, well under the topology's
# drain rate on a 4-core host, never derived from the code under test.
WARMUP_EVENTS = 5_000
DRAIN_EVENTS = 25_000
DRAINS = 3
OPEN_RATE = 1_500
BATCH_SF = 0.1
# Fixed row counts of each entry on tables.build(BATCH_SF).
BATCH_ROWS = {
    "agg_pricing_summary": 6,
    "join_customer_orders": 5,
    "dedup_windowed": 21381,
    "dedup_refresh": 9927,
    "reference_pipeline": 70040,
    "text_stats": 5000,
    "simhash": 5000,
    "graph_triangles": 1,
    "bloom_semi_join": 3,
    "graph_pagerank": 15997,
    "fk_integrity": 7,
    "sql_q3_shipping": 10,
    "ivf_incremental": 25,
    "minhash_incremental": 26740,
    "bm25_incremental": 10,
}
WORKLOADS = ("ref_dedup", "registry_batch")
SETUPS = 2
RUN_BUDGET_S = 170  # a run ends within 180 s, even when a worker hangs

END_TO_END = {
    "setup_s": "s", "throughput_eps": "1/s", "latency_p50_ms": "ms",
    "latency_p99_ms": "ms", "batch_wall_s": "s",
}
PER_LAYER = {
    "mem.peak_rss_mb": "MB", "session.start_s": "s", "streaming.build_ms": "ms",
    "sources.scan_amplification": "ratio", "sources.list_ms": "ms",
    "sources.lag_ms_max": "ms", "gen.late_ms_max": "ms",
    "trigger.batches": "count", "trigger.rows_per_batch": "count",
    "trigger.query_planning_ms": "ms", "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms", "trigger.commit_offsets_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.updates_ms": "ms", "state.removals_ms": "ms",
    "dedup.emit_frac": "ratio",
    "sink.write_ms": "ms", "sink.rows_out": "count", "sink.bytes_out": "bytes",
    **{f"exec.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("run_ms", "ms"),
        ("cpu_ms", "ms"), ("gc_ms", "ms"), ("input_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("python_ms", "ms"), ("python_boot_ms", "ms"))},
    "driver_only_ms": "ms",
    **{f"entry.{n}.{k}": u for n in BATCH_ROWS for k, u in (("wall_s", "s"), ("jobs", "count"))},
    "cache.persisted_rdds": "count",
    "trace.overhead_frac": "ratio",
}
# Per-layer metrics read from the event log; null until it is read.
ENGINE_LAYERS = (*(f"exec.{k}" for k in eventlog.TOTALS), "driver_only_ms")


# ------------------------------------------------------------ processes


def _tree_rss_bytes(root: int) -> int:
    """RSS summed over root and all its descendants."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    page = os.sysconf("SC_PAGE_SIZE")
    total, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class Worker:
    """One worker.py process in its own process group. Traced workers
    are RSS-sampled (the sampler's /proc scans would perturb untraced
    timings)."""

    def __init__(self, plan: dict, work: Path, env: dict, tag: str, deadline: float) -> None:
        work.mkdir(parents=True, exist_ok=True)
        self.deadline = deadline
        self.plan_path = work / f"{tag}.plan.json"
        self.result_path = work / f"{tag}.result.json"
        self.log_path = work / f"{tag}.log"
        plan["spawn_ns"] = self.spawn_ns = time.time_ns()
        self.plan_path.write_text(json.dumps(plan))
        self.peak_rss = 0
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), str(self.plan_path), str(self.result_path)],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        if plan["trace"]:
            self._sampler.start()

    def _sample(self) -> None:
        while not self._done.wait(0.2):
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(self.proc.pid))

    def result(self) -> dict:
        """Wait for the result file (or an exit), then end the group. A
        worker that left no result (crashed, or cut at the run budget)
        yields only its error."""
        try:
            while not self.result_path.exists() and self.proc.poll() is None:
                if time.monotonic() > self.deadline:
                    break
                time.sleep(0.05)
        finally:
            self._done.set()
            if self._sampler.is_alive():
                self._sampler.join()
            _reap(self.proc)
        if not self.result_path.exists():
            tail = self.log_path.read_text()[-3000:]
            return {"error": f"worker {self.plan_path.name} left no result:\n{tail}"}
        return json.loads(self.result_path.read_text())


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _env(work: Path, nproc: int) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        **os.environ,
        # workers are Python processes the JVM forks: the package must be
        # importable there whatever the caller's working directory
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(nproc),
        # a 4-core box shared with other work, not the 16g default
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }


# ------------------------------------------------------------ streaming


def stream_plan(seed: int, seconds: int, work: Path, trace: bool, setup_only: bool = False) -> dict:
    """The one query's feeds, in order: the warm-up backlog (written
    here), the open loop, then the drain backlogs (each staged outside
    the watched directory). Every feed is its own generator stream with
    its own ledger; sequence numbers run on across feeds. A set-up-only
    plan has the warm-up feed alone."""
    sizes = [(WARMUP_EVENTS, 0)]
    if not setup_only:
        sizes += [(OPEN_RATE * seconds, OPEN_RATE)] + [(DRAIN_EVENTS, 0)] * DRAINS
    feeds, first = [], 0
    for stream, (n, rate) in enumerate(sizes):
        feeds.append({"ledger": str(work / f"ledger-{stream}.json"), "seed": seed, "stream": stream,
                      "first": first, "events": n, "rate": rate, "stage": str(work / f"stage-{stream}")})
        first += n
    q = {"in": str(work / "in"), "out": str(work / "out"), "checkpoint": str(work / "ck"), "feeds": feeds}
    worker.generate(q["in"], feeds[0])
    return {"kind": "stream", "work": str(work), "trace": trace, "eventlog": str(work / "eventlog"),
            "setup_only": setup_only, "query": q}


def _sink_rows(out_dir: str) -> tuple[dict[int, list[str]], int]:
    """batch id → output keys, and parquet bytes written."""
    import pyarrow.parquet as pq

    keys, size = {}, 0
    for d in glob.glob(os.path.join(out_dir, "batch_id=*")):
        parts = glob.glob(os.path.join(d, "*.parquet"))
        size += sum(os.path.getsize(p) for p in parts)
        rows = []
        for p in parts:
            rows.extend(pq.read_table(p, columns=["key"]).column("key").to_pylist())
        keys[int(d.rsplit("=", 1)[1])] = rows
    return keys, size


def check_query(q: dict) -> dict:
    """Failures of the query against the reference replayed over its
    ledgers; the latency of each open-loop event it emitted; the wall of
    each drain, from the start of the first batch that emitted one of
    its events to the return of the last such batch's sink write."""
    evs, planned, late, open_range = [], 0, [], range(0)
    for f in q["feeds"]:
        planned += f["events"]
        if not os.path.exists(f["ledger"]):
            continue  # a feed never sent counts as failed below
        ledger = json.loads(Path(f["ledger"]).read_text())
        evs.extend(reference.ledger_events(ledger))
        if f["rate"] > 0:
            open_range = range(f["first"], f["first"] + f["events"])
            late += [(x["written_ns"] - x["due_ns"]) / 1e6 for x in ledger["files"]]
    expected = reference.expected_dedup(evs)
    by_batch, size = _sink_rows(q["out"])
    sink = q.get("sink", {})
    start_ns = {p["batchId"]: worker.progress_ns(p["timestamp"]) for p in q.get("progress", [])}
    seen: dict[int, int] = {}
    lat_ms = []
    batch_seqs = {}
    for bid, keys in by_batch.items():
        ret = sink.get(str(bid), [None, None])[1]
        seqs = batch_seqs[bid] = []
        for k in keys:
            seq, created = (int(x) for x in k.split(":"))
            seen[seq] = seen.get(seq, 0) + 1
            seqs.append(seq)
            if seq in open_range and ret is not None:
                lat_ms.append((ret - created) / 1e6)
    got = set(seen)
    if q.get("error"):
        failed = planned - len(got & expected)
    else:
        failed = (planned - len(evs) + len(expected - got) + len(got - expected)
                  + sum(c - 1 for c in seen.values()))
    drains = []
    for d in q.get("drains", []):
        lo, hi = d["first"], d["first"] + d["events"]
        bids = [b for b, seqs in batch_seqs.items() if any(lo <= x < hi for x in seqs)]
        if bids and all(b in start_ns and str(b) in sink for b in bids):
            t0, t1 = min(start_ns[b] for b in bids), max(sink[str(b)][1] for b in bids)
            drains.append({**d, "batches": len(bids), "start_ns": t0, "wall_s": (t1 - t0) / 1e9})
    return {
        "events": planned, "expected_out": len(expected), "rows_out": sum(seen.values()),
        "bytes_out": size, "failed": failed, "error": q.get("error"), "drains": drains,
        "latency_ms": lat_ms, "gen_late_ms_max": max(late, default=None), "keys_by_batch": by_batch,
    }


# A figure that could not be measured is None (null in the output), so
# that a failed run never reads as the best value of a metric.


def _median(xs):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else None


def _pct(xs, q):
    return float(np.percentile(xs, q)) if xs else None


def _progress_layers(q: dict, check: dict, open_events: int) -> dict:
    """Per-batch medians of trigger phases and state metrics over the
    open-loop batches, from the query's progress reports."""
    lo, hi = q.get("warm_ns", 0), q.get("open_done_ns", 0)
    prog = [p for p in q.get("progress", [])
            if p.get("numInputRows", 0) > 0 and lo <= worker.progress_ns(p["timestamp"]) < hi]
    dur = lambda k: _median([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    lag = []
    for p in prog:
        keys = check["keys_by_batch"].get(p["batchId"], [])
        if keys:
            oldest_ns = min(int(k.split(":")[1]) for k in keys)
            lag.append((worker.progress_ns(p["timestamp"]) - oldest_ns) / 1e6)
    return {
        "sources.scan_amplification": sum(p["numInputRows"] for p in prog) / open_events if prog else None,
        "sources.list_ms": _median([p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
                                    for p in prog]),
        "sources.lag_ms_max": max(lag, default=None),
        "trigger.batches": float(len(prog)),
        "trigger.rows_per_batch": _median([p["numInputRows"] for p in prog]),
        "trigger.query_planning_ms": dur("queryPlanning"),
        "trigger.add_batch_ms": dur("addBatch"),
        "trigger.wal_commit_ms": dur("walCommit"),
        "trigger.commit_offsets_ms": dur("commitOffsets"),
        "state.rows_total": last.get("numRowsTotal"),
        "state.memory_bytes": last.get("memoryUsedBytes"),
        "state.commit_ms": _median([o.get("commitTimeMs") for o in ops]),
        "state.updates_ms": _median([o.get("allUpdatesTimeMs") for o in ops]),
        "state.removals_ms": _median([o.get("allRemovalsTimeMs") for o in ops]),
    }


def _query_of(plan: dict, res: dict) -> dict:
    """The query as the worker left it. A worker that died (or never
    started the query) leaves its error on the query, so that every
    event it did not emit counts as failed."""
    q = res.get("query") or plan["query"]
    if res.get("error") and not q.get("error"):
        q["error"] = res["error"][-2000:]
    return q


def run_stream(seed: int, seconds: int, work: Path, env: dict, trace: bool, deadline: float) -> dict:
    plan = stream_plan(seed, seconds, work / "main", trace)
    main = Worker(plan, work / "main", env, "main", deadline)
    res = main.result()
    q = _query_of(plan, res)
    check = check_query(q)
    walls = [d["wall_s"] for d in check["drains"]]
    record: dict = {
        "setups_s": [res.get("setup_s")], "persisted_rdds": res.get("persisted_rdds"),
        "main_s": (res["done_ns"] - main.spawn_ns) / 1e9 if "done_ns" in res else None,
        "worker_error": res.get("error"),
        **{k: v for k, v in check.items() if k not in ("latency_ms", "keys_by_batch")},
        "latency_samples": len(check["latency_ms"]),
    }
    out = {"attempted": check["events"], "failed": check["failed"], "record": record}
    if not trace:
        for i in range(SETUPS - 1):
            plan = stream_plan(seed, seconds, work / f"setup{i}", False, setup_only=True)
            record["setups_s"].append(Worker(plan, work / f"setup{i}", env, "setup", deadline).result().get("setup_s"))
        wall = _median(walls)
        out["metrics"] = {
            "setup_s": _median(record["setups_s"]),
            "throughput_eps": DRAIN_EVENTS / wall if wall else None,
            "latency_p50_ms": _pct(check["latency_ms"], 50),
            "latency_p99_ms": _pct(check["latency_ms"], 99),
            "batch_wall_s": wall,
        }
        return out

    spans = res.get("spans", [])
    open_events = sum(f["events"] for f in q["feeds"] if f["rate"] > 0)
    # the registry's layers do not run here: they read 0
    layers = {**dict.fromkeys(PER_LAYER, 0.0), **dict.fromkeys(ENGINE_LAYERS)}
    layers.update({
        "mem.peak_rss_mb": main.peak_rss / 2**20,
        "session.start_s": _span_total(spans, "session.start", 1e9),
        "streaming.build_ms": _span_total(spans, "streaming.build", 1e6),
        "gen.late_ms_max": check["gen_late_ms_max"],
        **_progress_layers(q, check, open_events),
        "sink.write_ms": _median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "sink.write"
                                  and q.get("warm_ns", 0) <= s["start_ns"] < q.get("open_done_ns", 0)]),
        "sink.rows_out": check["rows_out"],
        "sink.bytes_out": check["bytes_out"],
        "cache.persisted_rdds": res.get("persisted_rdds"),
        "dedup.emit_frac": check["rows_out"] / check["events"],
    })
    # engine totals over the jobs that ran while the drains were timed
    log = _eventlog(work / "main", record)
    if log and walls:
        windows = [(d["start_ns"] / 1e6, d["start_ns"] / 1e6 + d["wall_s"] * 1e3) for d in check["drains"]]
        folded = eventlog.fold(log, lambda j: any(a <= j["start_ms"] < b for a, b in windows))
        layers.update(_exec_layers(folded))
        busy = sum(eventlog.covered_ms(folded["intervals"], a, b) for a, b in windows)
        layers["driver_only_ms"] = sum(walls) * 1e3 - busy
    # The same feeds untraced, for the tracing overhead (event log and
    # RSS sampling) on the drain wall: identical events on identical state.
    plan = stream_plan(seed, seconds, work / "untraced", False)
    base = Worker(plan, work / "untraced", env, "untraced", deadline).result()
    base_check = check_query(_query_of(plan, base))
    record["untraced_failed"] = base_check["failed"]
    base_wall = _median([d["wall_s"] for d in base_check["drains"]])
    wall = _median(walls)
    layers["trace.overhead_frac"] = wall / base_wall - 1 if wall and base_wall else None
    out.update(metrics=layers, spans=spans)
    return out


def _span_total(spans, name, unit_ns: float) -> float | None:
    ds = [s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name]
    return sum(ds) / unit_ns if ds else None


def _eventlog(work: Path, record: dict) -> dict | None:
    """The worker's one finished event log, read; None (and the reason in
    the record) when it is missing or cannot be read."""
    logs = [p for p in glob.glob(str(work / "eventlog" / "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        record["eventlog_error"] = f"expected one finished event log in {work}, found {logs}"
        return None
    try:
        return eventlog.read(logs[0])
    except (OSError, ValueError, KeyError) as exc:
        record["eventlog_error"] = f"{type(exc).__name__}: {exc}"
        return None


def _exec_layers(folded: dict) -> dict:
    return {f"exec.{k}": folded[k] for k in eventlog.TOTALS}


# ------------------------------------------------------------ batch


def batch_plan(work: Path, trace: bool, tables_dir: str, setup_only: bool = False) -> dict:
    return {"kind": "batch", "work": str(work), "trace": trace, "eventlog": str(work / "eventlog"),
            "setup_only": setup_only, "tables": tables_dir, "entries": list(BATCH_ROWS)}


def _pass_wall_s(res: dict) -> float | None:
    es = res.get("entries", [])
    return (es[-1]["end_ns"] - es[0]["start_ns"]) / 1e9 if es else None


def run_batch(work: Path, env: dict, trace: bool, deadline: float) -> dict:
    """One cold pass in a fresh process. Untraced, one more process sets
    up for the set-up median; traced, the pass carries the event log and
    a second, untraced pass is the reference for the overhead. The
    tables are fixed, so that each entry's row count is."""
    tables_dir = tables.write(str(work / "tables"), BATCH_SF)
    main = Worker(batch_plan(work / "main", trace, tables_dir), work / "main", env, "main", deadline)
    res = main.result()
    entries = res.get("entries", [])
    failed = len(BATCH_ROWS) - len(entries)
    for e in entries:
        e["ok"] = not e.get("error") and e.get("rows") == BATCH_ROWS[e["name"]]
        failed += not e["ok"]
    wall = _pass_wall_s(res)
    record = {"setups_s": [res.get("setup_s")], "worker_error": res.get("error"),
              "persisted_rdds": [e["persisted_rdds"] for e in entries], "entries": entries}
    out = {"attempted": len(BATCH_ROWS), "failed": failed, "record": record}
    if not trace:
        for i in range(SETUPS - 1):
            plan = batch_plan(work / f"setup{i}", False, tables_dir, setup_only=True)
            record["setups_s"].append(Worker(plan, work / f"setup{i}", env, "setup", deadline).result().get("setup_s"))
        entry_ms = [(e["end_ns"] - e["start_ns"]) / 1e6 for e in entries]
        out["metrics"] = {
            "setup_s": _median(record["setups_s"]),
            "throughput_eps": len(BATCH_ROWS) / wall if wall else None,
            "latency_p50_ms": _pct(entry_ms, 50),
            "latency_p99_ms": _pct(entry_ms, 99),
            "batch_wall_s": wall,
        }
        return out

    spans = res.get("spans", [])
    # the streaming layers do not run here: they read 0
    layers = {**dict.fromkeys(PER_LAYER, 0.0), **dict.fromkeys(ENGINE_LAYERS), "cache.persisted_rdds": None,
              **{k: None for k in PER_LAYER if k.startswith("entry.")}}
    layers["session.start_s"] = _span_total(spans, "session.start", 1e9)
    layers["mem.peak_rss_mb"] = main.peak_rss / 2**20
    for e in entries:
        layers[f"entry.{e['name']}.wall_s"] = (e["end_ns"] - e["start_ns"]) / 1e9
    if entries:
        layers["cache.persisted_rdds"] = entries[-1]["persisted_rdds"]
    log = _eventlog(work / "main", record)
    if log and entries:
        folded = eventlog.fold(log, lambda j: "perfbench:" in j["props"].get("spark.job.tags", ""))
        layers.update(_exec_layers(folded))
        lo, hi = entries[0]["start_ns"] / 1e6, entries[-1]["end_ns"] / 1e6
        layers["driver_only_ms"] = (hi - lo) - eventlog.covered_ms(folded["intervals"], lo, hi)
        for e in entries:
            tag = f"perfbench:{e['name']}"
            layers[f"entry.{e['name']}.jobs"] = eventlog.fold(
                log, lambda j, t=tag: t in j["props"].get("spark.job.tags", "").split(","))["jobs"]
    base = Worker(batch_plan(work / "untraced", False, tables_dir), work / "untraced", env, "untraced", deadline)
    base_wall = _pass_wall_s(base.result())
    layers["trace.overhead_frac"] = wall / base_wall - 1 if wall and base_wall else None
    out.update(metrics=layers, spans=spans)
    return out


# ------------------------------------------------------------ main


def main() -> int:
    p = argparse.ArgumentParser(description="Benchmark: reference topologies and batch registry.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not (ROOT / "kafkastreams_example_spark" / "__init__.py").exists():
        print(f"perfbench: the package is not in {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    nproc = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    base = ROOT / ".perfbench"
    # The work directory is left in place (about 50 MB): deleting files
    # the kernel has written back stalls for seconds per megabyte on a
    # discard-mounted disk, and deleting in the background disturbs the
    # runs that follow. Inputs are deleted during the run, while cheap.
    work = base / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work.mkdir(parents=True)
    env = _env(work, nproc)
    if a.workload == "registry_batch":
        out = run_batch(work, env, bool(a.trace), deadline)
    else:
        out = run_stream(a.seed, a.seconds, work, env, bool(a.trace), deadline)
    keep = base / "records"
    keep.mkdir(exist_ok=True)
    units = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": None if out["metrics"][k] is None else float(out["metrics"][k]), "unit": u}
               for k, u in units.items()}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "nproc": nproc, "loadavg_1m": load1, "attempted": out["attempted"], "failed": out["failed"],
              "failed_frac": out["failed"] / out["attempted"], **out["record"], "metrics": metrics}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    (keep / f"{name}.json").write_text(json.dumps(record, indent=1))
    if a.trace:
        (keep / f"{name}.spans.json").write_text(json.dumps(out["spans"]))
    print(json.dumps(record))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
