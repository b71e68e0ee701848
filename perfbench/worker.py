"""One Spark driver process of the benchmark.

``run.py`` starts this file in a fresh interpreter for every timed
set-up, so set-up time includes interpreter start, imports and the JVM
launch. It reads a plan (JSON) and writes a result (JSON); the
reference checks and metric folding happen in ``run.py`` after this
process has exited, so nothing here adds a Spark job to the timed path.

Plan kinds:

- ``stream``: build the dedup topology exactly as
  ``streaming/apps.py`` wires it, over a file stream of Kafka-shaped
  records, and start it on a warm-up backlog (its start ends set-up).
  ``gen.py`` then feeds the same query an open loop at a fixed rate,
  and after it fixed backlogs, each landed at once (drains).
- ``batch``: force each registry entry with the noop writer, in order.

A plan with ``setup_only`` set ends once set-up is measured.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

QUERY_TIMEOUT_S = 60


class Spans:
    """Spans kept in memory: id, name, start and end (wall ns), parent id.

    Sink spans open on Spark's callback thread, so the open-span stack is
    per thread."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def __call__(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        item = {"id": next(self._ids), "name": name, "start_ns": time.time_ns(),
                "parent": stack[-1]["id"] if stack else None, **attrs}
        self.items.append(item)
        stack.append(item)
        try:
            yield item
        finally:
            stack.pop()
            item["end_ns"] = time.time_ns()


def _session(plan: dict, spans: Spans):
    from kafkastreams_example_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(plan["work"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if plan["trace"]:
        os.makedirs(plan["eventlog"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": plan["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with spans("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------- streaming


def _build(spark, in_dir: str, spans: Spans):
    """File stream → the shipped dedup topology, wired as
    streaming/apps.py does (the topology encodes its output)."""
    from pyspark.sql import functions as F

    from kafkastreams_example_spark.sources.kafka import decode_log_events, split_dead_letters
    from kafkastreams_example_spark.streaming.apps import dedup_topology

    # The Kafka source's (key, value, timestamp) columns; the connector
    # is not installed, so JSON-lines files stand in for the topic.
    raw = (
        spark.readStream.schema("timestamp BIGINT, key STRING, value STRING")
        .json(in_dir)
        .select("key", "value", F.timestamp_millis("timestamp").alias("timestamp"))
    )
    with spans("streaming.build"):
        good, _dead = split_dead_letters(decode_log_events(raw))
        return dedup_topology(good, exact_parity=True, evict_state=True)


def _start(spark, q: dict, spans: Spans):
    """Start one query; its sink calls are timed into q["sink"]."""
    from kafkastreams_example_spark.session import DEFAULT_TRIGGER
    from kafkastreams_example_spark.streaming.foreach_sink import idempotent_parquet_sink

    sink = idempotent_parquet_sink(q["out"])
    returns = q["sink"]

    def timed_sink(batch_df, batch_id):
        with spans("sink.write", batch=batch_id) as s:
            sink(batch_df, batch_id)
        returns[str(batch_id)] = [s["start_ns"], s["end_ns"]]

    q["start_ns"] = time.time_ns()
    out = _build(spark, q["in"], spans)
    with spans("query.start"):
        query = (
            out.writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", q["checkpoint"])
            .outputMode("append")
            .trigger(processingTime=DEFAULT_TRIGGER)
            .start()
        )
    return query


def _await(query, inputs_done_ns: int) -> None:
    """Block until a batch that started after the last input file landed
    has been posted. That batch listed every file, so all input is
    committed. (processAllAvailable cannot serve: a query with
    processing-time state timeouts runs a batch on every trigger and
    never reports itself idle.)"""
    deadline = time.monotonic() + QUERY_TIMEOUT_S
    while True:
        last = query.lastProgress
        if last and progress_ns(last["timestamp"]) >= inputs_done_ns:
            return
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(str(query.exception()))
        if time.monotonic() > deadline:
            raise TimeoutError(f"no batch after the last input within {QUERY_TIMEOUT_S} s")
        time.sleep(0.05)


def progress_ns(ts: str) -> int:
    """A progress timestamp (ISO, truncated to ms, so never later than
    the true trigger start) in epoch ns."""
    ms = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000
    return int(round(ms)) * 1_000_000


def generate(out_dir: str, feed: dict) -> int:
    """Run gen.py for one feed: a backlog when its rate is 0, else an
    open loop whose schedule starts shortly after now. Returns the time
    the last file had landed."""
    rc = subprocess.run([
        sys.executable, str(Path(__file__).with_name("gen.py")),
        "--out", out_dir, "--ledger", feed["ledger"], "--seed", str(feed["seed"]),
        "--stream", str(feed["stream"]), "--first", str(feed["first"]),
        "--events", str(feed["events"]), "--rate", str(feed["rate"]),
        "--start-ns", str(time.time_ns() + 300_000_000),
    ]).returncode
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")
    return time.time_ns()


def _land(stage: str, in_dir: str) -> int:
    """Move a staged backlog into the watched directory, so that one
    trigger lists all of it. Returns the time it landed."""
    for name in sorted(os.listdir(stage)):
        os.rename(os.path.join(stage, name), os.path.join(in_dir, name))
    return time.time_ns()


def _drop_input(in_dir: str) -> None:
    """Delete input files the query has committed. Unlinking data the
    kernel has not yet written back is cheap; left to the end of the
    run, the same deletes stall for seconds on a discard-mounted disk."""
    for name in os.listdir(in_dir):
        os.remove(os.path.join(in_dir, name))


def run_stream(plan: dict, spans: Spans, result: dict) -> None:
    """One query for the whole run: it starts on the warm-up backlog
    (written before this process started), then takes the open loop,
    then each drain backlog in turn. Keeping one warm query means the
    drains time steady-state batches, not query start-up, and the run
    leaves one query's state and checkpoint behind instead of several."""
    spark = _session(plan, spans)
    q = plan["query"]
    q["sink"], q["drains"] = {}, []
    query = _start(spark, q, spans)
    result["setup_s"] = (time.time_ns() - plan["spawn_ns"]) / 1e9
    if plan["setup_only"]:
        return  # run.py ends the process group
    try:
        _await(query, q["start_ns"])
        _drop_input(q["in"])
        q["warm_ns"] = time.time_ns()
        for feed in q["feeds"][1:]:
            if feed["rate"] > 0:
                with spans("gen.open_loop"):
                    _await(query, generate(q["in"], feed))
                q["open_done_ns"] = time.time_ns()
            else:
                with spans("gen.backlog"):
                    generate(feed["stage"], feed)
                landed = _land(feed["stage"], q["in"])
                q["drains"].append({"first": feed["first"], "events": feed["events"], "landed_ns": landed})
                _await(query, landed)
            _drop_input(q["in"])
    except Exception as exc:  # a failed query is recorded, not fatal
        q["error"] = f"{type(exc).__name__}: {str(exc)[:2000]}"
    finally:
        q["progress"] = [json.loads(p.json) for p in query.recentProgress]
        query.stop()
        q["end_ns"] = time.time_ns()
    result["persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    result["done_ns"] = time.time_ns()
    _stop(spark, plan)


def _stop(spark, plan: dict) -> None:
    """Stopping flushes the event log; untraced, run.py just ends the
    process group once the result is written, which is quicker."""
    if plan["trace"]:
        spark.stop()


# ---------------------------------------------------------------- batch


def run_batch(plan: dict, spans: Spans, result: dict) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kafkastreams_example_spark.queries import REGISTRY

    spark = _session(plan, spans)
    sc = spark.sparkContext
    entries = result["entries"] = []
    for i, name in enumerate(plan["entries"]):
        e = {"name": name}
        entries.append(e)
        tag = f"perfbench:{name}"
        sc.addJobTag(tag)
        try:
            with spans("entry", entry=name) as s:
                with spans("entry.build", entry=name):
                    df = REGISTRY[name].fn(spark, plan["tables"])
                if i == 0:
                    result["setup_s"] = (time.time_ns() - plan["spawn_ns"]) / 1e9
                    if plan["setup_only"]:
                        return  # run.py ends the process group
                obs = Observation(f"rows_{i}")
                with spans("entry.write", entry=name):
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                e["rows"] = obs.get["rows"]
        except Exception as exc:  # an entry that raises is a failed operation
            e["error"] = f"{type(exc).__name__}: {str(exc)[:2000]}"
        finally:
            sc.removeJobTag(tag)
        e["start_ns"], e["end_ns"] = s["start_ns"], s.get("end_ns", time.time_ns())
        e["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
    _stop(spark, plan)


def main() -> None:
    plan_path, out_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as f:
        plan = json.load(f)
    spans = Spans()
    result: dict = {"pid": os.getpid()}
    try:
        (run_batch if plan["kind"] == "batch" else run_stream)(plan, spans, result)
    except Exception:
        result["error"] = traceback.format_exc()[-3000:]
        raise
    finally:
        result["spans"] = spans.items
        result["query"] = plan.get("query")
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.rename(tmp, out_path)


if __name__ == "__main__":
    main()
