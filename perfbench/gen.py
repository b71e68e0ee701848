"""Event generator: Kafka-shaped LogEvent records as JSON-lines files.

One process, one thread. Each line is one record
``{"timestamp": <record ms>, "key": "<seq>:<created ns>", "value": "<LogEvent JSON>"}``.
Files are written under a temporary name and renamed into the watched
directory, so the file source never sees a partial file.

Event content is a pure function of (seed, stream, seq): ``events()``
rebuilds it for the reference checks, so the ledger the generator
writes only has to say which sequence numbers went out and when.

- level: five levels round-robin on seq.
- about 1% of values are truncated JSON (dead letters).
- exception_class mixes three groups: 20% no exception (the null-key
  path), 60% a Zipf(1) draw from 4,096 hot classes, 20% a churning
  tail (seq // 4, so a tail class is seen about once).
- record timestamp: ``BASE_MS + 5 * seq`` — strictly increasing in seq,
  so with each file holding a contiguous seq range (shuffled inside the
  file) the dedup result does not depend on batch boundaries.

Run as a program it writes one stream: a backlog (``--rate 0``: every
file at once) or an open loop (``--rate R``: one file per tick, each
written when its last event is due, never slowing when the reader
slows).
"""

from __future__ import annotations

import argparse
import json
import os
import time
from dataclasses import dataclass

import numpy as np

LEVELS = ("INFO", "WARN", "ERROR", "DEBUG", "TRACE")
HOT_CLASSES = 4096
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENT_STEP_MS = 5
MALFORMED_SHARE = 0.01
NULL_SHARE = 0.2
TAIL_SHARE = 0.2
BACKLOG_FILE_EVENTS = 10_000
TICK_MS = 100  # open loop: one file per tick

_HOT_CDF = np.cumsum(1.0 / np.arange(1, HOT_CLASSES + 1))
_HOT_CDF /= _HOT_CDF[-1]

_VALUE = (
    '{"version":1,"source_host":"host-%02d","message":"request %d served in %d ms",'
    '"thread_name":"worker-%d","timestamp":"%s","level":"%s",'
    '"logger_name":"com.example.Handler","exception":%s}'
)
_EXCEPTION = (
    '{"exception_class":"%s","exception_message":"request %d failed",'
    '"stacktrace":"at com.example.Handler.handle(Handler.java:%d)"}'
)


@dataclass(frozen=True)
class Events:
    """Ground truth for seqs [first, first + n) of one stream."""

    seq: np.ndarray  # int64
    level: np.ndarray  # index into LEVELS
    malformed: np.ndarray  # bool
    klass: list  # exception_class or None

    def record_ms(self) -> np.ndarray:
        return BASE_MS + EVENT_STEP_MS * self.seq


def events(seed: int, stream: int, first: int, n: int) -> Events:
    rng = np.random.default_rng([seed, stream, first])
    seq = np.arange(first, first + n, dtype=np.int64)
    group = rng.random(n)
    hot = np.searchsorted(_HOT_CDF, rng.random(n))
    klass = [
        None if g < NULL_SHARE
        else f"com.example.errors.Tail{s // 4:09d}Exception" if g < NULL_SHARE + TAIL_SHARE
        else f"com.example.errors.Hot{h:04d}Exception"
        for g, h, s in zip(group.tolist(), hot.tolist(), seq.tolist())
    ]
    return Events(
        seq=seq,
        level=(seq % len(LEVELS)).astype(np.int8),
        malformed=rng.random(n) < MALFORMED_SHARE,
        klass=klass,
    )


def render(ev: Events, created_ns: np.ndarray, shuffle: np.random.Generator) -> str:
    """The file body for these events, lines shuffled."""
    lines = []
    rec_ms = ev.record_ms().tolist()
    for i, s in enumerate(ev.seq.tolist()):
        k = ev.klass[i]
        ms = rec_ms[i] - BASE_MS
        value = _VALUE % (
            s % 17, s, s % 997, s % 8,
            "2024-01-01T%02d:%02d:%02d.%03dZ"
            % (ms // 3_600_000 % 24, ms // 60_000 % 60, ms // 1000 % 60, ms % 1000),
            LEVELS[ev.level[i]],
            "null" if k is None else _EXCEPTION % (k, s, 100 + s % 400),
        )
        if ev.malformed[i]:
            value = value[:60]
        lines.append(
            '{"timestamp":%d,"key":"%d:%d","value":"%s"}\n'
            % (rec_ms[i], s, created_ns[i], value.replace('"', '\\"'))
        )
    order = shuffle.permutation(len(lines))
    return "".join(lines[j] for j in order)


def _write(out_dir: str, name: str, body: str) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, os.path.join(out_dir, name))


def write_stream(
    out_dir: str, seed: int, stream: int, first: int, n: int,
    rate: float, start_ns: int,
) -> dict:
    """Write seqs [first, first + n) into out_dir; return the ledger."""
    os.makedirs(out_dir, exist_ok=True)
    shuffle = np.random.default_rng([seed, stream, 7])
    per_file = BACKLOG_FILE_EVENTS if rate <= 0 else max(1, round(rate * TICK_MS / 1000))
    files = []
    for k, lo in enumerate(range(first, first + n, per_file)):
        cnt = min(per_file, first + n - lo)
        ev = events(seed, stream, lo, cnt)
        if rate <= 0:
            created = np.full(cnt, time.time_ns(), dtype=np.int64)
            due_ns = None
        else:
            created = start_ns + ((ev.seq - first) * 1e9 / rate).astype(np.int64)
            due_ns = int(created[-1])
        body = render(ev, created, shuffle)
        if due_ns is not None:
            wait = (due_ns - time.time_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
        _write(out_dir, f"part-{stream:03d}-{k:06d}.json", body)
        files.append({"first": lo, "n": cnt, "due_ns": due_ns, "written_ns": time.time_ns()})
    return {"seed": seed, "stream": stream, "first": first, "n": n,
            "rate": rate, "start_ns": start_ns, "files": files}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--ledger", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--stream", type=int, required=True)
    p.add_argument("--first", type=int, required=True)
    p.add_argument("--events", type=int, required=True)
    p.add_argument("--rate", type=float, required=True, help="events/s; 0 = backlog")
    p.add_argument("--start-ns", type=int, required=True, help="open-loop schedule origin")
    a = p.parse_args()
    ledger = write_stream(a.out, a.seed, a.stream, a.first, a.events, a.rate, a.start_ns)
    with open(a.ledger, "w") as f:
        json.dump(ledger, f)


if __name__ == "__main__":
    main()
