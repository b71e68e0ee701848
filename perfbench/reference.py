"""Expected outputs, computed from the generator's ledger in plain Python.

Nothing here calls the package under test: the dedup reference is a
fresh transliteration of the reference DeduplicationTransformer
(KStreamDistinct.java:42-112).
"""

from __future__ import annotations

from bisect import bisect_left, insort

from gen import events

WINDOW_MS = 10 * 60 * 1000  # KStreamDistinct.java:135-136


def ledger_events(ledger: dict) -> list[tuple[int, int, bool, str | None, int]]:
    """(seq, level, malformed, exception_class, record ms) per event sent."""
    out = []
    for f in ledger["files"]:
        ev = events(ledger["seed"], ledger["stream"], f["first"], f["n"])
        out.extend(zip(
            ev.seq.tolist(), ev.level.tolist(), ev.malformed.tolist(), ev.klass,
            ev.record_ms().tolist(),
        ))
    return out


def expected_dedup(evs) -> set[int]:
    """Topology 2, refresh-on-duplicate, replayed in record-time order.

    Per exception_class, the store remembers every timestamp it is given;
    a record is a duplicate iff a remembered timestamp lies in the
    centered probe [ts - window/2, ts + window/2] (:56-59, :86-95). Both
    outcomes put the record's timestamp (:97-103); entries a full window
    behind the class's newest are retained no longer (:135-136). A null
    class passes through (:71-72); malformed records never decode.
    """
    left = WINDOW_MS // 2
    right = WINDOW_MS - left
    store: dict[str, list[int]] = {}
    out = set()
    for seq, _, bad, klass, ts in sorted(evs, key=lambda e: e[4]):
        if bad:
            continue
        if klass is None:
            out.add(seq)
            continue
        seen = store.setdefault(klass, [])
        i = bisect_left(seen, ts - left)
        if not (i < len(seen) and seen[i] <= ts + right):
            out.add(seq)
        insort(seen, ts)
        stale = bisect_left(seen, seen[-1] - WINDOW_MS)
        if stale:
            del seen[:stale]
    return out
