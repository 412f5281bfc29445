"""Correctness gates: each compares the program's output with values
derived from the generator alone and returns a list of problems (empty
means correct). Any problem makes the run report ``correct: false``."""

from __future__ import annotations

import hashlib
import json

from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
from pinot_pulsar_plugin_spark.sources.offsets import EARLIEST_OFFSET

# Fewer emitted windows than this means the stream did little or no
# work, e.g. a reader that resumed past the backlog from a stale ack.
MIN_INGEST_WINDOWS = 2


def check_windows(emitted: list[tuple], expected: dict) -> list[str]:
    """``emitted`` rows are (window_start_ms, event_type, n_events,
    sum_value) from the append-mode sink. Every emitted window must hold
    exactly the expected count and sum for each event type, and no event
    type of an emitted window may be missing."""
    problems = []
    got = {}
    for ws, et, n, s in emitted:
        if (ws, et) in got:
            problems.append(f"window {ws}/{et} emitted twice")
        got[(ws, et)] = (n, s)
    starts = {ws for ws, _ in got}
    if len(starts) < MIN_INGEST_WINDOWS:
        problems.append(f"only {len(starts)} windows emitted; expected >= {MIN_INGEST_WINDOWS}")
    for key, val in got.items():
        if expected.get(key) != val:
            problems.append(f"window {key}: got {val}, expected {expected.get(key)}")
    for key in expected:
        if key[0] in starts and key not in got:
            problems.append(f"window {key}: missing")
    return problems[:10]


def canonical_event(rec: dict) -> str:
    """One re-encoded backfill message as a canonical line."""
    return json.dumps(
        [rec["event_id"], rec["ts_ms"], rec["user_id"], rec["event_type"], rec["value"], rec["props"]]
    )


def topic_digest(lines) -> tuple[int, str]:
    """(count, sha256 of the sorted lines): order-insensitive, because
    parallel writer tasks land in ledgers in no fixed order."""
    lines = sorted(lines)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(lines), h.hexdigest()


def read_topic_lines(root: str, topic: str) -> list[str]:
    """Every message of ``topic`` decoded to its canonical line."""
    broker = FakePulsarBroker(root)
    out = []
    for p in range(broker.partition_count(topic)):
        for m in broker.fetch(topic, p, EARLIEST_OFFSET, max_msgs=1 << 62, max_bytes=1 << 62):
            out.append(canonical_event(json.loads(m.payload)))
    return out


def check_topic(got_lines: list[str], expected_lines: list[str]) -> list[str]:
    got, want = topic_digest(got_lines), topic_digest(expected_lines)
    if got == want:
        return []
    return [f"produced topic (count, digest) {got} != expected {want}"]


class _Collected:
    """A query result already collected to pandas, in the shape the
    differential harness reads (it calls ``toPandas()``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def check_query(name: str, result, oracle) -> list[str]:
    """A registry query's collected result (pandas) against its DuckDB
    oracle's, compared exactly and order-insensitively by the
    repository's differential harness."""
    from tests.oracle_harness import compare

    return compare(name, _Collected(result), oracle)
