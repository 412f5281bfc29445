"""Seeded input generators for the benchmark workloads.

Every topic a workload feeds the program comes from here and depends only
on the seed: the same seed gives byte-identical topics. The
generators also return the values a correct program must produce from
those inputs, so the checkers never trust the program's own output.

Event payloads follow ``sources.decode.EVENT_SCHEMA``. Choices that keep
the expected values exact:

- ``value`` is a multiple of 0.25, so float sums do not depend on the
  order Spark adds them in;
- ``ts`` has millisecond precision and rises with ``event_id``;
- messages go round-robin over the partitions, so every partition's
  event time advances at the same rate and a watermark never marks a
  message late.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

import numpy as np

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_EVENT_TYPE_WEIGHTS = (0.55, 0.25, 0.08, 0.07, 0.05)
EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
PARTITIONS = 4
MALFORMED_SHARE = 0.01
N_USERS = 50_000


@dataclass
class EventTopic:
    """A generated topic: one entry per message, in append order."""

    partitions: int
    payloads: list[bytes]
    partition_of: list[int]
    # decoded view of each well-formed message; None for a malformed one
    records: list[dict | None]
    offsets: list[int] = field(default_factory=list)  # filled by write_topic

    @property
    def malformed_share(self) -> float:
        return sum(r is None for r in self.records) / len(self.records)


def _malformed(rng: np.random.Generator, good: bytes, i: int) -> bytes:
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return good[: len(good) // 2]  # truncated object
    if kind == 1:
        return f"not-json-{i}".encode()
    if kind == 2:
        return b"[1, 2, 3]"  # valid JSON, not an object
    return good.replace(b'"', b"'")  # single quotes: rejected like Jackson


def event_topic(seed: int, n_msgs: int) -> EventTopic:
    """``n_msgs`` JSON events over PARTITIONS partitions, with
    Zipf-distributed ``user_id`` and about MALFORMED_SHARE undecodable
    payloads."""
    rng = np.random.default_rng(seed)
    gaps = rng.integers(1000, 5000, n_msgs)  # ~3 s of event time per message
    ts = EPOCH_MS + np.cumsum(gaps)
    users = (rng.zipf(1.3, n_msgs) - 1) % N_USERS
    types = rng.choice(len(EVENT_TYPES), n_msgs, p=_EVENT_TYPE_WEIGHTS)
    quarters = rng.integers(0, 40_000, n_msgs)
    props = rng.integers(0, 100, n_msgs)
    bad = rng.random(n_msgs) < MALFORMED_SHARE
    iso = np.datetime_as_string(ts.astype("datetime64[ms]"), unit="ms")
    payloads, records = [], []
    for i in range(n_msgs):
        rec = {
            "event_id": i,
            "ts": f"{iso[i]}Z",
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[types[i]],
            "value": int(quarters[i]) / 4,
            "props": json.dumps({"k": int(props[i])}),
        }
        good = json.dumps(rec, separators=(",", ":")).encode()
        if bad[i]:
            payloads.append(_malformed(rng, good, i))
            records.append(None)
        else:
            payloads.append(good)
            records.append({**rec, "ts_ms": int(ts[i])})
    return EventTopic(
        partitions=PARTITIONS,
        payloads=payloads,
        partition_of=[i % PARTITIONS for i in range(n_msgs)],
        records=records,
    )


def write_topic(topic: EventTopic, root: str, name: str, *, rollover_every: int, tracer=None):
    """Append every message through ``TopicWriter.append`` (the broker's
    producer path); rollovers leave real offset gaps. Records each
    message's offset on ``topic.offsets``. Returns the append time in s."""
    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter

    writer = TopicWriter(root, name, partitions=topic.partitions, rollover_every=rollover_every)
    t0 = time.perf_counter()
    topic.offsets = [
        writer.append(p, payload) for p, payload in zip(topic.partition_of, topic.payloads)
    ]
    elapsed = time.perf_counter() - t0
    if tracer is not None:
        tracer.record("fakebroker.TopicWriter.append", t0, t0 + elapsed, msgs=len(topic.payloads))
    return elapsed


def expected_windows(records) -> dict[tuple[int, str], tuple[int, float]]:
    """(hour window start in ms, event_type) -> (count, value sum) over
    the well-formed records — what ``tumbling_counts`` must emit."""
    out: dict[tuple[int, str], tuple[int, float]] = {}
    for r in records:
        if r is None:
            continue
        key = (r["ts_ms"] - r["ts_ms"] % HOUR_MS, r["event_type"])
        n, s = out.get(key, (0, 0.0))
        out[key] = (n + 1, s + r["value"])
    return out
