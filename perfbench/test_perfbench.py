"""Tests of the benchmark's own parts: seeded generators and correctness
gates. Run from the repository root with

    python -m pytest perfbench -q -p no:cacheprovider

The gate tests need no Spark session: each gate is fed a correct output
and then a deliberately corrupted one. The last test runs the
``backfill`` workload end to end.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from checks import (  # noqa: E402
    canonical_event,
    check_query,
    check_topic,
    check_windows,
    read_topic_lines,
)
from inputs import event_topic, expected_windows, write_topic  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _written_topic(tmp_path, name: str, seed: int, n: int = 3_000):
    topic = event_topic(seed, n)
    root = str(tmp_path / name)
    write_topic(topic, root, "t", rollover_every=400)
    return topic, root


def test_same_seed_gives_byte_identical_topics(tmp_path):
    _, a = _written_topic(tmp_path, "a", 7)
    _, b = _written_topic(tmp_path, "b", 7)
    _, c = _written_topic(tmp_path, "c", 8)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_topic_has_gaps_malformed_share_and_round_robin(tmp_path):
    topic, _ = _written_topic(tmp_path, "a", 7, n=20_000)
    assert 0.007 < topic.malformed_share < 0.013
    assert topic.partition_of[:8] == [0, 1, 2, 3, 0, 1, 2, 3]
    p0 = topic.offsets[0::4]
    # a ledger rollover jumps the offset by far more than one entry
    assert any(b - a > 1 for a, b in zip(p0, p0[1:]))
    for payload, rec in zip(topic.payloads, topic.records):
        if rec is not None:
            assert json.loads(payload)["event_id"] == rec["event_id"]


def _emitted(expected, n_windows):
    starts = sorted({ws for ws, _ in expected})[:n_windows]
    return [(ws, et, n, s) for (ws, et), (n, s) in expected.items() if ws in starts]


def test_window_gate_accepts_correct_and_rejects_corrupted():
    expected = expected_windows(event_topic(5, 20_000).records)
    good = _emitted(expected, 3)
    assert check_windows(good, expected) == []
    ws, et, n, s = good[0]
    assert check_windows([(ws, et, n + 1, s)] + good[1:], expected)  # wrong count
    assert check_windows([(ws, et, n, s + 0.25)] + good[1:], expected)  # wrong sum
    assert check_windows(good[1:], expected)  # a group missing
    assert check_windows([], expected)  # a drain that read nothing


def _replay_topic(root, lines_per_part):
    from pinot_pulsar_plugin_spark.sources.fakebroker import TopicWriter

    w = TopicWriter(root, "dst", partitions=len(lines_per_part))
    for p, recs in enumerate(lines_per_part):
        for r in recs:
            w.append(p, json.dumps({k: r[k] for k in ("event_id", "ts_ms", "user_id", "event_type", "value", "props")}))


def test_topic_gate_accepts_correct_and_rejects_corrupted(tmp_path):
    recs = [r for r in event_topic(6, 400).records if r is not None]
    expected = [canonical_event(r) for r in recs]
    halves = [recs[::2], recs[1::2]]

    _replay_topic(str(tmp_path / "ok"), halves)
    assert check_topic(read_topic_lines(str(tmp_path / "ok"), "dst"), expected) == []

    bad = [dict(r) for r in recs]
    bad[10]["value"] += 1
    _replay_topic(str(tmp_path / "changed"), [bad[::2], bad[1::2]])
    assert check_topic(read_topic_lines(str(tmp_path / "changed"), "dst"), expected)

    _replay_topic(str(tmp_path / "short"), [recs[::2], recs[1::2][:-1]])
    assert check_topic(read_topic_lines(str(tmp_path / "short"), "dst"), expected)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda d: d.assign(revenue=d["revenue"].where(d.index != 1, d["revenue"] + 0.01)),
        lambda d: d.iloc[:-1],
        lambda d: d.rename(columns={"revenue": "rev"}),
    ],
)
def test_query_gate_rejects_corrupted_result(corrupt):
    oracle = pd.DataFrame({"p_brand": ["Brand#1", "Brand#2", "Brand#3"], "revenue": [1.5, 2.25, 3.0]})
    assert check_query("q", oracle.copy(), oracle) == []
    assert check_query("q", oracle.sample(frac=1, random_state=0), oracle) == []
    assert check_query("q", corrupt(oracle.copy()), oracle)


def test_backfill_runs_traced_and_passes_its_gate():
    """``backfill`` is not among the workloads BENCHMARK.json measures, so
    this is the run that keeps it working: one short traced run, end to
    end, with its topic gate and its per-layer metrics. Boots Spark and
    takes about a minute."""
    bench = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(bench, "run.py"), "--workload", "backfill",
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(bench), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-3000:]
    assert result["attempted"] >= 2 and result["failed"] == 0
    metrics = result["metrics"]
    assert metrics["decode.drop_ratio"]["value"] > 0
    for name in ("fakebroker.fetch_us_per_msg", "pulsarlike.read_us_per_msg",
                 "pulsarlike.write_us_per_msg", "decode.us_per_row", "spark.jobs_per_op"):
        assert metrics[name]["value"] > 0, name
