"""The three benchmark workloads.

Each workload is a closed loop with one client: the next operation
starts only after the previous one has completed. A workload

- ``setup``: generates its seeded inputs and warms up until operation
  times are flat (the caller counts all of it in ``setup_s``);
- ``window``: measures operations for a given number of seconds;
- ``check``: compares the outputs with the generator's expected values;
- ``layers``: in a traced run only, times each layer through its public
  functions and returns the per-layer metrics.
"""

from __future__ import annotations

import ast
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from checks import (
    canonical_event,
    check_query,
    check_topic,
    check_windows,
    read_topic_lines,
)
from inputs import PARTITIONS as N_PARTITIONS
from inputs import event_topic, expected_windows, write_topic
from pinot_pulsar_plugin_spark.sources.fakebroker import DEFAULT_MAX_MSGS
from tracing import Tracer, median_or_zero, traced_methods

HERE = os.path.dirname(os.path.abspath(__file__))
# Byte-identical copies of the repository's shared scale-0.1 test tables
# (TESTDATA.md: seed 42, ~600k lineitem rows), read and never written.
SF_DIR = os.path.join(HERE, "data", "sf0.1")
ROLLOVER_EVERY = 2_500  # entries per ledger; every rollover leaves an offset gap

# Warm-up ends when the last WARM_RUN operation times lie within
# WARM_TOLERANCE of their median (or after WARM_MAX operations).
# Two flat operations are not enough: trigger times keep falling for
# about ten batches after the first (1.4 s to 1.0 s), and a window that
# starts on that slope measures how far down it has got.
WARM_RUN = 4
WARM_TOLERANCE = 0.15
WARM_MAX = 12

# Noop warm-up passes after the cold checking pass: each costs a full
# pass over the mix, and the run budget is fixed.
QUERY_WARM_PASSES = 1
CHECK_THREADS = 3

QUERY_MIX = (
    "q01_pricing_summary",
    "q08_join_broadcast_agg",
    "q09_join_multiway",
    "q23_window_running_sum",
    "q25_topk_per_group",
    "q29_sessionize",
    "q45_shipping_priority",
    "q84_bloom_semi_prune",
    "d43_dedup_exact",
    "s48_cosine_topk",
    "t50_text_stats",
    "st57_tumbling_window",
)

# Per-layer metric names and units, shared by every workload: a layer
# a workload does not exercise reports 0.
LAYER_UNITS = {
    "session.boot_s": "s",
    "fakebroker.fetch_calls": "count",
    "fakebroker.fetch_ms": "ms",
    "fakebroker.fetch_us_per_msg": "us",
    "fakebroker.fetch_fill_ratio": "ratio",
    "fakebroker.offset_resolve_ms": "ms",
    "fakebroker.append_us_per_msg": "us",
    "pulsarlike.plan_ms": "ms",
    "pulsarlike.read_us_per_msg": "us",
    "pulsarlike.latest_offset_ms": "ms",
    "pulsarlike.write_us_per_msg": "us",
    "decode.us_per_row": "us",
    "decode.drop_ratio": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_per_batch": "rows",
    "catalog.load_table_ms": "ms",
    "query.build_ms": "ms",
    "query.exec_ms": "ms",
    "operators.relational.latency_ms": "ms",
    "operators.windows.latency_ms": "ms",
    "operators.advanced.latency_ms": "ms",
    "operators.dedup.latency_ms": "ms",
    "operators.similarity.latency_ms": "ms",
    "operators.textops.latency_ms": "ms",
    "operators.streaming_batch.latency_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    # traced window's metric / untraced window's, minus one
    "trace.throughput_overhead_ratio": "ratio",
    "trace.latency_overhead_ratio": "ratio",
}

BROKER_METHODS = ("fetch", "earliest_offset", "latest_offset")


@dataclass
class Window:
    """What one timed window measured."""

    latencies_s: list[float]
    elapsed_s: float
    work: int  # messages (source workloads) or queries
    failed: int = 0
    # what latency_ms reports, when not the median of every latency
    latency_s: float | None = None

    def metrics(self) -> dict[str, float]:
        latency = median_or_zero(self.latencies_s) if self.latency_s is None else self.latency_s
        return {
            "throughput_per_s": self.work / self.elapsed_s,
            "latency_ms": latency * 1000,
        }


def log_failure(exc: Exception) -> None:
    print(f"[perfbench] operation failed: {exc!r}", file=sys.stderr, flush=True)


def warm_until_flat(op) -> list[float]:
    """Run ``op`` (which returns its latency in s, or None when there is
    no more work) until the last WARM_RUN latencies are flat."""
    lat: list[float] = []
    while len(lat) < WARM_MAX:
        x = op()
        if x is None:
            break
        lat.append(x)
        last = lat[-WARM_RUN:]
        if len(lat) > WARM_RUN and max(last) - min(last) <= WARM_TOLERANCE * statistics.median(last):
            break
    print(f"[perfbench] warm-up operation times (s): {[round(x, 3) for x in lat]}", file=sys.stderr, flush=True)
    return lat


def job_tasks(st, jobs) -> int:
    """Tasks Spark ran for the given job ids."""
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return tasks


def spark_work(spark, groups: list[str]) -> tuple[int, int]:
    """(jobs, tasks) Spark ran for the given job groups."""
    st = spark.sparkContext.statusTracker()
    jobs = [jid for g in groups for jid in st.getJobIdsForGroup(g)]
    return len(jobs), job_tasks(st, jobs)


def broker_layer(tracer: Tracer, ops: int) -> dict[str, float]:
    """fakebroker.* metrics from the broker spans of a replay of ``ops``
    operations (the only broker spans a run records)."""
    fetch = [s for s in tracer.spans if s["name"] == "fakebroker.fetch"]
    fetch_s = sum(s["end"] - s["start"] for s in fetch)
    msgs = sum(s["attrs"]["msgs"] for s in fetch)
    asked = sum(s["attrs"]["max_msgs"] for s in fetch)
    resolve = tracer.durations("fakebroker.earliest_offset") + tracer.durations("fakebroker.latest_offset")
    return {
        "fakebroker.fetch_calls": len(fetch) / ops,
        "fakebroker.fetch_ms": fetch_s * 1000 / ops,
        "fakebroker.fetch_us_per_msg": fetch_s * 1e6 / msgs if msgs else 0.0,
        "fakebroker.fetch_fill_ratio": msgs / asked if asked else 0.0,
        "fakebroker.offset_resolve_ms": median_or_zero(resolve) * 1000,
    }


def timed_write_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def decode_layer(spark, raw, malformed: int) -> tuple[dict[str, float], list[str]]:
    """decode_json over a cached binary frame: time per row, and the
    share of rows dropped, which must equal the seeded malformed share."""
    from pinot_pulsar_plugin_spark.sources.decode import EVENT_SCHEMA, decode_json

    raw = raw.cache()
    n = raw.count()
    times = [timed_write_noop(decode_json(raw, EVENT_SCHEMA)) for _ in range(3)]
    kept = decode_json(raw, EVENT_SCHEMA).count()
    raw.unpersist()
    problems = []
    if n - kept != malformed:
        problems.append(f"decode dropped {n - kept} rows, seeded malformed {malformed}")
    return {
        "decode.us_per_row": statistics.median(times) * 1e6 / n,
        "decode.drop_ratio": (n - kept) / n,
    }, problems


def encode_events(decoded):
    """Re-encode decoded events as JSON payloads for the pulsarlike writer."""
    from pyspark.sql import functions as F

    payload = F.to_json(
        F.struct("event_id", F.unix_millis("ts").alias("ts_ms"), "user_id", "event_type", "value", "props")
    )
    return decoded.select(F.encode(payload, "UTF-8").alias("value"), "partition")


def write_topic_df(df, root: str, topic: str) -> None:
    (df.write.format("pulsarlike").option("path", root).option("topic", topic)
        .option("partitions", str(N_PARTITIONS)).mode("append").save())


def writer_layer(tracer: Tracer, raw, root: str) -> dict[str, float]:
    """The pulsarlike writer job over a cached frame of re-encoded events."""
    from pinot_pulsar_plugin_spark.sources.decode import EVENT_SCHEMA, decode_json

    with tracer.span("pulsarlike.writer.cached") as a:
        encoded = encode_events(decode_json(raw, EVENT_SCHEMA)).cache()
        n = encoded.count()
        times = []
        for i in range(3):
            t0 = time.perf_counter()
            write_topic_df(encoded, root, f"writer-probe-{i}")
            times.append(time.perf_counter() - t0)
        encoded.unpersist()
        a["msgs"] = n
    return {"pulsarlike.write_us_per_msg": statistics.median(times) * 1e6 / n}


class IngestWorkload:
    """Drain a seeded backlog through ``readStream.format("pulsarlike")``
    at the default admission cap, ``decode_json``, watermarked
    ``tumbling_counts`` and an append-mode memory sink. One operation is
    one micro-batch trigger."""

    name = "ingest"
    TOPIC = "events"
    # The backlog must outlast the warm-up and both windows of a traced
    # run for a program well beyond today's speed (about 2k msg/s on 4
    # cores): a drain before a window's end fails the run.
    MAX_RATE_PER_S = 10_000

    def __init__(self, spark, root: str, seed: int, seconds: float):
        self.spark, self.root, self.seed = spark, root, seed
        self.n_msgs = WARM_MAX * DEFAULT_MAX_MSGS * N_PARTITIONS + int(2 * seconds * self.MAX_RATE_PER_S)
        self.query = None
        self.last_batch = -1
        self.layer: dict[str, float] = {}
        self.progress: list[dict] = []
        self.problems: list[str] = []

    def setup(self, tracer: Tracer) -> None:
        from pinot_pulsar_plugin_spark.sources.decode import EVENT_SCHEMA, decode_json
        from pinot_pulsar_plugin_spark.sources.pulsarlike import read_stream
        from pinot_pulsar_plugin_spark.streaming.windows import tumbling_counts

        self.topic = event_topic(self.seed, self.n_msgs)
        append_s = write_topic(self.topic, self.root, self.TOPIC, rollover_every=ROLLOVER_EVERY, tracer=tracer)
        self.layer["fakebroker.append_us_per_msg"] = append_s * 1e6 / self.n_msgs
        self.end_offsets = {}
        for p, off in zip(self.topic.partition_of, self.topic.offsets):
            self.end_offsets[str(p)] = off + 1
        agg = tumbling_counts(decode_json(read_stream(self.spark, self.root, self.TOPIC), EVENT_SCHEMA))
        self.query = (
            agg.writeStream.format("memory")
            .queryName("ingest_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .start()
        )
        warm_until_flat(self._warm_op)

    def _warm_op(self) -> float | None:
        lp = self._next_batch()
        if lp is None:
            self.problems.append(f"the {self.n_msgs}-message backlog drained during warm-up")
            return None
        return lp["durationMs"]["triggerExecution"] / 1000

    def _drained(self, progress: dict) -> bool:
        end = progress["sources"][0]["endOffset"]
        # pyspark renders the Python source's offset dict with repr()
        end = ast.literal_eval(end) if isinstance(end, str) else end
        return end is not None and {str(k): int(v) for k, v in end.items()} == self.end_offsets

    def _next_batch(self) -> dict | None:
        """Block until the stream completes its next batch that read data
        and return its progress, or None once the backlog is drained.
        (After the drain Spark may run a no-data batch to advance the
        watermark; it is not an ingest operation.)"""
        while True:
            lp = self.query.lastProgress
            if lp is not None and lp["batchId"] > self.last_batch:
                self.last_batch = lp["batchId"]
                if lp["numInputRows"] > 0:
                    return lp
            if lp is not None and self._drained(lp):
                return None
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.01)

    def window(self, seconds: float, tracer: Tracer) -> Window:
        st = self.spark.sparkContext.statusTracker()
        group = str(self.query.runId)
        jobs_before = set(st.getJobIdsForGroup(group)) if tracer.enabled else set()
        t0 = time.perf_counter()
        batches = []
        while time.perf_counter() - t0 < seconds:
            lp = self._next_batch()
            if lp is None:
                self.problems.append(
                    f"the {self.n_msgs}-message backlog drained {time.perf_counter() - t0:.1f} s into a "
                    f"{seconds:g} s window; raise MAX_RATE_PER_S"
                )
                break
            # Spark reports phase durations, not start times: the phase
            # spans are laid end to end in Spark's phase order.
            end = time.perf_counter()
            d = lp["durationMs"]
            start = end - d["triggerExecution"] / 1000
            sid = tracer.record("streaming.trigger", start, end, batch=lp["batchId"])
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                tracer.record(f"streaming.{phase}", start, start + d.get(phase, 0) / 1000, parent=sid)
                start += d.get(phase, 0) / 1000
            batches.append(lp)
        elapsed = time.perf_counter() - t0
        if tracer.enabled and batches:
            with tracer.span("StreamingQuery.recentProgress"):
                recent = {p["batchId"]: p for p in self.query.recentProgress}
            self.progress = [recent.get(b["batchId"], b) for b in batches]
            jobs = set(st.getJobIdsForGroup(group)) - jobs_before
            self.layer["spark.jobs_per_op"] = len(jobs) / len(batches)
            self.layer["spark.tasks_per_op"] = job_tasks(st, jobs) / len(batches)
        return Window(
            latencies_s=[b["durationMs"]["triggerExecution"] / 1000 for b in batches],
            elapsed_s=elapsed,
            work=sum(b["numInputRows"] for b in batches),
        )

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def check(self) -> list[str]:
        self.stop()
        rows = self.spark.sql(
            "SELECT unix_millis(window_start), event_type, n_events, sum_value FROM ingest_out"
        ).collect()
        return self.problems + check_windows([tuple(r) for r in rows], expected_windows(self.topic.records))

    def layers(self, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
        from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
        from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeStreamReader, read_batch

        out = dict(self.layer)
        prog = self.progress
        med = lambda f: median_or_zero(f(p) for p in prog)  # noqa: E731
        state = lambda p, k: p["stateOperators"][0][k] if p.get("stateOperators") else 0  # noqa: E731
        out.update({
            "streaming.trigger_ms": med(lambda p: p["durationMs"]["triggerExecution"]),
            "streaming.add_batch_ms": med(lambda p: p["durationMs"].get("addBatch", 0)),
            "streaming.query_planning_ms": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
            "streaming.wal_commit_ms": med(lambda p: p["durationMs"].get("walCommit", 0)),
            "streaming.commit_offsets_ms": med(lambda p: p["durationMs"].get("commitOffsets", 0)),
            "streaming.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
            "streaming.state_rows": med(lambda p: state(p, "numRowsTotal")),
            "streaming.state_memory_bytes": med(lambda p: state(p, "memoryUsedBytes")),
            "streaming.rows_per_batch": med(lambda p: p["numInputRows"]),
        })
        # Replay the reader's first micro-batches in this process. The
        # stopped query's commit acks would move a new reader's cursor to
        # the end of the drained range, so they are removed first.
        for p in range(N_PARTITIONS):
            ack = os.path.join(self.root, self.TOPIC, f"partition-{p}", "_acks.json")
            if os.path.exists(ack):
                os.remove(ack)
        ops = 3
        with traced_methods(tracer, FakePulsarBroker, BROKER_METHODS, "fakebroker"):
            reader = PulsarLikeStreamReader({"path": self.root, "topic": self.TOPIC})
            start = reader.initialOffset()
            rows = 0
            for _ in range(ops):
                with tracer.span("pulsarlike.latestOffset"):
                    end = reader.latestOffset()
                with tracer.span("pulsarlike.partitions"):
                    parts = reader.partitions(start, end)
                for part in parts:
                    with tracer.span("pulsarlike.read") as a:
                        a["msgs"] = sum(b.num_rows for b in reader.read(part))
                        rows += a["msgs"]
                start = end
        out.update(broker_layer(tracer, ops))
        out["pulsarlike.latest_offset_ms"] = median_or_zero(tracer.durations("pulsarlike.latestOffset")) * 1000
        out["pulsarlike.plan_ms"] = tracer.total("pulsarlike.partitions") * 1000 / ops
        out["pulsarlike.read_us_per_msg"] = tracer.total("pulsarlike.read") * 1e6 / rows
        raw = read_batch(self.spark, self.root, self.TOPIC)
        with tracer.span("decode_json.cached"):
            dec, problems = decode_layer(self.spark, raw, sum(r is None for r in self.topic.records))
        out.update(dec)
        out.update(writer_layer(tracer, raw, self.root))
        return out, problems


class BackfillWorkload:
    """Bounded chunk reads of a seeded topic (per-partition
    ``startingoffsets``/``endingoffsets`` that cross ledger gaps), then
    ``decode_json``, a JSON re-encode and an append to a second topic
    through the ``pulsarlike`` batch writer. One operation is one chunk
    job; the chunks are taken in order and wrap around."""

    name = "backfill"
    SRC, DST = "history", "replayed"
    PER_PARTITION = 8_000
    CHUNK_PER_PARTITION = 1_000

    def __init__(self, spark, root: str, seed: int, seconds: float):
        self.spark, self.root, self.seed = spark, root, seed
        self.done: list[int] = []  # chunk index of every completed job
        self.layer: dict[str, float] = {}

    def setup(self, tracer: Tracer) -> None:
        from pinot_pulsar_plugin_spark.sources.pulsarlike import register

        register(self.spark)
        n = self.PER_PARTITION * N_PARTITIONS
        self.topic = event_topic(self.seed, n)
        append_s = write_topic(self.topic, self.root, self.SRC, rollover_every=ROLLOVER_EVERY, tracer=tracer)
        self.layer["fakebroker.append_us_per_msg"] = append_s * 1e6 / n
        # per partition, the offset of each entry in append order
        self.part_offsets = [self.topic.offsets[p::N_PARTITIONS] for p in range(N_PARTITIONS)]
        self.n_chunks = self.PER_PARTITION // self.CHUNK_PER_PARTITION
        warm_until_flat(self._op)

    def _bounds(self, chunk: int) -> tuple[str, str]:
        lo, hi = chunk * self.CHUNK_PER_PARTITION, (chunk + 1) * self.CHUNK_PER_PARTITION
        start, end = {}, {}
        for p, offs in enumerate(self.part_offsets):
            start[str(p)] = offs[lo]
            end[str(p)] = offs[hi] if hi < len(offs) else offs[-1] + 1
        return json.dumps(start), json.dumps(end)

    def _op(self, group: str | None = None) -> float:
        from pinot_pulsar_plugin_spark.sources.decode import EVENT_SCHEMA, decode_json
        from pinot_pulsar_plugin_spark.sources.pulsarlike import read_batch

        chunk = len(self.done) % self.n_chunks
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        start, end = self._bounds(chunk)
        raw = read_batch(self.spark, self.root, self.SRC, startingoffsets=start, endingoffsets=end)
        write_topic_df(encode_events(decode_json(raw, EVENT_SCHEMA)), self.root, self.DST)
        self.done.append(chunk)
        return time.perf_counter() - t0

    def window(self, seconds: float, tracer: Tracer) -> Window:
        lat, groups, failed = [], [], 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            group = f"backfill-{len(self.done)}-{failed}" if tracer.enabled else None
            try:
                with tracer.span("backfill.chunk", chunk=len(self.done) % self.n_chunks):
                    lat.append(self._op(group))
            except Exception as exc:  # a failed chunk job counts; the loop goes on
                failed += 1
                log_failure(exc)
            if group:
                groups.append(group)
        elapsed = time.perf_counter() - t0
        if tracer.enabled:
            jobs, tasks = spark_work(self.spark, groups)
            self.layer["spark.jobs_per_op"] = jobs / len(lat)
            self.layer["spark.tasks_per_op"] = tasks / len(lat)
        per_chunk = self.CHUNK_PER_PARTITION * N_PARTITIONS
        return Window(latencies_s=lat, elapsed_s=elapsed, work=per_chunk * len(lat), failed=failed)

    def _chunk_records(self, chunk: int):
        lo, hi = chunk * self.CHUNK_PER_PARTITION, (chunk + 1) * self.CHUNK_PER_PARTITION
        return [
            r for i, r in enumerate(self.topic.records)
            if r is not None and lo <= i // N_PARTITIONS < hi
        ]

    def check(self) -> list[str]:
        by_chunk = {c: [canonical_event(r) for r in self._chunk_records(c)] for c in set(self.done)}
        expected = [line for c in self.done for line in by_chunk[c]]
        return check_topic(read_topic_lines(self.root, self.DST), expected)

    def stop(self) -> None:
        pass

    def layers(self, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
        from pinot_pulsar_plugin_spark.sources.fakebroker import FakePulsarBroker
        from pinot_pulsar_plugin_spark.sources.pulsarlike import PulsarLikeBatchReader, read_batch

        out = dict(self.layer)
        ops, rows = 3, 0
        with traced_methods(tracer, FakePulsarBroker, BROKER_METHODS, "fakebroker"):
            for chunk in range(ops):
                start, end = self._bounds(chunk)
                with tracer.span("pulsarlike.plan"):
                    reader = PulsarLikeBatchReader(
                        {"path": self.root, "topic": self.SRC, "startingoffsets": start, "endingoffsets": end}
                    )
                    parts = reader.partitions()
                for part in parts:
                    with tracer.span("pulsarlike.read") as a:
                        a["msgs"] = sum(b.num_rows for b in reader.read(part))
                        rows += a["msgs"]
        out.update(broker_layer(tracer, ops))
        out["pulsarlike.plan_ms"] = tracer.total("pulsarlike.plan") * 1000 / ops
        out["pulsarlike.read_us_per_msg"] = tracer.total("pulsarlike.read") * 1e6 / rows

        raw = read_batch(self.spark, self.root, self.SRC)
        with tracer.span("decode_json.cached"):
            dec, problems = decode_layer(self.spark, raw, sum(r is None for r in self.topic.records))
        out.update(dec)
        out.update(writer_layer(tracer, raw, self.root))
        return out, problems


class QueryMixWorkload:
    """A seeded order over twelve registry queries at scale 0.1, each
    written to the ``noop`` sink. One operation is one query (build plus
    action). The window runs whole passes over the mix, so every query
    weighs the same in every run."""

    name = "query-mix"

    def __init__(self, spark, root: str, seed: int, seconds: float):
        self.spark, self.root, self.seed = spark, root, seed
        self.rng = random.Random(seed)
        self.sf_dir = SF_DIR
        self.layer: dict[str, float] = {}

    def setup(self, tracer: Tracer) -> None:
        from pinot_pulsar_plugin_spark.registry import all_queries

        self.queries = {n: all_queries()[n] for n in QUERY_MIX}
        # The first, cold pass collects each query's result for the
        # correctness gate, which compares them with the DuckDB oracles
        # after the timed windows, so the oracles' time is not set-up. It
        # runs CHECK_THREADS queries at a time to shorten set-up.
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            self.results = dict(zip(QUERY_MIX, pool.map(
                lambda n: self.queries[n](self.spark, self.sf_dir).toPandas(), QUERY_MIX
            )))
        for _ in range(QUERY_WARM_PASSES):
            for n in self._order():
                self._op(n)

    def _order(self) -> list[str]:
        order = list(QUERY_MIX)
        self.rng.shuffle(order)
        return order

    def _op(self, name: str, group: str | None = None) -> tuple[float, float, float]:
        """(total, build, action) seconds of one query."""
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return t2 - t0, t1 - t0, t2 - t1

    def window(self, seconds: float, tracer: Tracer) -> Window:
        lat, groups, per_query, failed = [], [], [], 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            for n in self._order():
                group = f"q-{len(groups)}" if tracer.enabled else None
                try:
                    with tracer.span("query", query=n) as a:
                        total, build, action = self._op(n, group)
                        a.update(build_s=build, action_s=action)
                except Exception as exc:  # a failed query counts; the loop goes on
                    failed += 1
                    log_failure(exc)
                    continue
                finally:
                    if group:
                        groups.append(group)
                lat.append(total)
                per_query.append((n, total, build, action))
        elapsed = time.perf_counter() - t0
        if tracer.enabled:
            jobs, tasks = spark_work(self.spark, groups)
            modules = {n: self.queries[n].__module__.rsplit(".", 1)[-1] for n in QUERY_MIX}
            self.layer.update({
                "query.build_ms": median_or_zero(b for _, _, b, _ in per_query) * 1000,
                "query.exec_ms": median_or_zero(a for _, _, _, a in per_query) * 1000,
                "spark.jobs_per_op": jobs / len(lat),
                "spark.tasks_per_op": tasks / len(lat),
            })
            for mod in set(modules.values()):
                self.layer[f"operators.{mod}.latency_ms"] = median_or_zero(
                    t for n, t, _, _ in per_query if modules[n] == mod
                ) * 1000
        # The mix's latency is the geometric mean over the twelve queries
        # of each query's median: any median over a mix this uneven sits
        # in a gap between query times and jumps with one query's noise,
        # while the geometric mean weighs every query's relative change
        # the same.
        per_name: dict[str, list[float]] = {}
        for n, total, _, _ in per_query:
            per_name.setdefault(n, []).append(total)
        latency = statistics.geometric_mean(statistics.median(v) for v in per_name.values()) if per_name else 0.0
        return Window(latencies_s=lat, elapsed_s=elapsed, work=len(lat), failed=failed, latency_s=latency)

    def check(self) -> list[str]:
        from pinot_pulsar_plugin_spark.registry import all_oracle_sql
        from tests.oracle_harness import duck_connection

        oracle_sql = all_oracle_sql()
        con = duck_connection(self.sf_dir)
        try:
            return [
                p for n in QUERY_MIX
                for p in check_query(n, self.results[n], con.sql(oracle_sql[n]).arrow().to_pandas(date_as_object=True))
            ]
        finally:
            con.close()

    def stop(self) -> None:
        pass

    def layers(self, tracer: Tracer) -> tuple[dict[str, float], list[str]]:
        from pinot_pulsar_plugin_spark import catalog

        out = dict(self.layer)
        times = []
        for name in catalog.TABLES:
            # cold load: drop the memoised plan handles first (the
            # catalog's documented invalidation hook)
            catalog._PlanMemo.by_key.clear()
            with tracer.span("catalog.load_table", table=name):
                t0 = time.perf_counter()
                catalog.load_table(self.spark, self.sf_dir, name)
                times.append(time.perf_counter() - t0)
        out["catalog.load_table_ms"] = statistics.median(times) * 1000
        return out, []


WORKLOADS = {w.name: w for w in (IngestWorkload, BackfillWorkload, QueryMixWorkload)}
