#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,backfill,query-mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run boots Spark on
``local[k]`` (k = min(4, usable CPUs), set through SPARK_GRAFT_CPUS),
generates the workload's inputs from ``--seed`` under a fresh directory
inside the checkout, warms up, measures for ``--seconds``, checks the
outputs and prints one JSON object as the last line of stdout:

- ``--trace 0``: end-to-end metrics (setup_s, throughput_per_s,
  latency_ms);
- ``--trace 1``: per-layer metrics. After the untraced window a second,
  traced window runs; the difference between the two is reported as the
  tracing overhead, and the spans are written to
  ``.perfbench_traces/<workload>-seed<N>.json``.

Everything the run writes (topics, checkpoints, Spark scratch
space, temp files) lives under ``.perfbench_tmp/`` and is removed at the
end; the Spark JVM and its Python workers are stopped before exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
MAX_CPUS = 4
# Spark's 1 GiB default driver heap makes garbage collection a large and
# erratic share of every operation at scale 0.1.
DRIVER_MEMORY = "4g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "backfill", "query-mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _boot(tmp: str):
    """SparkSession through the package's factory, with every scratch
    location inside ``tmp``."""
    from pinot_pulsar_plugin_spark.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        "perfbench",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        },
    )


def _shutdown(spark) -> None:
    """Stop Spark, then the gateway JVM (which takes its Python workers
    with it), and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [CHECKOUT, HERE]
    try:
        import pinot_pulsar_plugin_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2

    from tracing import Tracer
    from workloads import LAYER_UNITS, WORKLOADS

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(CHECKOUT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    spark = None
    try:
        tracer = Tracer(bool(args.trace))
        t_boot = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = _boot(tmp)
        boot_s = time.perf_counter() - t_boot
        _log(f"spark up on local[{cpus}] in {boot_s:.2f}s")
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, args.seconds)
        with tracer.span("setup"):
            wl.setup(tracer)
        setup_s = time.perf_counter() - T_START
        _log(f"setup done: {setup_s:.2f}s")
        with tracer.span("window.untraced"):
            win = wl.window(args.seconds, Tracer(False))
        e2e = {"setup_s": setup_s, **win.metrics()}
        _log(f"untraced window: {e2e}; operation times (s): {[round(x, 3) for x in win.latencies_s]}")
        attempted, failed = len(win.latencies_s) + win.failed, win.failed
        if args.trace:
            with tracer.span("window.traced"):
                traced = wl.window(args.seconds, tracer)
            attempted += len(traced.latencies_s) + traced.failed
            failed += traced.failed
        problems = wl.check()
        metrics = {k: {"value": v, "unit": u} for k, v, u in (
            ("setup_s", e2e["setup_s"], "s"),
            ("throughput_per_s", e2e["throughput_per_s"], "1/s"),
            ("latency_ms", e2e["latency_ms"], "ms"),
        )}
        if args.trace:
            layer, more = wl.layers(tracer)
            problems += more
            layer["session.boot_s"] = boot_s
            overhead = {
                k: traced.metrics()[k] / e2e[k] - 1 if e2e[k] else 0.0 for k in ("throughput_per_s", "latency_ms")
            }
            layer["trace.throughput_overhead_ratio"] = overhead["throughput_per_s"]
            layer["trace.latency_overhead_ratio"] = overhead["latency_ms"]
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
            out_dir = os.path.join(CHECKOUT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.write(
                path, workload=args.workload, seed=args.seed, metrics=metrics,
                untraced=e2e, traced=traced.metrics(), overhead=overhead,
            )
            print(f"trace: {len(tracer.spans)} spans written to {os.path.relpath(path, CHECKOUT)}")
            for name, count, total in tracer.summary():
                print(f"span {name}: {count} x, {total * 1000:.1f} ms total")
            for k, m in metrics.items():
                print(f"metric {k} = {m['value']:.6g} {m['unit']}")
        for p in problems:
            _log(f"CHECK FAILED: {p}")
        wl.stop()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
