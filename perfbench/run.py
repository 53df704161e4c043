"""Exchange benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload ledger --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  ledger          the live ST6 settlement query under an open loop of 2,000
                  events/s over 200 traders (latency), then the same query
                  draining a backlog over Zipf-skewed traders (throughput)
  registry_batch  one client running a panel of registry queries

Run from the root of a checkout of the program. Everything the run writes
goes under ``.bench_work/`` there, and the span trace of a ``--trace 1``
run is left in ``.bench_work/traces/``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import reference as ref  # noqa: E402
from spans import LAYERS, Tracer  # noqa: E402

WORKLOADS = ("ledger", "registry_batch")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


STREAM_UNITS = {
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "sink.write_ms_p50": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms_p50": "ms",
    "state.updates_ms_per_batch_p50": "ms",
    "state.keys_updated_per_batch_p50": "count",
    "state.events_per_key_call": "ratio",
    "state.updates_ms_per_key": "ms",
}


def per_layer_units():
    """Every per-layer metric with its unit; a workload that bypasses a
    layer reports that layer's figures as 0."""
    from registry import PANEL

    units = {
        "session.start_s": "s",
        "model.decode_rows_per_s": "1/s",
        "model.encode_rows_per_s": "1/s",
        "stateful.ledger_kernel_rows_per_s": "1/s",
        "live.source.lag_files_p50": "count",
        "live.gen.late_p99_s": "s",
        "backfill.source.lag_files_p50": "count",
        "backfill.batch_s_p50": "s",
    }
    for phase in ("live", "backfill"):
        for name, unit in STREAM_UNITS.items():
            units[f"{phase}.{name}"] = unit
    for q in PANEL:
        units[f"batch.{q}_s"] = "s"
        units[f"batch.{q}.tasks"] = "count"
    units["batch.plan_build_ms"] = "ms"
    for layer in LAYERS:
        units[f"self.{layer}_s"] = "s"
    for name, unit in END_TO_END.items():
        units[f"traced.{name}"] = unit
    return units


def progress_log():
    """A StreamingQueryListener keeping every progress event in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


class Bench:
    """State of one run: arguments, tracer, session and working directory."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = Tracer(bool(args.trace))
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.listener = None
        self.session_s = 0.0
        self.valid = True
        self.t_begin = time.perf_counter()

    def log(self, msg):
        """Progress on standard error, with seconds since the run began."""
        print(f"perfbench {time.perf_counter() - self.t_begin:7.2f}s {msg}",
              file=sys.stderr, flush=True)

    def start_session(self):
        """Start the session through the program's factory; returns the
        seconds it took, the JVM launch included."""
        from mktd6_flink_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("get_spark", "session"):
            self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.listener = progress_log()
            self.spark.streams.addListener(self.listener)
        return self.session_s

    def listener_progress(self, query_id, expected):
        """Progress events the listener saw for one query; waits briefly
        for ``expected`` of them, since delivery is asynchronous."""
        deadline = time.time() + 5
        while True:
            got = [p for p in self.listener.events if p["id"] == str(query_id)]
            if len(got) >= expected or time.time() > deadline:
                return got
            time.sleep(0.05)

    def peak_rss_mb(self):
        """High-water resident memory of this driver process plus the JVM."""
        from pyspark import SparkContext

        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        self.log(f"peak RSS: driver {driver_kb / 1024:.0f} MB, "
                 f"JVM {jvm_kb / 1024:.0f} MB")
        return (driver_kb + jvm_kb) / 1024.0

    def environment(self):
        import pyspark

        sc = self.spark.sparkContext
        skip = ("spark.driver.host", "spark.driver.port", "spark.app.id",
                "spark.app.startTime", "spark.app.submitTime",
                "spark.executor.id", "spark.sql.warehouse.dir")
        return {
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.tracer.enabled),
            "nproc": os.cpu_count(),
            "cpus_usable": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "data_dir": os.path.relpath(self.work, ROOT),
            "confs": dict(sorted((k, v) for k, v in sc.getConf().getAll()
                                 if k not in skip)),
        }

    def shutdown(self):
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def isolate(work):
    """Keep every file the run and its JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mktd6_flink_spark")):
        print("perfbench: the program (mktd6_flink_spark) is not in this "
              "checkout", file=sys.stderr)
        return 2

    bench = Bench(args)
    shutil.rmtree(bench.work, ignore_errors=True)
    isolate(bench.work)
    try:
        if args.workload == "registry_batch":
            import registry
            out = registry.run(bench)
        else:
            import ledger
            out = ledger.run(bench)
        out["peak_rss_mb"] = bench.peak_rss_mb()
        env = bench.environment()
    finally:
        bench.log("shutting down")
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
        bench.log("done")

    e2e = {k: out[k] for k in END_TO_END}
    if bench.tracer.enabled:
        units = per_layer_units()
        layers = dict.fromkeys(units, 0)
        layers.update(out.get("layers", {}))
        layers["session.start_s"] = bench.session_s
        for layer, secs in bench.tracer.self_times().items():
            layers[f"self.{layer}_s"] = secs
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"),
                          env=env)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    correct = out["failed"] == 0 and bench.valid
    print("env " + json.dumps(env, sort_keys=True))
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'failed_ratio':40s} {ref.ratio(out['failed'], out['attempted']):>16.6g} "
          f"failed/attempted ({out['failed']}/{out['attempted']})")
    if not bench.valid:
        print("run invalid: the open-loop generator fell behind its schedule")
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
