"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds one Spark session on
``local[<cores>]``, sets the workload up from the seed, runs a fixed
number of untimed warm-up ops, then runs timed ops (closed loop, one
client) until ``--seconds`` have passed, checking every op's output.
The last line of standard output is one JSON object:

* ``--trace 0``: the end-to-end metrics (set-up time, median op time,
  input rows per second, on-disk bytes per committed row);
* ``--trace 1``: the per-layer metrics of traced ops, which are
  interleaved with untraced ones so the run can state its own tracing
  overhead.

All temporary state (Spark local dirs, the warehouse, the landed
inputs) lives under ``.bench_run/`` in the checkout and is removed at
exit; traced runs write their spans to ``.bench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_weather_data_pipeline_spark"
# The first op after the cold bootstrap is still ~1.2-1.5x the next
# ones, so it runs untimed.
WARMUP_OPS = 1
# Timed ops run until --seconds have passed, but never fewer than this:
# the floor keeps the median on the same ops from run to run. Traced runs
# order their ops traced, untraced, untraced, traced, ... so that the
# ops still speeding up after warm-up bias neither side of the overhead.
MIN_OPS = 2
MIN_OPS_TRACED = 4
END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("rows_per_s", "rows/s"),
              ("bytes_per_row", "B/row")]


def per_layer_names() -> list[tuple[str, str]]:
    from tracing import MODULES

    names = [
        ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.exec_s", "s"),
        ("spark.driver_s", "s"), ("spark.shuffle_mb", "MB"), ("spark.input_mb", "MB"),
        ("spark.output_mb", "MB"), ("spark.cached_mb", "MB"),
        ("py4j.calls", "count"), ("py4j.wait_s", "s"),
    ]
    for m in MODULES:
        names += [(f"{m}.s", "s"), (f"{m}.jobs", "count"), (f"{m}.job_s", "s")]
    names += [
        ("sinks.inserted", "count"), ("sinks.updated", "count"),
        ("sinks.files_written", "count"), ("sinks.partitions_touched", "count"),
        ("quality.retention", "ratio"),
        ("views.rows_read_per_row_returned", "ratio"), ("views.files_read", "count"),
        ("corpus.admit_ratio", "ratio"), ("corpus.side_files", "count"),
        ("trace.op_s", "s"), ("trace.untraced_op_s", "s"), ("trace.overhead_s", "s"),
    ]
    return names


def _log(msg: str):
    """Phase timings go to stderr; stdout ends with the result line."""
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _env(run_dir: str):
    """Keep every file Spark and the JVM write inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["TZ"] = "UTC"
    time.tzset()
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the short-lived launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'


def _session(run_dir: str):
    from etl_weather_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # the status store must keep every job and stage of one op
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )


def _stop(spark):
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, run_dir: str) -> dict:
    from workloads import WORKLOADS

    spark = _session(run_dir)
    _log("session started")
    tracer = wl = None
    ops: list[dict] = []  # one record per op that passed its check
    attempted = failed = 0
    error = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer)
        try:
            wl.setup()
        except Exception as e:  # a broken bootstrap fails the run, not the process
            traceback.print_exc()
            error, attempted, failed = repr(e), 1, 1
        _log("bootstrap done")

        def one(traced: bool) -> bool:
            nonlocal attempted, failed, error
            rows = wl.prepare()
            attempted += 1
            if traced:
                tracer.begin_op()
            t0 = time.perf_counter()
            try:
                result = wl.op()
            except Exception as e:  # a failed op counts against error_rate
                traceback.print_exc()
                error = repr(e)
            finally:
                dt_s = time.perf_counter() - t0
                _log(f"op {attempted} took {dt_s:.3f}s{' (traced)' if traced else ''}")
                layers = tracer.end_op() if traced else None
            if error is None:
                try:
                    wl.check(result)
                except AssertionError as e:
                    error = str(e)
            if error is not None:
                failed += 1
                return False
            if traced:
                layers.update(wl.layer_counts(result))
                if hasattr(wl, "scan_counts"):
                    layers.update(wl.scan_counts(result))
            ops.append({"s": dt_s, "rows": rows, "traced": traced, "layers": layers})
            return True

        for _ in range(WARMUP_OPS):
            if failed or not one(False):
                break
        setup_s = time.perf_counter() - T_PROCESS
        ops.clear()
        t_phase = time.perf_counter()
        i = 0
        min_ops = MIN_OPS_TRACED if args.trace else MIN_OPS
        while failed == 0 and (
            i < min_ops or time.perf_counter() - t_phase < args.seconds
        ):
            if not one(bool(args.trace) and i % 4 in (0, 3)):
                break
            i += 1
        stored = wl.rows_committed()
        bytes_per_row = wl.disk_bytes() / stored if stored else 0.0
        if tracer is not None:
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tracer.write_spans(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if wl is not None:
            wl.close()
        if tracer is not None:
            tracer.uninstall()
        _stop(spark)

    if error:
        print(f"op failed: {error}", file=sys.stderr)

    def median(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    if not args.trace:
        units = dict(END_TO_END)
        metrics = {
            "setup_s": setup_s,
            "op_s": median(o["s"] for o in ops),
            "rows_per_s": sum(o["rows"] for o in ops) / sum(o["s"] for o in ops) if ops else 0.0,
            "bytes_per_row": bytes_per_row,
        }
    else:
        units = dict(per_layer_names())
        traced = [o for o in ops if o["traced"]]
        metrics = {k: median(o["layers"].get(k, 0.0) for o in traced) for k in units}
        metrics["trace.op_s"] = median(o["s"] for o in traced)
        metrics["trace.untraced_op_s"] = median(o["s"] for o in ops if not o["traced"])
        metrics["trace.overhead_s"] = metrics["trace.op_s"] - metrics["trace.untraced_op_s"]
    error_rate = failed / attempted if attempted else 1.0
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        + ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())
        + f", error_rate={error_rate:.6g} fraction ({failed}/{attempted} ops failed)"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the {PKG} package is not next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{uuid.uuid4().hex[:12]}")
    try:
        _env(run_dir)
        result = run(args, run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
