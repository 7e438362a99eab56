"""Benchmark of the extraction engine: one command, one workload per run.

    python3 perfbench/run.py --workload spans_mixed --seed 1 --seconds 15 \
        --trace 0

Workloads (``workloads.py``): ``spans_mixed`` and ``spans_whales``.

Load shape: a single driver process runs Spark at ``local[N]`` with
N = min(4, nproc); each workload is a closed loop with one job in flight.
A run prepares its seeded input (outside ``setup_s``; see ``inputs.py``),
sets up once (``get_spark`` launches the JVM, the input is registered, one
cold warm-up pass runs over the whole input, and the reference job runs
once), then runs timed passes until ``--seconds`` have passed and at least
MIN_PASSES have run, releases every cache after each pass, and checks the
output.

The reference job (``measure.Reference``) is a fixed plain-Spark job that
uses none of the engine's code. It runs before the first timed pass and
after every pass, so each pass sits between two reference runs. The host
is a few cores of a shared machine whose speed drifts by up to 1.6x over
minutes, mostly without steal; a pass's wall and CPU time over the
reference's, measured around it, cancel most of that drift.

End-to-end metrics (medians over the run's passes):

* ``setup_s``: wall time of the set-up.
* ``pass_rel``: a pass's wall time over the mean wall time of the two
  reference runs around it. A pass goes from the input to the complete
  result at the noop sink.
* ``cpu_rel``: the same ratio of user + system CPU seconds of the driver,
  the JVM and the Python workers (/proc/<pid>/stat; steal is not in it).
* ``peak_rss_mb``: the peak summed PSS of the driver, the JVM and the
  Python workers during a pass.

Raw pass wall time, output docs per second, input MB per second and CPU
seconds are not end-to-end metrics: across ten seeds on a shared 4-core
VM the middle half of their runs spread over 22-45% of the median, past
any bound that would still catch a regression. The traced run reports the raw pass time
(``trace.pass_s``) and the reference's (``host.ref_s``).

Failed passes and mismatched checks are counted in ``failed``; their share
of ``attempted`` is the failure fraction.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs traced passes, reports the
per-layer metrics (see ``layers.py``) and writes the trace's spans under
``.perfbench_work/``.

Everything the run writes (inputs, Spark scratch, temp files, outputs,
spans) stays under ``.perfbench_work/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3            # the median of three drops one disturbed pass
T_START = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench] {time.perf_counter() - T_START:6.1f}s {msg}",
          file=sys.stderr, flush=True)


def _environment() -> dict:
    """Keep every file Spark, the JVM and Python write inside WORK; return
    the session config that does the same on the JVM side."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # bench._timed_leg must not wait for a quiet host: a closed loop keeps
    # the host busy, and the load is recorded per pass instead
    os.environ["SPARK_GRAFT_LOAD_WAIT"] = "0"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)
    # A fixed-size heap and the throughput collector: pass_s spread
    # (IQR/median, one five-seed batch each on a 4-core VM) was 0.15 with
    # the default G1 and growing heap, 0.06 with these flags. The heap is
    # touched at start, so peak_rss_mb does not depend on how much of it
    # the collector has reached yet (spread 0.11 without, 0.01 with).
    # C1 only: on 4 cores the C2 compiler threads took ~30 core-s of a
    # run and pass times still fell for several passes after warm-up; with
    # C1 a pass costs fewer core-s and the JVM settles within the warm-up.
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
            "-XX:+UseParallelGC -XX:+AlwaysPreTouch "
            "-XX:TieredStopAtLevel=1",
    }


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM to exit
    (the Python workers are its children and end with it)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-tests use tiny inputs)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one checked output row (self-test)")
    return ap.parse_args(argv)


def main(argv) -> int:
    args = _args(argv)
    conf = _environment()
    try:
        import bench  # noqa: F401 — per-pass steal/load (bench._timed_leg)
        from extract_text_spark.session import get_spark
        import inputs
        import layers
        from measure import (
            MemorySampler, Reference, SparkStats, Tracer, median, timed_pass,
            tree_cpu_s,
        )
        from workloads import WORKLOADS, SpansWorkload
    except ImportError as exc:
        _log(f"cannot import the engine from {ROOT}: {exc}")
        return 3
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    cpus = min(4, os.cpu_count() or 1)
    t = time.perf_counter()
    input_dir, meta = inputs.prepare(WORK, args.workload, args.seed,
                                     args.scale)
    _log(f"prepared {input_dir} in {time.perf_counter() - t:.1f}s: "
         f"{ {k: v for k, v in meta.items() if k != 'sha256'} }")
    wl = SpansWorkload(input_dir, meta, cpus, args.seed, corrupt=args.corrupt)
    tracer = Tracer(bool(args.trace), f"{args.workload}:{args.seed}")
    memory = MemorySampler().start()

    # The set-up: get_spark launches the JVM, the input is registered, the
    # cold warm-up pass runs (it forks the Python workers) and the
    # reference job runs once.
    t0, c0 = time.perf_counter(), tree_cpu_s()
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=2 * cpus, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        stats = SparkStats(spark)
        with tracer.span("register"):
            wl.register(spark)
        with tracer.span("warmup"):
            with stats.group("warmup") as warm:
                warm_s = wl.warmup()
            reference = Reference(spark, cpus)
            reference.run()
    setup_s = time.perf_counter() - t0
    setup_cpu_s = tree_cpu_s() - c0
    _log(f"setup {setup_s:.2f}s (session {start_s:.2f}s, warm-up pass "
         f"{warm_s:.2f}s, cpu {setup_cpu_s:.1f}s)")

    attempted = failed = 0
    passes = []
    t_begin = time.perf_counter()
    ref = reference.run()
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - t_begin < args.seconds):
        attempted += 1
        memory.take()
        try:
            if args.trace:
                p = layers.traced_pass(wl, stats, tracer)
            else:
                p = timed_pass(wl.run_pass)
            p["peak_mb"] = memory.take()
            wl.release()
            after = reference.run()
            p["ref_s"] = (ref["wall_s"] + after["wall_s"]) / 2
            p["ref_cpu_s"] = (ref["cpu_s"] + after["cpu_s"]) / 2
            ref = after
            passes.append(p)
        except Exception:  # noqa: BLE001 — a failed pass is counted
            failed += 1
            traceback.print_exc(file=sys.stderr)
            wl.release()
            if time.perf_counter() - t_begin > args.seconds:
                break
    _log("passes (wall/cpu/steal/ref/refcpu s): " + " ".join(
        f"{p['wall_s']:.2f}/{p['cpu_s']:.1f}/{p['steal_s']:.2f}/"
        f"{p['ref_s']:.2f}/{p['ref_cpu_s']:.1f}/{p['peak_mb']:.0f}"
        for p in passes))
    if not passes:
        _log("no pass completed")
        memory.stop()
        _shutdown(spark)
        return 1

    a, f = wl.check()
    attempted, failed = attempted + a, failed + f
    memory.stop()
    if args.trace:
        metrics = layers.per_layer(wl, spark, tracer, WORK, passes, {
            "session.start_s": start_s,
            "session.worker_init_s": stats.python_metrics(
                warm["executions"])["worker_init_s"],
            "host.steal_s": median(p["steal_s"] for p in passes),
            "host.load_start": median(p["load_start"] for p in passes),
            "host.ref_s": median(p["ref_s"] for p in passes),
            "trace.pass_s": median(p["wall_s"] for p in passes),
            "trace.overhead_frac": median(p["overhead_s"] / p["wall_s"]
                                          for p in passes),
        })
        spans_file = os.path.join(
            WORK, "trace", f"{args.workload}_s{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        tracer.dump(spans_file)
        _log(f"spans: {spans_file}")
        units = layers.UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_rel": median(p["wall_s"] / p["ref_s"] for p in passes),
            "cpu_rel": median(p["cpu_s"] / p["ref_cpu_s"] for p in passes),
            "peak_rss_mb": median(p["peak_mb"] for p in passes),
        }
        units = {"setup_s": "s", "pass_rel": "ratio", "cpu_rel": "ratio",
                 "peak_rss_mb": "MB"}
    _shutdown(spark)
    _log("stopped")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
