"""Engine benchmark: run one workload for a fixed time and print its metrics.

    python3 perfbench/run.py --workload bucket --seed 1 --seconds 12 --trace 0

Workloads: bucket (bucket_crud and stream_enrich interleaved), corpus_graph
(see README.md).
The run starts one local Spark session (``local[nproc]``), generates its
inputs from ``--seed``, warms up, then runs whole rounds of the workload's
operations until ``--seconds`` have passed, checks every result against
an independent reference, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. Every workload reports
the same metrics over its own operation mix: with ``--trace 0`` the
end-to-end ones, with ``--trace 1`` the per-layer ones. The run's summary,
with the workload's own per-operation and per-layer figures, and (traced)
its spans are written to ``results/``.
Exits non-zero if a check fails.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_DIR)

# The engine must come from this checkout: a missing package fails here.
import aleph2_contrib_spark  # noqa: E402

if not os.path.abspath(aleph2_contrib_spark.__file__).startswith(REPO_DIR + os.sep):
    raise ImportError(f"aleph2_contrib_spark was imported from outside {REPO_DIR}")

from perfbench.harness import (  # noqa: E402
    RESULTS_DIR,
    WORK_ROOT,
    SparkRun,
    Tracer,
    kill_descendants,
    read_event_log,
)


def _workloads() -> dict:
    from perfbench.bucket import Bucket
    from perfbench.corpus_graph import CorpusGraph

    return {w.name: w for w in (Bucket, CorpusGraph)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("bucket", "corpus_graph"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    # a terminated run still stops its session and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    run = None
    try:
        run = SparkRun(work, traced)
        session_s = time.perf_counter() - T_START
        tracer = Tracer(traced, run.spark)
        wl = _workloads()[args.workload](run, args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        # -- the measured window: whole rounds until --seconds have passed
        load0 = os.getloadavg()
        cpu0 = (run.jvm_cpu_s(), time.process_time())
        wl.timed = True
        wl.start_window()
        t0, w0 = time.perf_counter(), tracer.now()
        rounds = 0
        while rounds == 0 or time.perf_counter() - t0 < args.seconds:
            wl.round()
            rounds += 1
        window_s = time.perf_counter() - t0
        wl.window = (w0, tracer.now())
        wl.stop_window()
        wl.timed = False
        cpu = {"jvm_cpu_s": run.jvm_cpu_s() - cpu0[0], "py_cpu_s": time.process_time() - cpu0[1]}
        load1 = os.getloadavg()

        failures = wl.check()
        e2e = wl.end_to_end(rounds) | {"setup_s": (setup_s, "s")}
        detail = wl.e2e_detail()
        run.close()  # flushes the event log
        if traced:
            events = read_event_log(run.event_dir)
            metrics = wl.per_layer(events, rounds, cpu)
            detail |= wl.layer_detail(events)
        else:
            metrics = e2e
    finally:
        try:
            if run is not None:
                run.close()
        finally:
            kill_descendants()
            shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "rounds": rounds,
        "window_s": window_s,
        "round_s": window_s / rounds,
        "run_s": time.perf_counter() - T_START,
        "setup_phases": {"session": session_s} | wl.setup_phases,
        "loadavg_1m": [load0[0], load1[0]],
        **cpu,
        "failures": failures,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "detail": {k: v for k, (v, _) in detail.items()},
    }
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stem = os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(summary | {"metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)
    if traced:
        with open(stem + ".spans.json", "w") as f:
            json.dump(tracer.spans, f)
    print(
        f"# {args.workload} seed={args.seed}: {rounds} rounds in {window_s:.2f} s, "
        f"setup {setup_s:.2f} s, JVM CPU {cpu['jvm_cpu_s']:.2f} s, "
        f"Python CPU {cpu['py_cpu_s']:.2f} s, load {load0[0]:.2f}->{load1[0]:.2f}"
    )
    result = {
        "correct": not failures,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
