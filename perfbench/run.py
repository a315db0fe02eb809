#!/usr/bin/env python3
"""Benchmark driver for video_streamer_spark.

    python3 perfbench/run.py --workload detect-ingest --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. Builds the session with the package's
own ``session.get_spark`` on ``local[nproc]``, generates (or reuses) the
seeded inputs, warms up on separate input, runs the workload's fixed
amount of work, checks the outputs outside the clock, and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``). Box-noise diagnostics go to stderr. See CONTRACT.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "trigger.latestOffset_s": "s",
    "trigger.getBatch_s": "s",
    "trigger.queryPlanning_s": "s",
    "trigger.walCommit_s": "s",
    "trigger.commitOffsets_s": "s",
    "trigger.addBatch_s": "s",
    "trigger.count": "count",
    "trigger.drift": "ratio",
    "state.instances": "count",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "state.commit_s": "s",
    "inference.model_s": "s",
    "inference.calls_per_frame": "ratio",
    "sink.merge_s": "s",
    "sink.jobs": "count",
    "sink.merge_drift": "ratio",
    "store.versions": "count",
    "store.files": "count",
    "store.mb": "MB",
    "setup.session_s": "s",
    "setup.warm_s": "s",
    "process.peak_rss_mb": "MB",
    "query.construct_s": "s",
    "query.plan_s": "s",
    "query.execute_s": "s",
    "query.jobs": "count",
    "query.tasks": "count",
    "query.shuffle_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["detect-ingest", "events-window", "query-mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=9)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _paths(workload: str) -> dict:
    """Everything the run writes lives under ``.perfbench_work`` in the
    checkout: a seed-keyed input cache and a per-run directory for
    checkpoints, tables, sinks, Spark scratch and temp files, created
    fresh and removed at exit."""
    work = os.path.join(ROOT, ".perfbench_work")
    run = os.path.join(work, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("cache", "traces"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    return {"work": work, "run": run, "cache": os.path.join(work, "cache"),
            "traces": os.path.join(work, "traces")}


def _environment(paths: dict) -> None:
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(paths["run"], "spark-local")
    os.environ["TMPDIR"] = os.path.join(paths["run"], "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the JVMs (launcher and driver) from writing /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _path_conf(paths: dict) -> dict:
    """Only locations: where Spark may write. No tuning is passed, so the
    session runs exactly the library's defaults."""
    run = paths["run"]
    return {
        "spark.sql.warehouse.dir": os.path.join(run, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
    }


def _stop(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait until each
    process started under this one has ended."""
    from probes import alive, tree_pids

    me = os.getpid()
    started = [p for p in tree_pids(me) if p != me]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc  # spark-submit's JVM; it exits when stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in started:
        if alive(pid):
            os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "video_streamer_spark", "__init__.py")):
        print("perfbench: video_streamer_spark not found next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    paths = _paths(args.workload)
    _environment(paths)
    # drive the package like a library user: from a cwd outside the
    # repo root, with the root only on this process's sys.path
    os.chdir(paths["work"])
    sys.path[:0] = [HERE, ROOT]

    import inputs
    from probes import BoxNoise, Tracer, TreeRss
    from workloads import WORKLOADS, ProgressLog

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](paths, args.seed, args.seconds, tracer)
    wl.prepare()
    gen_s = inputs.build_s

    from video_streamer_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          extra_conf=_path_conf(paths))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        log = ProgressLog()
        spark.streams.addListener(log.listener)
        t0 = time.perf_counter()
        with tracer.span("setup.warm"):
            wl.warm(spark)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - gen_s

        # memory sampling is a per-layer metric: untraced runs skip it
        rss = TreeRss() if args.trace else None
        with BoxNoise() as box, rss or contextlib.nullcontext():
            with tracer.span("measure"):
                wl.measure(spark, log)
        t0 = time.perf_counter()
        correct = wl.check(spark)
        check_s = time.perf_counter() - t0
        stats = wl.stats()
        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(wl.trace_layers(spark))
            metrics["setup.session_s"] = session_s
            metrics["setup.warm_s"] = warm_s
            metrics["process.peak_rss_mb"] = rss.peak_mb
            units = PER_LAYER
            trace_file = os.path.join(
                paths["traces"], f"{args.workload}-s{args.seed}-{os.getpid()}.json")
            tracer.dump(trace_file)
        else:
            metrics = {
                "throughput_per_s": wl.work_units / wl.phase_s,
                "latency_p50_s": stats["p50"],
                "latency_tail_s": stats["tail"],
                "setup_s": setup_s,
            }
            units = END_TO_END
            trace_file = None
    finally:
        _stop(spark)
        shutil.rmtree(paths["run"], ignore_errors=True)

    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": stats["n"], "work_units": wl.work_units, "phase_s": wl.phase_s,
        "gen_s": gen_s, "session_s": session_s,
        "warm_s": warm_s, "check_s": check_s,
        "peak_rss_mb": rss.peak_mb if rss else None, "box": box.as_dict(),
        "trace_file": trace_file,
        "units_s": wl.latencies,
        "triggers_s": {name: [p["duration_ms"]["triggerExecution"] / 1000.0 for p in ps]
                       for name, ps in log.by_name.items()},
    }
    print("# perfbench " + json.dumps(diag), file=sys.stderr)
    result = {
        "correct": bool(correct),
        "attempted": int(wl.attempted),
        "failed": int(wl.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
