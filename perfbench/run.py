"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_mix,corpus_build,app_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The run builds its inputs from ``--seed``,
drives the engine through its public API, checks the outputs, and prints
the full record (host markers included) and then, as the last line of
standard output, the result object. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans around every call into a layer and
reports the per-layer metrics instead (the spans go to
``.perfbench_work/traces/``).

``query_mix`` and ``app_ingest`` are the workloads BENCHMARK.json
lists. ``corpus_build`` (the Arrow/numpy dedup kernels at a size where
they, not the per-action floor, carry the time) runs the same way on
demand and is left out of BENCHMARK.json to keep a full round of runs
short.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory: inputs, Spark local dirs, temp files. A failed
correctness gate exits with code 2; a crash exits non-zero without
printing a result.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shlex
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("query_mix", "corpus_build", "app_ingest")

#: driver heap for every workload: well below the 15 GB of a small
#: shared 4-CPU host, which the engine's 24g default exceeds
DRIVER_MEM = "4g"

def _configure_env(work: str) -> None:
    """Deployment settings the engine reads, plus every scratch path
    pointed inside the run's work directory. Must run before pyspark
    starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it
    exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier for the query_mix tables and the "
                         "corpus_build corpus (the smoke test runs below 1)")
    ap.add_argument("--fault", action="append", default=[],
                    help="plant a named fault to prove a correctness gate fires")
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    try:
        from common import (
            E2E_UNITS, Ctx, emit, floor_ms, host_markers, loadavg, per_layer_units,
        )

        from dataworks_spark.session import get_spark

        wl = importlib.import_module(f"w_{args.workload}")
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work,
              scale=args.scale, faults=args.fault)
    spark = state = None
    try:
        spark = get_spark(f"perfbench_{args.workload}")
        state = wl.setup(ctx, spark)
        # one setup per run, from process start: a second, warm one would
        # cost app_ingest another 7-13 s on a 4-CPU host
        setup_s = time.perf_counter() - T_PROCESS
        host = host_markers(spark)
        with ctx.tracer.span("session", op="floor"):
            host["floor_ms_start"] = floor_ms(spark)
        host["loadavg_start"] = loadavg()
        res = wl.run(ctx, spark, state)
        with ctx.tracer.span("session", op="floor"):
            host["floor_ms_end"] = floor_ms(spark)
        host["loadavg_end"] = loadavg()
    finally:
        if state is not None:
            wl.teardown(state)
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "host": host,
        "setup_s": setup_s, **res.record,
    }
    if ctx.trace:
        tdir = os.path.join(base, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        ctx.tracer.dump(path)
        record["trace_file"] = path
        layer = {f"self_s.{k}": v for k, v in ctx.tracer.self_times().items()}
        layer.update(res.layer)
        layer["session.floor_ms_start"] = host["floor_ms_start"]
        layer["session.floor_ms_end"] = host["floor_ms_end"]
        metrics = {k: (layer.get(k, 0.0), u) for k, u in per_layer_units().items()}
    else:
        e2e = {**res.e2e, "setup_s": setup_s}
        metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
    record["e2e"] = {"setup_s": setup_s, **res.e2e}
    record["failed_frac"] = res.failed / max(res.attempted, 1)
    emit(record, res.correct, res.attempted, res.failed, metrics)
    return 0 if res.correct else 2


if __name__ == "__main__":
    sys.exit(main())
