"""Benchmark entry point.

    python3 perfbench/run.py --workload window_queries --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. Prints the host shape and
the per-op times as one JSON line each, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and the tracing overhead to
``.perfbench_work/trace-<workload>-seed<seed>.json``.
All inputs, Spark scratch space and temporary files live under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
from spans import NO_TRACE, Tracer  # noqa: E402
from workloads import SIZES, WORKLOADS, Op  # noqa: E402

#: Set-ups per run; ``setup_s`` is their median. Set-up 0 also starts the
#: JVM and the Spark session; every set-up writes fresh inputs and prepares
#: the workload on them. One warm-up cycle follows the last set-up.
SETUPS = 3
#: ``local[CORES]``; also the engine's SPARK_GRAFT_CPUS.
CORES = 4
#: Pinned well inside a 15 GiB host (the engine's default asks for 16g).
DRIVER_MEMORY = "3g"


def _import_engine():
    sys.path.insert(0, str(ROOT))
    from pyspark.sql import functions as F, types as T

    from kamodo_dask_spark import session
    from kamodo_dask_spark.grid import ingest, registry
    from kamodo_dask_spark.grid.interpolate import nlinear_interp
    from kamodo_dask_spark.streaming import files

    return types.SimpleNamespace(
        F=F, T=T, session=session, ingest=ingest, registry=registry, files=files,
        nlinear_interp=nlinear_interp,
    )


def _start_session(eng, run_dir: Path):
    return eng.session.get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )


def _loadavg() -> list[float]:
    return list(os.getloadavg())


def timed_window(wl, seconds: float) -> list[Op]:
    """Closed loop over whole op cycles until the ops' timed seconds reach
    ``seconds``. Each op's output is checked right after it, outside its
    timed region."""
    ops: list[Op] = []
    measured = 0.0
    while measured < seconds:
        for kind, step in wl.cycle():
            t0 = time.perf_counter()
            try:
                op = step()
            except Exception as exc:  # an op that raises counts as failed
                measured += time.perf_counter() - t0  # and still ends the loop
                ops.append(Op(kind, error=f"{kind} raised {exc!r}"))
                continue
            measured += op.seconds
            t0 = time.perf_counter()
            try:
                problems = op.verify() if op.verify else []
            except Exception as exc:
                problems = [f"{kind} check raised {exc!r}"]
            op.check_seconds = time.perf_counter() - t0
            op.error = "; ".join(problems)
            op.verify = None
            ops.append(op)
    return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    t_process = time.perf_counter()

    run_dir = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # executor Python workers import the engine from the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    try:
        eng = _import_engine()
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    try:
        ops, values, host = _run(args, eng, run_dir, t_process)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = [op for op in ops if op.error]
    for op in failed[:20]:
        print(f"perfbench: failed {op.kind}: {op.error}", file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps({"ops": [[op.kind, op.seconds, op.check_seconds] for op in ops]}))
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": values,
    }
    print(json.dumps(result), flush=True)
    return 0


def _run(args, eng, run_dir: Path, t_process: float):
    """Set up SETUPS times, run the timed window (and with ``--trace 1`` a
    second, traced one); returns (ops, printed metrics, host record)."""
    cls = WORKLOADS[args.workload]
    size = SIZES[args.workload][args.size]
    load_before = _loadavg()
    setups = []
    spark = wl = None
    try:
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if wl is not None:
                wl.close()
            if spark is None:  # the session is started once, by set-up 0
                spark = _start_session(eng, run_dir)
                session_start = time.perf_counter() - t0
            wl = cls(spark, eng, run_dir / f"setup{k}", args.seed, size, NO_TRACE)
            wl.generate()
            wl.prepare()
            setups.append(time.perf_counter() - t0)
        # the warm-up pass: one full-size cycle, untimed and unchecked; it
        # loads the classes, compiles the plans' code and starts the Python
        # workers, so the timed window does not open cold
        t0 = time.perf_counter()
        for _, step in wl.cycle():
            step()
        warm_up_s = time.perf_counter() - t0
        first_op_at = time.perf_counter() - t_process

        ops = timed_window(wl, args.seconds)
        values = metrics.end_to_end(ops, setups)
        if args.trace:
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            wl.tr = tracer
            metrics.patch_layers(tracer)
            try:
                traced_ops = timed_window(wl, args.seconds)
            finally:
                tracer.unpatch()
            layers = metrics.per_layer(tracer, wl, traced_ops, session_start)
            traced = metrics.end_to_end(traced_ops, setups)
            record = {
                "workload": args.workload,
                "seed": args.seed,
                "untraced": values,
                "traced": traced,
                "overhead": {
                    k: traced[k]["value"] - values[k]["value"] for k in values if k != "setup_s"
                },
                "per_layer": layers,
                "spans": tracer.dump(),
            }
            out = WORK / f"trace-{args.workload}-seed{args.seed}.json"
            out.write_text(json.dumps(record, indent=1))
            ops, values = ops + traced_ops, layers
        host = {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": spark.version,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "loadavg_before": load_before,
            "loadavg_after": _loadavg(),
            "setups_s": setups,
            "warm_up_s": warm_up_s,
            "first_timed_op_after_s": first_op_at,
            "workload": args.workload,
            "size": args.size,
            "seed": args.seed,
        }
    finally:
        if wl is not None:
            wl.close()
        _stop(spark)
    return ops, values, host


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
