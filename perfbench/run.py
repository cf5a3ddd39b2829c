"""Repository benchmark: seeded inputs, three workloads, one closed-loop client.

    python3 perfbench/run.py --workload raster_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. The one client (this process) drives one local
Spark session and issues each workload's operations back to back; the next
operation starts when the previous one has returned and its output is
forced. With ``--trace 0`` it reports the end-to-end metrics of the chosen
workload; with ``--trace 1`` it runs every workload's operations as traced
spans twice, asserts that the counts repeat exactly, and reports the
per-layer metrics plus the tracing overhead on the chosen workload (the
first workload of the traced run).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before it
record the host, the seed and the per-call detail. All files the run writes
stay under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
#: timed iterations per run, at least; wall_s is their median
MIN_TIMED = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# host fit


def _mem_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(next(line for line in f if line.startswith("MemTotal")).split()[1])


def host_info(seed: int, workload: str) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(_mem_kb() / 2**20, 1),
        "git_sha": sha or "none",
        "seed": seed,
        "workload": workload,
        "python": sys.version.split()[0],
    }


def driver_memory_mb() -> int:
    """An eighth of RAM, between 1 and 3 GiB: the driver JVM, the Python
    workers and this process must fit on a shared host."""
    return int(min(3072, max(1024, _mem_kb() // 1024 // 8)))


# ---------------------------------------------------------------------------
# session


def start_session(threads: int):
    from seraster_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    mem = driver_memory_mb()
    return get_spark(
        "perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf={
            "spark.driver.memory": f"{mem}m",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def release_checkpoints(spark) -> None:
    """Drop the blocks of every checkpointed output of the last iteration."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def shutdown() -> None:
    """Stop the session, if any, and the driver JVM, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# the closed loop


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []


def run_iteration(wl, i: int, mode: str, refs: dict, tally: Tally, tracer=None,
                  op_times=None) -> float:
    """One pass over the workload's operations. ``mode`` is ``deep`` (full
    checks; record each output's digest), ``cheap`` (invariants, and the
    digest must match the recorded one) or ``ref`` (record the digests
    only). Returns the wall seconds spent in the operations (with
    ``tracer``: including the tracer's bookkeeping), excluding the checks.
    ``op_times`` collects each operation's wall seconds."""
    from workloads import digest, force

    wl.start_iteration(i)
    ctx, wall = wl.ctx, 0.0
    for op in wl.ops():
        tally.attempted += 1
        try:
            t0 = time.perf_counter()
            if tracer is None:
                out = force(op, op.call(ctx))
            else:
                out = tracer.run(op.span, f"{wl.name}.{op.label}",
                                 lambda: force(op, op.call(ctx)), op.task_records)
            dt = time.perf_counter() - t0
            wall += dt
            if op_times is not None:
                op_times.setdefault(op.label, []).append(dt)
            ctx.out[op.label] = out
            if op.force == "checkpoint":
                d = digest(out)
                if mode in ("deep", "ref"):
                    refs[op.label] = d
                elif refs.get(op.label) != d:
                    raise AssertionError(f"output digest {d} != first iteration {refs.get(op.label)}")
            if op.check is not None and mode != "ref":
                op.check(ctx, out, mode == "deep")
            if tracer is not None:
                tracer.finish(wl, op, out)
        except Exception as e:  # an operation failed: count it and carry on
            tally.failed += 1
            tally.errors.append(f"{wl.name}.{op.label}: {type(e).__name__}: {str(e)[:300]}")
            ctx.out.pop(op.label, None)
    release_checkpoints(ctx.spark)
    wl.end_iteration()
    return wall


def setup(workloads, threads: int, reps: int) -> list[float]:
    """Input staging and one warm-up call per workload, ``reps`` times over;
    the first repetition also starts the session (and the driver JVM).
    Returns each repetition's wall seconds."""
    times, spark = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        spark = spark or start_session(threads)
        for wl in workloads:
            wl.stage(spark)
            wl.warmup()
        release_checkpoints(spark)
        times.append(time.perf_counter() - t0)
    return times


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "seraster_spark", "__init__.py")):
        print(f"perfbench: no seraster_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    # the package on the driver and on the Python workers the JVM starts
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = None

    host = host_info(args.seed, args.workload)
    # half the CPUs run tasks; the rest serve the driver JVM's planner, JIT
    # and GC threads and this process, which bound these runs
    threads = host["spark_threads"] = max(1, host["nproc"] // 2)
    print("host " + json.dumps(host), flush=True)
    make = lambda name: WORKLOADS[name](cfg[name], cfg["verify_samples"], args.seed, WORK)  # noqa: E731
    main_wl = make(args.workload)
    workloads = [main_wl] if not args.trace else [main_wl] + [
        make(n) for n in WORKLOADS if n != args.workload
    ]
    tally, refs = Tally(), {}
    try:
        if args.trace:
            from layers import traced_metrics

            spark = start_session(threads)
            for wl in workloads:
                wl.stage(spark)
            metrics = traced_metrics(workloads, tally, refs, run_iteration)
        else:
            setup_times = setup(workloads, threads, SETUP_REPS)
            # the closed loop: iteration 0's outputs get the deep checks and
            # are not timed; the timed iterations must reproduce them. Only
            # the operations count against the time budget.
            t0 = time.perf_counter()
            run_iteration(main_wl, 0, "deep", refs, tally)
            t1 = time.perf_counter()
            op_times, walls = {}, []
            while len(walls) < MIN_TIMED or sum(walls) < args.seconds:
                walls.append(run_iteration(main_wl, len(walls) + 1, "cheap", refs, tally,
                                           op_times=op_times))
            t2 = time.perf_counter()
            wall = statistics.median(walls)
            metrics = {
                "wall_s": (wall, "s"),
                "docs_per_s": (main_wl.n_docs() / wall, "1/s"),
                "setup_s": (statistics.median(setup_times), "s"),
            }
            print("detail " + json.dumps({
                "timed_iterations": len(walls), "iteration_walls_s": walls,
                "setup_reps_s": setup_times, "deep_iteration_s": t1 - t0,
                "timed_iterations_with_checks_s": t2 - t1,
                "op_s": op_times,
                "ops_failed": {"value": tally.failed / tally.attempted, "unit": "failed/attempted"},
            }), flush=True)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    for e in tally.errors:
        print("failed " + e, flush=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
