"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout: the program under test is the
``dbbspark`` package there. One workload runs per process, so set-up
time and peak memory belong to it; ``--workload all`` runs each in its
own child process. Load is closed-loop: one driver thread on
``local[nproc]``, each call waiting for the previous one.

A run generates its inputs from the seed, sets the session up
``SETUPS`` times (the set-up time is their median; the first also starts
the JVM),
then runs passes until ``--seconds`` have gone by, at least one, and
checks every pass's outputs. The first pass runs cold, as a cron-started
job does; a pass outlasts the default run length, so it is the only one.

The last line of stdout is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
makes one traced pass, then probes the layers a pass reaches only
through other calls. Its spans go to ``.perfbench_out/``.

Writes only inside the checkout: inputs and Spark scratch space go to
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 4
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "peak_rss_mb": "MiB", "call_p50_s": "s", "items_per_s": "1/s",
}


def _env(root: str, work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside
    ``work``; must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["DBBSPARK_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("DBBSPARK_CHECKPOINT_DIR", None)


def _setup(phases, spark):
    """One set-up: a fresh session (program defaults) plus opening the
    workload's inputs."""
    from dbbspark.session import get_spark

    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    for ph in phases:
        ph.warm(spark)
    return spark, time.perf_counter() - t0


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(name: str, seed: int, seconds: float, trace: bool, root: str) -> int:
    work = os.path.join(root, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _env(root, work)
    sys.path.insert(0, root)
    import stats
    from harness import Bench, peak_rss_mb
    from workloads import WORKLOADS

    wl = WORKLOADS[name]
    phases = [P(work, seed, out_dir) for P in wl.phases]
    spark = None
    try:
        for ph in phases:
            ph.prepare()
        setups = []
        for _ in range(SETUPS):
            spark, dt = _setup(phases, spark)
            setups.append(dt)
        b = Bench(spark, trace)
        b.tracer.enabled = trace
        walls, rates, calls = [], [], []
        phase_walls = {ph.name: [] for ph in phases}
        k, t_end = 0, time.perf_counter() + seconds
        while True:
            wall = 0.0
            with b.tracer.span("pass", k=k):
                for ph in phases:
                    with b.tracer.span(ph.name):
                        dt, n, dts = ph.run_pass(b, k)
                    wall += dt
                    phase_walls[ph.name].append(dt)
                    if isinstance(ph, wl.rate_phase):
                        rates.append(n / dt)
                    if isinstance(ph, wl.calls_phase):
                        calls.extend(dts)
            walls.append(wall)
            k += 1
            if trace or time.perf_counter() >= t_end:
                break
        pass_trace_cost = b.trace_cost
        if trace:
            for ph in phases:
                ph.probe(b)
        b.tracer.enabled = False
        for ph in phases:
            ph.finish(b)
        from pyspark import SparkContext

        rss = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    except Exception:
        traceback.print_exc()
        print(json.dumps({"error": f"{name} run failed"}), file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    e2e = {
        "setup_s": stats.median(setups),
        "wall_s": stats.median(walls),
        "peak_rss_mb": rss,
        "call_p50_s": stats.median(calls),
        "items_per_s": stats.median(rates),
    }
    counts = {"setup_s": len(setups), "wall_s": len(walls), "peak_rss_mb": 1,
              "call_p50_s": len(calls), "items_per_s": len(rates)}
    failed_frac = b.failed / b.attempted
    print(f"# workload {name} seed {seed}{' (traced)' if trace else ''}: "
          f"items_per_s counts {wl.rate_phase.items}; "
          f"call_p50_s is over {wl.calls_phase.primary}")
    for key, unit in END_TO_END.items():
        alias = wl.aliases.get(key)
        label = f"{key} ({alias})" if alias else key
        print(f"#   {label:28s} {e2e[key]:12.4f} {unit:5s} median of n={counts[key]}")
    for phase, values in phase_walls.items():
        print(f"#   phase {phase:22s} {stats.median(values):12.4f} s     median of n={len(values)}")
    hp = stats.high_percentile(calls)
    if hp:
        print(f"#   call p{hp[0]:g}: {hp[1]:.4f} s")
    print(f"#   failed_frac {failed_frac:.4f} ({b.failed} of {b.attempted} calls and checks)")
    for f in b.failures:
        print(f"#   FAILED {f}")
    if trace:
        metrics = layer_metrics(b, pass_trace_cost)
        spans_path = os.path.join(out_dir, f"spans-{name}-{seed}.json")
        b.tracer.dump(spans_path)
        print(f"# spans written to {os.path.relpath(spans_path, root)}")
        print(f"#   {'span':52s} {'n':>4s} {'total_s':>9s} {'self_s':>9s}")
        for span, row in sorted(stats.self_times(b.tracer.spans).items()):
            print(f"#   {span:52s} {row['count']:4d} {row['total_s']:9.3f} {row['self_s']:9.3f}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if b.failed == 0 else 1


def layer_metrics(b, trace_overhead: float) -> dict:
    """Every declared per-layer metric: the median of its samples, or 0
    for a layer this workload does not call. ``trace_overhead`` is the
    traced pass's wall time minus the same pass with the tracer's own
    time (counter reads between calls) taken out."""
    import stats
    from workloads import PER_LAYER

    b.layer["trace.overhead_s"] = [trace_overhead]
    return {name: {"value": stats.median(b.layer[name]) if b.layer.get(name) else 0.0,
                   "unit": unit}
            for name, unit, _better in PER_LAYER}


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbbspark", "__init__.py")):
        print("perfbench: run from the root of a dbbspark checkout "
              "(no dbbspark/ package here)", file=sys.stderr)
        return 2
    if args.workload != "all":
        return run_one(args.workload, args.seed, args.seconds, bool(args.trace), root)
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        status |= subprocess.run(cmd, check=False).returncode
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
