"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.bench_work/`` in the checkout, starts a local Spark
session with the engine's own ``get_spark``, runs the workload as a
closed loop with one client, checks every output, and prints one JSON
line last:

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` first runs its ``--trace 0`` twin in a child process, then
the same loop traced, and reports the per-layer metrics plus the tracing
overhead (traced minus untraced); it also writes every span as JSON to
``.bench_work/trace-<workload>-<seed>.json``.
Workloads, metrics and predictions are described in perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

from workloads import PER_LAYER, PKG, ROOT, WORKLOADS, adopt_orphans


def tail_count(n_ops: int) -> int:
    """How many of the slowest operations ``op_tail_s`` averages: a
    tenth, but at least two, so no single operation sets it."""
    return max(2, math.ceil(n_ops / 10))


def end_to_end(result) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of one measured loop."""
    lat = sorted(result.op_seconds)
    slowest = lat[-tail_count(len(lat)):]
    return {
        "setup_s": (statistics.median(result.setup_seconds), "s"),
        "pass_s": (statistics.median(result.pass_seconds), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        # mean of the slowest tenth of the operations (at least two)
        "op_tail_s": (sum(slowest) / len(slowest), "s"),
    }


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine whatever the caller's directory."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def untraced_twin(args) -> dict:
    """Run this command with ``--trace 0`` in a child process and return
    its result line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.tiny:
        cmd.append("--tiny")
    child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = child.communicate()
    finally:
        # on every way out, the child has ended before this returns
        if child.poll() is None:
            child.terminate()
            try:
                child.wait(timeout=60)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
    if child.returncode:
        raise subprocess.CalledProcessError(child.returncode, cmd)
    return json.loads(out.strip().splitlines()[-1])


def _exit_on_term(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
    sys.exit(143)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs; for the self-test only")
    args = ap.parse_args(argv)
    # a terminated run unwinds like an exception, so Spark, its JVM and
    # any child run are stopped and waited for on the way out
    signal.signal(signal.SIGTERM, _exit_on_term)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: no {PKG}/ beside perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    adopt_orphans()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    baseline = workload = None
    try:
        prepare_environment(work)
        if args.trace:
            # the untraced twin runs first, in its own process and JVM, so
            # the overhead compares two equally cold runs
            baseline = untraced_twin(args)
        workload = WORKLOADS[args.workload](args.seed, work, tiny=args.tiny)
        t0 = time.perf_counter()
        workload.generate()
        generate_s = time.perf_counter() - t0
        tracer = workload.new_tracer() if args.trace else None
        result = workload.run(seconds=args.seconds, tracer=tracer)
        metrics = end_to_end(result)
        if args.trace:
            e2e = metrics
            metrics = workload.layer_metrics(result)
            for name, (value, unit) in e2e.items():
                metrics[f"overhead.{name}"] = (
                    value - baseline["metrics"][name]["value"], unit)
            metrics = {n: metrics.get(n, (0.0, unit))
                       for n, (unit, _) in PER_LAYER.items()}
            trace_path = os.path.join(
                ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {
                "workload": args.workload, "seed": args.seed,
                "end_to_end_traced": e2e,
                "end_to_end_untraced": baseline["metrics"],
            })
    finally:
        # the clean-up is bounded; a late SIGTERM must not cut it short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if workload is not None:
                workload.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted, failed = result.attempted, len(result.failures)
    if baseline:
        attempted += baseline["attempted"]
        failed += baseline["failed"]
    print(f"# {args.workload} seed={args.seed} traced={bool(args.trace)} "
          f"ops={len(result.op_seconds)} passes={len(result.pass_seconds)} "
          f"error_rate={len(result.failures) / max(1, result.attempted):.4f} "
          f"tail over {min(len(result.op_seconds), tail_count(len(result.op_seconds)))} slowest; "
          f"generate_s={generate_s:.1f} "
          f"{result.note}")
    print("# ops " + " ".join(
        f"{n}={t:.2f}" for n, t in zip(result.op_names, result.op_seconds)))
    for f in result.failures:
        print(f"# FAILED {f.splitlines()[0]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
