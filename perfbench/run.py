#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, one result line.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload hash_large_files --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
  hash_large_files    hash_directory over a seeded 512 MiB tree
  query_suite         registry queries on the committed sf0.01 corpus

One driver process runs ``local[nproc // 2]`` and issues one op at a time
(a closed loop with one caller).  With ``--trace 0`` it prints the
end-to-end metrics; with ``--trace 1`` a separately traced run prints the
per-layer metrics.  Every op's output is checked; the last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the exit code is 0 only when every check passed.  Work files live in
``perfbench/.work`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Fewest timed ops per run, even when they overrun ``--seconds``.
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "tree_gbps": "GB/s",
    "suite_s": "s",
    "driver_rss_peak_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's local cores: half the CPUs, so that the driver, the JVM's
    own threads and other tenants of a shared host do not take CPU from
    the tasks.  On 4 vCPUs, hash ops at ``local[4]`` took 0.49 s on a
    quiet host and up to 1.05 s on a busy one; at ``local[2]``,
    0.78-1.01 s."""
    return max(1, nproc() // 2)


class Run:
    """State shared by one benchmark run: arguments, the Spark session,
    the check counters and the facts printed in the record line."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.record: dict = {"workload": args.workload, "seed": args.seed}
        self.setup_s = 0.0
        self.get_spark_s = 0.0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED: {what}", file=sys.stderr)
        return ok

    def attempt(self, what: str, fn, *args):
        """Run one op; an exception counts as a failed op."""
        try:
            return fn(*args)
        except Exception:
            self.check(False, f"{what} raised")
            traceback.print_exc()
            return None

    def set_up(self, first_op) -> None:
        """``get_spark()``, which launches the JVM, plus the first,
        untimed op; ``first_op()`` reads ``self.spark`` and checks its
        own output."""
        from dirhash_spark.session import get_spark

        watch = Stopwatch()
        self.spark = get_spark("perfbench")
        self.get_spark_s = watch.stop()[0]
        self.attempt("first op", first_op)
        wall, self.setup_s = watch.stop()
        self.record["setup_wall_s"] = round(wall, 4)

    def window(self, op, min_ops: int = MIN_OPS) -> list[float]:
        """Run ``op()`` back to back for ``--seconds`` (at least
        ``min_ops`` times): an op starts only if one as long as the last
        would end in time.  Returns each op's unstolen time (see
        :class:`Stopwatch`); the record gets the wall times and the
        share of CPU time the hypervisor stole meanwhile."""
        samples: list[float] = []
        walls: list[float] = []
        last = 0.0
        cpu0 = _cpu_times()
        end = time.perf_counter() + self.seconds
        while len(samples) < min_ops or time.perf_counter() + last < end:
            watch = Stopwatch()
            op()
            last, unstolen = watch.stop()
            walls.append(last)
            samples.append(unstolen)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        self.record["steal_share"] = round(cpu[7] / max(sum(cpu), 1), 4)
        self.record["op_wall_s"] = [round(x, 4) for x in walls]
        return samples

    def environment(self) -> dict:
        import pyspark

        return {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }


def _cpu_times() -> list[int]:
    """System-wide CPU times from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class Stopwatch:
    """Times a span two ways: wall time, and unstolen time, the wall time
    less the share of it the hypervisor stole.

    On a shared host the hypervisor runs other guests on this one's
    vCPUs, which shows in /proc/stat as steal.  A vCPU that wants to run
    then waits, and every op stretches with the stolen share of the
    running time: on 4 vCPUs, 10-15% steal made hash ops 35% slower.
    Unstolen time is ``wall * busy / (busy + steal)``, with busy and
    steal the CPU time this machine ran and had stolen during the span;
    with no steal it is the wall time."""

    def __init__(self):
        self._cpu = _cpu_times()
        self._t0 = time.perf_counter()

    def stop(self) -> tuple[float, float]:
        """(wall seconds, unstolen seconds) since the watch started."""
        wall = time.perf_counter() - self._t0
        d = [b - a for a, b in zip(self._cpu, _cpu_times())]
        busy, steal = d[0] + d[1] + d[2] + d[5] + d[6], d[7]
        return wall, wall * busy / (busy + steal) if busy + steal else wall


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _isolate(work: str) -> None:
    """Keep every file Spark and the engine write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait
    until it has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    from workloads import WORKLOADS  # noqa: E402  (perfbench/ is on sys.path)

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "dirhash_spark")):
        print(f"dirhash_spark not found beside {HERE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work)
    try:
        _isolate(work)
        metrics = WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    declared = _declared(bool(args.trace))
    if {k: v["unit"] for k, v in metrics.items()} != declared:
        print(f"metrics do not match BENCHMARK.json: {sorted(metrics)}", file=sys.stderr)
        return 3
    run.record.update(
        wall_s=round(time.perf_counter() - started, 3),
        environment=run.environment(),
        setup_s=round(run.setup_s, 4),
        ops_failed_ratio=run.failed / max(run.attempted, 1),
    )
    print(json.dumps({"record": run.record}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
