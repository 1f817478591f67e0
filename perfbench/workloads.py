"""The workloads.  Each takes a :class:`run.Run` and returns its metrics:
the end-to-end set untraced, the per-layer set traced.

Dirhash layers are timed by composing the package's public calls the
way ``hash_directory_raw`` does (``listing.list_entries`` ->
``chunks.chunk_plan`` -> ``hashdir.digest_directory(...).collect()`` ->
driver sort + ``codec.fold_digest``).  The composed route must return the
same hash as the op and run the same number of Spark jobs and stages;
if the op's internal sequence changes, the run fails instead of
reporting layers that no longer add up to the op.
"""

from __future__ import annotations

import json
import os
import random
import time

import oracle
import trees
from run import END_TO_END, ROOT, Stopwatch, median, nproc
from sparkstats import COUNTERS, SparkStats, reset_rss_peak, rss_peak_mb

ALGO = "sha256"

#: Untimed ops before the timed window, after the set-up op and the
#: streamed and incremental checks.  A fresh JVM is still compiling hot
#: paths: op times fall by about a third over the first five ops.
WARMUP_OPS = 3

#: The sf0.01 corpus committed beside the benchmark (see README.md).
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: bench.py's flagship query, its dirhash-columnar and Python-UDF
#: headline queries, and the stream-native sessions query, whose stream
#: replay at construction is the largest construction cost of the
#: registry.  A pass over the four takes 3-4 s at local[2] on 4 vCPUs, so
#: a run times several passes.
QUERIES = [
    "flagship_revenue_by_nation",
    "merkle_fold_group",
    "dedup_minhash",
    "stream_session_native",
]

#: Queries without DuckDB SQL are checked against the row count the
#: committed sf0.01 oracle snapshot recorded for them.
ROWS_SNAPSHOT = "ORACLE_SNAPSHOT_r15.json"
#: Fewest timed passes over the suite per run.
MIN_PASSES = 2
#: Untimed passes after the correctness pass.  Pass times still fall by
#: a quarter over the first three passes after it.
WARMUP_PASSES = 3

DIRHASH_LAYERS = (
    "listing.s", "listing.entries", "chunks.plan_s", "chunks.count",
    "hashdir.read_hash_s", "hashdir.bytes", "hashdir.read_hash_gbps",
    "hashdir.efficiency", "hashdir.streamed_fold_s", "codec.fold_s",
    "incremental.s", "incremental.reuse_ratio", "incremental.rehashed_files",
    "manifest.write_s", "manifest.bytes",
)
QUERY_TOTALS = (
    "query.construct_s", "query.execute_s", "query.jobs", "query.stages",
    "query.tasks", "query.shuffle_bytes", "query.python_run_s", "query.python_bytes",
)


def per_layer_names() -> list[str]:
    return [
        "session.get_spark_s", *DIRHASH_LAYERS, *COUNTERS, "driver.other_s",
        "host.sha256_gbps", "host.read_gbps", "trace.overhead_s", "jvm.rss_peak_mb",
        *(f"q.{q}.{m}" for q in QUERIES for m in ("construct_s", "execute_s", "jobs")),
        *QUERY_TOTALS,
    ]


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_gbps"):
        return "GB/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "efficiency", "skew")):
        return "ratio"
    return "count"


def as_metrics(values: dict) -> dict:
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()}


def _ceilings(run, inputs: str) -> dict:
    c = {
        "host.sha256_gbps": trees.sha256_gbps(nproc()),
        "host.read_gbps": trees.read_gbps(inputs),
    }
    run.record.update({k: round(v, 4) for k, v in c.items()})
    return c


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in trees.tree_files(path))


def _end_to_end(run, samples: list[float], suite_s: float, gbps: float, rss: float) -> dict:
    run.record.update(op_samples=len(samples), op_s=[round(x, 4) for x in samples])
    return as_metrics(
        {
            "setup_s": run.setup_s,
            "op_s.p50": median(samples),
            "tree_gbps": gbps,
            "suite_s": suite_s,
            "driver_rss_peak_mb": rss,
        }
    )


def _layers(run, values: dict) -> dict:
    """The full per-layer set: layers this workload does not run are 0."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.get_spark_s"] = run.get_spark_s
    out.update(values)
    out["jvm.rss_peak_mb"] = SparkStats(run.spark).jvm_rss_peak_mb()
    return as_metrics(out)


# --------------------------------------------------------------------------
# Directory hashing


class DirhashOps:
    """The dirhash calls the workload makes, each checked against the
    oracle."""

    def __init__(self, run, tree: str, truth: oracle.TreeOracle):
        from dirhash_spark.dirhash import hash_directory
        from dirhash_spark.dirhash.incremental import (
            build_chunk_manifest,
            hash_directory_incremental,
        )

        self.run, self.tree, self.truth = run, tree, truth
        self._hash = hash_directory
        self._build = build_chunk_manifest
        self._incremental = hash_directory_incremental
        self.expected = truth.expected()

    def full(self, streamed: bool = False) -> str:
        h = self._hash(self.run.spark, self.tree, ALGO, self.truth.blocksize, streamed=streamed)
        self.run.check(h == self.expected, f"hash_directory(streamed={streamed}) {h}")
        return h

    def incremental(self, changed: list[str]) -> dict:
        """Write a manifest, rewrite ``changed``, then read the manifest
        back, re-hash incrementally and write the refreshed manifest: the
        CLI's --write-manifest day followed by a --manifest day."""
        spark, bs = self.run.spark, self.truth.blocksize
        first, second = (os.path.join(self.run.work, f"manifest-{i}") for i in (0, 1))
        self._build(spark, self.tree, ALGO, bs).write.parquet(first)
        for rel in changed:
            trees.flip_byte(self.tree, rel, self.run.seed)
        self.truth.refresh(changed)
        self.expected = self.truth.expected()
        t0 = time.perf_counter()
        h, stats, fresh = self._incremental(
            spark, self.tree, spark.read.parquet(first), ALGO, bs, with_manifest=True
        )
        t1 = time.perf_counter()
        fresh.write.parquet(second)
        t2 = time.perf_counter()
        self.run.check(
            h == self.expected and stats["n_rehashed_files"] == len(changed),
            f"incremental {h} re-hashed {stats['n_rehashed_files']} of {len(changed)} changed",
        )
        return {
            "incremental.s": t1 - t0,
            "incremental.reuse_ratio": stats["n_reused_files"] / stats["n_files"],
            "incremental.rehashed_files": stats["n_rehashed_files"],
            "manifest.write_s": t2 - t1,
            "manifest.bytes": _dir_bytes(second),
        }

    def composed(self) -> dict:
        """The collect-fold route as separately timed layer calls."""
        from dirhash_spark.dirhash.chunks import chunk_plan
        from dirhash_spark.dirhash.codec import build_hash_string, fold_digest, parse_blocksize
        from dirhash_spark.dirhash.hashdir import digest_directory
        from dirhash_spark.dirhash.listing import list_entries

        spark, bs = self.run.spark, parse_blocksize(self.truth.blocksize)
        t0 = time.perf_counter()
        entries = list_entries(self.tree, spark)
        t1 = time.perf_counter()
        chunk_plan(spark, entries, bs)
        t2 = time.perf_counter()
        rows = digest_directory(spark, entries, bs, ALGO).collect()
        t3 = time.perf_counter()
        rows.sort(key=lambda r: (r["path"], r["block_num"]))
        hex_digest = fold_digest(
            ALGO, [e.relative_path for e in entries], [bytes(r["digest"]) for r in rows]
        )
        t4 = time.perf_counter()
        content = sum(e.size for e in entries if not e.is_dir)
        h = build_hash_string(ALGO, self.truth.blocksize, hex_digest)
        self.run.check(h == self.expected, f"composed layers {h}")
        return {
            "listing.s": t1 - t0,
            "listing.entries": len(entries),
            "chunks.plan_s": t2 - t1,
            "chunks.count": len(rows),
            "hashdir.read_hash_s": t3 - t2,
            "hashdir.bytes": content,
            "hashdir.read_hash_gbps": content / (t3 - t2) / 1e9,
            "codec.fold_s": t4 - t3,
        }


def _traced_dirhash(run, ops: DirhashOps) -> tuple[dict, float]:
    """Each iteration runs the op under the status stores, the composed
    layers under the status stores, and the streamed fold.  Returns the
    medians and the op's median wall."""
    stats = SparkStats(run.spark)
    rows: list[dict] = []

    def traced(tag, fn):
        """(fn's wall, its Spark counters, time spent reading the stores)."""
        t0 = time.perf_counter()
        mark = stats.mark(tag)
        t1 = time.perf_counter()
        fn()
        t2 = time.perf_counter()
        counters = stats.since(mark)
        return t2 - t1, counters, (t1 - t0) + (time.perf_counter() - t2)

    def iteration():
        op_s, counters, overhead = traced("op", ops.full)
        row = dict(counters, op_s=op_s, **{"trace.overhead_s": overhead})
        _, composed, _ = traced("composed", lambda: row.update(ops.composed()))
        run.check(
            all(composed[k] == counters[k] for k in ("spark.jobs", "spark.stages")),
            f"composed layers ran {composed} but hash_directory ran {counters}",
        )
        t0 = time.perf_counter()
        ops.full(streamed=True)
        row["hashdir.streamed_fold_s"] = time.perf_counter() - t0
        rows.append(row)

    run.record["trace_iterations"] = len(run.window(iteration))
    values = {k: median([r[k] for r in rows]) for k in rows[0]}
    op_s = values.pop("op_s")
    layers = ("listing.s", "chunks.plan_s", "hashdir.read_hash_s", "codec.fold_s")
    values["driver.other_s"] = op_s - sum(values[k] for k in layers)
    run.record["traced_op_s"] = round(op_s, 4)
    return values, op_s


def hash_large_files(run):
    run.check(oracle.matches_golden(), "oracle chunk framing vs the F3 golden digest")
    tree = os.path.join(run.work, "tree")
    t0 = time.perf_counter()
    content = trees.write_large_tree(tree, run.seed)
    truth = oracle.TreeOracle(tree, ALGO, trees.LARGE_BLOCKSIZE)
    run.record["generate_s"] = round(time.perf_counter() - t0, 4)
    ceilings = _ceilings(run, tree)

    ops = DirhashOps(run, tree, truth)
    run.set_up(ops.full)
    # Every route must return the oracle's hash: the default fold (the
    # set-up op and every timed op), the streamed fold, and the
    # incremental re-hash after one file changed.
    t0 = time.perf_counter()
    ops.full(streamed=True)
    t1 = time.perf_counter()
    incremental = ops.incremental([trees.CHURN_FILE])
    run.record.update(
        streamed_s=round(t1 - t0, 4), incremental_route_s=round(time.perf_counter() - t1, 4)
    )
    for _ in range(WARMUP_OPS):
        ops.full()

    if run.trace:
        traced, op_s = _traced_dirhash(run, ops)
        efficiency = content / op_s / 1e9 / min(ceilings.values())
        return _layers(run, dict(incremental, **ceilings, **traced, **{"hashdir.efficiency": efficiency}))
    reset_rss_peak()
    samples = run.window(ops.full)
    rss = rss_peak_mb()
    return _end_to_end(run, samples, median(samples), content / median(samples) / 1e9, rss)


# --------------------------------------------------------------------------
# Query suite


def query_suite(run):
    from dirhash_spark.registry import all_queries
    from tests.oracle_harness import compare, make_duckdb

    registry = all_queries()
    content = _dir_bytes(CORPUS)
    ceilings = _ceilings(run, CORPUS)

    def execute(name: str) -> dict:
        watch = Stopwatch()
        df = registry[name].fn(run.spark, CORPUS)
        construct_s = watch.stop()[0]
        df.write.format("noop").mode("overwrite").save()
        wall, unstolen = watch.stop()
        return {"construct_s": construct_s, "execute_s": wall - construct_s, "op_s": unstolen}

    run.set_up(lambda: execute(QUERIES[0]))
    t0 = time.perf_counter()

    # Correctness once per run, untimed, then untimed noop passes.
    with open(os.path.join(ROOT, ROWS_SNAPSHOT)) as fh:
        rows_only = json.load(fh)["results"]
    con = make_duckdb(CORPUS)
    try:
        for name in QUERIES:
            q = registry[name]

            def verify():
                df = q.fn(run.spark, CORPUS)
                if q.oracle is not None:
                    report = compare(df, con, q.oracle)
                    run.check(report["match"], f"{name} vs DuckDB: {report['detail']}")
                else:
                    n, want = df.count(), rows_only[name]["spark_rows"]
                    run.check(n == want, f"{name}: {n} rows, snapshot has {want}")

            run.attempt(name, verify)
    finally:
        con.close()
    t1 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        for name in QUERIES:
            run.attempt(name, execute, name)
    run.record.update(check_s=round(t1 - t0, 4), warmup_s=round(time.perf_counter() - t1, 4))

    rng = random.Random(run.seed)
    order = list(QUERIES)
    stats = SparkStats(run.spark) if run.trace else None
    samples: dict[str, list[dict]] = {name: [] for name in QUERIES}

    def one(name: str) -> None:
        mark = stats.mark(name) if stats else None
        timed = run.attempt(name, execute, name)
        if timed is None:
            return
        run.check(True, name)
        row = dict(timed)
        if stats:
            t0 = time.perf_counter()
            row.update(stats.since(mark))
            row["trace.overhead_s"] = time.perf_counter() - t0
        samples[name].append(row)

    def one_pass():
        rng.shuffle(order)
        for name in order:
            one(name)

    if not run.trace:
        # One op is one pass over the suite: a median over the queries'
        # mixed latencies would jump between them.
        reset_rss_peak()
        passes = run.window(one_pass, min_ops=MIN_PASSES)
        rss = rss_peak_mb()
        times = {n: [r["op_s"] for r in rows] for n, rows in samples.items()}
        run.record["query_s"] = {n: [round(x, 4) for x in t] for n, t in times.items()}
        suite = sum(median(t) for t in times.values())
        return _end_to_end(run, passes, suite, content / suite / 1e9, rss)

    run.window(one_pass, min_ops=MIN_PASSES)
    per = {name: {k: median([r[k] for r in rows]) for k in rows[0]} for name, rows in samples.items()}
    values = {}
    for name, m in per.items():
        values[f"q.{name}.construct_s"] = m["construct_s"]
        values[f"q.{name}.execute_s"] = m["execute_s"]
        values[f"q.{name}.jobs"] = m["spark.jobs"]

    def total(k: str) -> float:
        return sum(m[k] for m in per.values())

    values.update(
        {
            "query.construct_s": total("construct_s"),
            "query.execute_s": total("execute_s"),
            "query.jobs": total("spark.jobs"),
            "query.stages": total("spark.stages"),
            "query.tasks": total("spark.tasks"),
            "query.shuffle_bytes": total("spark.shuffle_bytes"),
            "query.python_run_s": total("python.run_s"),
            "query.python_bytes": total("python.bytes_in") + total("python.bytes_out"),
        }
    )
    rows = [r for rs in samples.values() for r in rs]
    for k in (*COUNTERS, "trace.overhead_s"):
        values[k] = median([r[k] for r in rows])
    return _layers(run, dict(values, **ceilings))


WORKLOADS = {
    "hash_large_files": hash_large_files,
    "query_suite": query_suite,
}
