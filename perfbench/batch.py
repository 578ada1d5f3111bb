"""llm_heavy: the kernel-bound dedup and similarity queries in repeated
warm passes over seeded sf0.1-shaped tables.

Pass 0 (cold) collects every query's result and checks it against its
DuckDB oracle SQL. Warm passes follow until two successive passes
differ by less than SETTLED; then whole passes are timed until the
run's seconds are used. Timed passes force each query end to end with
Spark's ``noop`` sink, as bench.py does.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import gen
from common import Result, median, require

# the winnowing integer kernels (functions/intkernels.py) and the Arrow
# cosine kernels (functions/vectors.py)
QUERIES = ["b105_winnowing_fingerprints", "b109_winnowing_coverage", "b39_embedding_neardup"]
SETTLED = 0.10       # pass-to-pass change below which the workload is warm
MAX_WARM_PASSES = 3  # warm-up gives up waiting here and times what it has


def _oracle_frames(data_dir: str, oracles: dict) -> dict:
    from kafka_streams_sandbox_spark.oracle import duckdb_connection

    con = duckdb_connection(data_dir)
    try:
        return {name: con.execute(sql).fetchdf() for name, sql in oracles.items()}
    finally:
        con.close()


def _check_pass(spark, data_dir, tracer) -> list[str]:
    """Cold pass: collect every result and check it. The DuckDB
    oracles run on a second thread meanwhile (DuckDB releases the
    interpreter lock)."""
    from kafka_streams_sandbox_spark.registry import all_oracles, all_queries

    queries = all_queries()
    oracles = {n: sql for n, sql in all_oracles().items() if n in QUERIES}
    unchecked = set(QUERIES) - oracles.keys()
    if unchecked:
        return [f"no oracle to check {sorted(unchecked)} against"]
    problems = []
    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(_oracle_frames, data_dir, oracles)
        results = {}
        for name in QUERIES:
            with tracer.span("query.check", op=name):
                results[name] = queries[name](spark, data_dir).toPandas()
        with tracer.span("oracle.wait"):
            expected = expected.result()
    for name, pdf in results.items():
        problems += checks.matches_oracle(name, pdf, expected[name])
    return problems


class Pass:
    """One pass over QUERIES, each forced end to end; per query wall
    time, and in traced runs its Spark jobs."""

    def __init__(self, spark, data_dir, tracer, ledger=None):
        from kafka_streams_sandbox_spark.registry import all_queries

        self.spark, self.data_dir = spark, data_dir
        self.tracer, self.ledger = tracer, ledger
        self.queries = all_queries()
        self.n = 0

    def run(self, label: str) -> dict:
        sc = self.spark.sparkContext
        out = {"query_s": [], "ledger": []}
        with self.tracer.span("pass", op=f"{label}-{self.n}"):
            t_pass = time.perf_counter()
            for name in QUERIES:
                group = f"{label}-{self.n}-{name}"
                if self.ledger:
                    sc.setJobGroup(group, name)
                with self.tracer.span("query", op=group):
                    t = time.perf_counter()
                    (self.queries[name](self.spark, self.data_dir)
                     .write.format("noop").mode("overwrite").save())
                    out["query_s"].append(time.perf_counter() - t)
                if self.ledger:
                    out["ledger"].append(self._account(group, out["query_s"][-1]))
            out["pass_s"] = time.perf_counter() - t_pass
        if self.ledger:
            sc.setJobGroup("", "")
        self.n += 1
        return out

    def _account(self, group: str, wall: float) -> dict:
        jobs = self.ledger.group_jobs(group)
        stages = self.ledger.stage_ids(jobs)
        rec = {"wall_s": wall, "jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
               "spill_mb": 0.0, "py_stages": 0, "py_run_s": 0.0, "py_rows": 0}
        for sid in stages:
            fig = self.ledger.stage_figures(sid)
            if fig is None:
                continue
            rec["stages"] += 1
            rec["tasks"] += fig["tasks"]
            for k in ("run_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                rec[k] += fig[k]
            if fig["python"]:
                rec["py_stages"] += 1
                rec["py_run_s"] += fig["run_s"]
                rec["py_rows"] += fig["rows_in"]
        return rec


def settled(times: list[float]) -> bool:
    return len(times) >= 2 and abs(times[-1] - times[-2]) / times[-2] < SETTLED


def run(spark, args, work: str, tracer, t_start: float) -> Result:
    from spans import JobLedger

    res = Result()
    data_dir = os.path.join(work, "sf0.1")
    with tracer.span("gen.tables"):
        gen.write_tables(data_dir, args.seed)

    with tracer.span("check.pass"):
        require(_check_pass(spark, data_dir, tracer))

    ledger = JobLedger(spark) if args.trace else None
    runner = Pass(spark, data_dir, tracer, ledger)
    warm = []
    with tracer.span("warmup"):
        t_warm = time.perf_counter()
        while not settled(warm) and len(warm) < MAX_WARM_PASSES:
            warm.append(runner.run("warm")["pass_s"])
        warmup_s = time.perf_counter() - t_warm

    t0 = time.perf_counter()
    setup_s = t0 - t_start
    first_job = ledger.max_job_id() + 1 if ledger else 0
    passes = []
    with tracer.span("timed"):
        while not passes or time.perf_counter() - t0 < args.seconds:
            passes.append(runner.run("timed"))
    elapsed = time.perf_counter() - t0

    n_queries = len(passes) * len(QUERIES)
    pass_s = [p["pass_s"] for p in passes]
    # a typical pass: each query's median over the timed passes, summed
    typical_pass_s = sum(median([p["query_s"][i] for p in passes])
                         for i in range(len(QUERIES)))
    res.attempted = n_queries
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (n_queries / elapsed, "1/s"),
        "step_p50_s": (typical_pass_s, "s"),
    }
    res.detail = {"warm_passes_s": warm, "settled": settled(warm), "timed_passes": len(passes),
                  "pass_s": pass_s, "query_s": [p["query_s"] for p in passes],
                  "queries": QUERIES}
    if args.trace:
        last_job = ledger.max_job_id()
        recs = [r for p in passes for r in p["ledger"]]
        group_jobs = sum(r["jobs"] for r in recs)
        window_jobs = last_job - first_job + 1
        require([] if group_jobs == window_jobs else [
            f"job-group sums {group_jobs} != jobs run in the window {window_jobs}"])
        per_pass = lambda k: sum(r[k] for r in recs) / len(passes)  # noqa: E731
        res.layer.update({
            "warmup_s": (warmup_s, "s"),
            "query.wall_s": (per_pass("wall_s"), "s"),
            "query.jobs": (per_pass("jobs"), "count"),
            "query.stages": (per_pass("stages"), "count"),
            "query.tasks": (per_pass("tasks"), "count"),
            "query.executor_run_s": (per_pass("run_s"), "s"),
            "query.executor_cpu_s": (per_pass("cpu_s"), "s"),
            "query.shuffle_write_mb": (per_pass("shuffle_write_mb"), "MB"),
            "query.shuffle_read_mb": (per_pass("shuffle_read_mb"), "MB"),
            "query.spill_mb": (per_pass("spill_mb"), "MB"),
            "python.stages": (per_pass("py_stages"), "count"),
            "python.stage_run_s": (per_pass("py_run_s"), "s"),
            "python.rows_to_worker": (per_pass("py_rows"), "rows"),
            "dedup_kernel_pass_s": (median(pass_s), "s"),
            "trace.throughput_per_s": (n_queries / elapsed, "1/s"),
            "trace.step_p50_s": (typical_pass_s, "s"),
        })
        res.detail["job_window"] = [first_job, last_job, group_jobs]
    return res
