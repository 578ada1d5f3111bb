"""changelog_topology: the reference KStream -> KTable topology.

A seeded changelog (standing keyspace, then fixed-size batches) is
written as parquet files; ``StreamsApp.start(records=...)`` drains it,
one file per micro-batch, back to back (closed loop, whole stream
available from the start). The standing load and the warm-up batches
are set-up: warm-up ends once two successive batches of the table
query differ by less than SETTLED. Every batch after that is timed.
After the drain one closed-loop client issues point lookups (live,
tombstoned and never-seen keys) and full scans through ``open_store``
for a share of the run's seconds.
"""

from __future__ import annotations

import math
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen
from common import Result, median, require
from spans import scan_reads

KEYSPACE = 50_000
BATCH_RECORDS = 10_000
SETTLED = 0.10        # batch-to-batch change below which the topology is warm
MAX_WARM_BATCHES = 4  # after the standing load (batch 0)
SECONDS_PER_TIMED_BATCH = 2.5  # --seconds / this = batches timed at the least
LOOKUPS_PER_ROUND = (6, 2, 2)  # live, tombstoned, never-seen; then one scan
IQ_SHARE = 0.25       # of --seconds, after the drain
SCHEMA = "key string, value string, timestamp timestamp, event_id long"


class ProgressLog:
    """StreamingQueryListener collecting every query's progress with
    its arrival time on this process's clock."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.started: list[str] = []
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()
        self.lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, e):
                with log.lock:
                    log.started.append(str(e.id))
                    log.progress.setdefault(str(e.id), [])

            def onQueryProgress(self, e):
                p = e.progress
                with log.lock:
                    log.progress.setdefault(str(p.id), []).append(
                        (time.perf_counter(), p))

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                with log.lock:
                    log.terminated.add(str(e.id))

        self.listener = _L()

    def arrival(self, qid: str, batch: int) -> float | None:
        with self.lock:
            for t, p in self.progress.get(qid, []):
                if p.batchId == batch:
                    return t
        return None

    def batches(self, qid: str) -> list:
        with self.lock:
            return sorted(self.progress.get(qid, []), key=lambda tp: tp[1].batchId)

    def wait_settled(self, qid: str, max_warm: int) -> tuple[int, bool]:
        """Wait until two successive batches of ``qid`` after batch 0
        differ by less than SETTLED, or until batch ``max_warm`` is
        done; return the last warm-up batch and whether it settled."""
        b = 2
        while True:
            self.wait(lambda: self.arrival(qid, b) is not None)
            t = [self.arrival(qid, i) for i in (b - 2, b - 1, b)]
            prev, last = t[1] - t[0], t[2] - t[1]
            settled = abs(last - prev) / prev < SETTLED
            if settled or b >= max_warm:
                return b, settled
            b += 1

    def wait(self, cond, timeout: float = 170.0) -> None:
        deadline = time.monotonic() + timeout
        while not cond():
            if time.monotonic() > deadline:
                raise TimeoutError("streaming queries did not reach the expected batch")
            time.sleep(0.005)


def _version_files(vdir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(vdir):
        out.extend(os.path.join(root, f) for f in files if f.startswith("part-"))
    return out


def _live_version_dir(store_path: str) -> str:
    with open(os.path.join(store_path, "_CURRENT")) as f:
        return os.path.join(store_path, f.read().strip())


def _watch_merges(tracer, stats: list) -> None:
    """Traced runs: wrap ParquetKTableStore.merge_batch to time each
    merge and count, in the version it wrote, new files against
    hardlinks carried over from the previous version."""
    from kafka_streams_sandbox_spark.streaming.ktable import ParquetKTableStore

    inner = ParquetKTableStore.merge_batch

    def merge_batch(self, batch, batch_id):
        with tracer.span("store.merge", op=f"batch-{batch_id}", store=os.path.basename(self.path)):
            t = time.perf_counter()
            inner(self, batch, batch_id)
            dt = time.perf_counter() - t
        vdir = _live_version_dir(self.path)
        buckets: dict[str, list[bool]] = {}
        new_bytes = 0
        for f in _version_files(vdir):
            st = os.stat(f)
            fresh = st.st_nlink == 1
            buckets.setdefault(os.path.basename(os.path.dirname(f)), []).append(fresh)
            new_bytes += st.st_size if fresh else 0
        stats.append({
            "store": os.path.basename(self.path), "batch": batch_id, "merge_s": dt,
            "rewritten": sum(any(v) for v in buckets.values()),
            "linked": sum(not any(v) for v in buckets.values()),
            "bytes_written": new_bytes,
        })

    ParquetKTableStore.merge_batch = merge_batch


def run(spark, args, work: str, tracer, t_start: float) -> Result:
    from pyspark.sql import functions as F

    from kafka_streams_sandbox_spark.streaming.app import AppConfig, StreamsApp, open_store

    res = Result()
    in_dir = os.path.join(work, "changelog")
    n_batches = MAX_WARM_BATCHES + math.ceil(args.seconds / SECONDS_PER_TIMED_BATCH)
    with tracer.span("gen.changelog"):
        log = gen.write_changelog(in_dir, args.seed, KEYSPACE, n_batches, BATCH_RECORDS)

    merges: list = []
    if args.trace:
        _watch_merges(tracer, merges)
    plog = ProgressLog()
    spark.streams.addListener(plog.listener)
    app = StreamsApp(spark, AppConfig(state_dir=os.path.join(work, "app")))
    records = (spark.readStream.schema(SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(in_dir))
    with tracer.span("app.start"):
        app.start(records=records, await_termination=False)
    plog.wait(lambda: len(plog.started) == 3)
    # StreamsApp.start launches passthrough, table, filtered in that order
    q_pass, q_table, q_filt = plog.started
    queries = (q_pass, q_table, q_filt)
    with tracer.span("warmup.batches"):
        warm, settled = plog.wait_settled(q_table, MAX_WARM_BATCHES)
        plog.wait(lambda: all(plog.arrival(q, warm) is not None for q in queries))
    t0 = max(plog.arrival(q, warm) for q in queries)
    setup_s = t0 - t_start
    with tracer.span("timed.batches"):
        plog.wait(lambda: all(plog.arrival(q, n_batches) is not None for q in queries))
        t1 = max(plog.arrival(q, n_batches) for q in queries)
        plog.wait(lambda: plog.terminated >= set(queries))
    app.stop()
    spark.streams.removeListener(plog.listener)

    table_arrivals = [plog.arrival(q_table, b) for b in range(warm, n_batches + 1)]
    batch_times = list(np.diff(table_arrivals))
    timed_records = sum(log.file_rows[warm + 1:])
    records_per_s = timed_records / (t1 - t0)

    # -- checks: sinks against the generator's model -------------------------
    table_path = app.store_location(app.config.table_store)
    filt_path = app.store_location(app.config.filtered_store)
    filt = open_store(spark, filt_path).select("key", "value").toPandas()
    problems = checks.store_matches_model(
        "filtered store", dict(zip(filt.key, filt.value)), log.filtered())
    pass_dir = os.path.join(app.config.state_dir, app.config.passthrough_sink)
    got = pq.read_table(pass_dir).to_pandas()
    want = pd.concat([pq.read_table(f).to_pandas() for f in log.files]).drop(columns="event_id")
    problems += checks.passthrough_matches(got, want)
    require(problems)

    # -- interactive queries: closed loop for the rest of the run ------------
    rng = np.random.default_rng(args.seed + 1)
    live = sorted(log.live())
    dead = sorted(k for k, v in log.model.items() if v is None)
    pools = (live, dead, log.never_seen)
    lookup_s, scan_s, lookup_jobs, lookup_reads, scans_checked = [], [], [], [], 0
    iq_deadline = time.perf_counter() + IQ_SHARE * args.seconds
    sc = spark.sparkContext
    n_round = 0
    with tracer.span("timed.iq"):
        while n_round == 0 or time.perf_counter() < iq_deadline:
            keys = [pool[i] for pool, n in zip(pools, LOOKUPS_PER_ROUND)
                    for i in rng.integers(0, len(pool), n)]
            for i, key in enumerate(keys):
                group = f"iq-lookup-{n_round}-{i}"
                if args.trace:
                    sc.setJobGroup(group, "lookup")
                with tracer.span("iq.lookup", op=group):
                    t = time.perf_counter()
                    df = open_store(spark, table_path).filter(F.col("key") == key).select("value")
                    rows = df.collect()
                    lookup_s.append(time.perf_counter() - t)
                if args.trace:
                    lookup_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
                    lookup_reads.append(scan_reads(df))
                require(checks.lookup_matches_model(key, [r[0] for r in rows], log.model.get(key)))
            with tracer.span("iq.scan", op=f"scan-{n_round}"):
                t = time.perf_counter()
                snap = open_store(spark, table_path).toPandas()
                scan_s.append(time.perf_counter() - t)
            if scans_checked == 0:
                require(checks.store_matches_model(
                    "table store", dict(zip(snap.key, snap.value)), log.live()))
                scans_checked += 1
            elif len(snap) != len(live):
                require([f"table store scan: {len(snap)} keys, model {len(live)}"])
            n_round += 1
    if args.trace:
        sc.setJobGroup("", "")

    res.attempted = len(batch_times) + len(lookup_s) + len(scan_s)
    live_dir = _live_version_dir(table_path)
    live_files = _version_files(live_dir)
    store_mb = sum(os.path.getsize(f) for f in live_files) / 1e6
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (records_per_s, "1/s"),
        "step_p50_s": (median(batch_times), "s"),
    }
    res.detail = {
        "keyspace": KEYSPACE, "records": log.n_records, "timed_records": timed_records,
        "warm_batches": warm, "settled": settled, "warm_batch_times_s": list(np.diff(
            [plog.arrival(q_table, b) for b in range(warm + 1)])),
        "batch_times_s": batch_times, "lookup_s": lookup_s, "scan_s": scan_s,
        "store_mb": store_mb,
        "live_keys": len(live), "distinct_keys": len(log.model),
    }
    if args.trace:
        res.layer.update(_layer_metrics(spark, plog, queries, warm, merges, log, live_files,
                                        lookup_s, scan_s, lookup_jobs, lookup_reads,
                                        table_path, store_mb))
        standing_done = max(plog.arrival(q, 0) for q in queries)
        res.layer["warmup_s"] = (t0 - standing_done, "s")
        res.layer["trace.throughput_per_s"] = (records_per_s, "1/s")
        res.layer["trace.step_p50_s"] = (median(batch_times), "s")
    return res


def _layer_metrics(spark, plog, queries, warm, merges, log, live_files, lookup_s, scan_s,
                   lookup_jobs, lookup_reads, table_path, store_mb) -> dict:
    from kafka_streams_sandbox_spark.streaming.app import open_store

    q_pass, q_table, q_filt = queries
    timed = lambda q: [p for _t, p in plog.batches(q) if p.batchId > warm]  # noqa: E731
    out = {}
    for tag, q in (("passthrough", q_pass), ("table", q_table), ("filtered", q_filt)):
        out[f"app.trigger_ms.{tag}"] = (median([p.durationMs["triggerExecution"] for p in timed(q)]), "ms")
    tp = timed(q_table)
    out["app.add_batch_ms"] = (median([p.durationMs["addBatch"] for p in tp]), "ms")
    out["app.input_rows_per_batch"] = (median([p.numInputRows for p in tp]), "rows")
    last = plog.batches(q_table)[-1][1]
    state = last.stateOperators[0]
    out["app.state_rows"] = (state.numRowsTotal, "rows")
    out["app.state_memory_mb"] = (state.memoryUsedBytes / 1e6, "MB")
    out["app.state_commit_ms"] = (median([p.stateOperators[0].commitTimeMs for p in tp]), "ms")

    # reconciliations by independent paths
    problems = []
    if state.numRowsTotal != len(log.model):
        problems.append(f"app.state_rows {state.numRowsTotal} != distinct keys generated {len(log.model)}")
    pass_rows = sum(p.numInputRows for _t, p in plog.batches(q_pass))
    if pass_rows != log.n_records:
        problems.append(f"passthrough numInputRows {pass_rows} != records generated {log.n_records}")
    live_count = open_store(spark, table_path).count()
    if live_count != len(log.live()):
        problems.append(f"store scan count {live_count} != model live keys {len(log.live())}")
    require(problems)

    table_name = os.path.basename(table_path)
    tm = [m for m in merges if m["store"] == table_name and m["batch"] > warm]
    jobs_per_batch = _jobs_per_batch(spark, q_table)
    out["store.merge_s"] = (median([m["merge_s"] for m in tm]), "s")
    out["store.merge_jobs"] = (median([jobs_per_batch.get(p.batchId, 0) for p in tp]), "count")
    out["store.bytes_written_mb"] = (median([m["bytes_written"] / 1e6 for m in tm]), "MB")
    out["store.buckets_rewritten"] = (median([m["rewritten"] for m in tm]), "count")
    out["store.buckets_linked"] = (median([m["linked"] for m in tm]), "count")
    out["store.live_files"] = (len(live_files), "count")
    out["store_mb"] = (store_mb, "MB")
    out["iq.lookup_p50_s"] = (median(lookup_s), "s")
    out["iq.scan_p50_s"] = (median(scan_s), "s")
    out["iq.lookup_jobs"] = (median(lookup_jobs), "count")
    out["iq.files_read"] = (median([f for f, _b in lookup_reads]), "count")
    out["iq.bytes_read_mb"] = (median([b / 1e6 for _f, b in lookup_reads]), "MB")
    return out


def _jobs_per_batch(spark, qid: str) -> dict[int, int]:
    """Jobs per micro-batch of one streaming query, from the job
    descriptions Structured Streaming sets ("id = <query id> ...
    batch = <n>")."""
    from spans import _jlist

    counts: dict[int, int] = {}
    store = spark.sparkContext._jsc.sc().statusStore()
    for j in _jlist(store.jobsList(None)):
        desc = j.description()
        text = desc.get() if desc.isDefined() else ""
        if f"id = {qid}" in text and "batch = " in text:
            b = int(text.rsplit("batch = ", 1)[1].split()[0])
            counts[b] = counts.get(b, 0) + 1
    return counts
