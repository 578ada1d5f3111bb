"""SparkSession factory and per-session configuration.

The reference configures its runtime via a properties file
(``/root/reference/configuration/dev.properties`` loaded at
``KStreamsToKTable.java:143-150``); here the analog is a SparkSession
builder with scale-oriented defaults.

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast demotion replace hand-tuning.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on
  a real cluster set it ~2-3x total cores and let AQE coalesce.
- Arrow enabled so any pandas-UDF path (similarity, multimodal) moves
  batches, not rows, across the JVM/Python boundary.
- Session timezone pinned to UTC so timestamp semantics are identical
  across engines (and to the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session we are handed (the
# correctness driver owns its own SparkSession; these are safe to set
# after startup, unlike e.g. spark.sql.extensions).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst=TRUE (Spark's default), restored in r10: the
    # r-earlier "false" setting (respect minPartitionSize over
    # parallelism) saved 0.05-0.3 s of fixed job cost per tiny sf0.1
    # query — but at the 100x probe it coalesced the shuffle BELOW
    # CPU-heavy post-exchange stages to ~3 tasks (a 58 MB text
    # shuffle -> 3 x 8m partitions) and serialized them on a 32-core
    # host: b113's banding stage measured 56 s vs 14 s and its lm
    # stage 43 s vs 21 s under the two settings; b113 end-to-end
    # 173.7 -> 102.9 s on the flip alone. Shuffle-size-first
    # coalescing optimizes bytes-per-task for I/O-bound stages, but
    # this engine's post-shuffle stages are compute-bound (shingle
    # hashing, bigram scoring, window keepers) — partition count IS
    # the throughput. At real scale both settings agree (partitions
    # >> cores either way).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver's events table is written as parquet TIMESTAMP(NANOS),
    # which Spark has no native type for; read the raw int64 and the
    # catalog converts ns -> microsecond timestamp (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming state off-heap in RocksDB: the in-memory HDFS-backed
    # provider holds every key in executor heap — fine for tests,
    # OOM at a 100 TB keyspace. Read per query start (runtime-settable).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # Each state commit uploads only the batch's changelog, not a full
    # RocksDB snapshot, so commit cost follows the batch, not the state.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (idempotent).

    Applied once per session object: every conf.set is a py4j round
    trip and configure() sits on the per-query path via catalog.table —
    re-applying ~10 confs per table load is pure overhead.
    """
    if getattr(spark, "_kss_configured", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable on this build — keep going
            pass
    spark._kss_configured = True
    return spark


def get_spark(
    app_name: str = "kafka-streams-sandbox-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout parseable: the console progress bar writes
        # carriage-return frames that can interleave with the one-line
        # JSON contract bench.py prints (BENCH_r02 arrived unparseable).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory under ONE per-process root that is
    removed at interpreter exit (r10, ADVICE r9 #4): the streaming
    ops and b114's drain each stage per-invocation parquet/state
    dirs, and raw ``tempfile.mkdtemp`` leaked one directory per call
    for the host's lifetime — repeated drains in a long session
    accumulate disk. Everything here is derived scratch (staging,
    per-batch state, out_dirs re-read by the returned frame), so
    end-of-process is the correct lifetime: the frames that read
    these paths never outlive the session.

    NOT used for the interactive-query store (A8/A9): that endpoint
    is contractually durable across sessions (streaming/ktable.py),
    the one path whose lifetime is the user's, not the process's.
    """
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="kss-scratch-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


_LAZY_CHECKPOINTS_DISABLED = False


def set_lazy_checkpoints_disabled(disabled: bool) -> None:
    """Plan-audit switch (r9, VERDICT r8 #5). Lazy localCheckpoints
    truncate lineage, so ``explain`` on any frame downstream of one
    prints an RDD scan where the real upstream stages are — the r8
    plan audit under-reported exactly those jobs (b105, b107-b109,
    b111, b27's collapse path, every min_label_components consumer).
    With the switch on, ``lazy_checkpoint`` is an identity and the
    audited plan covers the WHOLE job. Audit-only: iterative loops
    keep their per-round checkpoints unconditionally (disabling those
    re-derives every prior round into the plan — the exponential
    iterative-DataFrame trap), which is correct for the audit too:
    a loop round's full plan IS one round over its checkpointed
    predecessor plus the (now-visible) shared inputs."""
    global _LAZY_CHECKPOINTS_DISABLED
    _LAZY_CHECKPOINTS_DISABLED = disabled


def lazy_checkpoint(df, disk: bool = True, keep_in_audit: bool = False):
    """Lazy localCheckpoint for multi-consumer frames (lineage
    truncation so N consumers don't re-run the shared upstream — the
    b27-four-consumer lesson), honoring the plan-audit switch above.
    ``disk=True`` pins DISK_ONLY (arrays / corpus-sized frames must
    spill, never pin heap); ``disk=False`` keeps Spark's default
    level for small frames.

    NOT-SO-LAZY CAVEAT (r11, the a37 root cause — VERDICT r10 #1):
    under AQE, ``localCheckpoint(eager=False)`` materializes every
    SHUFFLE stage of the checkpointed plan synchronously inside the
    call (`AdaptiveSparkPlanExec.doExecute()` must run
    getFinalPhysicalPlan(), which executes query stages to re-plan) —
    only the final result stage is deferred. Two consequences for hot
    per-batch paths: the call itself costs the plan's shuffle wall,
    and a SECOND checkpoint call whose plan shares un-truncated
    upstream with the first RE-EXECUTES those stages (exchange reuse
    is per-query; the first checkpoint's blocks don't exist until an
    action runs its result stage). a37 paid ~330 of its ~345 s/batch
    at 100x to exactly this (BASELINE round-11 receipts). For frames
    consumed per micro-batch, stage SCRATCH PARQUET instead (the
    a35/b113/a37 discipline); keep lazy_checkpoint for one-shot batch
    queries where the whole lineage executes once anyway.

    ``keep_in_audit=True`` (r10, ADVICE r9 #3) opts a site OUT of the
    plan-audit identity switch. Use it ONLY for checkpoints consumed
    by a driver-executed loop DURING query construction (the
    min_label_components edge/init tables): those never appear in the
    returned frame's audited plan anyway (the loop's direct per-round
    checkpoints bound it), so disabling them buys the audit nothing —
    it only makes every loop round re-derive the full un-checkpointed
    pair lineage, the same recompute shape the b113 filter-collapse
    fix documents (>10-min hangs as the audit SF grows)."""
    if _LAZY_CHECKPOINTS_DISABLED and not keep_in_audit:
        return df
    if disk:
        from pyspark import StorageLevel

        return df.localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    return df.localCheckpoint(eager=False)


def release_local_checkpoint(df) -> None:
    """Free a ``localCheckpoint``'s persisted blocks NOW.

    ``DataFrame.unpersist()`` is a silent no-op for checkpointed
    frames: it only uncaches CacheManager entries, and a local
    checkpoint is a ``LogicalRDD`` whose backing RDD was persisted
    directly, never cached (verified empirically in this environment:
    ``sc.getPersistentRDDs`` keeps the block after ``df.unpersist``).
    Long-lived streaming callers (a28/a29/a32, the cadence probe)
    release per-micro-batch checkpoints through this helper so blocks
    cannot accumulate for the stream's lifetime; without it they are
    freed only when JVM GC + ContextCleaner happen to collect the RDD.

    Best-effort by design: the handle may not be a checkpointed frame
    (plan classes without ``rdd()``), and a failed release must never
    kill the owning stream — the fallback is the old GC behavior.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 - non-checkpoint plan / Py4J miss
        df.unpersist()
