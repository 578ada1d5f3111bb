"""Session-level runtime utilities."""

from __future__ import annotations

from pyspark import StorageLevel

from kafka_streams_sandbox_spark.session import release_local_checkpoint


def _persistent_ids(spark) -> set[int]:
    return {
        int(x)
        for x in spark.sparkContext._jsc.getPersistentRDDs()
        .keySet()
        .toArray()
    }


def test_release_local_checkpoint_frees_blocks(spark):
    """The r8 review finding, pinned: DataFrame.unpersist() is a
    silent no-op for localCheckpoint blocks (a checkpoint is a
    LogicalRDD persisted directly, never cached), so the streaming
    release discipline must go through release_local_checkpoint,
    which unpersists the UNDERLYING RDD. This test is the empirical
    proof that mechanism works in this environment — if a Spark
    upgrade changes the LogicalRDD accessor path, this fails here
    instead of silently re-leaking per-micro-batch blocks. Compared
    by RDD-id SET DIFFERENCE, not global count: the session-scoped
    fixture carries other tests' persisted RDDs, and the async
    ContextCleaner may release one mid-assertion."""
    base = _persistent_ids(spark)
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    cp = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    assert cp.count() == 10_000  # materialize the checkpoint
    new = _persistent_ids(spark) - base
    assert len(new) == 1  # exactly our checkpoint block
    cp.unpersist(True)  # the documented no-op
    assert new <= _persistent_ids(spark)  # ...block still there
    release_local_checkpoint(cp)
    assert not (new & _persistent_ids(spark))  # actually freed


def test_release_local_checkpoint_fallback_on_plain_persist(spark):
    """Non-checkpoint handles take the df.unpersist fallback — the
    helper must release a plain persisted frame too, so call sites
    can route every handle through it without caring which kind."""
    base = _persistent_ids(spark)
    df = spark.range(1_000).persist(StorageLevel.DISK_ONLY)
    df.count()
    new = _persistent_ids(spark) - base
    assert len(new) == 1
    release_local_checkpoint(df)
    assert not (new & _persistent_ids(spark))


def test_lazy_checkpoint_honors_audit_switch(spark):
    """r9 (VERDICT r8 #5): lazy_checkpoint truncates lineage to an
    RDD scan in normal operation, and is an IDENTITY while the
    plan-audit switch is on — so audited plans show whole lineages."""
    from kafka_streams_sandbox_spark import session
    from kafka_streams_sandbox_spark.plans.inspect import plan_string

    df = spark.range(5).selectExpr("id * 2 AS v")
    ck = session.lazy_checkpoint(df)
    assert ck is not df
    assert "ExistingRDD" in plan_string(ck)
    try:
        session.set_lazy_checkpoints_disabled(True)
        assert session.lazy_checkpoint(df) is df
        assert session.lazy_checkpoint(df, disk=False) is df
    finally:
        session.set_lazy_checkpoints_disabled(False)
    assert "ExistingRDD" in plan_string(session.lazy_checkpoint(df))


def test_scan_width_counts_row_groups_not_splits(spark, tmp_path):
    """Round 12's 300x finding: a large single-file parquet written
    with big row groups reports ~defaultParallelism SPLITS via
    df.rdd.getNumPartitions() while parquet can only parallelize to
    its ROW-GROUP count — the b27 fp pass read 451 s vs 48 s on the
    identical 300x data. `_scan_width` must report row groups for a
    single file, and `documents_wide` must widen when min(splits,
    row groups) < target."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_sandbox_spark.catalog import (
        _scan_width,
        documents_wide,
    )

    n = 10_000
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(["alpha beta gamma"] * n, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["t"] * n, pa.string()),
                "n_chars": pa.array([16] * n, pa.int64()),
            }
        ),
        str(path),
        row_group_size=5_000,  # 2 row groups regardless of file size
    )
    assert _scan_width(str(path)) == 2
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert target > 2  # the premise of the widen
    wide = documents_wide(spark, str(tmp_path))
    # the 2-row-group scan must have been widened to the session
    # target even though its SPLIT count may exceed it
    assert wide.rdd.getNumPartitions() == target


def test_scan_width_directory(tmp_path):
    """Directory sources: SUM of per-part footer row-group counts
    (r13: summed, not nfiles x one sampled footer — a heterogeneous
    layout made the sample overestimate and silently suppress a
    needed widen); the caller min()s this with the split count so
    packed small-file dirs still widen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_sandbox_spark.catalog import _scan_width

    d = tmp_path / "dir.parquet"
    d.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"x": pa.array(range(100), pa.int64())}),
            str(d / f"part-{i}.parquet"),
        )
    assert _scan_width(str(d)) == 3
    assert _scan_width(str(tmp_path / "missing.parquet")) == 1


def test_scan_width_heterogeneous_directory_sums_footers(tmp_path):
    """One consolidated 4-row-group part next to two single-group
    parts: the old nfiles*sample estimate reads 3*4=12 or 3*1=3
    depending on listdir order; the true width is 4+1+1=6. Summing
    footers is order-independent and exact (r12 ADVICE low)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_sandbox_spark.catalog import _scan_width

    d = tmp_path / "het.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"x": pa.array(range(400), pa.int64())}),
        str(d / "part-big.parquet"),
        row_group_size=100,  # 4 row groups
    )
    for i in range(2):
        pq.write_table(
            pa.table({"x": pa.array(range(50), pa.int64())}),
            str(d / f"part-small{i}.parquet"),
        )
    assert _scan_width(str(d)) == 6


def test_scan_width_tolerates_zero_byte_part(tmp_path):
    """A zero-byte placeholder part (interrupted write) raises
    pyarrow ArrowInvalid — NOT OSError — on footer read; Spark itself
    tolerates the part (zero-length splits yield no partitions), so
    plan-time must not crash (r12 ADVICE medium). The bad footer is
    skipped and the healthy parts still sum."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_sandbox_spark.catalog import _scan_width

    d = tmp_path / "empties.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"x": pa.array(range(100), pa.int64())}),
        str(d / "part-ok.parquet"),
    )
    (d / "part-empty.parquet").touch()
    assert _scan_width(str(d)) == 1  # the one healthy footer

    # an all-corrupt directory degrades to the splits-only gate
    # (large sentinel), never a forced shuffle and never a crash
    d2 = tmp_path / "allbad.parquet"
    d2.mkdir()
    (d2 / "part-empty.parquet").touch()
    assert _scan_width(str(d2)) >= 1 << 20

    # single-file probe on a corrupt file: same degradation
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet at all")
    assert _scan_width(str(bad)) >= 1 << 20


def test_scan_width_remote_uri_sentinel(tmp_path):
    """s3://-style paths can't be footer-probed with local file APIs;
    returning 1 forced min(splits, 1) < target to repartition EVERY
    remote scan — a full shuffle at exactly the scale where the widen
    must be a no-op (r12 ADVICE low). Remote schemes get a large
    sentinel so the gate degrades to splits-only."""
    from kafka_streams_sandbox_spark.catalog import _scan_width

    assert _scan_width("s3://bucket/corpus/documents.parquet") >= 1 << 20
    assert _scan_width("hdfs://nn:8020/corpus.parquet") >= 1 << 20
    # file:// is local-ish but os.path won't see it either way the
    # key property is: no forced shuffle
    assert _scan_width("file:///nonexistent/x.parquet") >= 1


def _rowcount_dir(tmp_path):
    """A two-part parquet directory of 100 + 50 rows, plus Spark's
    hidden bookkeeping files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stage"
    d.mkdir()
    for i, n in enumerate((100, 50)):
        pq.write_table(
            pa.table({"x": pa.array(range(n), pa.int64())}),
            str(d / f"part-{i}.parquet"),
        )
    (d / "_SUCCESS").touch()
    (d / ".part-0.parquet.crc").write_bytes(b"crc")
    return d


def test_parquet_path_rowcount_footers_and_zero_byte_part(tmp_path):
    """Footer row counts sum over the parts; a zero-byte part (an
    interrupted write Spark tolerates) counts as 0 rows."""
    from kafka_streams_sandbox_spark.catalog import parquet_path_rowcount

    d = _rowcount_dir(tmp_path)
    assert parquet_path_rowcount(str(d)) == 150
    (d / "part-2.parquet").touch()
    assert parquet_path_rowcount(str(d)) == 150


def test_parquet_path_rowcount_unknown_on_unreadable_footer(tmp_path):
    """A NON-empty part whose footer cannot be read is not 0 rows:
    the helper answers None so the caller falls back to count()."""
    from kafka_streams_sandbox_spark.catalog import parquet_path_rowcount

    d = _rowcount_dir(tmp_path)
    (d / "part-2.parquet").write_bytes(b"not parquet at all")
    assert parquet_path_rowcount(str(d)) is None


def test_parquet_path_rowcount_unknown_on_subdirectory(tmp_path):
    """A partitioned or nested layout holds rows the flat listing
    would miss: any non-hidden subdirectory makes the answer None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_streams_sandbox_spark.catalog import parquet_path_rowcount

    d = _rowcount_dir(tmp_path)
    (d / "_temporary").mkdir()  # hidden: Spark skips it too
    assert parquet_path_rowcount(str(d)) == 150
    (d / "p=1").mkdir()
    pq.write_table(
        pa.table({"x": pa.array(range(7), pa.int64())}),
        str(d / "p=1" / "part-0.parquet"),
    )
    assert parquet_path_rowcount(str(d)) is None
