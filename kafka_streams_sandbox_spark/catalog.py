"""Table catalog: parquet-backed tables per scale-factor directory.

The driver generates deterministic TPC-H-ish tables (TESTDATA.md) at
``/root/testdata/sf{0.001,0.01,0.1}``; every query function receives a
``sf_dir`` and loads through here so the scan layer is one code path.

Scale notes: ``spark.read.parquet`` gives Catalyst a relation it can
push filters/projections into (check ``PushedFilters``/``ReadSchema``
in ``df.explain``). At 100 TB the same call reads a partitioned
directory tree; nothing in the query layer changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_sandbox_spark.session import configure

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that should always be broadcast in joins
# (region: 5 rows, nation: 25 rows, supplier/part: O(100) rows at any
# realistic SF — dims don't scale with fact data).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


# Analyzed-DataFrame cache per (application, sf_dir, table): parquet
# footer/schema discovery costs ~50-150 ms per read.parquet call and
# tables are immutable test fixtures — the moral equivalent of a
# metastore's cached schema. DataFrames are immutable, so handing the
# same object to every query is safe.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to microsecond ``timestamp_ntz``.

    The driver has shipped events.ts as both parquet TIMESTAMP(NANOS)
    (arrives as raw int64 epoch-ns under the nanosAsLong conf,
    session.py) and TIMESTAMP(MICROS) (arrives as a timestamp already).
    Dispatch on the observed type so either vintage of testdata reads
    identically: nanos are truncated to micros exactly as DuckDB/Arrow
    do, and the result is timestamp_ntz to match DuckDB's naive
    timestamps. DIV is integer division (epoch-ns is always positive
    here).
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn(
            "ts",
            F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))").cast(
                "timestamp_ntz"
            ),
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    configure(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


_ROWCOUNT_CACHE: dict[tuple[str, str, str], int] = {}


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Total row count of a table — the bounded one-row action that
    lets operators derive scale-dependent configuration (LSH plane
    counts, IVF cell counts) from the corpus instead of shipping fixed
    constants (the b34/b35 fixed-geometry trap, measured at the r4
    100x probe: 947 s fixed vs 52 s scaled).

    An unfiltered parquet count is metadata-only work (row counts come
    from file footers — no column data is read), so this is cheap at
    any corpus size; cached per (app, sf_dir, table) because fixtures
    are immutable within a session.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _ROWCOUNT_CACHE.get(key)
    if cached is None:
        cached = _ROWCOUNT_CACHE[key] = table(spark, sf_dir, name).count()
    return cached


def parquet_path_rowcount(path: str):
    """Total row count of a LOCAL parquet file/directory from footer
    metadata alone — no Spark job (freshly-staged scratch tables are
    read right back by the stager, which can take the number from the
    footers it just wrote). Matches Spark's count() exactly: parquet
    row counts are footer facts, not estimates.

    Returns None — callers fall back to a Spark count() — whenever the
    footers cannot answer for the whole path: a remote URI, a
    non-empty part whose footer is unreadable, or a directory holding
    any non-hidden subdirectory (a partitioned or nested layout Spark
    would read but this flat listing would miss). Only a zero-byte
    part (an interrupted write Spark tolerates) counts as 0 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in path and not path.startswith("file://"):
        return None
    try:
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        total = 0
        for f in os.listdir(path):
            full = os.path.join(path, f)
            if f.startswith((".", "_")):
                continue
            if os.path.isdir(full):
                return None
            if not f.endswith(".parquet") or os.path.getsize(full) == 0:
                continue
            total += pq.ParquetFile(full).metadata.num_rows
        return total
    except (OSError, pa.ArrowException):
        return None


def _scan_width(path: str) -> int:
    """Effective maximum scan parallelism of a parquet source — the
    ROW-GROUP count, not the split count (round 12's 300x finding):

    Spark sizes file splits as max(openCost, bytes/defaultParallelism)
    and `df.rdd.getNumPartitions()` reports that SPLIT count — but
    parquet cannot be read below row-group granularity (each row group
    is assigned to the one split containing its midpoint; the rest run
    empty). A 170 MB single file written with pyarrow's default 1Mi-row
    row groups carries 1.5M rows in TWO row groups: the split probe
    said 32, actual parallelism was 2, and every scan-side-heavy
    operator (b27's shingle fingerprint pass: 22 -> 453 s, b112's
    paragraph explode) fell off a cliff while post-shuffle operators
    scaled fine. Measured same-session at 300x: the identical fp pass
    reads 451.2 s through the split probe vs 47.8 s repartitioned.

    Single file -> parquet footer row-group count (a metadata read).
    Directory -> SUM of per-part footer row-group counts (still
    metadata-only: each footer read touches a few KB). Summing, not
    ``len(parts) * sample``, because a heterogeneous layout (one
    consolidated many-group part next to many single-group parts)
    makes any one sample unrepresentative in either direction — an
    overestimate silently suppresses a needed widen, which is the
    exact 300x trap this probe exists to close (r12 ADVICE).

    Non-local URIs (s3://, hdfs://, ...) can't be footer-probed with
    local file APIs; return a large sentinel so the caller's
    ``min(splits, width)`` degrades to the plain split-count gate —
    at real scale a corpus is thousands of files and the widen must
    be a no-op, not a forced full shuffle (r12 ADVICE). Same sentinel
    on any unreadable/corrupt footer (pyarrow raises ArrowInvalid —
    NOT OSError — for a zero-byte placeholder part, which Spark
    itself tolerates since zero-length splits yield no partitions):
    a broken footer must not crash plan-time, and pessimistically
    returning 1 would force a shuffle, so degrade to splits-only.
    """
    import pyarrow.parquet as pq

    _REMOTE_SENTINEL = 1 << 30

    if "://" in path and not path.startswith("file://"):
        return _REMOTE_SENTINEL
    try:
        if os.path.isfile(path):
            return max(pq.ParquetFile(path).metadata.num_row_groups, 1)
        parts = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        if not parts:
            return 1
        total = 0
        for p in parts:
            try:
                total += pq.ParquetFile(p).metadata.num_row_groups
            except Exception:
                # ArrowInvalid (zero-byte placeholder from an
                # interrupted write) — Spark tolerates the part, so
                # skip its footer rather than crash plan-time.
                continue
        return max(total, 1) if total else _REMOTE_SENTINEL
    except OSError:
        return 1
    except Exception:
        # ArrowInvalid on a single-file probe and friends: never
        # fail plan-time, never force a shuffle — splits-only gate.
        return _REMOTE_SENTINEL


_WIDE_EMB_CACHE: dict[tuple[str, str], DataFrame] = {}


def embeddings_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, widened to the session's parallelism.

    The corpus side of every pairwise vector op streams through a
    dense per-pair kernel, so its partition count caps parallelism —
    and a small single-file parquet scan arrives as ONE partition. At
    real scale the scan is already wide and the repartition is a
    no-op. Cached per (app, sf_dir): the partition-count probe
    (``df.rdd.getNumPartitions()``) forces a plan->RDD conversion that
    costs real driver time, and six registered queries need this exact
    DataFrame.
    """
    # The partition target is part of the key: a session that later
    # changes spark.sql.shuffle.partitions (tests do) must not get a
    # DataFrame silently widened to the stale first-seen target.
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = (spark.sparkContext.applicationId, sf_dir, target)
    cached = _WIDE_EMB_CACHE.get(key)
    if cached is not None:
        return cached
    emb = table(spark, sf_dir, "embeddings")
    # effective scan parallelism = min(split count, row-group count):
    # splits bound packing of many small files, row groups bound the
    # splitting of one large file (see _scan_width)
    if (
        min(
            emb.rdd.getNumPartitions(),
            _scan_width(f"{sf_dir}/embeddings.parquet"),
        )
        < target
    ):
        emb = emb.repartition(target)
    _WIDE_EMB_CACHE[key] = emb
    return emb


_WIDE_DOCS_CACHE: dict[tuple[str, str], DataFrame] = {}


def documents_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, widened to the session's parallelism.

    Same single-partition trap as ``embeddings_wide``, hit by the
    shingling-heavy dedup family: char-n-gram hashing over every doc
    is the dominant cost of b26/b27/b28/b62, and a one-file parquet
    scan would run it serially (measured 2.0 s -> 0.4 s at sf0.1 for
    the b27 posting stage alone). No-op at real scale, where the scan
    already arrives wide.
    """
    # target is part of the key — see embeddings_wide
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = (spark.sparkContext.applicationId, sf_dir, target)
    cached = _WIDE_DOCS_CACHE.get(key)
    if cached is not None:
        return cached
    docs = table(spark, sf_dir, "documents")
    # effective scan parallelism = min(splits, row groups) — see
    # _scan_width and embeddings_wide
    if (
        min(
            docs.rdd.getNumPartitions(),
            _scan_width(f"{sf_dir}/documents.parquet"),
        )
        < target
    ):
        docs = docs.repartition(target)
    _WIDE_DOCS_CACHE[key] = docs
    return docs
