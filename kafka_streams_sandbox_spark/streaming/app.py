"""StreamsApp — the lifecycle facade mirroring the reference program.

The reference's ``main()`` (KStreamsToKTable.java:169-219) wires:
properties file -> topology build -> ``KafkaStreams(topology, props)``
-> ``cleanUp()``/``start()`` -> open interactive-query store ->
scheduled ``watch()`` scans -> shutdown hook. This module is the
Spark-native equivalent a reference user drives the same way:

    app = StreamsApp(spark, config)        # ~ new KafkaStreams(...)
    app.start(sf_dir)                      # ~ streams.start()
    app.store("stream-converted-to-table") # ~ streams.store(...)
    app.watch(...)                         # ~ watch() scheduler loop
    app.stop()                             # ~ shutdown hook + close(5s)

Topology (buildTopology(), KStreamsToKTable.java:66-107):

    source stream ──────────────► passthrough sink        (A1 -> A6)
        └─► latest-by-key table  (A2, update-mode agg)
              ├─► console peek                  (A3)
              ├─► materialized store + IQ view  (A9)
              └─► key==value filter w/ tombstones (A4)
                    └─► filtered store (MERGE deletes)   (A7/A8)

Config keys mirror ``configuration/dev.properties`` semantics
(application id, source/sink names, store names); transport is
pluggable — parquet replay by default (hermetic), Kafka via
sources/kafka.py when a broker + connector jar exist.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_sandbox_spark.sources.replay import events_as_kafka_records
from kafka_streams_sandbox_spark.streaming.ktable import (
    ParquetKTableStore,
    key_eq_value_predicate,
    ktable_filter,
    latest_by_key_stream,
    peek,
)


from kafka_streams_sandbox_spark.session import scratch_dir

@dataclass
class AppConfig:
    """The dev.properties analog (reference keys at
    configuration/dev.properties:1-12)."""

    application_id: str = "kafka-streams-sandbox-spark"
    table_store: str = "stream-converted-to-table"
    filtered_store: str = "filtered-table-where-key-eq-value"
    passthrough_sink: str = "streams-output"
    state_dir: str = field(
        default_factory=lambda: scratch_dir("kss-app-")
    )
    peek: bool = False  # A3 console tap
    # test hook: where peek lines go (None = stdout, like the
    # reference's System.err printf)
    peek_sink: object = None


class StreamsApp:
    """Runs the reference topology on Structured Streaming and exposes
    interactive queries over its materialized stores."""

    def __init__(self, spark: SparkSession, config: AppConfig | None = None):
        self.spark = spark
        self.config = config or AppConfig()
        self._queries = []
        self._stores: dict[str, ParquetKTableStore] = {}
        self._passthrough_path: str | None = None

    # -- lifecycle ---------------------------------------------------------
    def start(
        self,
        sf_dir: str | None = None,
        records: DataFrame | None = None,
        await_termination: bool = True,
    ) -> None:
        """Build + start the topology (streams.start(),
        KStreamsToKTable.java:202). ``cleanUp()``-on-start semantics
        (:201) come from the fresh state_dir per AppConfig.

        ``records`` is any streaming DataFrame with Kafka-source shape
        (key string, value string, timestamp, event_id tiebreak) — the
        console-producer ``key:value`` messages of the reference; by
        default the driver's events table is replayed in that shape.
        """
        cfg = self.config
        if records is None:
            if sf_dir is None:
                raise ValueError("need sf_dir or records")
            records = events_as_kafka_records(self.spark, sf_dir)

        # A1 -> A6: raw passthrough sink (append, no state)
        self._passthrough_path = os.path.join(cfg.state_dir, cfg.passthrough_sink)
        q_pass = (
            records.drop("event_id")
            .writeStream.format("parquet")
            .option("path", self._passthrough_path)
            .option("checkpointLocation", self._ckpt("pass"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        self._queries.append(q_pass)

        # A2: stream -> changelog table (latest value per key). A
        # record with a NULL value is a tombstone deleting its key —
        # KTable upsert semantics (KStreamsToKTable.java:78-81; the
        # broker's compacted topic drops the key the same way,
        # docker-compose.yaml:31).
        tbl = latest_by_key_stream(
            records,
            key="key",
            ts="timestamp",
            tiebreak="event_id",
            payload=("value", "timestamp", "event_id"),
            tombstone_col="value",
        )

        # A3: peek tap — a real observer query, tracked for shutdown
        if cfg.peek:
            self._queries.append(
                peek(tbl, sink=cfg.peek_sink, checkpoint=self._ckpt("peek"))
            )

        # A9: materialized table store (foreachBatch upsert)
        table_store = ParquetKTableStore(
            self.spark, os.path.join(cfg.state_dir, cfg.table_store), key="key"
        )
        self._stores[cfg.table_store] = table_store
        q_tbl = (
            tbl.writeStream.foreachBatch(table_store.merge_batch)
            .outputMode("update")
            .option("checkpointLocation", self._ckpt("table"))
            .trigger(availableNow=True)
            .start()
        )
        self._queries.append(q_tbl)

        # A4 -> A7/A8: tombstone-emitting filter into the filtered store.
        # The reference's only predicate, verbatim: key equalsIgnoreCase
        # value, null-safe on key (KStreamsToKTable.java:89).
        filtered = ktable_filter(
            tbl, key_eq_value_predicate("key", "value")
        )
        filtered_store = ParquetKTableStore(
            self.spark, os.path.join(cfg.state_dir, cfg.filtered_store), key="key"
        )
        self._stores[cfg.filtered_store] = filtered_store
        q_filt = (
            filtered.writeStream.foreachBatch(filtered_store.merge_batch)
            .outputMode("update")
            .option("checkpointLocation", self._ckpt("filtered"))
            .trigger(availableNow=True)
            .start()
        )
        self._queries.append(q_filt)

        if await_termination:
            for q in self._queries:
                q.awaitTermination()

    def stop(self, timeout_s: float = 5.0) -> None:
        """Shutdown hook analog (streams.close(Duration.ofSeconds(5)),
        KStreamsToKTable.java:195)."""
        deadline = time.monotonic() + timeout_s
        for q in self._queries:
            q.stop()
        for q in self._queries:
            remaining = max(0.0, deadline - time.monotonic())
            q.awaitTermination(remaining)
        self._queries.clear()

    # -- interactive queries (A9) -----------------------------------------
    def store(self, name: str) -> DataFrame:
        """ReadOnlyKeyValueStore analog (streams.store(...),
        KStreamsToKTable.java:207-210): point/scan-queryable view of a
        materialized store."""
        st = self._stores.get(name)
        if st is None:
            raise KeyError(f"unknown store {name!r}; have {list(self._stores)}")
        df = st.read()
        if df is None:
            raise RuntimeError(f"store {name!r} not materialized yet")
        return df

    def store_location(self, name: str) -> str:
        """Durable IQ endpoint: the store's filesystem root,
        hand-off-able to ANY other Spark session (or process) for
        ``open_store`` reads. The in-process ``store()`` is the
        reference's in-JVM ReadOnlyKeyValueStore; on a cluster the
        root lives on shared storage and every reader resolves the
        atomic ``_CURRENT`` pointer to the live version (base plus
        deltas) independently, no driver-local state involved."""
        if name not in self._stores:
            raise KeyError(f"unknown store {name!r}; have {list(self._stores)}")
        return self._stores[name].path

    def passthrough(self) -> DataFrame:
        """The A6 raw sink contents."""
        if self._passthrough_path is None:
            raise RuntimeError("app not started")
        return self.spark.read.parquet(self._passthrough_path)

    def watch(
        self, name: str, interval_s: float = 10.0, iterations: int = 1
    ) -> list[list]:
        """The reference's scheduled store scanner
        (KStreamsToKTable.java:152-167): full-scan every interval."""
        snaps = []
        for i in range(iterations):
            rows = self.store(name).collect()
            snaps.append(rows)
            print(f"[WATCH {name}] {len(rows)} keys")
            if i + 1 < iterations:
                time.sleep(interval_s)
        return snaps

    # -- internals ---------------------------------------------------------
    def _ckpt(self, tag: str) -> str:
        return os.path.join(
            self.config.state_dir, f"ckpt-{tag}-{uuid.uuid4().hex[:8]}"
        )


def open_store(spark: SparkSession, path: str, key: str = "key") -> DataFrame:
    """Read-only interactive query over a materialized store ROOT from
    any Spark session — the durable-sink A9 variant. The reference's
    IQ (streams.store(...), KStreamsToKTable.java:205-210) lives
    inside the running JVM; at scale the store root sits on shared
    storage and readers must be decoupled from the writer. Safety
    comes from the store layout, not reader/writer coordination: each
    merge writes one new version (a delta plus hard links to the live
    files, or a compacted base), ``_CURRENT`` flips to it via
    os.replace (atomic), and the previous version's files are pinned
    until the NEXT merge completes, so a DataFrame opened just before
    a flip stays readable through one full merge cycle
    (concurrent-reader-at-cadence test: tests/test_streaming.py).

    ``key`` must be the store's key column: while the live version
    holds deltas, the read folds them into the base by latest row per
    ``key``, and a filter on it reaches the parquet scan."""
    df = ParquetKTableStore(spark, path, key=key).read()
    if df is None:
        raise RuntimeError(f"store at {path!r} not materialized yet")
    return df


from kafka_streams_sandbox_spark.registry import query  # noqa: E402


@query("a09_app_interactive_query")  # rows-only: full-topology lifecycle
def a09_app_interactive_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference program end-to-end: StreamsApp runs the
    topology over the replayed events and the result is an interactive
    query (A9) against the materialized table store — the Spark analog
    of the reference's store(...).all() scan loop. Since r6 the read
    goes through the durable cross-session endpoint (store_location +
    open_store) rather than the in-process handle, so the registered
    query exercises the 100x-safe IQ path; rows are identical (both
    resolve the same _CURRENT version)."""
    app = StreamsApp(spark, AppConfig())
    app.start(sf_dir=sf_dir)
    out = open_store(spark, app.store_location(app.config.table_store))
    app.stop()
    return out
