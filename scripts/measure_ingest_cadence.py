#!/usr/bin/env python
"""a28/a29 ingest-cadence probe at scale (r7, VERDICT r6 Next #7).

BASELINE.md carries b98's one-shot batch number; what a streaming
deployment actually cares about is the PER-MICRO-BATCH wall clock at a
realistic batch size against a big standing corpus. This probe:

  1. builds the guarded band index over the corpus side (doc_id % 10
     < 8) of a scale dir (default /tmp/kss_100x: 500k docs => 400k
     standing) and persists it DISK_ONLY — the one-time cost a
     production deployment amortizes;
  2. stages the arriving side (doc_id % 10 >= 8) as N_BATCHES files
     and replays them through the exact a28 foreachBatch core
     (maxFilesPerTrigger=1, per-batch subpath overwrite, checkpoint
     release), timing every micro-batch from inside foreachBatch;
  3. optionally (MODE=selfseed) runs the a29 form instead: accepted
     docs' bands are cap-admitted into the parquet-backed index
     between batches, so later batches pay the growing-index price.

Usage:
  python scripts/measure_ingest_cadence.py [scale_dir] [n_batches]
  MODE=selfseed python scripts/measure_ingest_cadence.py ...

Prints one JSON line: corpus size, index build secs, per-batch secs.
Timing is wall inside foreachBatch (includes the verdict write).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE_DIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/kss_100x"
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 3
MODE = os.environ.get("MODE", "frozen")  # frozen = a28, selfseed = a29


def main() -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kafka_streams_sandbox_spark.catalog import documents_wide
    from kafka_streams_sandbox_spark.functions.tokens import TOKENS_EXPR
    from kafka_streams_sandbox_spark.operators.dedup import (
        guarded_band_index,
        incremental_neardup_verdicts,
        selfseed_delta_from_verdicts,
        selfseed_ingest_round,
    )
    from kafka_streams_sandbox_spark.session import get_spark
    from kafka_streams_sandbox_spark.sources.replay import DOCUMENTS_SCHEMA

    spark = get_spark()
    docs = documents_wide(spark, SCALE_DIR)
    tokened = docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0"))
    is_new = (F.col("doc_id") % 10) >= 8
    corpus = tokened.filter(~is_new)
    corpus_text = corpus.select("doc_id", "text")

    t0 = time.time()
    if MODE == "selfseed":
        index_dir = tempfile.mkdtemp(prefix="kss-cad-index-")
        accepted_dir = tempfile.mkdtemp(prefix="kss-cad-acc-")
        guarded_band_index(corpus).write.parquet(f"{index_dir}/seed")
    else:
        index = guarded_band_index(corpus).persist(StorageLevel.DISK_ONLY)
        index.count()
    index_build_s = round(time.time() - t0, 2)

    # stage the arriving docs as N_BATCHES mtime-ordered files
    src_dir = tempfile.mkdtemp(prefix="kss-cad-src-")
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    n_arriving = docs.filter(is_new).count()
    for part in range(N_BATCHES):
        stage = tempfile.mkdtemp(prefix=f"kss-cad-w{part}-")
        # slice on a HASH of doc_id, not doc_id % N: arriving ids are
        # all == 8 or 9 (mod 10), so any N sharing a factor with 10
        # (5, 10, 15...) would leave most parts EMPTY and crash the
        # single-file consolidation below (r7 review fix)
        part_of = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_BATCHES))
        docs.filter(is_new & (part_of == part)).select(
            *cols
        ).write.mode("overwrite").parquet(stage)
        dst = f"{src_dir}/part-{part:02d}.parquet"
        parts = sorted(glob.glob(f"{stage}/part-*.parquet"))
        if not parts:  # an empty slice contributes no micro-batch
            continue
        if len(parts) == 1:
            shutil.copyfile(parts[0], dst)
        else:  # big slices arrive multi-file; keep one file per batch
            import pyarrow.parquet as pq

            pq.write_table(
                pq.ParquetDataset(stage).read(), dst
            )
        os.utime(dst, (1_000_000_000 + part, 1_000_000_000 + part))

    out_dir = tempfile.mkdtemp(prefix="kss-cad-out-")
    batch_secs: list[float] = []

    # a29's committed-state discipline (r8, ADVICE r7): the previous
    # recursive read had no batch_id < current filter, so a RETRIED
    # micro-batch would read its own prior delta and self-match every
    # doc at jaccard 1.0 — the exact bug a29's explicit-path reader
    # fixed; reuse that reader instead of re-growing the bug here.
    from kafka_streams_sandbox_spark.session import release_local_checkpoint
    from kafka_streams_sandbox_spark.streaming.windows import committed_state

    def ingest(bdf, batch_id):
        tb = time.time()
        handles: list = []
        if MODE == "selfseed":
            idx = committed_state(
                spark,
                index_dir,
                "doc_ref bigint, band int, key bigint",
                int(batch_id),
                seed=True,
            )
            standing = corpus_text.unionByName(
                committed_state(
                    spark,
                    accepted_dir,
                    "doc_id bigint, text string",
                    int(batch_id),
                    seed=False,
                )
            )
            verdicts, probe = selfseed_ingest_round(
                batch=bdf.filter(F.expr(f"size({TOKENS_EXPR}) > 0")),
                batch_all_ids=bdf.select("doc_id"),
                corpus=standing,
                index=idx,
                release_into=handles,
            )
            vpath = f"{out_dir}/batch_id={batch_id}"
            verdicts.write.mode("overwrite").parquet(vpath)
            written = spark.read.parquet(vpath)
            selfseed_delta_from_verdicts(probe, written, idx).write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/batch_id={batch_id}")
            accepted = written.filter(F.col("status") == "unique").select(
                "doc_id"
            )
            bdf.join(accepted, "doc_id", "left_semi").select(
                "doc_id", "text"
            ).write.mode("overwrite").parquet(
                f"{accepted_dir}/batch_id={batch_id}"
            )
        else:
            verdicts = incremental_neardup_verdicts(
                batch=bdf.filter(F.expr(f"size({TOKENS_EXPR}) > 0")),
                batch_all_ids=bdf.select("doc_id"),
                corpus=corpus,
                index_guarded=index,
                release_into=handles,
            )
            verdicts.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        for h in handles:
            release_local_checkpoint(h)
        batch_secs.append(round(time.time() - tb, 2))

    q = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kss-ckpt-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_verdicts = committed_state(
        spark,
        out_dir,
        "doc_id bigint, match_id bigint, jaccard double, status string",
    ).count()
    print(
        json.dumps(
            {
                "mode": MODE,
                "scale_dir": SCALE_DIR,
                "corpus_docs": corpus.count(),
                "arriving_docs": n_arriving,
                "n_batches": len(batch_secs),
                "index_build_s": index_build_s,
                "per_batch_s": batch_secs,
                "n_verdicts": n_verdicts,
            }
        )
    )


if __name__ == "__main__":
    main()
