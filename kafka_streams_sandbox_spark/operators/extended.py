"""Extended relational + pipeline operators (beyond SURVEY §2.B's
B1–B25 core): as-of join, pivot, scalar-subquery shape, grouping
sets, Arrow-path cosine, and sketch aggregates.

These round out what a production analytics engine on the driver's
tables needs; each is designed around the same scale discipline as
the core set (single shuffle where one is inherent, broadcast for
small sides, JVM built-ins on the hot path).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from kafka_streams_sandbox_spark.catalog import table
from kafka_streams_sandbox_spark.functions.numeric import (
    dsum,
    lsum_final,
    lsum_partial,
    sql_dsum,
    sql_lsum,
)
from kafka_streams_sandbox_spark.functions.tokens import token_set_fingerprint
from kafka_streams_sandbox_spark.registry import query
from kafka_streams_sandbox_spark.session import lazy_checkpoint

# ---------------------------------------------------------------------------
# B40: as-of join (click -> purchase attribution on the events table)
# ---------------------------------------------------------------------------
B40_ORACLE = """
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
    FROM (
        SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
"""


@query("b40_asof_join", oracle=B40_ORACLE)
def b40_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it (classic attribution; the operator Spark
    has no primitive for).

    The scalable plan is the union-sort trick, NOT a range join: tag
    and union both sides, sort by (user, ts), carry the last click
    forward with ``last(ignorenulls)``. One shuffle + sort, linear in
    events — where a per-user range join is O(clicks × purchases) in
    the worst (power-user) partition. Tie at equal ts: the sort places
    clicks before purchases (a click AT the purchase timestamp
    matches) and later click ids win, mirroring the oracle's
    (ts DESC, event_id DESC) pick.
    """
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("is_purchase"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_purchase"),
    )
    tagged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_struct = F.when(
        F.col("is_purchase") == 0, F.struct("event_id", "ts")
    )
    carried = tagged.withColumn(
        "last_click", F.last(click_struct, ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_purchase") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("last_click.event_id").alias("click_id"),
        F.col("last_click.ts").alias("click_ts"),
    )


# ---------------------------------------------------------------------------
# B41: pivot (event_type counts per user)
# ---------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

B41_ORACLE = f"""
    SELECT user_id,
           {", ".join(
               f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
               f" AS n_{t}" for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
"""


@query("b41_pivot_event_counts", oracle=B41_ORACLE)
def b41_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — listing the pivot values
    keeps the plan a single pass (no extra distinct-values job) and
    the output schema static, which is what a 100 TB pipeline wants.
    """
    ev = table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# ---------------------------------------------------------------------------
# B42: scalar-subquery shape (above-nation-average account balance)
# ---------------------------------------------------------------------------
B42_ORACLE = f"""
    WITH nation_avg AS (
        SELECT c_nationkey,
               ({sql_dsum("c_acctbal", 2)} / COUNT(*)) AS nation_avg_bal
        FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.nation_avg_bal
    FROM customer c JOIN nation_avg n USING (c_nationkey)
    WHERE c.c_acctbal > n.nation_avg_bal
"""


@query("b42_above_avg_customers", oracle=B42_ORACLE)
def b42_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape, decorrelated by hand into
    aggregate + broadcast join (exactly what Catalyst's subquery
    decorrelation produces — written out so the plan is explicit).
    The per-nation aggregate is tiny -> broadcast; the fact side
    never shuffles.
    """
    cust = table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (dsum("c_acctbal", 2) / F.count(F.lit(1))).alias("nation_avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal", "nation_avg_bal")
    )


# ---------------------------------------------------------------------------
# B43: grouping sets
# ---------------------------------------------------------------------------
B43_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_lsum("l_quantity", 2)} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@query("b43_grouping_sets", oracle=B43_ORACLE)
def b43_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (the DataFrame API exposes only
    rollup/cube; arbitrary sets are a SQL-level feature).

    Two-level plan: the fact table first aggregates to scaled-long
    partials per (flag, status, partition) — functions/numeric.py
    lsum_* — and the GROUPING SETS Expand runs over that ~|groups x
    partitions|-row base instead of tripling every input row before
    the shuffle. At 100 TB: Expand over hundreds of rows vs 3x the
    corpus through the exchange. Sums are associative (counts long,
    quantity partials exact scaled longs), so results are identical.
    """
    li = table(spark, sf_dir, "lineitem")
    base = li.groupBy(
        "l_returnflag", "l_linestatus", F.spark_partition_id().alias("__pid")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        lsum_partial("l_quantity", 2).alias("_qty"),
    )
    base.createOrReplaceTempView("b43_base")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(_n) AS n_rows,
               (CAST(SUM(CAST(_qty AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
                   AS sum_qty
        FROM b43_base
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# B44: cosine top-k on the Arrow/numpy path (rows-only: BLAS sums in
# SIMD order, so values differ from the sequential fold in last ulps)
# ---------------------------------------------------------------------------
B44_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cos_sim", DoubleType()),
    ]
)


@query("b44_cosine_topk_arrow")  # rows-only: BLAS summation order
def b44_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 via mapInPandas + numpy: the corpus streams
    through Arrow batches, each batch does one (batch × queries)
    matmul, emits per-batch top-k, and a final window takes the
    global top-k per query.

    This is the high-throughput twin of b33 (JVM fold): ~10-100×
    faster per pair at 100 TB, at the cost of bit-exactness vs the
    DuckDB oracle (hence rows-only). The query side is NOT small by
    construction — the % 10 workload makes it TH(n) — so it is
    BOUNDED to ``_ANN_QBATCH`` rows by a hash-ordered limit
    (TakeOrderedAndProject, the _PQ_TRAIN discipline; r8, VERDICT r7
    #2) before the Arrow action: one job answers a deterministic
    bounded batch, and a production caller drains the full query set
    in batches across jobs. The bounded batch reaches every executor
    as a proper broadcast VARIABLE — torrent-shipped once per
    executor, not serialized into every task closure, and no
    driver-side row-object collection anywhere (VERDICT r3 #5).
    """
    import numpy as np

    from kafka_streams_sandbox_spark.catalog import embeddings_wide
    from kafka_streams_sandbox_spark.operators.similarity import (
        bounded_query_rows,
    )

    # NULL / wrong-dim rows out in SQL (a ragged batch breaks the
    # matmul); zero-norm rows masked numpy-side below — same
    # degenerate-vector policy as similarity._vectors
    # (tests/test_hostile_vectors.py)
    emb = embeddings_wide(spark, sf_dir).filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )

    q_rows = bounded_query_rows(
        emb.filter(F.col("vec_id") % 10 == 0),
        ["vec_id", "embedding"],
        "b44_cosine_topk_arrow",
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    if q_mat.size == 0:  # empty slice: keep 2-D so the axis-1 math holds
        q_mat = q_mat.reshape(0, 64)
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_keep = np.isfinite(q_norms) & (q_norms > 0)
    q_ids, q_mat = q_ids[q_keep], q_mat[q_keep]
    if len(q_ids):
        q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def topk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-batch top-(k+1) for ALL queries in one vectorized
        # column-wise sort (k+1 because the query's own row may be in
        # the batch; the self-match filters out below and the global
        # window keeps 5). A per-query Python loop here measured ~2×
        # slower end-to-end.
        b_ids, b_mat = bc.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            if not len(ids):  # empty batch: shape (0,) breaks axis-1 math
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            keep_rows = np.isfinite(norms) & (norms > 0)
            ids, mat = ids[keep_rows], mat[keep_rows]
            if not len(ids):
                continue
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            # id-ascending row order + STABLE sort by -sim == the
            # global window's (cos_sim DESC, neighbor_id ASC) order,
            # so a tie at the in-batch k boundary keeps the same
            # candidates the window would — an argpartition here kept
            # an ARBITRARY side of the tie, making top-5 membership
            # depend on Arrow batch composition for duplicate vectors
            order = np.argsort(ids, kind="stable")
            ids, mat = ids[order], mat[order]
            sims = mat @ b_mat.T  # (batch, queries)
            k = min(6, len(ids))
            part = np.argsort(-sims, axis=0, kind="stable")[:k, :]
            rows = part.ravel(order="F")
            qcol = np.repeat(b_ids, k)
            ncol = ids[rows]
            scol = sims[rows, np.repeat(np.arange(len(b_ids)), k)]
            keep = ncol != qcol
            yield pd.DataFrame(
                {
                    "query_id": qcol[keep],
                    "neighbor_id": ncol[keep],
                    "cos_sim": scol[keep],
                }
            )

    partial = emb.select("vec_id", "embedding").mapInPandas(
        topk_batches, B44_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# B45: sketch aggregates (HLL distinct, approximate percentiles)
# ---------------------------------------------------------------------------
@query("b45_sketch_aggregates")  # rows-only: sketches are engine-specific
def b45_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) and approx_percentile per
    returnflag — the fixed-memory path for 100 TB cardinality/quantile
    questions where exact distinct would shuffle every key. Estimates
    are engine-specific by nature -> rows-only check; the exact twins
    (b12, b56) stay oracle-verified.

    Quantiles come back as scalar columns (one percentile_approx per
    target — Catalyst merges them into a single shared sketch pass, so
    this costs the same as the array form, and the flat schema is what
    a driver/canonicalizer can hash).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50_price"),
        F.percentile_approx("l_extendedprice", 0.95).alias("p95_price"),
        F.percentile_approx("l_extendedprice", 0.99).alias("p99_price"),
    )


# ---------------------------------------------------------------------------
# B46: range join (price-band classification)
# ---------------------------------------------------------------------------
_PRICE_BANDS = [
    ("penny", 0.0, 500.0),
    ("low", 500.0, 1500.0),
    ("mid", 1500.0, 4000.0),
    ("high", 4000.0, 20000.0),
    ("lux", 20000.0, 1e12),
]

# The explicit lo <= p < hi when-chain in b46 is gap-safe (a price
# outside every band simply gets no index), so the bands only need
# each interval well-formed — no contiguity requirement. (An earlier
# counting-index implementation DID require contiguous bands and
# pinned it with import-time asserts; those went with it.)
assert all(lo < hi for _, lo, hi in _PRICE_BANDS), "_PRICE_BANDS ordered"

B46_ORACLE = f"""
    WITH bands(band, lo, hi) AS (VALUES
        {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)})
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_lsum("l_extendedprice", 2)} AS sum_price
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
"""


@query("b46_range_join_bands", oracle=B46_ORACLE)
def b46_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: facts matched to [lo, hi) intervals —
    compiled to an EQUI-join via a derived band index.

    Each fact row computes its band_idx with an explicit
    lo <= price < hi when-chain over the (tiny, literal) band list —
    flat branches inside whole-stage codegen — and then joins the
    band dim on that index: a broadcast HASH join instead of a
    broadcast nested-loop whose per-row interval scan sits outside
    codegen. Same result, hash-join throughput. This is the bucketing
    scale path for interval joins generally (for big/overlapping
    interval tables: explode intervals into fixed-width buckets,
    equi-join on bucket, re-check bounds).
    """
    li = table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [(i, b) for i, (b, _, _) in enumerate(_PRICE_BANDS)],
        "band_idx int, band string",
    )
    # Explicit lo <= p < hi per band: codegens to a flat if-chain
    # (measured ~2x faster than an aggregate() fold over the bounds
    # array) and is gap-safe — a price outside every band gets NULL
    # band_idx and drops out of the inner join, exactly the oracle's
    # interval-join semantics, with no reliance on band contiguity.
    idx = None
    for i, (_b, lo, hi) in enumerate(_PRICE_BANDS):
        cond = (F.col("l_extendedprice") >= F.lit(lo)) & (
            F.col("l_extendedprice") < F.lit(hi)
        )
        idx = F.when(cond, i) if idx is None else idx.when(cond, i)
    partials = (
        li.withColumn("band_idx", idx)
        .join(F.broadcast(bands), "band_idx")
        .groupBy("band", F.spark_partition_id().alias("__pid"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            lsum_partial("l_extendedprice", 2).alias("_sp"),
        )
    )
    return partials.groupBy("band").agg(
        F.sum("_n").alias("n_items"),
        lsum_final("_sp", 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# B48: hybrid (filtered semantic) search — documents ⋈ embeddings
# ---------------------------------------------------------------------------
_B48_DIM = 64

B48_ORACLE = f"""
    WITH guarded AS (
        SELECT * FROM (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
                   sqrt(list_aggregate(list_transform(
                        CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))
                       AS nrm
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {_B48_DIM}
        ) WHERE nrm > 0 AND nrm < 'infinity'::DOUBLE
    ),
    joined AS (
        SELECT d.doc_id, d.lang, d.source, e.vec, e.nrm
        FROM documents d JOIN guarded e ON e.vec_id = d.doc_id
        WHERE d.lang = 'en' AND d.n_chars >= 200
    ),
    q AS (SELECT vec AS qvec, nrm AS qnrm FROM guarded WHERE vec_id = 0),
    scored AS (
        SELECT j.doc_id, j.source,
               (list_aggregate(list_transform(range(1, {_B48_DIM + 1}),
                                              i -> j.vec[i] * q.qvec[i]), 'sum')
                / (j.nrm * q.qnrm)) AS cos_sim
        FROM joined j CROSS JOIN q
        WHERE j.doc_id != 0
    )
    SELECT doc_id, source, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
"""


@query("b48_hybrid_search", oracle=B48_ORACLE)
def b48_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: metadata predicates prune the corpus BEFORE the
    vector math — the pattern that makes semantic search affordable at
    100 TB (filter + join cut the candidate set; only survivors pay
    the dot product). Top-k via rank over a single window, which Spark
    executes as per-partition top-k then merge (WindowGroupLimit).
    """
    from kafka_streams_sandbox_spark.functions.vectors import dot

    # reuse the family-wide guarded vector table (NULL / wrong-dim /
    # zero-norm / NaN- or Inf-component rows excluded) — without it a
    # single degenerate embedding either NaN-ranks into the top-10 or
    # diverges from the oracle on wrong-dim padding semantics
    from kafka_streams_sandbox_spark.operators.similarity import _vectors

    docs = table(spark, sf_dir, "documents")
    v = _vectors(spark, sf_dir)
    qvec = v.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qvec"), F.col("nrm").alias("qnrm")
    )
    joined = (
        docs.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .filter(F.col("doc_id") != 0)
        .join(v, docs.doc_id == v.vec_id)
        .select(
            "doc_id",
            "source",
            F.col("e").alias("vec"),
            F.col("nrm").alias("vnrm"),
        )
    )
    scored = joined.crossJoin(F.broadcast(qvec)).select(
        "doc_id",
        "source",
        (dot("vec", "qvec") / (F.col("vnrm") * F.col("qnrm"))).alias("cos_sim"),
    )
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "source", "cos_sim", F.col("rnk").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# B50: skew-resistant two-phase (salted) aggregation
# ---------------------------------------------------------------------------
_SALT_BUCKETS = 16

B50_ORACLE = f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_lsum("l_extendedprice", 2)} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
"""


@query("b50_salted_agg", oracle=B50_ORACLE)
def b50_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a deliberately skewed key
    (l_returnflag has ~3 values — every row funnels into 3 reduce
    tasks in a naive plan). Phase 1 groups on (key, salt) spreading
    each hot key over {_SALT_BUCKETS} partial aggregates; phase 2
    merges the partials. Result is identical to the direct groupBy
    (the oracle IS the direct form) because count/decimal-sum are
    associative. At 100 TB this is the manual fallback when AQE's
    skew handling can't apply (e.g., skewed aggregation rather than
    skewed join).
    """
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", (F.crc32(F.col("l_orderkey").cast("string")) % _SALT_BUCKETS)
    )
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        lsum_partial("l_extendedprice", 2).alias("ps"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        lsum_final("ps", 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# B51: sliding (hopping) window aggregation — 10 min windows every 5 min
# ---------------------------------------------------------------------------
B51_ORACLE = f"""
    WITH bucketed AS (
        SELECT make_timestamp(CAST(FLOOR(epoch_us(ts) / 300000000) AS BIGINT)
                              * 300000000) AS bucket,
               event_type, value
        FROM events
    ), assigned AS (
        SELECT unnest([bucket, bucket - INTERVAL 5 MINUTE]) AS window_start,
               event_type, value
        FROM bucketed
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value", 6)} AS sum_value
    FROM assigned
    GROUP BY 1, 2
"""


@query("b51_sliding_window_agg", oracle=B51_ORACLE)
def b51_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows (size 10 min, slide 5 min): every event lands in
    size/slide = 2 windows. Spark's F.window replicates rows at the
    Expand operator — input amplification is exactly size/slide, so at
    100 TB keep the ratio small (the oracle reproduces the assignment
    by unnesting the two aligned buckets per event).
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# B52: unpivot / melt (wide measures -> long rows)
# ---------------------------------------------------------------------------
_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

B52_ORACLE = f"""
    WITH long AS (
        {" UNION ALL ".join(
            f"SELECT l_returnflag, '{m}' AS measure, {m} AS val FROM lineitem"
            for m in _MEASURES)}
    )
    SELECT l_returnflag, measure,
           CAST(COUNT(*) AS BIGINT) AS n_vals,
           {sql_lsum("val", 6)} AS sum_val
    FROM long
    GROUP BY 1, 2
"""


@query("b52_unpivot_measures", oracle=B52_ORACLE)
def b52_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) of aggregated measures — stack() applied AFTER
    the aggregation, not before.

    Unpivot-then-aggregate expands every input row size/1 -> 4 rows at
    the Expand operator and shuffles 4× the data; since each output
    cell is an independent per-measure aggregate, the equivalent plan
    aggregates the wide row ONCE (all four sums in a single pass,
    map-side combined) and stacks the 3-row result. At 100 TB that is
    the difference between shuffling 400 TB and shuffling bytes. The
    oracle keeps the textbook UNION-ALL melt form; results are
    identical because count/decimal-sum are measure-independent.
    """
    li = table(spark, sf_dir, "lineitem")
    # two-phase scaled-long exact sums (functions/numeric.py): long
    # partials per (key, partition), exact decimal(38) final
    partials = li.groupBy(
        "l_returnflag", F.spark_partition_id().alias("__pid")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        *[lsum_partial(m, 6).alias(f"_p_{m}") for m in _MEASURES],
    )
    wide = partials.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n_vals"),
        *[lsum_final(f"_p_{m}", 6).alias(f"sum_{m}") for m in _MEASURES],
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack({}, {}) AS (measure, sum_val)".format(
            len(_MEASURES),
            ", ".join(f"'{m}', sum_{m}" for m in _MEASURES),
        ),
        "n_vals",
    ).select("l_returnflag", "measure", "n_vals", "sum_val")


# ---------------------------------------------------------------------------
# B54: MERGE / upsert emulation (CDC apply without a table format)
# ---------------------------------------------------------------------------
B54_ORACLE = """
    WITH changes AS (
        SELECT user_id AS c_custkey, value AS new_bal
        FROM (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name,
           COALESCE(ch.new_bal, c.c_acctbal) AS c_acctbal,
           (ch.c_custkey IS NOT NULL) AS updated
    FROM customer c LEFT JOIN changes ch USING (c_custkey)
"""


@query("b54_merge_upsert", oracle=B54_ORACLE)
def b54_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WHEN MATCHED THEN UPDATE, emulated on plain parquet:
    outer-join target to the change set and coalesce columns — a
    table format's MERGE INTO does the same join under the hood, and
    on plain files the price is a full rewrite. ParquetKTableStore's
    streaming upsert defers that price: it appends each micro-batch
    as a delta and pays this fold only at compaction, once four or
    more deltas weigh as much as the base. Change set is the
    latest event per key (window rank), exactly the CDC-compaction
    step a streaming changelog needs before applying. The change set
    is |users|-sized — unbounded at scale — so it carries NO mandatory
    broadcast hint (the b60/b73 discipline); AQE broadcasts it only
    while it is genuinely small.
    """
    from pyspark.sql import Window as W

    cust = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    changes = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").alias("c_custkey"),
            F.col("value").alias("new_bal"),
            # join-presence marker: `updated` must mean "a change row
            # matched", like the oracle's ch.c_custkey IS NOT NULL —
            # testing new_bal itself would misreport a matched change
            # whose latest value is NULL (the CDC tombstone case)
            F.lit(True).alias("__matched"),
        )
    )
    return cust.join(changes, "c_custkey", "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("new_bal", "c_acctbal").alias("c_acctbal"),
        F.coalesce("__matched", F.lit(False)).alias("updated"),
    )


# ---------------------------------------------------------------------------
# B55: dedup clusters — connected components over near-dup pairs
# ---------------------------------------------------------------------------
_B55_MAX_ROUNDS = 50

B55_ORACLE = """
    WITH RECURSIVE fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> t != ''))), ' ')) AS fingerprint
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM reach
    GROUP BY node
"""


@query("b55_dedup_clusters", oracle=B55_ORACLE)
def b55_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS: connected components by
    iterated min-label propagation (each node adopts the smallest id
    reachable; loop until fixpoint). cluster_id = min doc_id of the
    component — the canonical survivor an LLM dedup pipeline keeps.

    Iterative-algorithm shape on DataFrames: the loop runs on the
    driver but every iteration is one distributed join + aggregate;
    rounds needed = graph diameter in label-hops (log-ish for the
    star/path graphs exact-dup clusters form). The DuckDB oracle is a
    recursive CTE computing the same min-reachable label. Edges come
    from the b24 token-set fingerprint (deterministic, so the oracle
    rebuilds the identical pair set, and — unlike exact-text equality —
    the sf0.01 corpus actually contains such groups, so the check is
    non-vacuous); the same loop consumes b26/b27 pair output unchanged.
    """
    from kafka_streams_sandbox_spark.functions.tokens import TOKENS_EXPR

    docs = table(spark, sf_dir, "documents")
    fingerprint = token_set_fingerprint()
    # STAR edges, not clique edges: a fingerprint group is a clique by
    # construction, so connecting every member to the group MINIMUM
    # (g-1 edges) yields the identical components as all g(g-1)/2
    # pairs — with linear instead of quadratic emission. This is not
    # theoretical: the round-4 100x probe corpus contains a 24k-doc
    # fingerprint group (short docs over a Zipf vocabulary collide on
    # token SETS constantly at corpus scale); its clique form is 289M
    # structs materialized inside ONE task's HOF — the job ground into
    # GC collapse. Star form: 24k edges, and component diameter drops
    # to <= 2 so the label loop converges in one verify round.
    # Window-min (not groupBy+collect_list): WindowExec buffers a
    # fingerprint group in a SPILLABLE row buffer, whereas a
    # collect_list agg holds the whole group's id array in one
    # in-memory agg-buffer row — a boilerplate fingerprint shared by
    # 10M docs at 100 TB would pin ~80 MB in a single row there; here
    # it just spills. One shuffle either way.
    wfp = Window.partitionBy("fingerprint")
    pairs = (
        docs.select(fingerprint.alias("fingerprint"), "doc_id")
        .withColumn("doc_a", F.min("doc_id").over(wfp))
        .filter(F.col("doc_a") < F.col("doc_id"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )
    labels, _rounds = min_label_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").cast("bigint").alias("cluster_id")
    )


def min_label_components(
    pairs: DataFrame,
    max_rounds: int = _B55_MAX_ROUNDS,
    release_into: list | None = None,
) -> tuple[DataFrame, int]:
    """Connected components by min-label propagation to a verified
    fixpoint over a ``(doc_a < doc_b)`` pair set.

    Returns ``(labels, rounds)`` where labels has ``node, label`` and
    label = the smallest id reachable from node. The consumer of b55's
    fingerprint pairs sees diameter <= 2 (every member pairs with every
    other), but the SAME loop must handle long-chain pair sets (b26/b27
    candidate output forms paths a-b-c-... through overlapping
    shingles), where rounds needed = path length in label-hops — so the
    loop runs to a verified fixpoint and refuses to return an
    under-converged labeling. tests/test_operators.py exercises the
    multi-round path on a chain graph.

    Checkpoint hygiene (r9, ADVICE r8): the loop's DISK_ONLY blocks do
    not wait for JVM GC. Each round's count() materializes that
    round's label checkpoint, so the PREVIOUS round's blocks are dead
    and are released inline; the edge table's blocks are dead the
    moment the loop exits (the returned labels frame reads only its
    own checkpoint RDD) and are released on BOTH exit paths. Only the
    final labels checkpoint outlives the call — long-lived callers
    (streams, the 131-query verify session) pass ``release_into`` to
    collect that handle and free it after materializing their result.
    """
    from kafka_streams_sandbox_spark.session import release_local_checkpoint
    # one-pass symmetric edge build + lazy DISK_ONLY checkpoint (r8):
    # the old two-branch union consumed `pairs` twice, and edges join
    # into EVERY loop round — so a caller handing in an expensive pair
    # lineage (b110's banding+verify, b100's minhash pairs) re-ran it
    # 2x per round (measured: b110's first 100x probe spent ~120 of
    # 195 s re-deriving b96). Explode emits both directions in one
    # pass; the checkpoint materializes the pair lineage exactly once
    # for the whole loop.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        # keep_in_audit: edges feed the construction-time label loop,
        # not the returned frame's plan (ADVICE r9 #3 — see
        # session.lazy_checkpoint)
        .transform(lambda d: lazy_checkpoint(d, keep_in_audit=True))
    )
    # Smart init: label(node) = min(node, min direct neighbor) — the
    # result of the classic first propagation round, for the price of
    # ONE aggregation instead of a join+agg round. Fingerprint dup
    # groups are cliques, so they converge AT init and the loop runs
    # only the single verify round; chains still hop once per round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_m"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "_m").alias("label"),
        )
        # DISK_ONLY for every loop checkpoint: each round's blocks stay
        # alive until the context cleaner GCs them, so on-heap rounds
        # ACCUMULATE — the round-4 100x probe (500k docs) OOMed the
        # JVM on exactly that. Disk blocks make the accumulation
        # benign (bounded by rounds x label-table size on local disk);
        # each checkpoint is read back once, by the next round's join.
        # (The init checkpoint, like the edge table, stays LIVE in
        # plan-audit mode (keep_in_audit, ADVICE r9 #3): both feed the
        # construction-time loop, never the returned frame's audited
        # plan — the PER-ROUND direct checkpoints below bound that.)
    ).transform(lambda d: lazy_checkpoint(d, keep_in_audit=True))
    converged = False
    rounds = 0
    # handle to the CHECKPOINTED frame backing `labels` — after round
    # 1 `labels` itself is a Project over the checkpoint, and the
    # release helper frees blocks only when handed the LogicalRDD
    # frame directly
    labels_ckpt = labels
    try:
        for _ in range(max_rounds):
            rounds += 1
            propagated = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            new_labels = labels.join(
                propagated, labels.node == propagated.src, "left"
            ).select(
                "node",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                # fold convergence detection into the SAME join instead
                # of re-joining old vs new labels each round
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
            # truncate lineage each round: without this the plan
            # re-derives every previous iteration (exponential at
            # depth) — the classic iterative-DataFrame trap;
            # checkpoint() on a real cluster. Lazy: the convergence
            # count below is the materializing action, so each round
            # runs ONE job, not two.
            new_labels = new_labels.localCheckpoint(
                eager=False, storageLevel=StorageLevel.DISK_ONLY
            )
            changed = new_labels.filter(F.col("_changed")).count()
            # the count materialized new_labels' blocks — the previous
            # round's label checkpoint is now unreferenced; free it
            release_local_checkpoint(labels_ckpt)
            labels_ckpt = new_labels
            labels = new_labels.drop("_changed")
            if changed == 0:
                converged = True
                break
    finally:
        # edge blocks die with the loop on both exit paths (the
        # returned frame reads only its own checkpoint RDD)
        release_local_checkpoint(edges)
    if not converged:
        raise RuntimeError(
            f"label propagation did not converge in {max_rounds} "
            "rounds — graph diameter exceeds the bound; raise max_rounds"
        )
    if release_into is not None:
        release_into.append(labels_ckpt)
    return labels, rounds


# ---------------------------------------------------------------------------
# B56: exact percentiles / median per group
# ---------------------------------------------------------------------------
B56_ORACLE = """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
"""


@query("b56_exact_percentiles", oracle=B56_ORACLE)
def b56_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. Both engines use the
    same linear-interpolation definition, so values are bit-exact and
    oracle-checkable. Exact percentile sorts each group's values —
    affordable per-group; for the corpus-wide single-pass variant at
    100 TB use b45's approx_percentile sketch instead.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99_price"),
    )


# ---------------------------------------------------------------------------
# b90: time-grid resample + forward fill (gap-fill)
# ---------------------------------------------------------------------------
# The temporal family's missing member (b40 as-of, b51 hopping
# windows, b66 SCD2, b73 cohorts): regularize an irregular event
# stream onto a fixed per-key time grid, carrying the latest
# observation forward — the standard step before feature windows /
# charting / downsampled storage.
B90_ORACLE = """
    WITH spans AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS t0,
               date_trunc('hour', MAX(ts)) AS t1
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
        FROM spans
    ),
    u AS (
        SELECT user_id, grid_ts, CAST(NULL AS BIGINT) AS event_id,
               CAST(NULL AS DOUBLE) AS value, 1 AS kind, grid_ts AS ord_ts
        FROM grid
        UNION ALL
        SELECT user_id, CAST(NULL AS TIMESTAMP), event_id, value, 0, ts
        FROM events WHERE ts IS NOT NULL
    ),
    carried AS (
        SELECT user_id, grid_ts, kind,
               last_value(CASE WHEN kind = 0
                               THEN {'v': value, 'ts': ord_ts, 'id': event_id}
                          END IGNORE NULLS)
                   OVER (PARTITION BY user_id
                         ORDER BY ord_ts, kind, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lastev
        FROM u
    )
    SELECT user_id, grid_ts,
           lastev.v AS filled_value,
           lastev.ts AS filled_from_ts,
           lastev.id AS filled_from_id
    FROM carried WHERE kind = 1
"""


@query("b90_time_grid_fill", oracle=B90_ORACLE)
def b90_time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample per user with forward fill: one grid row per
    (user, hour) between the user's first and last event hour,
    carrying the value/ts/id of the latest event at-or-before the
    grid instant.

    Plan is b40's union-sort trick pointed at a generated grid (NOT a
    per-user range join, which is O(|grid| x |events|) in a hot-user
    partition): per-user span agg (shuffle 1) -> sequence()/explode
    builds the grid map-side -> union with tagged events -> ONE
    per-user window sort (shuffle 2) carries the last event struct
    forward. Ties at a grid instant: events sort before grid rows
    (kind 0 < 1), so an event AT the hour boundary fills it; equal-ts
    events resolve by event_id — both pinned in the oracle's ordering
    too. The whole-struct carry keeps (value, ts, id) from one row —
    independent per-column carries would mix rows when an event's
    value is NULL.

    Scale: grid size is bounded by span-hours per key, not events;
    both shuffles key by user_id (uniform); sequence() arrays are
    per-row bounded (720 for a 30-day span). A pathological years-long
    key span would fatten one array — cap with a greatest(t0, t1 -
    INTERVAL N) guard in deployment if keys can idle for years.
    """
    ev = table(spark, sf_dir, "events")
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("t0"),
            F.date_trunc("hour", F.max("ts")).alias("t1"),
        )
        .select(
            "user_id",
            F.explode(F.expr("sequence(t0, t1, interval 1 hour)")).alias(
                "grid_ts"
            ),
        )
    )
    tagged = grid.select(
        "user_id",
        "grid_ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("kind"),
        F.col("grid_ts").alias("ord_ts"),
    ).unionByName(
        # NULL-ts events can never legitimately fill a grid point, and
        # the engines disagree on where NULLs sort (Spark ASC = NULLS
        # FIRST, DuckDB = NULLS LAST) — dropping them before the union
        # removes the divergence instead of papering over it with a
        # nulls-last ordering on both sides.
        ev.filter(F.col("ts").isNotNull()).select(
            "user_id",
            F.lit(None).cast("timestamp").alias("grid_ts"),
            "event_id",
            "value",
            F.lit(0).alias("kind"),
            F.col("ts").alias("ord_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ord_ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev_struct = F.when(
        F.col("kind") == 0,
        F.struct(
            F.col("value").alias("v"),
            F.col("ord_ts").alias("ts"),
            F.col("event_id").alias("id"),
        ),
    )
    carried = tagged.withColumn(
        "lastev", F.last(ev_struct, ignorenulls=True).over(w)
    )
    return carried.filter(F.col("kind") == 1).select(
        "user_id",
        "grid_ts",
        F.col("lastev.v").alias("filled_value"),
        F.col("lastev.ts").alias("filled_from_ts"),
        F.col("lastev.id").alias("filled_from_id"),
    )
