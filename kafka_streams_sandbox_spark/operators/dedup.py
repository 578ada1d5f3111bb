"""Deduplication operators for LLM training-data pipelines (B21, B24 +
MinHash/SimHash/n-gram near-dup, SURVEY.md §2.B).

Everything here is built-in-function Spark (higher-order functions on
arrays, xxhash64, md5) — zero Python UDFs, so the hot path stays in
Tungsten/whole-stage-codegen even at 100 TB.

Scale design:
- Exact dedup is a hash aggregate on the text hash: one shuffle keyed
  by hash, perfectly parallel, no skew (hashes are uniform).
- MinHash-LSH: per-doc signature (map-only) -> explode into b band
  keys -> groupBy band (shuffle on short keys) -> candidate pairs ->
  exact-Jaccard verification join. Cost is O(n·k + candidate_pairs),
  never O(n²); at 100 TB tune (k, b, r) for the target similarity
  threshold s ≈ (1/b)^(1/r).
- SimHash: 64-bit signature map-only; banding on 4×16-bit chunks for
  candidates; verification via bit_count(xor) — Hamming ball search
  without pairwise scan.
- n-gram Jaccard all-pairs is the *oracle-checkable* exact variant,
  deliberately partitioned by ``lang`` so each block is small; it is
  the correctness reference for the LSH variants, not the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_sandbox_spark.catalog import documents_wide, table
from kafka_streams_sandbox_spark.functions.tokens import (
    TOKENS_EXPR,
    token_set_fingerprint,
)
from kafka_streams_sandbox_spark.registry import query
from kafka_streams_sandbox_spark.session import lazy_checkpoint, scratch_dir

# ---------------------------------------------------------------------------
# B21: exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
B21_ORACLE = """
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY text
"""


@query("b21_exact_dedup", oracle=B21_ORACLE)
def b21_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min) doc id per distinct text.

    Grouping on the full text works at any scale (Spark hashes the
    key for the shuffle); md5 in the output is just a compact witness.
    """
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(F.md5(F.col("text")).alias("text_hash"), "keep_id", "dup_count")
    )


# ---------------------------------------------------------------------------
# B24: dedup/canonicalization across sources
# ---------------------------------------------------------------------------
B24_ORACLE = """
    SELECT md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t != ''))), ' ')) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           MIN(source) AS canonical_source,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
"""


@query("b24_dedup_across_sources", oracle=B24_ORACLE)
def b24_dedup_across_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization across sources on a *token-set fingerprint*
    (sorted distinct tokens), so reordered near-copies collapse too —
    the cross-source case exact byte equality misses. Canonical copy =
    min doc_id; provenance spread = distinct sources."""
    docs = table(spark, sf_dir, "documents")
    fingerprint = token_set_fingerprint()
    return (
        docs.select(fingerprint.alias("fingerprint"), "doc_id", "source")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.min("source").alias("canonical_source"),
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Shared shingling helpers (word n-grams / char n-grams), pure SQL HOFs
# ---------------------------------------------------------------------------
# TOKENS_EXPR lives in functions/tokens.py (registry-neutral home) and
# is re-exported here for the operators that historically import it.


def word_ngrams_expr(n: int = 3, toks: str = TOKENS_EXPR) -> str:
    """Distinct word n-gram shingles as an array<string> (guarded for
    short docs — Spark's sequence(1,0) would count *down*).

    ``toks`` should be a *column name* holding the pre-split token
    array whenever the expression feeds a transform: inlining the
    regex-split expression makes every ``element_at`` re-split the
    document (O(tokens × n) regex runs per doc — measured 6× on b26).
    """
    return f"""
        CASE WHEN size({toks}) < {n} THEN array(array_join({toks}, ' '))
        ELSE array_distinct(transform(
            sequence(1, size({toks}) - {n - 1}),
            i -> concat_ws(' ', {", ".join(f"element_at({toks}, i + {j})" for j in range(n))})
        )) END
    """


def char_ngrams_hashed_expr(n: int = 5) -> str:
    """Distinct char n-gram shingles, xxhash64-hashed to long."""
    return f"""
        CASE WHEN length(text) < {n} THEN array(xxhash64(text))
        ELSE array_distinct(transform(
            sequence(1, length(text) - {n - 1}),
            i -> xxhash64(substring(text, i, {n}))
        )) END
    """


def _jaccard(a: str, b: str) -> F.Column:
    """Exact Jaccard on two distinct-element array columns."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    union = F.size(F.col(a)) + F.size(F.col(b)) - inter
    return inter.cast("double") / union.cast("double")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (oracle-checkable exact variant)
# ---------------------------------------------------------------------------
B26_ORACLE = """
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END)
                   AS shingles
        FROM (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> t != '') AS toks
              FROM documents)
        WHERE len(toks) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           (CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE (CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles)))) >= 0.5
"""


@query("b26_ngram_jaccard_pairs", oracle=B26_ORACLE)
def b26_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, blocked by lang.

    This is the exact/correctness variant; the probabilistic scale
    path is b27 MinHash-LSH. Exact does NOT mean all-pairs, though:
    the plan is an inverted index —

        explode shingles -> postings (shingle_hash, doc, set_size)
        groupBy shingle  -> per-shingle doc bucket      (ONE shuffle)
        emit ordered pairs within each bucket (HOFs, in-memory)
        groupBy (doc_a, doc_b) count  ==  |A ∩ B|
        jaccard = inter / (n_a + n_b - inter)

    so a pair only ever exists if it shares >= 1 shingle, and the
    intersection size falls out of a count — no per-pair
    array_intersect. (Measured at sf0.1: broadcast all-pairs with
    array_intersect 85 s; posting self-join 20 s — constraint
    inference re-derived ``isnotnull(size(shingles))`` below the
    projections and re-tokenized every row at the scan; this
    single-branch bucket form ~2 s, shingle chain computed once.)

    Scale: the one shuffle is keyed by the 64-bit shingle hash —
    uniform, no lang-key skew; cost is Σ_shingle df(s)² instead of n².
    Hashing shingles to int64 keeps postings narrow; Jaccard over
    hashed sets equals Jaccard over the string sets (64-bit collisions
    negligible), so the string-intersecting oracle matches exactly.
    The size-ratio filter (jaccard >= 0.5 forces |A|/|B| ∈ [1/2, 2])
    prunes pairs at emission. At 100 TB additionally cap df per
    shingle (drop stopword-shingles) — the standard guard against a
    hot posting list exploding a bucket.
    """
    docs = documents_wide(spark, sf_dir)
    sh = (
        docs.select("doc_id", "lang", F.expr(TOKENS_EXPR).alias("toks"))
        # token-less docs (empty/whitespace-only/NULL) don't
        # participate: their degenerate shingle set {''} would make
        # every pair of them jaccard-1.0 — at corpus scale that's a
        # quadratic garbage bucket (tests/test_hostile_inputs.py)
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "lang",
            F.expr(
                f"transform({word_ngrams_expr(3, 'toks')}, s -> xxhash64(s))"
            ).alias("shingles"),
        )
        .withColumn("n_sh", F.size("shingles"))
    )
    posting = sh.select(
        "lang", "doc_id", "n_sh", F.explode_outer("shingles").alias("sh")
    )
    bucket = posting.groupBy("sh", "lang").agg(
        F.collect_list(F.struct("doc_id", "n_sh")).alias("ds")
    )
    pairs = bucket.select(
        F.explode(
            F.expr(
                """flatten(transform(ds, x ->
                       filter(transform(ds, y ->
                                  struct(x.doc_id AS doc_a, x.n_sh AS n_a,
                                         y.doc_id AS doc_b, y.n_sh AS n_b)),
                              p -> p.doc_a < p.doc_b
                                   AND p.n_a <= 2 * p.n_b
                                   AND p.n_b <= 2 * p.n_a)))"""
            )
        ).alias("p")
    ).select("p.*")
    inter = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("inter")
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding near-dup (the 100 TB path) — rows-only check
# ---------------------------------------------------------------------------
# 32 permutations in 4 bands × 8 rows: candidate prob at jaccard s is
# 1-(1-s^8)^4 (≈0.51 at s=0.9, ≈0.004 at s=0.5). Rows-per-band is
# deliberately deep: this corpus is word soup from one small
# vocabulary, so typical cross-doc char-shingle jaccard is ~0.4-0.5 —
# shallow bands (r=4) made ~40% of all n² pairs candidates, i.e. LSH
# degenerated to brute force (165 s at sf0.1; 4×8 bands: ~4 s).
_MINHASH_K = 32
_BANDS = 4
_ROWS_PER_BAND = _MINHASH_K // _BANDS
# Largest 32-bit prime: (2i+1) * (h mod p) stays well inside int64
# (Spark runs ANSI mode — a 61-bit prime overflows the multiply).
_PRIME = 4294967291

# Oversized-bucket guard: a band bucket larger than this emits STAR
# candidates (bucket-min -> member, g-1 pairs) instead of all C(g,2)
# pairs. Bucket pair emission is the one Σ bucket² term in the plan,
# and a corpus of short boilerplate docs legitimately co-buckets
# thousands of near-identical members (the 100x probe: 2.5k-doc
# buckets -> ~3M pairs EACH, ~300 s total); past the cap the bucket
# itself is the duplication evidence, so the standard LSH-dedup
# practice is to verify members against one representative and let
# the downstream clustering (b55) connect the rest. Driver corpora
# never reach the cap (measured max bucket: 18 at sf0.1, 239 at 10x;
# the cap also bounds the in-task pair-emission HOF allocation to
# C(512,2) ~ 131k structs per bucket row),
# so behavior there is byte-identical.
_BUCKET_CAP = 512

# density-adaptive verify threshold (r13): above this many candidate
# pairs the pair-rows-carry-arrays verify exceeds a single node's
# execution-memory/spill budget (both array forms measured dead at
# the 1000x tier's 49.1M candidates; see minhash_verified_pairs) and
# the verify switches to the per-pair text-carry form. Identical
# outputs either way — the switch is physical, not semantic.
_PAIR_ARRAY_BUDGET = 16_000_000


# MinHash permutations are universal hashes h_i(x) = (a_i*x + b_i)
# mod p with fixed odd a_i / b_i derived from i — deterministic across
# runs and cluster sizes; the 32-bit prime keeps the multiply inside
# int64 (Spark runs ANSI mode — a 61-bit prime overflows).


def _minhash_band_keys(docs: DataFrame) -> DataFrame:
    """token-bearing docs -> (doc_id, band, key) LSH band bucket ids:
    32 minhashes over char-5-grams, {_BANDS} bands x {_ROWS_PER_BAND}
    rows each, band slice hashed to one 64-bit key. Shared by b27
    (near-dup banding) and b95 (minhash-blocked fuzzy ER).

    Signature form history: r6-r13 ran 32 plain min() aggregates over
    exploded shingle hashes (straight-line codegen beats the HOF fold
    form 3x and the transform(array_min) form 25x — see git history);
    since r14 the 32 permutation-min reductions run in a numpy kernel
    over the scan-side shingle ARRAY (minhash_sig_kernel — exact
    int64, signature-identical, pinned by tests/test_int_kernels.py),
    which removes the posting explode, the doc_id exchange, and the
    32-expression aggregate machinery outright: signatures are
    map-only from the scan into the band-key explode. Callers must
    pre-filter token-less docs."""
    # r13 optimization probe, REJECTED by measurement: a codegen'd
    # positions-explode + xxhash64(substring(..)) posting build (no
    # interpreted transform HOF, no array_distinct; min() aggregates
    # are duplicate-insensitive so signatures are identical — pinned
    # 0 mismatches over sf0.1) measured EQUAL to this form warm
    # (0.79 vs 0.82 s wall, ~10 core-s both, same-session A/B): the
    # stage's cost is the 32 pmod-min aggregates over ~1.5M posting
    # rows, not the shingle-array build.
    #
    # r14 (guide §4.2/§2.4): so the 32 min-AGGREGATES themselves move
    # to numpy (minhash_sig_kernel) — exact integer arithmetic,
    # signature-identical (pinned by tests/test_int_kernels.py), and
    # the posting explode + doc_id Exchange + 32-expression
    # hash-aggregate disappear from the plan outright: the signature
    # is now map-only from the scan into the band-key explode.
    from kafka_streams_sandbox_spark.functions.intkernels import (
        minhash_sig_kernel,
    )

    sig = docs.select(
        "doc_id", F.expr(char_ngrams_hashed_expr(5)).alias("hs")
    ).mapInPandas(
        minhash_sig_kernel(_MINHASH_K, _PRIME), "doc_id long, sig array<bigint>"
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {_BANDS - 1}), b ->
                    named_struct('band', b, 'key',
                        xxhash64(array_join(slice(sig, b * {_ROWS_PER_BAND} + 1,
                                                  {_ROWS_PER_BAND}), '_'))))"""
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


# Below this corpus row count the exact-dup collapse is pure fixed
# cost (r6, VERDICT r5 Next #6): the r5 machinery tripled sf0.1 wall
# (1.28 -> 4.17 s) for zero benefit — set-identical groups small
# enough to band directly cost nothing, and the oversized-bucket star
# guard (independent of the collapse) already bounds any degenerate
# bucket. The gate is a metadata-only parquet footer read (the b35
# idiom), so the plan choice is deterministic for a fixed corpus.
# 100x-class corpora (>= 1e5 docs) take the collapse path, where the
# shingle-set collapse bought 321 s -> 73 s at the 100x probe.
_COLLAPSE_MIN_DOCS = 100_000


@query("b27_minhash_lsh_dedup")  # no SQL oracle: banding is engine-specific
def b27_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with EXACT-DUP COLLAPSE first: docs
    with identical CHAR-SHINGLE SETS — exactly the unit MinHash sees,
    a superset of byte-identical texts — collapse to one
    representative before any banding; only representatives flow
    through signature -> band keys -> bucket grouping -> candidate
    pairs -> exact char-shingle Jaccard >= 0.8 verification.
    Exact-set groups surface as STAR edges (rep -> member, jaccard
    exactly 1.0 by set identity, g-1 edges per group).

    Why the collapse keys on the shingle SET, not md5(text) (VERDICT
    r4 Next #3): LSH bucket cost is Σ|bucket|², and a group of g docs
    with the same shingle set has the same 32 minhashes, so it lands
    intact in EVERY band bucket — the r4 100x probe's 24k-doc clique
    put ~289M genuine candidate pairs into one band (321 s just
    emitting them). That clique contains NOT ONE byte-identical pair:
    it is short Zipf-vocabulary docs colliding on token/shingle SETS
    ("the" vs "the the"), which a text-hash collapse misses entirely
    (measured: 302 s — no improvement). Set-identical docs carry zero
    information for near-dup detection, so they collapse to one rep +
    a linear star; pair_weight keeps the collapsed mass auditable
    (a rep-rep pair stands for |group_a| x |group_b| underlying doc
    pairs, a star edge for one).

    Plan shape (same inverted-index discipline as b26):
      0. map-only fingerprint pass: fp = xxhash64 of the SORTED
         shingle array, built and discarded inside one projection so
         only the 8-byte fp crosses the shuffle (64-bit set identity:
         at 1e9 docs the birthday bound is ~1e-5 cross-group
         collisions corpus-wide, and a collision costs one wrong
         jaccard-1.0 edge that the verify-everything precision
         contract would surface on fixtures); groupBy fp -> rep =
         min(doc_id), group size; reps filter the corpus via LEFT
         SEMI join (the inner form measured 9x slower — it drags the
         corpus through join machinery at every downstream reference)
      1. per-rep minhash signature (map-only, single fold pass)
      2. explode band keys; groupBy (band, key) collecting doc ids —
         ONE narrow shuffle, no self-join of the signature pipeline
      3. ordered pairs within each bucket + distinct (a pair can
         surface from several bands)
      4. two shuffled equi-joins back to the shingle table to fetch
         the arrays, exact-Jaccard verify. The candidate set grows
         with Σ bucket² (and the half-joined side carries shingle
         arrays per pair), so neither side gets a MANDATORY broadcast
         — the same unbounded-broadcast defect the round-4 10x slope
         measurement caught in b39_lsh. AQE still broadcasts when the
         set is genuinely small.
      5. weights join against the |dup-groups|-sized (>1) slice only —
         singleton reps default to weight 1 without touching the
         full fingerprint table again.

    Per-doc work is map-only; every shuffle is proportional to data
    size, never n². This is the scale path whose recall b26 checks.

    Small corpora (< _COLLAPSE_MIN_DOCS, a footer-metadata gate) skip
    the collapse: every doc bands directly, pairs carry weight 1, and
    the oversized-bucket star guard still applies. Output then
    enumerates each verified pair explicitly instead of aggregating
    set-identical groups behind a representative — the same underlying
    near-dup relation (connected components agree between the two
    forms; pinned by tests/test_ann_contracts.py).
    """
    from kafka_streams_sandbox_spark.catalog import table_rowcount

    return _minhash_lsh(
        spark,
        sf_dir,
        collapse=table_rowcount(spark, sf_dir, "documents")
        >= _COLLAPSE_MIN_DOCS,
    )


def _minhash_lsh(
    spark: SparkSession, sf_dir: str, collapse: bool
) -> DataFrame:
    """b27's body with the collapse gate exposed for tests (the
    collapse-semantics and path-equivalence contracts force each
    path explicitly on small planted corpora)."""
    all_docs = documents_wide(spark, sf_dir)
    from pyspark import StorageLevel

    if collapse:
        # fingerprint pass: map-only — the shingle array is built,
        # sorted, hashed and DISCARDED inside one projection, so only
        # the 8-byte fp crosses the groupBy shuffle. (A first cut
        # materialized a (doc_id, shingle-array) table and reused it
        # downstream; sorting 20 KB array rows inside the verify-join
        # SMJs put the 100x probe into GC collapse — array columns
        # must not cross shuffles here.)
        fp = all_docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0")).select(
            "doc_id",
            F.xxhash64(
                F.array_sort(F.expr(char_ngrams_hashed_expr(5)))
            ).alias("fp"),
        )
        # groups is referenced by FOUR consumers (stars, the rep semi
        # filter, and both weight joins); without lineage truncation
        # each reference re-runs the corpus-wide shingle+sort
        # fingerprint pass (the plan audit showed 70 exchanges / 5 fp
        # subtrees). One lazy DISK_ONLY checkpoint of this NARROW
        # table (24 bytes/row — never the array-carrying ones)
        # computes it once; b55's loop uses the same discipline
        # (checkpoint() on a real cluster).
        groups = lazy_checkpoint(
            fp.groupBy("fp")
            .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("gsz"))
        )
        # star edges inside exact-set groups: rep = min(doc_id) <
        # member, so doc_a < doc_b holds by construction; identical
        # shingle sets have jaccard exactly 1.0 (the precision
        # contract re-derives it)
        stars = (
            fp.join(groups, "fp")
            .filter(F.col("doc_id") != F.col("rep"))
            .select(
                F.col("rep").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
                F.lit(1.0).alias("jaccard"),
                F.lit(1).cast("long").alias("pair_weight"),
            )
        )
        # only representatives feed the banding pipeline. LEFT SEMI,
        # not inner: the filter needs no columns from `groups`, and
        # the inner form drags the wide corpus through join machinery
        # at every downstream reference (measured 9x slower at the
        # 10x probe).
        docs = all_docs.join(
            groups.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
        )
    else:
        docs = all_docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0"))
    near = minhash_verified_pairs(docs)
    if not collapse:
        # direct path: every doc banded itself, so each emitted pair
        # stands for exactly one underlying doc pair
        return near.withColumn("pair_weight", F.lit(1).cast("long"))
    # pair_weight = |group_a| x |group_b| underlying doc pairs. Only
    # groups with gsz > 1 need a join (a tiny, AQE-broadcastable
    # slice); singleton reps coalesce to 1.
    multi = groups.filter(F.col("gsz") > 1).select("rep", "gsz")
    weighted = (
        near.join(
            multi.select(F.col("rep").alias("doc_a"), F.col("gsz").alias("_ga")),
            "doc_a",
            "left",
        )
        .join(
            multi.select(F.col("rep").alias("doc_b"), F.col("gsz").alias("_gb")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (F.coalesce(F.col("_ga"), F.lit(1)) * F.coalesce(F.col("_gb"), F.lit(1)))
            .cast("long")
            .alias("pair_weight"),
        )
    )
    return weighted.unionByName(stars)


def minhash_verified_pairs(docs: DataFrame) -> DataFrame:
    """b27's banding + verify core over an arbitrary token-bearing
    (doc_id, text, ...) relation: (doc_a < doc_b, jaccard >= 0.8)
    exact-verified near-dup pairs. Extracted in r7 so the curation
    capstone (b100) can run the near-dup stage over its mid-funnel
    survivor set; ``_minhash_lsh`` consumes it unchanged, so b27's
    hash-stable results are untouched (pure refactor — every
    expression below is byte-identical to the r6 body)."""
    bands = _minhash_band_keys(docs)
    # bucket sizing via a WINDOW (spills at any bucket size — the b55
    # lesson: a collect_list agg-buffer row holding a 10M-member
    # boilerplate bucket would pin heap; WindowExec's row buffer
    # spills). groupBy then reuses the window's (band, key)
    # partitioning, so the small-bucket pair emission adds no
    # exchange.
    wbk = Window.partitionBy("band", "key")
    sized = bands.withColumn("mn", F.min("doc_id").over(wbk)).withColumn(
        "bsz", F.count(F.lit(1)).over(wbk)
    )
    cand_small = (
        sized.filter(F.col("bsz") <= _BUCKET_CAP)
        .groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(
            F.explode(
                F.expr(
                    """flatten(transform(ds, x ->
                           filter(transform(ds, y ->
                                      struct(x AS doc_a, y AS doc_b)),
                                  p -> p.doc_a < p.doc_b)))"""
                )
            ).alias("p")
        )
        .select("p.*")
    )
    # oversized buckets: linear star candidates (see _BUCKET_CAP)
    cand_star = sized.filter(
        (F.col("bsz") > _BUCKET_CAP) & (F.col("doc_id") != F.col("mn"))
    ).select(F.col("mn").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    # distinct: same pair can surface from several bands. STAGED to
    # scratch parquet (r13): the candidate lineage (banding + window
    # + pair explode + distinct) previously re-executed once per
    # consumer (the id semi-join and both verify joins); the staged
    # table runs it exactly once AND its footer row count is the
    # free statistic the density-adaptive verify below keys on.
    spark = docs.sparkSession
    cand_stage = scratch_dir("kss-mvp-cand-")
    cand_small.unionByName(cand_star).distinct().write.mode(
        "overwrite"
    ).parquet(cand_stage)
    candidates = spark.read.parquet(cand_stage)
    # r14: the density statistic comes straight from the footers the
    # write above just produced — same number as count() (parquet row
    # counts are footer facts), one fewer Spark job per invocation
    # (this helper sits inside b27/b95/b98/b99 and all four funnels).
    from kafka_streams_sandbox_spark.catalog import parquet_path_rowcount

    n_cand = parquet_path_rowcount(cand_stage)
    if n_cand is None:  # non-local staging root — fall back to the job
        n_cand = candidates.count()
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # DENSITY-ADAPTIVE verify (r13 — the 1000x finding, BASELINE
    # round-13). Each verified pair needs both docs' distinct-hashed
    # shingle sets co-located; the question is what the PAIR rows
    # carry to get there, and the answer flips with candidate
    # density. All three forms compute the identical arithmetic on
    # the identical arrays — bit-identical outputs (pinned pre/post
    # at both SFs), so the switch is a pure physical-plan choice:
    #
    # * ARRAY-CARRY (normal density, the fast path): each side's
    #   array builds once per DOC and joins into the pair rows.
    #   Join 1 is merge-pinned (sorted sides: bare pair ids +
    #   O(candidate-docs) array rows — both bounded; never a static
    #   BroadcastHashJoin: file stats under-estimate array rows
    #   10-20x, the b39_lsh 100x OOM class). Join 2 must NOT sort
    #   its pair side (the r6-r12 SMJ sorted pair rows already
    #   carrying sh_a: ~120 GB of sort input at the 1000x tier's
    #   measured 49.1M-candidate density — dead box at ~235 GB of
    #   spill), so the pair rows STREAM through a shuffled-hash
    #   join against the per-partition-bounded doc-side build.
    #   Measured: 87.8 -> 58.7 s at 100x.
    # * TEXT-CARRY (extreme density): above ~16M candidates even the
    #   streamed array payload dies — the SHJ hash build itself
    #   cannot acquire memory at the session's partition count
    #   (measured at 1000x: "Can't acquire 134217728 bytes ... to
    #   build hash relation"), and any sort touching the pair rows
    #   is disk death. So the pair rows carry the ~300-byte TEXT
    #   (8x smaller than its shingle array) and each side's
    #   shingles re-derive ONCE PER PAIR behind a Generate barrier
    #   (explode of a 1-element array — Projects do not collapse
    #   across Generate, which is what stops the measured
    #   75s-vs-8s inline re-evaluation trap). Per-pair CPU loses at
    #   normal density (297.8 s vs 58.7 s at 100x) and wins at
    #   extreme density by being the only form that COMPLETES.
    #
    # The threshold is a documented budget constant, not a tuned
    # magic number: pair-array payload ~ n_cand x ~2.4 KB crosses
    # the box's execution-memory + spill budget in the tens of
    # millions of pairs; 16M (~40 GB payload) sits under every
    # measured wall with margin. Real open-vocabulary corpora stay
    # far below it (sf0.1: 947 candidates); the boilerplate-mass
    # regime (this fixture's 31-word vocabulary at 5M docs, or a
    # template-heavy crawl) is exactly when you want the switch.
    sh_expr = char_ngrams_hashed_expr(5)
    if n_cand <= _PAIR_ARRAY_BUDGET:
        sh_cand = docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", F.expr(sh_expr).alias("sh")
        )
        half = sh_cand.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
        ).join(candidates.hint("merge"), "doc_a")
        verified = sh_cand.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
        ).hint("shuffle_hash").join(half, "doc_b")
        return verified.select(
            "doc_a", "doc_b", _jaccard("sh_a", "sh_b").alias("jaccard")
        ).filter(F.col("jaccard") >= 0.8)
    txt = docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", "text", F.size(F.expr(sh_expr)).alias("nsh")
    )
    half = txt.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("nsh").alias("nsh_a"),
    ).join(candidates.hint("merge"), "doc_a")
    paired = txt.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("nsh").alias("nsh_b"),
    ).join(half.hint("merge"), "doc_b")
    inter = F.expr(
        "size(array_intersect("
        + sh_expr.replace("text", "text_a")
        + ", "
        + sh_expr.replace("text", "text_b")
        + "))"
    )
    barrier = paired.select(
        "doc_a",
        "doc_b",
        "nsh_a",
        "nsh_b",
        # Generate barrier: one evaluation of each derivation per pair
        F.explode(F.array(inter)).alias("inter"),
    )
    return barrier.select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter")).cast(
                "double"
            )
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.8)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (semantic dedup over the vector column)
# ---------------------------------------------------------------------------
_EMB_DIM = 64
_NEARDUP_COS = 0.3  # corpus is random vectors (max pairwise cos ≈ 0.48);
# a production semantic-dedup threshold is ~0.95 — the plan is identical.
# Per-task transient budget for b39's kernel: the corpus axis is
# processed in blocks of ~this many matrix ELEMENTS (doubles), so the
# (batch x corpus-block) cosine transient stays ~32 MB + same-size
# stepwise temporaries per task at ANY corpus size (ADVICE r13 medium).
_B39_BLOCK_ELEMS = 1 << 22

B39_ORACLE = f"""
    WITH v AS (
        SELECT * FROM (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                      x -> x * x), 'sum')) AS nrm
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {_EMB_DIM}
        ) WHERE nrm > 0 AND nrm < 'infinity'::DOUBLE
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           (list_aggregate(list_transform(range(1, {_EMB_DIM + 1}),
                                          i -> a.e[i] * b.e[i]), 'sum')
            / (a.nrm * b.nrm)) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE (list_aggregate(list_transform(range(1, {_EMB_DIM + 1}),
                                         i -> a.e[i] * b.e[i]), 'sum')
           / (a.nrm * b.nrm)) >= {_NEARDUP_COS}
"""


@query("b39_embedding_neardup", oracle=B39_ORACLE)
def b39_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup pairs: cos >= threshold.

    Exact all-pairs is the correctness reference; cosine values are
    bit-identical to DuckDB because the kernel reproduces the
    sequential-fold rounding sequence (stepwise_cos_block,
    functions/vectors.py). Physical shape unchanged from the r1-r12
    form: one side is broadcast (a vector table of ids+norms+arrays
    is small relative to the fact corpus it deduplicates), the other
    streams, and the n² matrix is never materialized — only the
    above-threshold pairs come back from each batch.

    r13 optimization (guide §4.2): the old plan evaluated the
    interpreted SQL fold once per pair inside a BroadcastNestedLoop
    join (~2M pairs x 64 element-ops at sf0.1 = 31-50 core-s,
    CodegenFallback); the kernel does the identical IEEE arithmetic
    across the pair axis in numpy (~0.05 core-s for the same pairs).
    The broadcast side moves from a JVM broadcast relation to a
    broadcast VARIABLE — same rows, same driver/executor footprint
    class, shipped once per executor. The 100 TB path still replaces
    all-pairs candidate generation with b35's random-projection
    buckets (or b34's IVF cells); this exact form is the
    verification anchor (b94's input).

    CONSTRUCTION-CONTRACT NOTE (ADVICE r13 low): since the r13 kernel
    form, calling this function runs an EAGER Spark job (the guarded
    corpus collect that builds the broadcast variable) where every
    query function used to be lazy until an action — a plan-only
    consumer (explain(), scripts/capture_plans.py) pays one
    embeddings scan. Accepted as the documented cost of the broadcast
    VARIABLE design (b104/b106's bounded collects set the precedent);
    the registry makes no lazy-construction promise.
    """
    import numpy as np
    import pandas as pd

    from kafka_streams_sandbox_spark.functions.vectors import (
        guarded_norm_rows,
        stepwise_cos_block,
    )

    from kafka_streams_sandbox_spark.catalog import embeddings_wide

    # same degenerate-vector guard as similarity._vectors: NULL /
    # wrong-dim / zero-norm / NaN- or Inf-component rows are
    # excluded, not NaN-ranked (0 < nrm < Inf covers the last three —
    # NaN orders above Inf in both engines; tests/test_hostile_vectors.py)
    emb = guarded_norm_rows(
        embeddings_wide(spark, sf_dir), ["vec_id"], dim=_EMB_DIM
    )
    rows = emb.collect()  # the broadcast side — identical payload to
    # the F.broadcast(b) relation this replaces (all-pairs is the
    # operator's contract; the 8 GB broadcast-cap class bounds both)
    b_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    b_mat = np.array([r["e"] for r in rows], dtype=np.float64)
    if b_mat.size == 0:
        b_mat = b_mat.reshape(0, _EMB_DIM)
    b_nrm = np.array([r["nrm"] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((b_ids, b_mat, b_nrm))

    def neardup_partial(batches):
        v_ids, v_mat, v_nrm = bc.value
        if not len(v_ids):
            return
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            # r14 (ADVICE r13 medium): never materialize the full
            # (arrow-batch x corpus) cosine matrix — at a 10k-row
            # batch against a 100x/1000x corpus that is multi-GB per
            # task plus same-size temporaries per dimension step.
            # Chunk the broadcast-corpus axis so the transient stays
            # ~_B39_BLOCK_ELEMS doubles (~32 MB) regardless of corpus
            # size. Per-pair verdicts depend only on the pair, so the
            # emitted row SET is identical to the unchunked form
            # (rows surface in corpus-block order instead of matrix
            # row-major — every consumer and the driver canon sort).
            blk = max(1, _B39_BLOCK_ELEMS // max(1, len(ids)))
            for lo in range(0, len(v_ids), blk):
                vb_ids = v_ids[lo : lo + blk]
                cos = stepwise_cos_block(
                    mat, nrm, v_mat[lo : lo + blk], v_nrm[lo : lo + blk]
                )
                sel = (cos >= _NEARDUP_COS) & (ids[:, None] < vb_ids[None, :])
                ii, jj = np.nonzero(sel)
                yield pd.DataFrame(
                    {
                        "vec_a": ids[ii],
                        "vec_b": vb_ids[jj],
                        "cos_sim": cos[ii, jj],
                    }
                )

    return emb.mapInPandas(
        neardup_partial, "vec_a long, vec_b long, cos_sim double"
    )


@query("b39_lsh_embedding_neardup")  # rows-only: LSH recall is probabilistic
def b39_lsh_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup on the 100 TB scale path — the candidate-fed
    variant b39's docstring promises: candidates from b35's
    sign-random-projection buckets, exact-cosine verification join
    unchanged.

    Plan shape: map-only signatures (hash-derived planes, zero driver
    state) -> ONE narrow shuffle on the bucket key -> in-bucket HOF
    pair emission -> two shuffled equi-joins fetching the candidate
    pair's vectors -> exact cosine filter. There is NO nested-loop
    join over the corpus anywhere and NO forced broadcast (pinned by
    tests/test_plans.py): the candidate set grows with Σ bucket², so
    a mandatory broadcast of it is unbounded — it OOMed the 10x slope
    measurement (scripts/measure_scaling.py, round 4) and would be
    fatal at 100 TB. AQE may still pick a broadcast when the set is
    genuinely small. Cost is O(n + Σ bucket²) instead of b39's O(n²).
    Recall is probabilistic (same-bucket collision prob rises with
    cosine), so this is rows-only while b39 stays the oracle-checked
    exact twin.
    """
    from kafka_streams_sandbox_spark.functions.vectors import dot
    from kafka_streams_sandbox_spark.operators.similarity import (
        _SIGNATURE_EXPR,
        _vectors,
    )

    v = _vectors(spark, sf_dir)
    sig = v.select("vec_id", F.expr(_SIGNATURE_EXPR).alias("sig"))
    candidates = (
        sig.groupBy("sig")
        .agg(F.collect_list("vec_id").alias("ds"))
        .select(
            F.explode(
                F.expr(
                    """flatten(transform(ds, x ->
                           filter(transform(ds, y ->
                                      struct(x AS vec_a, y AS vec_b)),
                                  p -> p.vec_a < p.vec_b)))"""
                )
            ).alias("p")
        )
        .select("p.*")
    )
    # merge-pinned verify joins: BOTH sides are corpus-sized, and the
    # vector side's in-memory footprint is ~10-20x its parquet bytes
    # (float arrays decompress into boxed JVM rows) — Catalyst's
    # file-size estimate sits under the autoBroadcast threshold long
    # after the broadcast stopped fitting. The round-4 100x probe
    # (500k docs / 200k vecs) OOMed the driver on exactly that static
    # BHJ pick; an SMJ sorts-and-spills instead of building a hash
    # relation, so it is the only memory-safe strategy for an
    # unbounded x unbounded equi-join.
    half = v.join(candidates.hint("merge"), v.vec_id == F.col("vec_a")).select(
        "vec_a", "vec_b", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    # join 2: the pair rows already carry `ea` — stream them through
    # a shuffled-hash join (build = the per-partition-bounded vector
    # side) instead of sorting them with their arrays; b27's r13
    # 1000x disk-wall class, applied family-wide (bit-identical
    # outputs pinned pre/post at both SFs)
    pairs = v.hint("shuffle_hash").join(
        half, v.vec_id == F.col("vec_b")
    ).select(
        "vec_a",
        "vec_b",
        (dot("ea", "e") / (F.col("na") * F.col("nrm"))).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= _NEARDUP_COS)


@query("b96_lsh_embedding_neardup_scaled")  # rows-only: LSH recall is
def b96_lsh_embedding_neardup_scaled(  # probabilistic, geometry n-scaled
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b39_lsh with n-SCALED plane geometry + the oversized-bucket
    star guard (r6, VERDICT r5 Next #5): the one banded path still
    running a fixed 8-plane config at 100x (265 s, 780-vector buckets
    => quadratic rerank) gets the b35 treatment — plane count derives
    from the corpus row count (plane_count: expected bucket occupancy
    ~16 at any scale; a metadata-only footer read), and candidates go
    through _guarded_sig_pairs so an identical-embedding mass emits
    linear stars instead of a one-task C(g,2) clique.

    b39_lsh itself stays registered unchanged: its 8-plane form is
    pinned by the precision-subset contract and calibrated as the
    candidate feeder whose recall that contract bounds — this is the
    additive scaled twin, exactly like b35-over-b39_lsh's geometry.
    On fixture corpora (< ~2k vectors) plane_count resolves to the
    same 8-plane floor, so the two emit identical pairs there
    (pinned by tests); they diverge only where the fixed config
    stops scaling. Verify joins are merge-pinned for the same
    array-over-static-BHJ reason as b39_lsh.

    Output contract past _BUCKET_CAP (r7, ADVICE r6): a bucket larger
    than the cap emits STAR pairs only (bucket-min -> member) — the
    member<->member edges of the clique are deterministically absent,
    exactly like b93's candidate stage. Pairs here are duplication
    EVIDENCE, not the full similarity graph: a consumer that needs
    whole-group membership must run connected components over the
    emitted edges (b55's stage). For the homogeneous masses the guard
    targets, every member stays reachable from the representative
    (all star edges clear the cosine verify), so components are
    unchanged and only redundant intra-clique edges are dropped; a
    HETEROGENEOUS oversized bucket can lose member<->member edges
    whose star legs fail the verify — the same bounded-recall
    tradeoff guarded_band_index documents. Below the cap the clique
    is complete and the b39_lsh fixture equality holds.
    """
    from kafka_streams_sandbox_spark.functions.vectors import dot
    from kafka_streams_sandbox_spark.operators.similarity import (
        _vectors,
        plane_count,
        signature_expr,
    )

    from kafka_streams_sandbox_spark.catalog import table_rowcount

    planes = plane_count(table_rowcount(spark, sf_dir, "embeddings"))
    v = _vectors(spark, sf_dir)
    sig = v.select("vec_id", F.expr(signature_expr(planes)).alias("sig"))
    candidates = _guarded_sig_pairs(sig)
    half = v.join(candidates.hint("merge"), v.vec_id == F.col("vec_a")).select(
        "vec_a", "vec_b", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    # join 2: the pair rows already carry `ea` — stream them through
    # a shuffled-hash join (build = the per-partition-bounded vector
    # side) instead of sorting them with their arrays; b27's r13
    # 1000x disk-wall class, applied family-wide (bit-identical
    # outputs pinned pre/post at both SFs)
    pairs = v.hint("shuffle_hash").join(
        half, v.vec_id == F.col("vec_b")
    ).select(
        "vec_a",
        "vec_b",
        (dot("ea", "e") / (F.col("na") * F.col("nrm"))).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= _NEARDUP_COS)


@query("b110_lsh_neardup_components")  # rows-only: banded candidates +
def b110_lsh_neardup_components(  # iterative label loop (no SQL twin)
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b96's pairs -> duplicate GROUP MEMBERSHIP (r8, VERDICT r7 #5):
    the component expansion b96's output contract points at,
    registered as its own operator instead of documentation. Past
    _BUCKET_CAP b96 emits STAR pairs only (bucket-min -> member) —
    duplication EVIDENCE, not the full similarity graph — so a
    consumer that needs whole-group membership must run connected
    components over the emitted edges. This operator IS that
    consumer: b55's ``min_label_components`` loop (shared code) over
    b96's verified pairs, yielding (vec_id, cluster_id = min vec_id
    reachable). For the homogeneous masses the star guard targets,
    every member stays reachable through the representative (all star
    legs clear the cosine verify), so the guarded pair set recovers
    the identical membership the unguarded clique would — pinned by
    the planted oversized-bucket test in tests/test_ann_contracts.py.

    Scale: the label loop is one distributed join + agg per round;
    star edges put the guarded masses at diameter <= 2, so those
    converge at the smart init and the loop cost is carried by the
    organic (small-bucket) chains, exactly as in b55."""
    from kafka_streams_sandbox_spark.operators.extended import (
        min_label_components,
    )

    pairs = b96_lsh_embedding_neardup_scaled(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels, _rounds = min_label_components(pairs)
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup capstone (SemDeDup-shape): cluster embeddings, keep one
# representative per semantic cluster
# ---------------------------------------------------------------------------


def _guarded_sig_pairs(
    sig: DataFrame,
    keys: tuple[str, ...] = ("sig",),
    id_col: str = "vec_id",
    a: str = "vec_a",
    b: str = "vec_b",
) -> DataFrame:
    """(id_col, *keys) -> candidate (a, b) pairs within each bucket,
    with the family's oversized-bucket STAR guard (r6, VERDICT r5
    Next #1 — the b27/b28 treatment).

    n-scaled planes bound EXPECTED occupancy for random vectors only:
    identical/near-identical embeddings share a signature at any plane
    count, so a boilerplate mass (routine in a dup-heavy corpus — the
    expected input of a dedup operator) would land one giant
    collect_list agg-buffer row and a C(g,2) struct clique in a single
    task — the exact pattern whose 24k-doc bucket OOMed b28's first
    100x probe. Bucket sizing + min-id representative via a WINDOW
    (WindowExec spills at any bucket size); buckets past _BUCKET_CAP
    emit linear STAR candidates instead. Star edges still face the
    caller's exact verify, and a downstream component loop reconnects
    members through the representative — stars only ever LOSE
    candidate pairs vs the clique, never invent them. Single-signature
    bucketing means one bucket per vector, so pairs are unique by
    construction (no multi-band distinct needed).

    Generalized over bucket ``keys`` / ``id_col`` / output pair names
    so the multi-band callers (b95: (band, key) blocks over doc_id —
    those need a .distinct() after, one pair can collide in several
    bands) share the ONE guard implementation instead of inline
    copies. b27's inline block predates this helper and additionally
    threads collapse weights/signatures — left as is."""
    keys = list(keys)
    wsig = Window.partitionBy(*keys)
    sized = sig.withColumn("mn", F.min(id_col).over(wsig)).withColumn(
        "bsz", F.count(F.lit(1)).over(wsig)
    )
    cand_small = (
        sized.filter(F.col("bsz") <= _BUCKET_CAP)
        .groupBy(*keys)
        .agg(F.collect_list(id_col).alias("ds"))
        .select(
            F.explode(
                F.expr(
                    f"""flatten(transform(ds, x ->
                           filter(transform(ds, y ->
                                      struct(x AS {a}, y AS {b})),
                                  p -> p.{a} < p.{b})))"""
                )
            ).alias("p")
        )
        .select("p.*")
    )
    cand_star = sized.filter(
        (F.col("bsz") > _BUCKET_CAP) & (F.col(id_col) != F.col("mn"))
    ).select(F.col("mn").alias(a), F.col(id_col).alias(b))
    return cand_small.unionByName(cand_star)


def _semantic_keep(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Shared tail of b93/b94: near-dup pairs -> connected components
    (b55's min-label fixpoint loop) -> keep-best representative per
    cluster (b78's policy, quality = vector norm here: the magnitude a
    real pipeline would replace with a quality score column).

    Every vector appears in the output exactly once: components label
    only paired vectors, singletons coalesce to themselves. The keeper
    pick is one WindowGroupLimit pass per cluster; the labeling table
    is pairs-sized + corpus-sized joins on uniform keys — no forced
    broadcasts, AQE picks strategies.
    """
    from kafka_streams_sandbox_spark.operators.extended import (
        min_label_components,
    )
    from kafka_streams_sandbox_spark.operators.similarity import _vectors

    from pyspark import StorageLevel

    v = _vectors(spark, sf_dir).select("vec_id", "nrm")
    # one lazy DISK_ONLY checkpoint of the (narrow, pairs-sized) edge
    # set: the label loop references it every round — without lineage
    # truncation each round re-runs the whole candidate/verify
    # pipeline (b94's all-pairs anchor measured 14 s at sf0.1 from
    # exactly that; the b55/b27 checkpoint discipline)
    pairs = lazy_checkpoint(pairs.toDF("doc_a", "doc_b"))
    labels, _rounds = min_label_components(pairs)
    lab = v.join(
        labels.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("label", F.col("vec_id")).cast("bigint").alias("cluster_id"),
        "nrm",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("nrm").desc(), "vec_id")
    keep = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("vec_id").alias("keep_id"))
    )
    return lab.join(keep, "cluster_id").select(
        "vec_id",
        "cluster_id",
        "keep_id",
        (F.col("vec_id") == F.col("keep_id")).alias("is_kept"),
    )


B94_ORACLE = f"""
    WITH RECURSIVE v AS (
        SELECT * FROM (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                      x -> x * x), 'sum')) AS nrm
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {_EMB_DIM}
        ) WHERE nrm > 0 AND nrm < 'infinity'::DOUBLE
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE (list_aggregate(list_transform(range(1, {_EMB_DIM + 1}),
                                             i -> a.e[i] * b.e[i]), 'sum')
               / (a.nrm * b.nrm)) >= {_NEARDUP_COS}
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION SELECT vec_b, vec_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comp AS (SELECT node, MIN(label) AS cluster FROM reach GROUP BY node),
    lab AS (
        SELECT v.vec_id,
               CAST(COALESCE(c.cluster, v.vec_id) AS BIGINT) AS cluster_id,
               v.nrm
        FROM v LEFT JOIN comp c ON v.vec_id = c.node
    ),
    keep AS (
        SELECT cluster_id, vec_id AS keep_id
        FROM (SELECT cluster_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY cluster_id
                                        ORDER BY nrm DESC, vec_id) AS rn
              FROM lab)
        WHERE rn = 1
    )
    SELECT l.vec_id, l.cluster_id, CAST(k.keep_id AS BIGINT) AS keep_id,
           l.vec_id = k.keep_id AS is_kept
    FROM lab l JOIN keep k USING (cluster_id)
"""


@query("b94_semantic_dedup_exact", oracle=B94_ORACLE)
def b94_semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, EXACT-threshold oracle twin of b93: all-pairs
    cosine >= {threshold} pairs (b39's oracle-checked anchor) ->
    connected components -> keep-best (max-norm) per cluster.

    This is the oracle-checkable half of the SemDeDup capstone
    (Abbas et al. 2023's pipeline shape: embed, cluster, keep one
    representative per semantic cluster). The DuckDB twin re-derives
    the identical clustering via a recursive CTE and the identical
    keeper via the same (nrm DESC, vec_id) ranking — norms are
    sequential folds, bit-identical across engines. Like b26/b33/b39
    this exact variant exists for verification; never run the
    all-pairs candidate stage at scale (b93 is the banded path).
    """
    pairs = b39_embedding_neardup(spark, sf_dir).select("vec_a", "vec_b")
    return _semantic_keep(spark, sf_dir, pairs)


@query("b93_semantic_dedup")  # rows-only: bucket recall is probabilistic
def b93_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at scale (SemDeDup-shape capstone, VERDICT r4
    Next #5): LSH-bucketed candidate pairs -> exact-cosine verify ->
    connected components -> keep one representative per semantic
    cluster. The registered composition of the family's pieces: b35's
    n-scaled sign-projection buckets feed candidates, b55's min-label
    fixpoint clusters them, b78's keep-best policy picks survivors
    (quality = norm; swap in a model score column in deployment).
    Since r6 the candidate stage carries the b27/b28 oversized-bucket
    star guard (_BUCKET_CAP): identical-embedding masses defeat plane
    scaling (they share every sig bit at any plane count), so buckets
    past the cap emit g-1 min-id star candidates instead of a C(g,2)
    clique materialized inside one agg-buffer row — stars still pass
    the exact-cosine verify and the component loop reconnects members
    through the representative.

    SemDeDup (Abbas et al. 2023) dedups WITHIN coarse embedding
    cells, accepting that cross-cell near-dups are missed — that is
    exactly the bucket restriction here, which is what makes the
    candidate stage O(n + Σ bucket²) instead of n². With n-scaled
    planes expected bucket occupancy stays ~16 at any corpus size, so
    the whole pipeline is: map-only signatures, one bucket-key
    shuffle, merge-pinned verify joins (the b39_lsh discipline — no
    static broadcast of array columns), a pairs-sized label loop with
    DISK_ONLY checkpoints, one keeper window. Clusters are a
    refinement of b94's exact clustering (pairs are a subset at the
    same threshold — pinned by tests), hence rows-only.
    """
    from kafka_streams_sandbox_spark.functions.vectors import dot
    from kafka_streams_sandbox_spark.operators.similarity import (
        _vectors,
        plane_count,
        signature_expr,
    )

    from kafka_streams_sandbox_spark.catalog import table_rowcount

    planes = plane_count(table_rowcount(spark, sf_dir, "embeddings"))
    v = _vectors(spark, sf_dir)
    sig = v.select("vec_id", F.expr(signature_expr(planes)).alias("sig"))
    candidates = _guarded_sig_pairs(sig)
    half = v.join(candidates.hint("merge"), v.vec_id == F.col("vec_a")).select(
        "vec_a", "vec_b", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    pairs = (
        # join 2 streams the pair rows (b27's r13 disk-wall class)
        v.hint("shuffle_hash").join(half, v.vec_id == F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot("ea", "e") / (F.col("na") * F.col("nrm"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _NEARDUP_COS)
        .select("vec_a", "vec_b")
    )
    return _semantic_keep(spark, sf_dir, pairs)


# ---------------------------------------------------------------------------
# SimHash near-dup (Hamming-distance dedup) — rows-only check
# ---------------------------------------------------------------------------
# Single fold over the hashed tokens updating all 64 bit-counters at
# once (an earlier per-bit form re-ran the token split 64× per row);
# the finish lambda turns the counter signs into the 64-bit signature.
# Since r14 the registered b28 computes the counters in a numpy kernel
# (functions/intkernels.simhash_from_token_hashes — exact integer
# arithmetic, bit-identical); this SQL form stays as the reference
# twin the kernel is pinned against (tests/test_int_kernels.py).
SIMHASH_EXPR = f"""
    aggregate(
        transform({TOKENS_EXPR}, t -> xxhash64(t)),
        transform(sequence(0, 63), j -> 0),
        (acc, h) -> zip_with(acc, sequence(0, 63), (c, j) ->
            c + CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END),
        acc -> aggregate(
            zip_with(acc, sequence(0, 63), (c, j) ->
                CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), j)
                     ELSE CAST(0 AS BIGINT) END),
            CAST(0 AS BIGINT), (s, x) -> s + x)
    )
"""


@query("b28_simhash_dedup")  # no SQL oracle: bit-level banding
def b28_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit token SimHash; near-dups = Hamming distance <= 8.

    Candidates come from matching any of four 16-bit chunks (pigeonhole:
    distance <= 8 over 64 bits can still miss — classic simhash-banding
    tradeoff, verified pairs are exact). Signature is map-only; the
    signature is one long, so it rides inside the bucket structs and
    verification is pure ``bit_count(xor)`` — no joins at all after
    the single (chunk, ckey) shuffle.
    """
    from kafka_streams_sandbox_spark.functions.intkernels import (
        simhash_from_token_hashes,
    )

    docs = documents_wide(spark, sf_dir)
    # token-less docs (NULL/empty/whitespace-only) all fold to
    # simhash 0 and would pairwise-match at hamming 0 — a quadratic
    # garbage bucket at corpus scale. The guard must be the real
    # token test: trim() strips only ASCII spaces, so the cheaper
    # length(trim(text)) > 0 form lets tab/newline-only docs through
    # (tests/test_hostile_inputs.py).
    #
    # r14 optimization (guide §4.2): the signature fold (SIMHASH_EXPR)
    # is an interpreted zip_with over 64 counters PER TOKEN
    # (CodegenFallback, ~64 element-ops/token — measured ~20 warm
    # core-s at sf0.1, the family's dominant stage); the token hash
    # itself is codegen'd native xxhash64. So the hash stays in the
    # JVM and only the counter arithmetic moves to numpy
    # (simhash_from_token_hashes) — exact integer math, bit-identical
    # signatures at any evaluation order, zero hash-parity surface
    # (pinned vs the SQL fold by tests/test_int_kernels.py).
    sig = (
        docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0"))
        .select(
            "doc_id",
            F.expr(f"transform({TOKENS_EXPR}, t -> xxhash64(t))").alias("th"),
        )
        .mapInPandas(simhash_from_token_hashes, "doc_id long, simhash long")
    )
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                """transform(sequence(0, 3), c -> named_struct('chunk', c,
                   'ckey', shiftright(simhash, c * 16) & 65535))"""
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.ckey")
    # Oversized-bucket guard (r5, the b27 treatment — b28 was the one
    # banded path never probed at 100x, and it OOMed the 8 g harness
    # there: the probe corpus's 24k-doc boilerplate group shares one
    # simhash, so its chunk bucket held the whole group in a single
    # collect_list agg-buffer row and the pair HOF emitted its ~289M-
    # struct clique). Bucket sizing + representative via a WINDOW
    # (min-of-struct carries the min doc's simhash; WindowExec
    # spills); buckets past _BUCKET_CAP emit linear star candidates —
    # past the cap the bucket itself is the duplication evidence, and
    # the verify (bit_count <= 8) still runs on every emitted pair.
    # Driver corpora never reach the cap.
    wck = Window.partitionBy("chunk", "ckey")
    sized = chunks.withColumn(
        "mn", F.min(F.struct("doc_id", "simhash")).over(wck)
    ).withColumn("bsz", F.count(F.lit(1)).over(wck))
    pairs_small = (
        sized.filter(F.col("bsz") <= _BUCKET_CAP)
        .groupBy("chunk", "ckey")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ds"))
        .select(
            F.explode(
                F.expr(
                    """flatten(transform(ds, x ->
                           filter(transform(ds, y ->
                                      struct(x.doc_id AS doc_a, x.simhash AS sim_a,
                                             y.doc_id AS doc_b, y.simhash AS sim_b)),
                                  p -> p.doc_a < p.doc_b)))"""
                )
            ).alias("p")
        )
        .select("p.*")
    )
    pairs_star = sized.filter(
        (F.col("bsz") > _BUCKET_CAP) & (F.col("doc_id") != F.col("mn.doc_id"))
    ).select(
        F.col("mn.doc_id").alias("doc_a"),
        F.col("mn.simhash").alias("sim_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
    )
    pairs = pairs_small.unionByName(pairs_star).dropDuplicates(
        ["doc_a", "doc_b"]  # same pair from several chunks
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"),
    ).filter(F.col("hamming") <= 8)


# ---------------------------------------------------------------------------
# b87: span-level duplicated-text coverage (substring dedup signal)
# ---------------------------------------------------------------------------
# Doc-level near-dup (b26/b27/b28) misses the dominant real-world
# duplication mode in web corpora: long verbatim SPANS (boilerplate,
# licenses, quoted passages) embedded in otherwise-distinct documents.
# The public "Deduplicating Training Data Makes Language Models
# Better" (Lee et al., 2022) result removes duplicated substrings of
# >= ~50 tokens via a suffix array; the distributed re-expression is
# positional k-token shingles: a span is duplicated iff its shingle
# occurs in >= 2 distinct documents, and per-doc coverage = tokens
# under any duplicated span. Reference parity: the sandbox
# (KStreamsToKTable.java) has no corpus layer; this is part of the
# mandated training-data-pipeline surface.
B87_SPAN = 8  # span length in tokens (suffix-array threshold analog)

B87_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    posting AS (
        SELECT doc_id, s.pos AS pos, s.sh AS sh
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {B87_SPAN - 2}),
                          i -> {{'pos': i,
                                 'sh': array_to_string(toks[i:i + {B87_SPAN - 1}], ' ')}})) AS s
            FROM t
            WHERE len(toks) >= {B87_SPAN}
        )
    ),
    dup AS (
        SELECT sh FROM posting GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS dup_spans,
               CAST(len(list_distinct(flatten(list(range(pos, pos + {B87_SPAN}))))) AS BIGINT)
                   AS covered_tokens
        FROM posting
        WHERE sh IN (SELECT sh FROM dup)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN COALESCE(len(t.toks), 0) >= {B87_SPAN}
                     THEN len(t.toks) - {B87_SPAN - 1} ELSE 0 END AS BIGINT) AS n_spans,
           COALESCE(p.dup_spans, 0) AS dup_spans,
           COALESCE(p.covered_tokens, 0) AS covered_tokens,
           CASE WHEN COALESCE(len(t.toks), 0) > 0
                THEN CAST(COALESCE(p.covered_tokens, 0) AS DOUBLE) / len(t.toks)
                ELSE 0.0 END AS dup_token_ratio
    FROM t LEFT JOIN perdoc p ON t.doc_id = p.doc_id
"""


def duplicated_spans(docs: DataFrame) -> DataFrame:
    """Core of b87 over any (doc_id, text) relation — see
    b87_duplicated_spans for the full design notes. Exposed so
    property tests can drive arbitrary in-memory corpora through the
    exact production lineage."""
    toks = docs.select(
        "doc_id", F.expr(TOKENS_EXPR).alias("toks")
    ).withColumn("n_tokens", F.coalesce(F.size("toks"), F.lit(0)))
    posting = (
        toks.filter(F.col("n_tokens") >= B87_SPAN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(sequence(1, size(toks) - {B87_SPAN - 1}),
                        i -> struct(i AS pos,
                                    xxhash64(concat_ws(' ', slice(toks, i, {B87_SPAN}))) AS sh))"""
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.sh")
    )
    dup = (
        posting.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    perdoc = (
        posting.join(dup, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.expr(f"sequence(pos, pos + {B87_SPAN - 1})")
                        )
                    )
                )
            ).cast("long").alias("covered_tokens"),
        )
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.when(
                F.col("n_tokens") >= B87_SPAN,
                F.col("n_tokens") - (B87_SPAN - 1),
            )
            .otherwise(0)
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_ratio"),
        )
    )


@query("b87_duplicated_spans", oracle=B87_ORACLE)
def b87_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-SPAN coverage: the fraction of each
    doc's tokens lying under some {B87_SPAN}-token span that appears
    verbatim in >= 2 distinct documents (Lee et al.'s substring-dedup
    signal, re-expressed as a distributed shingle pipeline).

    Plan (three uniform-key shuffles, never all-pairs):

        tokenize once -> positional 8-gram postings
            (doc_id, pos, xxhash64(span))              map-only explode
        groupBy span-hash -> distinct-doc count >= 2   shuffle 1 (64-bit
                                                       uniform keys)
        postings LEFT SEMI dup-hashes                  shuffle 2
        groupBy doc -> dup position list -> coverage   shuffle 3 (doc_id)
        left join back to all docs (zeros for clean)

    Coverage is exact interval union: dup positions p expand to token
    indices [p, p+{B87_SPAN - 1}]; array_distinct of the flattened
    expansions counts each covered token once, so overlapping spans
    don't double-count. Per-doc arrays are bounded by doc length.

    Scale: postings are ~tokens-per-corpus rows of (int64, int, int64)
    — narrow and uniform; the dup set is unbounded so the semi join is
    a shuffled join by construction (no broadcast hint; AQE may still
    broadcast when genuinely small). Hashing spans to int64 keeps the
    shuffle narrow; Jaccard-style collision risk is negligible (b26's
    argument), so the string-keyed oracle matches exactly. At 100 TB
    cap df per span (stopword-boilerplate posting lists) exactly as
    b26 documents.
    """
    return duplicated_spans(documents_wide(spark, sf_dir))


# ---------------------------------------------------------------------------
# b95: fuzzy entity resolution with MINHASH-BAND blocking (b76's
# corpus-appropriate blocking key)
# ---------------------------------------------------------------------------


@query("b95_fuzzy_match_minhash_blocked")  # rows-only: minhash banding
def b95_fuzzy_match_minhash_blocked(  # is engine-specific (no DuckDB twin)
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b76's fuzzy ER with MINHASH-BAND blocking (r6, VERDICT r5 Next
    #4): blocks are b27's (band, key) LSH bucket ids instead of
    (first-token, length-band), then the identical Levenshtein verify
    over the {_B76_HEAD}-char head.

    Why: blocking-key choice is data-dependent. On a small-vocabulary
    corpus (the 100x Zipf probe: 200 words), every (first-token,
    length-band) block is DENSE — ~495M candidate pairs with no
    purgeable mega-block, so b76 is quarantined there as a data
    property. Minhash bands key on full-document shingle-set
    similarity: two docs share a block w.p. ~ jaccard^{_ROWS_PER_BAND}
    per band, so random same-vocabulary docs (j ~ 0.1 => ~1e-8) almost
    never collide while genuine near-dups (j ~ 0.95) collide with
    near-certainty. Same plan discipline as the dedup family:
    map-only signatures -> one (band, key) shuffle -> in-block pair
    emission with the oversized-bucket STAR guard (_BUCKET_CAP — a
    near-identical clique emits g-1 star candidates, never a one-task
    C(g,2) clique) -> DISTINCT before the O(len^2) distance kernel so
    each pair pays it once -> two narrow equi-joins fetch the 60-char
    heads (no array columns cross these joins; no mandatory broadcast
    — the candidate set grows with sum(block^2), AQE may broadcast
    when genuinely small).

    Semantics note vs b76: minhash blocks recall FULL-DOCUMENT
    near-dups and verify their head edit distance; b76's length-band
    blocks recall same-prefix docs regardless of tail similarity. The
    two agree on the planted near-identical regime (contract-tested);
    rows-only at the driver because band bucketing has no SQL twin.
    Reference parity: the sandbox (KStreamsToKTable.java) has no
    corpus layer; this is part of the mandated training-data-pipeline
    surface.
    """
    from kafka_streams_sandbox_spark.operators.pipeline import (
        _B76_HEAD,
        _B76_MAX_DIST,
    )

    docs = documents_wide(spark, sf_dir)
    d = docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0")).select(
        "doc_id",
        F.expr(f"substring(trim(text), 1, {_B76_HEAD})").alias("head"),
    )
    bands = _minhash_band_keys(docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0")))
    # block guard: the family's ONE window-sized star-guard helper on
    # (band, key) blocks; distinct because a pair can collide in
    # several bands
    pairs = _guarded_sig_pairs(
        bands, keys=("band", "key"), id_col="doc_id", a="doc_a", b="doc_b"
    ).distinct()
    # fetch heads for the verify — candidates are narrow (two int64s)
    # and the head side is a 60-char projection of the corpus
    half = d.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a")).join(
        pairs, "doc_a"
    )
    verified = d.select(
        F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b")
    ).join(half, "doc_b")
    dist = F.levenshtein("head_a", "head_b")
    return verified.select(
        "doc_a", "doc_b", dist.cast("bigint").alias("edit_dist")
    ).filter(F.col("edit_dist") <= _B76_MAX_DIST)


# ---------------------------------------------------------------------------
# b97: exact-substring span REMOVAL — the corpus rewrite b87 only measures
# ---------------------------------------------------------------------------

B97_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    posting AS (
        SELECT doc_id, s.pos AS pos, s.sh AS sh
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {B87_SPAN - 2}),
                          i -> {{'pos': i,
                                 'sh': array_to_string(toks[i:i + {B87_SPAN - 1}], ' ')}})) AS s
            FROM t
            WHERE len(toks) >= {B87_SPAN}
        )
    ),
    dup AS (
        SELECT sh, MIN(doc_id) AS keeper_doc
        FROM posting GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    rm AS (
        SELECT p.doc_id,
               list_distinct(flatten(list(range(p.pos, p.pos + {B87_SPAN}))))
                   AS rm
        FROM posting p JOIN dup d USING (sh)
        WHERE p.doc_id != d.keeper_doc
        GROUP BY p.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(r.rm), 0) AS BIGINT) AS removed_tokens,
           CAST(COALESCE(len(t.toks), 0) - COALESCE(len(r.rm), 0) AS BIGINT)
               AS kept_tokens,
           COALESCE(array_to_string(
               list_filter(
                   list_transform(range(1, COALESCE(len(t.toks), 0) + 1),
                                  i -> CASE WHEN NOT list_contains(
                                                COALESCE(r.rm, []), i)
                                            THEN t.toks[i] END),
                   x -> x IS NOT NULL), ' '), '') AS clean_text
    FROM t LEFT JOIN rm r ON t.doc_id = r.doc_id
"""


def span_removal_rewrite(docs: DataFrame, tokens: bool = False) -> DataFrame:
    """Core of b97 over any (doc_id, text) relation — exposed (like
    ``duplicated_spans``) so property tests can drive arbitrary
    planted corpora through the exact production lineage.
    ``tokens=True`` takes a pre-tokenized (doc_id, toks) relation
    instead (r10, VERDICT r9 #2a): the graded funnel checkpoints the
    paragraph-rewritten token array ONCE and this stage must not
    re-tokenize the corpus it already has as arrays."""
    toks = docs.select(
        "doc_id",
        (F.col("toks") if tokens else F.expr(TOKENS_EXPR)).alias("toks"),
    ).withColumn("n_tokens", F.coalesce(F.size("toks"), F.lit(0)))
    posting = (
        toks.filter(F.col("n_tokens") >= B87_SPAN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(sequence(1, size(toks) - {B87_SPAN - 1}),
                        i -> struct(i AS pos,
                                    xxhash64(concat_ws(' ', slice(toks, i, {B87_SPAN}))) AS sh))"""
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.sh")
    )
    # keeper = min doc_id per duplicated span: nd and min are both
    # partial-aggregatable, so this is one map-side-combined shuffle
    # on the uniform 64-bit span hash — never a collect_list
    dup = (
        posting.groupBy("sh")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("nd") >= 2)
        .select("sh", "keeper_doc")
    )
    # shuffled equi-join on sh (dup is unbounded — one row per
    # duplicated span — so no mandatory broadcast; AQE may still
    # broadcast when genuinely small)
    marked = posting.join(dup, "sh").filter(
        F.col("doc_id") != F.col("keeper_doc")
    )
    return rewrite_without_marked_spans(toks, marked)


def rewrite_without_marked_spans(
    toks: DataFrame, marked: DataFrame, span: int = B87_SPAN
) -> DataFrame:
    """Interval-union + linear rebuild shared by b97 (duplicated-span
    marks, span=B87_SPAN) and b119 (benchmark-contaminated-span
    marks, span=13): `marked` is any (doc_id, pos) relation of
    `span`-token span starts to remove; `toks` the (doc_id, toks,
    n_tokens) relation to rewrite. Emits (doc_id, n_tokens,
    removed_tokens, kept_tokens, clean_text)."""
    # exact interval union per doc. The agg buffer holds DISTINCT span
    # STARTS (collect_set, <= n_spans <= doc length), never the
    # {B87_SPAN}x-expanded position lists — expanding inside the agg
    # buffer would hold 8x the doc length in one unspillable row for
    # a heavily-duplicated long doc. Expansion + union happen in the
    # projection AFTER the agg, where the row is transient.
    rm = (
        marked.groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
        .select(
            "doc_id",
            F.array_distinct(
                F.flatten(
                    F.expr(
                        f"transform(starts, p -> sequence(p, p + {span - 1}))"
                    )
                )
            ).alias("rm"),
        )
    )
    return (
        toks.join(rm, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.size("rm"), F.lit(0)).cast("long").alias(
                "removed_tokens"
            ),
            (
                F.col("n_tokens") - F.coalesce(F.size("rm"), F.lit(0))
            ).cast("long").alias("kept_tokens"),
            # r7 (VERDICT r6 Next #5): the rewrite is LINEAR per doc.
            # The r6 form filtered tokens with array_contains(rm, i) —
            # O(n_tokens x |rm|) inside one row, quadratic for a
            # pathological fully-duplicated mega-doc (the planted
            # hostile case: 2 x 200k tokens => 4e10 compares). Kept
            # positions via array_except(sequence, rm) instead: Spark
            # evaluates ArrayExcept over a hash set for primitive
            # types and preserves first-array order, so this is
            # O(n_tokens + |rm|) with identical output — no threshold
            # branch, no second corpus scan, no extra shuffle (the
            # posexplode + anti-join alternative named in r6 would
            # have cost both).
            F.expr(
                "CASE WHEN size(coalesce(toks, array())) > 0 THEN "
                "concat_ws(' ', transform("
                "  array_except(sequence(1, size(toks)),"
                "               coalesce(rm, array())),"
                "  p -> element_at(toks, p))) ELSE '' END"
            ).alias("clean_text"),
        )
    )


@query("b97_span_removal_rewrite", oracle=B97_ORACLE)
def b97_span_removal_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a corpus REWRITE (r6): remove every
    cross-doc-duplicated {B87_SPAN}-token span from all but one
    keeper occurrence and emit the cleaned text — Lee et al. 2022's
    ExactSubstr treatment as an output transform, where b87 only
    measures the coverage signal. Reference parity: the sandbox
    (KStreamsToKTable.java) has no corpus layer; this is part of the
    mandated training-data-pipeline surface.

    Semantics (token-granular, keep-first at DOC granularity): a span
    hash seen in >= 2 distinct docs picks keeper_doc = min(doc_id);
    every occurrence OUTSIDE the keeper doc marks its token interval
    [pos, pos+{B87_SPAN - 1}] for removal. A doc's removed set is the
    exact interval UNION of its marks (overlapping spans never
    double-count — b87's argument), and clean_text is the kept tokens
    rejoined on single spaces. The keeper doc keeps all its own
    occurrences; within-doc repetition is b63's signal, not this
    operator's.

    Plan (b87's three uniform-key shuffles + one doc-id join, never
    all-pairs): postings are map-only; keeper election is min/count
    partial aggregation on the 64-bit span hash (no collect_list —
    boilerplate spans with billions of postings combine map-side);
    the mark join is a shuffled equi-join on sh; interval union
    groups by doc_id with per-doc bounded arrays; the final rewrite
    is a doc_id equi-join back to the token table. The token arrays
    (the only wide column) cross exactly one shuffle — the final
    doc_id join — and clean_text materializes map-side after it.

    Engine exactness: Spark keys spans by xxhash64, the DuckDB oracle
    by the raw span string (b26/b87's negligible-collision argument);
    counts and clean_text are integer/string — no float drift.

    Known per-doc term: the rewrite filter is array_contains(rm, i)
    per token — O(n_tokens x |rm|) inside one row, fine at real doc
    lengths (10^4 tokens => <=10^8 cheap int compares worst case)
    but quadratic for a pathological 10^6-token fully-duplicated doc.
    The linear-alternative shape if a corpus ever needs it: posexplode
    tokens, LEFT ANTI join (doc_id, pos) against the removal
    positions, re-aggregate ordered — trades the in-row term for two
    token-level shuffles.
    """
    return span_removal_rewrite(documents_wide(spark, sf_dir))


# ---------------------------------------------------------------------------
# b98: incremental NEAR-dup at ingest — new batch vs the standing corpus
# index (b68's incremental shape x b27's band geometry)
# ---------------------------------------------------------------------------


@query("b98_incremental_neardup")  # rows-only: band bucketing is
def b98_incremental_neardup(  # engine-specific (no DuckDB twin)
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time near-dup check of a new batch against the standing
    corpus (r6): b68 answers "have we seen EXACTLY this doc" at ingest;
    b98 answers "have we seen roughly this doc" — each new doc gets a
    verdict (neardup_corpus | unique) plus its best corpus match and
    the exact jaccard. Batch split mirrors b68 (doc_id % 10 >= 8 is
    the arriving batch; the rest is the standing corpus).

    Scale shape — the whole point vs re-running b27 over
    corpus + batch: the corpus side is only ever touched as (a) its
    BAND-KEY INDEX — in production a standing materialized table
    maintained at ingest (the bucketed-store discipline of A8), here
    derived in-query from the same `_minhash_band_keys` geometry — and
    (b) a candidate-bounded semi-join fetch of shingle arrays for the
    few docs that collide with the batch. The corpus is never
    self-joined, never re-banded per ingest, and never carries arrays
    through a shuffle wider than the candidate set. Cost per ingest is
    O(batch bands + index join + candidates), independent of
    corpus-wide pair structure.

    Guards: oversized CORPUS buckets (a boilerplate band key shared by
    g >> _BUCKET_CAP standing docs) collapse to their _REP_N min-id
    representatives before the join — each batch doc then verifies
    against a CONSTANT number of representatives of the boilerplate
    mass instead of fanning out g ways (the incremental analog of the
    b27/b28 star guard; a near-dup of a homogeneous mass scores
    >= 0.8 against any rep, and heterogeneous buckets get N chances
    instead of one — see guarded_band_index for the residual recall
    caveat). The batch x index join is a plain shuffled
    equi-join on (band, key) — no mandatory broadcast (a batch is
    unbounded in general; AQE broadcasts when genuinely small), and
    the verify joins fetch shingle arrays as JOIN-OUTPUT ATTRIBUTES
    through merge-pinned equi-joins (b27's CollapseProject and
    static-BHJ lessons).

    Rows-only at the driver (banding has no SQL twin — b27/b95's
    label); the planted contract pins recall (a mutated copy of a
    standing doc is flagged with its source) and the test re-derives
    every emitted jaccard exactly in Python (precision). Reference
    parity: the closest reference shape is the KTable lookup at
    ingest (KStreamsToKTable.java:78-81); the corpus layer itself is
    driver-mandated.
    """
    docs = documents_wide(spark, sf_dir)
    tokened = docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0"))
    is_new = (F.col("doc_id") % 10) >= 8
    return incremental_neardup_verdicts(
        batch=tokened.filter(is_new),
        batch_all_ids=docs.filter(is_new).select("doc_id"),
        corpus=tokened.filter(~is_new),
        index_guarded=guarded_band_index(tokened.filter(~is_new)),
    )


_REP_N = 16  # representatives kept per oversized index bucket (r7)


def guarded_band_index(corpus: DataFrame) -> DataFrame:
    """(doc_ref, band, key) standing band index over token-bearing
    corpus docs, with the oversized-bucket guard applied on the INDEX
    side: whole buckets up to _BUCKET_CAP, the _REP_N min-id
    representatives past it (window sizing/ranking spills at any
    bucket size — never a collect_list). In production this is a
    materialized table maintained at ingest; a28 precomputes it ONCE
    outside the stream.

    Why _REP_N representatives and not one (r7, VERDICT r6 Next #2):
    a band collision needs only one matching 8-row minhash slice, so
    an oversized bucket is not necessarily a homogeneous mass — a
    shared-boilerplate band key over otherwise-different docs is the
    same non-discriminative-key shape b76's block purge handles. With
    a single min-id rep, a batch doc whose only true neighbor was a
    dropped member scored < 0.8 against the rep and read "unique"
    (the r6 recall edge — planted in
    test_incremental_neardup_heterogeneous_oversized_bucket). _REP_N
    min-id reps bound the per-bucket probe fan-out at a constant
    while giving heterogeneous buckets N chances instead of one.

    Residual recall caveat (documented contract, not silent): a true
    neighbor that sits past the _REP_N smallest doc_ids of EVERY
    bucket it shares with the batch doc is still invisible to the
    verify; recall for such docs rests on b27's full-corpus pass (the
    offline sweep), not the ingest check. Homogeneous masses are
    unaffected — any rep of a near-identical mass still scores >= 0.8.
    """
    index = _minhash_band_keys(corpus)
    wbk = Window.partitionBy("band", "key")
    word = Window.partitionBy("band", "key").orderBy("doc_id")
    sized = index.withColumn(
        "rep_rk", F.row_number().over(word)
    ).withColumn("bsz", F.count(F.lit(1)).over(wbk))
    return sized.filter(
        (F.col("bsz") <= _BUCKET_CAP) | (F.col("rep_rk") <= _REP_N)
    ).select(F.col("doc_id").alias("doc_ref"), "band", "key")


def incremental_neardup_verdicts(
    batch: DataFrame,
    batch_all_ids: DataFrame,
    corpus: DataFrame,
    index_guarded: DataFrame,
    release_into: list | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """b98's verdict core over explicit inputs, shared with the a28
    streaming twin (which calls it per micro-batch inside foreachBatch
    against a precomputed static index): token-bearing ``batch`` docs
    band and verify against ``index_guarded`` / ``corpus``; every id
    in ``batch_all_ids`` gets a verdict row. A doc's verdict depends
    only on (its own text, the standing corpus) — never on other batch
    members — which is exactly what makes stream == batch regardless
    of micro-batch boundaries.

    ``release_into`` (r7, ADVICE r6): the candidate table is lazily
    DISK_ONLY-checkpointed below; a one-shot batch caller can leave
    the blocks to session teardown, but a long-lived streaming caller
    invoking this per micro-batch must release them or checkpoint
    blocks accumulate for the stream's lifetime. Pass a list and the
    checkpointed handle is appended for the caller to ``.unpersist()``
    AFTER materializing the verdicts (unpersisting earlier would
    recompute the banding the checkpoint exists to avoid).

    ``probe`` (r7): optionally pass the batch's precomputed
    ``_minhash_band_keys`` output — the self-seeding caller (b99/a29)
    needs the same band keys again to build its index delta, and
    banding the batch once is the point of passing it."""
    if probe is None:
        probe = _minhash_band_keys(batch)
    # candidates is referenced by THREE consumers (both id-set semi
    # filters and the verify join); without lineage truncation each
    # one re-runs BOTH banding passes (9 corpus scans / 29 exchanges
    # measured at sf0.1 — the b27 four-consumer lesson). One lazy
    # DISK_ONLY checkpoint of this NARROW table (two int64s) computes
    # the banding once; checkpoint() on a real cluster.
    from pyspark import StorageLevel

    candidates = (
        probe.select(F.col("doc_id").alias("doc_new"), "band", "key")
        .join(index_guarded, ["band", "key"])
        .select("doc_new", "doc_ref")
        .distinct()  # a pair can collide in several bands
        .transform(lazy_checkpoint)
    )
    if release_into is not None:
        release_into.append(candidates)
    # verify: shingle only candidate-participating docs, arrays as
    # join-output attributes through merge-pinned joins (b27's stage)
    new_ids = candidates.select(F.col("doc_new").alias("doc_id")).distinct()
    ref_ids = candidates.select(F.col("doc_ref").alias("doc_id")).distinct()
    sh_new = batch.join(new_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_new"),
        F.expr(char_ngrams_hashed_expr(5)).alias("sh_n"),
    )
    sh_ref = corpus.join(ref_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_ref"),
        F.expr(char_ngrams_hashed_expr(5)).alias("sh_r"),
    )
    half = sh_new.join(candidates.hint("merge"), "doc_new")
    verified = sh_ref.join(half.hint("merge"), "doc_ref").select(
        "doc_new", "doc_ref", _jaccard("sh_n", "sh_r").alias("jaccard")
    ).filter(F.col("jaccard") >= 0.8)
    # best standing match per new doc: highest jaccard, min-id tiebreak
    wbest = Window.partitionBy("doc_new").orderBy(
        F.col("jaccard").desc(), F.col("doc_ref")
    )
    best = (
        verified.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select("doc_new", "doc_ref", "jaccard")
    )
    # verdicts for the WHOLE batch, token-less docs included (they
    # can't near-dup anything -> unique with a NULL match, b68's
    # every-doc-gets-a-row shape)
    return (
        batch_all_ids
        .join(best.withColumnRenamed("doc_new", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("doc_ref").alias("match_id"),
            "jaccard",
            F.when(F.col("doc_ref").isNotNull(), "neardup_corpus")
            .otherwise("unique")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# b99: SELF-SEEDING ingest near-dup — accepted docs join the standing
# index, so batch N+1 near-dups against batch N (a26's first-wins
# discipline applied to b98's band geometry)
# ---------------------------------------------------------------------------


def admit_index_delta(index: DataFrame, delta_bands: DataFrame) -> DataFrame:
    """First-wins cap admission of newly-accepted docs' band keys into
    the standing index: a (band, key) bucket admits members until it
    holds _BUCKET_CAP entries; later arrivals are left unindexed for
    that band (their OTHER bands still index them, and the bucket's
    standing members already witness the boilerplate mass).

    This is the INCREMENTAL form of guarded_band_index's bound and
    deliberately not identical to it: the static guard re-elects
    _REP_N min-id reps over a complete oversized bucket, while an
    ingest index must never rewrite standing entries — first-arrived
    membership is the only rule that needs no retroactive edits (the
    same reason a26's exact dedup is first-wins). Both keep every
    bucket <= _BUCKET_CAP, so probe fan-out stays constant either
    way. Within one delta, arrival order ties break by doc_id
    (row_number over the bucket — spills, never a collect)."""
    counts = index.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bsz"))
    wd = Window.partitionBy("band", "key").orderBy("doc_id")
    return (
        delta_bands.withColumn("rk", F.row_number().over(wd))
        .join(counts, ["band", "key"], "left")
        .filter(F.col("rk") + F.coalesce(F.col("bsz"), F.lit(0)) <= _BUCKET_CAP)
        .select(F.col("doc_id").alias("doc_ref"), "band", "key")
    )


def selfseed_ingest_round(
    batch: DataFrame,
    batch_all_ids: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    release_into: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One ingest round of the self-seeding pipeline, shared verbatim
    by b99 (batch iteration) and a29 (foreachBatch): verdict the batch
    against the standing (corpus, index) with b98's core. Returns
    (verdicts, probe) where probe is the batch's RAW band keys —
    NOT an admitted delta: the caller materializes verdicts first,
    then derives the cap-admitted delta via
    ``selfseed_delta_from_verdicts(probe, written_verdicts, index)``
    so the verdict plan runs exactly once and rejected near-dups
    never seed (first-wins; admit_index_delta enforces the cap).

    The probe frame is lazily DISK_ONLY-checkpointed here (r8, ADVICE
    r7): it has TWO consumers — the verdict plan's candidate join and
    the caller's delta derivation — and without truncation the second
    re-ran the batch's full banding lineage once more per round. The
    handle rides ``release_into`` like the candidate table, so
    streaming callers release it with the others after the delta is
    written."""
    from pyspark import StorageLevel

    probe = _minhash_band_keys(batch).localCheckpoint(  # loop-fed
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    if release_into is not None:
        release_into.append(probe)
    verdicts = incremental_neardup_verdicts(
        batch=batch,
        batch_all_ids=batch_all_ids,
        corpus=corpus,
        index_guarded=index,
        release_into=release_into,
        probe=probe,
    )
    return verdicts, probe


def selfseed_delta_from_verdicts(
    probe_bands: DataFrame, verdicts: DataFrame, index: DataFrame
) -> DataFrame:
    """Index delta for one ingest round: accepted ids' band keys,
    cap-admitted. Split from selfseed_ingest_round so callers derive
    it from the MATERIALIZED verdicts (checkpointed frame or the
    written parquet), not a second run of the verdict plan."""
    accepted = verdicts.filter(F.col("status") == "unique").select("doc_id")
    return admit_index_delta(
        index, probe_bands.join(accepted, "doc_id", "left_semi")
    )


@query("b99_selfseed_neardup")  # rows-only: band geometry + order-
def b99_selfseed_neardup(  # dependent ingest (no DuckDB twin)
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-seeding ingest near-dup (r7, VERDICT r6 Next #3): b98
    verdicts each batch against a FROZEN corpus, so two near-identical
    docs arriving in different batches both read "unique". b99 closes
    that production gap — accepted (unique) docs join the standing
    band index and shingle corpus, so batch N+1 near-dups against
    batch N. Deliberately ORDER-DEPENDENT (first-wins: the earlier
    arrival is the keeper), registered alongside b98's static
    contract, not instead of it.

    Ingest decomposition is data-defined so batch and stream agree:
    seq = doc_id % 10, the standing corpus is seq < 8, and seqs 8, 9
    ingest in order — within a seq, verdicts see only strictly-earlier
    seqs (b98's within-batch independence), which makes the result a
    pure function of (corpus, seq assignment), not of engine batching.

    Scale shape: per round the corpus side is touched exactly as in
    b98 (index join + candidate-bounded shingle fetch); the index
    grows by the ACCEPTED docs' bands only, cap-admitted first-wins
    (admit_index_delta), and is never re-banded or re-elected. Per-
    round verdicts are eagerly DISK_ONLY-checkpointed — narrow
    batch-sized rows — so round N+1's lineage starts from materialized
    state instead of re-running round N (and the accepted-id derivation
    reads the checkpoint, not a second verdict run).

    Reference parity: the standing keyed store continuously updated
    by the stream is the KTable state-store pattern
    (KStreamsToKTable.java:78-81) — note the ordering discipline
    INVERTS: the KTable upsert is last-wins (a later record replaces
    the stored value), while dedup admission is first-wins (the
    earlier arrival is the keeper and later near-dups are rejected);
    a26 is its exact-fingerprint form, b99 the band-geometry form.
    Planted contract: a seq-9 near-copy of an ACCEPTED seq-8 doc is
    flagged with that doc as its match (the cross-batch case b98
    cannot see); a seq-9 copy of a REJECTED seq-8 doc matches the
    doc's own standing keeper, proving rejected docs never seed.
    """
    from pyspark import StorageLevel

    from kafka_streams_sandbox_spark.session import release_local_checkpoint

    docs = documents_wide(spark, sf_dir)
    tokened = docs.filter(F.expr(f"size({TOKENS_EXPR}) > 0"))
    corpus = tokened.filter((F.col("doc_id") % 10) < 8)
    # seed index persisted ONCE (r7 review fix): the corpus banding
    # lineage (scan + shingle explode + 32-min agg + windows) is the
    # dominant cost, and without the persist every round's two eager
    # consumers (candidate join, admission counts) re-ran it — ~4x at
    # the 100x probe. Safe to unpersist at the end: the returned
    # frame depends only on the eager verdict checkpoints.
    seed_index = guarded_band_index(corpus).persist(StorageLevel.DISK_ONLY)
    seed_index.count()
    index = seed_index
    rounds = []
    try:
        for seq in (8, 9):
            sel = (F.col("doc_id") % 10) == seq
            batch = tokened.filter(sel)
            handles: list = []
            verdicts, probe = selfseed_ingest_round(
                batch=batch,
                batch_all_ids=docs.filter(sel).select("doc_id"),
                corpus=corpus,
                index=index,
                release_into=handles,
            )
            verdicts = verdicts.localCheckpoint(
                eager=True, storageLevel=StorageLevel.DISK_ONLY
            )
            rounds.append(verdicts.withColumn("seq", (F.col("doc_id") % 10)))
            accepted = verdicts.filter(F.col("status") == "unique").select(
                "doc_id"
            )
            corpus = corpus.unionByName(
                batch.join(accepted, "doc_id", "left_semi")
            )
            # delta checkpointed too: the grown index has multiple
            # round-N+1 consumers (candidate join + admission counts),
            # each of which would otherwise re-run this round's
            # banding lineage
            index = index.unionByName(
                selfseed_delta_from_verdicts(
                    probe, verdicts, index
                ).localCheckpoint(
                    eager=True, storageLevel=StorageLevel.DISK_ONLY
                )
            )
            # the per-round candidate checkpoints (release_into) are
            # consumed once the verdicts materialize above — release
            # them here instead of leaking one set per round per
            # invocation (r7 review fix; the a28/a29 discipline)
            for h in handles:
                release_local_checkpoint(h)
    finally:
        seed_index.unpersist()
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.select("doc_id", "seq", "match_id", "jaccard", "status")


# ---------------------------------------------------------------------------
# b101: exact-substring rewrite at MAXIMAL-RUN granularity (the
# suffix-array-faithful refinement of b97 — VERDICT r6 Next #8)
# ---------------------------------------------------------------------------

B101_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    posting AS (
        SELECT doc_id, s.pos AS pos, s.sh AS sh
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - {B87_SPAN - 2}),
                          i -> {{'pos': i,
                                 'sh': array_to_string(toks[i:i + {B87_SPAN - 1}], ' ')}})) AS s
            FROM t
            WHERE len(toks) >= {B87_SPAN}
        )
    ),
    dup AS (
        SELECT sh FROM posting GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    covered AS (
        SELECT p.doc_id, p.pos,
               p.pos - ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                          ORDER BY p.pos) AS grp
        FROM posting p WHERE p.sh IN (SELECT sh FROM dup)
    ),
    runs AS (
        SELECT doc_id, MIN(pos) AS a, MAX(pos) + {B87_SPAN - 1} AS b
        FROM covered GROUP BY doc_id, grp
    ),
    runh AS (
        SELECT r.doc_id, r.a, r.b,
               array_to_string(t.toks[r.a:r.b], ' ') AS content
        FROM runs r JOIN t USING (doc_id)
    ),
    elect AS (
        SELECT content, MIN(doc_id) AS keeper FROM runh GROUP BY content
    ),
    rm AS (
        SELECT rh.doc_id,
               list_distinct(flatten(list(range(rh.a, rh.b + 1)))) AS rm
        FROM runh rh JOIN elect e USING (content)
        WHERE rh.doc_id != e.keeper
        GROUP BY rh.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(len(r.rm), 0) AS BIGINT) AS removed_tokens,
           CAST(COALESCE(len(t.toks), 0) - COALESCE(len(r.rm), 0) AS BIGINT)
               AS kept_tokens,
           COALESCE(array_to_string(
               list_filter(
                   list_transform(range(1, COALESCE(len(t.toks), 0) + 1),
                                  i -> CASE WHEN NOT list_contains(
                                                COALESCE(r.rm, []), i)
                                            THEN t.toks[i] END),
                   x -> x IS NOT NULL), ' '), '') AS clean_text
    FROM t LEFT JOIN rm r ON t.doc_id = r.doc_id
"""


def exact_substring_run_rewrite(docs: DataFrame) -> DataFrame:
    """Core of b101 over any (doc_id, text) relation — exposed (the
    duplicated_spans / span_removal_rewrite convention) so property
    and planted tests drive arbitrary corpora through the production
    lineage."""
    toks = docs.select(
        "doc_id", F.expr(TOKENS_EXPR).alias("toks")
    ).withColumn("n_tokens", F.coalesce(F.size("toks"), F.lit(0)))
    posting = (
        toks.filter(F.col("n_tokens") >= B87_SPAN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"""transform(sequence(1, size(toks) - {B87_SPAN - 1}),
                        i -> struct(i AS pos,
                                    xxhash64(concat_ws(' ', slice(toks, i, {B87_SPAN}))) AS sh))"""
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.sh")
    )
    dup = (
        posting.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    covered = posting.join(dup, "sh").select("doc_id", "pos")
    # gaps-and-islands: consecutive duplicated window starts chain
    # into one maximal run (pos - row_number is constant within a
    # run); WindowExec spills, so a fully-duplicated mega-doc is one
    # long sorted stream, never an in-memory buffer
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        covered.withColumn(
            "grp", F.col("pos") - F.row_number().over(wd)
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("a"),
            (F.max("pos") + F.lit(B87_SPAN - 1)).alias("b"),
        )
        .select("doc_id", "a", "b")
    )
    # run CONTENT key: one doc_id equi-join fetches the token array as
    # a join-output attribute (the b27 CollapseProject discipline) and
    # the slice hash materializes map-side in the same projection
    run_rows = runs.join(toks.select("doc_id", "toks"), "doc_id").select(
        "doc_id",
        "a",
        "b",
        F.expr(
            "xxhash64(concat_ws(' ', slice(toks, a, b - a + 1)))"
        ).alias("rh"),
    )
    # keeper per run content via WINDOW-min, not groupBy+self-join:
    # run_rows would otherwise have two consumers and the whole
    # posting+chaining lineage would compute twice (and window-min
    # spills at any group size — the b55 idiom)
    wrh = Window.partitionBy("rh")
    rm = (
        run_rows.withColumn("keeper", F.min("doc_id").over(wrh))
        .filter(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        # agg buffer holds (a, b) PAIRS (<= runs per doc), the
        # expansion to positions happens in the transient projection
        # after the agg — the b97 spill discipline
        .agg(F.collect_list(F.struct("a", "b")).alias("rs"))
        .select(
            "doc_id",
            F.array_distinct(
                F.flatten(F.expr("transform(rs, r -> sequence(r.a, r.b))"))
            ).alias("rm"),
        )
    )
    return (
        toks.join(rm, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.size("rm"), F.lit(0)).cast("long").alias(
                "removed_tokens"
            ),
            (
                F.col("n_tokens") - F.coalesce(F.size("rm"), F.lit(0))
            ).cast("long").alias("kept_tokens"),
            F.expr(
                "CASE WHEN size(coalesce(toks, array())) > 0 THEN "
                "concat_ws(' ', transform("
                "  array_except(sequence(1, size(toks)),"
                "               coalesce(rm, array())),"
                "  p -> element_at(toks, p))) ELSE '' END"
            ).alias("clean_text"),
        )
    )


@query("b101_exact_substring_runs", oracle=B101_ORACLE)
def b101_exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b97 at MAXIMAL-RUN granularity (r7, VERDICT r6 Next #8): chain
    consecutive duplicated {B87_SPAN}-token window starts into maximal
    runs per doc (gaps-and-islands over the posting list), elect the
    keep-first keeper per run CONTENT (min doc_id among docs whose
    maximal run is byte-identical), and remove non-keeper run extents.
    This is the closer analog of Lee et al. 2022's suffix-array
    ExactSubstr, which operates on maximal duplicated substrings as
    units — b97 elects keepers per WINDOW, so a doc that is keeper
    for some windows of a run but not others gets chimera-rewritten.

    The observable divergence (pinned by the planted contract test):
    a doc whose duplicated window sits inside a LONGER context that
    nobody else shares has a unique maximal run — b101 keeps it
    (its content survives nowhere else at run granularity), where
    b97 removes the embedded window because some other doc pair
    duplicated that 8-token slice. Both remain exact interval unions;
    b97 stays registered as the window-granular form whose per-span
    keeper is independently useful (its keeper set equals b87's
    measurement).

    Plan shape — unchanged from the b87/b97 posting-list family plus
    one run-content shuffle: postings (map-only explode), dup
    election and run-content election are partial aggregations on
    uniform 64-bit hashes, run chaining is a spilling per-doc window,
    and token arrays cross exactly the two doc_id equi-joins (content
    hash fetch + final rewrite), never a wider shuffle. The rewrite
    projection is the linear array_except form. Engine exactness:
    Spark keys runs by xxhash64, the DuckDB oracle by the raw run
    string (b97's negligible-collision argument).
    """
    return exact_substring_run_rewrite(documents_wide(spark, sf_dir))


# ---------------------------------------------------------------------------
# B105: winnowing fingerprints (Schleimer et al. 2003) — cross-doc
# candidate pairs from the COMPRESSED posting set, fully oracle-backed
# ---------------------------------------------------------------------------
# The MOSS/plagiarism-detection primitive the exact-substring family
# approximates from the other direction: hash every word 4-gram, then
# keep only each 4-window's MINIMUM hash. The winnowing guarantee:
# any shared token run of length >= w + n - 1 (= 7 here) contributes
# at least one IDENTICAL selected print to both docs, while the
# posting volume drops to ~2/(w+1) of the full shingle index — the
# reason a 100 TB corpus winnows before it inverts (b26 explodes
# EVERY shingle; this explodes the selected ~third).
#
# Everything is integer arithmetic mod the b53 prime, computed by the
# SAME fold in Spark and DuckDB, so unlike the MinHash/LSH family the
# candidate set itself is engine-exact and the driver hash-verifies
# it: token hash = b53's per-char poly fold; gram hash = explicit
# 4-term poly fold over token hashes (every step < 1e9 * 1e6 << 2^63
# under ANSI); winnow min = plain numeric array_min.
_WIN_N = 4  # tokens per gram
_WIN_W = 4  # grams per winnow window
_WIN_B2 = 1_000_003  # token-hash combining base (coprime to _RH items)
_WIN_DF_CAP = 50  # prints in more docs are boilerplate: not evidence
_WIN_MIN_SHARED = 2  # >= 2 shared prints to call a candidate pair

_TOKHASH_SPARK = (
    "transform(toks, tok -> aggregate(split(tok, ''), CAST(0 AS BIGINT), "
    "(h, c) -> pmod(h * 31 + ascii(c), 1000000007)))"
)
_TOKHASH_DUCK = (
    "list_transform(toks, tok -> list_reduce("
    "[CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array(tok, ''), "
    "c -> CAST(ord(c) AS BIGINT)), (h, c) -> (h * 31 + c) % 1000000007))"
)


def _gram4_spark() -> str:
    g = "element_at(th, i)"
    for j in (1, 2, 3):
        g = f"pmod({g} * {_WIN_B2} + element_at(th, i + {j}), 1000000007)"
    return f"""CASE WHEN size(th) < {_WIN_N}
        THEN array(aggregate(th, CAST(0 AS BIGINT),
                   (a, b) -> pmod(a * {_WIN_B2} + b, 1000000007)))
        ELSE transform(sequence(1, size(th) - {_WIN_N - 1}), i -> {g}) END"""


def _gram4_duck() -> str:
    g = "th[i]"
    for j in (1, 2, 3):
        g = f"(({g} * {_WIN_B2} + th[i + {j}]) % 1000000007)"
    return f"""CASE WHEN len(th) < {_WIN_N}
        THEN [list_reduce(th, (a, b) -> (a * {_WIN_B2} + b) % 1000000007)]
        ELSE list_transform(range(1, len(th) - {_WIN_N - 2}), i -> {g}) END"""


_B105_CTES = f"""t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents WHERE text IS NOT NULL
    ), th AS (
        SELECT doc_id, {_TOKHASH_DUCK} AS th
        FROM t WHERE len(toks) > 0
    ), g AS (
        SELECT doc_id, {_gram4_duck()} AS gh FROM th
    ), w AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(gh) < {_WIN_W} THEN [list_min(gh)]
                    ELSE list_transform(range(1, len(gh) - {_WIN_W - 2}),
                         i -> list_min(gh[i:i+{_WIN_W - 1}])) END) AS prints
        FROM g
    ), p AS (
        SELECT doc_id, unnest(prints) AS pr FROM w
    ), live AS (
        SELECT pr FROM p GROUP BY pr
        HAVING COUNT(*) BETWEEN 2 AND {_WIN_DF_CAP}
    )"""

B105_ORACLE = f"""
    WITH {_B105_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_prints
    FROM p a JOIN live USING (pr) JOIN p b USING (pr)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WIN_MIN_SHARED}
"""


def _winnow_posting_live(spark: SparkSession, sf_dir: str):
    """(posting, live) for the winnowing family — b105's selection +
    df-guard lineage, shared with b115's capped coverage form (r9) so
    the print arithmetic cannot drift.

    posting = the checkpointed (doc_id, pr) selected-print relation;
    live = prints with 2 <= df <= {_WIN_DF_CAP} (boilerplate-guarded
    duplication evidence)."""
    from pyspark import StorageLevel

    from kafka_streams_sandbox_spark.functions.intkernels import (
        winnow_prints_kernel,
    )

    docs = documents_wide(spark, sf_dir)
    # r14 optimization (guide §4.2): the whole per-doc chain —
    # per-char token poly hash, 4-gram poly fold, 4-window minima,
    # distinct — ran as interpreted SQL HOFs (CodegenFallback; the
    # window-min alone allocates a 4-slice per gram). Every step is
    # exact int64 arithmetic mod the b53 prime, and Spark's
    # split('')/ascii() iterate Unicode code points exactly like
    # Python ord() (probed incl. astral chars — see
    # functions/intkernels.py), so the chain moves to one numpy
    # mapInPandas emitting the DISTINCT (doc_id, pr) posting rows
    # directly — identical posting SET per doc (pinned vs the SQL
    # chain by tests/test_int_kernels.py; the pure-Python twin in
    # tests/test_ann_contracts.py pins the rule itself). The old
    # explode_outer trap note no longer applies: the kernel output is
    # already exploded. The SQL exprs above (_TOKHASH_SPARK,
    # _gram4_spark) stay as the reference twin for the pin test.
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    posting = lazy_checkpoint(
        toks.mapInPandas(
            winnow_prints_kernel(_WIN_B2, _WIN_N, _WIN_W),
            "doc_id long, pr long",
        )
    )
    # lazy DISK_ONLY checkpoint: the posting has TWO consumers (df
    # counts + bucket collect) and each would otherwise re-run the
    # whole token-hash -> gram-hash -> winnow lineage over the corpus
    # df first, collect second (the b107 100x lesson applied here
    # too): a boilerplate print's full posting list must never
    # materialize in one collect_list buffer just to be dropped by
    # the cap — count is map-side-combinable, the semi join bounds
    # every collected bucket at the cap by construction
    live = (
        posting.groupBy("pr")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _WIN_DF_CAP))
        .select("pr")
    )
    return posting, live


@query("b105_winnowing_fingerprints", oracle=B105_ORACLE)
def b105_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint candidate pairs: docs sharing >= 2 selected
    prints, where prints are the per-4-window minima over word-4-gram
    poly hashes (see module comment for the guarantee and why the
    arithmetic is engine-exact — this is the one near-dup candidate
    generator in the family whose output the driver HASH-verifies).

    Plan = b26's inverted index over the winnowed (compressed) posting
    set: map-only print selection, explode, one uniform-hash groupBy
    per print with the df guard (prints in > {_WIN_DF_CAP} docs are
    boilerplate, not duplication evidence — identical cap in the
    oracle, the b76 block-purge discipline), ordered pair emission
    inside the <= cap-sized bucket, then the pair-count aggregate.
    Scale: posting volume is ~2/(w+1) of b26's full shingle index and
    Σ df² is capped by construction — the winnow-then-invert shape is
    exactly how corpus-scale plagiarism/contamination checks run.
    """
    posting, live = _winnow_posting_live(spark, sf_dir)
    bucket = (
        posting.join(live, ["pr"], "left_semi")
        .groupBy("pr")
        .agg(F.collect_list("doc_id").alias("ds"))
    )
    pairs = bucket.select(
        F.explode(
            F.expr(
                """flatten(transform(ds, x ->
                       filter(transform(ds, y ->
                                  struct(x AS doc_a, y AS doc_b)),
                              p -> p.doc_a < p.doc_b)))"""
            )
        ).alias("p")
    ).select("p.*")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_prints"))
        .filter(F.col("shared_prints") >= _WIN_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# B109: winnowing COVERAGE — b105's output-bounded scale form
# ---------------------------------------------------------------------------
# The r7 100x probe showed b105 is OUTPUT-bound on a Zipf corpus
# (560k verified pairs — the computation is df-capped, the result
# set is not). The coverage form is the documented scale output
# (VERDICT r7 #6, b87's aggregate shape): one row per INVOLVED doc
# with its duplication-evidence profile, TH(docs) instead of
# TH(pairs). The pair set still exists as a shuffle intermediate —
# bounded by the same Sigma df^2 <= cap^2 x #prints construction —
# but is aggregated away before anything materializes as output.
# b105 stays registered unchanged: its exact pair set is the
# hash-verified oracle anchor a candidate generator needs.

B109_ORACLE = f"""
    WITH b105_pairs AS ({B105_ORACLE}),
    sym AS (
        SELECT doc_a AS doc_id, shared_prints FROM b105_pairs
        UNION ALL
        SELECT doc_b AS doc_id, shared_prints FROM b105_pairs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           CAST(MAX(shared_prints) AS BIGINT) AS max_shared,
           CAST(SUM(shared_prints) AS BIGINT) AS shared_print_mass
    FROM sym GROUP BY doc_id
"""


@query("b109_winnowing_coverage", oracle=B109_ORACLE)
def b109_winnowing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing-duplication coverage: for every doc in at
    least one b105 candidate pair, the number of partner docs, the
    strongest partner's shared-print count, and the total shared
    print mass — the per-doc evidence profile a curation pipeline
    acts on (drop/attribute/review), in TH(docs) output.

    Plan: b105's pair plan verbatim (same df guard, same engine-exact
    print arithmetic — the oracle composes b105's SQL as a CTE, so
    the two queries cannot drift), then a symmetric explode of each
    pair into both endpoint rows and ONE doc_id-keyed aggregate.
    Counts and max/sum over the hash-verified pair counts stay
    integers end-to-end, so this is hash-verified too.
    """
    return _pair_coverage(b105_winnowing_fingerprints(spark, sf_dir))


def _pair_coverage(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, shared_prints) -> the per-doc coverage profile —
    b109's aggregate, shared with b115's capped form (r9). One-pass
    symmetric explode, not a two-branch union — a union would consume
    the pair aggregate lineage twice (the min_label_components r8
    lesson)."""
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("shared_prints").alias("sp"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("shared_prints").alias("sp"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", F.col("e.sp").alias("shared_prints"))
    return sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partners"),
        F.max("shared_prints").cast("bigint").alias("max_shared"),
        F.sum("shared_prints").cast("bigint").alias("shared_print_mass"),
    )


_WIN_PARTNER_CAP = 4  # per-doc in-bucket evidence cap (b115; VERDICT
# r8 #4): inside each live print's id-sorted bucket a doc emits pair
# evidence only toward its next CAP higher-id bucket-mates, so bucket
# emission is df x cap instead of df^2 / 2 and the downstream pair
# groupBy is linear in posting volume. IDENTICAL rank rule in the
# oracle. Documented approximation: a pair separated by > cap
# positions in EVERY shared bucket contributes no evidence — for a
# drop/review decision one surviving partner suffices; the profile's
# partner/mass counts thin as cap shrinks. The value is a measured
# tradeoff on the 100x Zipf corpus, whose LIVE buckets average df ~17
# (9.8M postings / 580k live prints): cap 16 barely binds there
# (93M pair rows, 106 s — within noise of uncapped b109's 126 s),
# cap 4 cuts the pair shuffle to ~25M rows and runs 37-50 s
# (BASELINE.md round-9 table). The worst case is bounded at ANY cap;
# the knob trades profile completeness for the pair-stage constant.

B115_ORACLE = f"""
    WITH {_B105_CTES},
    ranked AS (
        SELECT p.pr, p.doc_id,
               row_number() OVER (PARTITION BY p.pr
                                  ORDER BY p.doc_id) AS rk
        FROM p JOIN live USING (pr)
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_prints
        FROM ranked a JOIN ranked b
          ON a.pr = b.pr AND b.rk > a.rk
         AND b.rk <= a.rk + {_WIN_PARTNER_CAP}
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_WIN_MIN_SHARED}
    ),
    sym AS (
        SELECT doc_a AS doc_id, shared_prints FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id, shared_prints FROM pairs
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           CAST(MAX(shared_prints) AS BIGINT) AS max_shared,
           CAST(SUM(shared_prints) AS BIGINT) AS shared_print_mass
    FROM sym GROUP BY doc_id
"""


@query("b115_winnowing_coverage_capped", oracle=B115_ORACLE)
def b115_winnowing_coverage_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """b109's coverage with the PER-DOC EVIDENCE CAP (r9, VERDICT r8
    #4) — the documented scale mode: inside each live print's
    id-sorted bucket, a doc pairs only with its next
    {_WIN_PARTNER_CAP} higher-id bucket-mates (see _WIN_PARTNER_CAP
    for the emission-volume arithmetic and what the approximation
    prunes). Same winnowed postings, same df guard, same engine-exact
    integer arithmetic — the oracle shares b105's CTE chain and
    applies the identical rank rule, so this stays hash-verified.

    The uncapped b105/b109 stay registered unchanged as the exact
    anchors; contract test pins capped == uncapped on any corpus
    whose buckets fit the cap (tests/test_sharding.py)."""
    posting, live = _winnow_posting_live(spark, sf_dir)
    bucket = (
        posting.join(live, ["pr"], "left_semi")
        .groupBy("pr")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )
    # id-sorted bucket + next-{_WIN_PARTNER_CAP} slice: emission is
    # df x cap, and doc_a < doc_b holds by construction (sorted array)
    pairs = (
        bucket.select(
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, size(ds)), i ->
                        transform(slice(ds, i + 1, {_WIN_PARTNER_CAP}),
                                  y -> struct(element_at(ds, i) AS doc_a,
                                              y AS doc_b))))"""
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_prints"))
        .filter(F.col("shared_prints") >= _WIN_MIN_SHARED)
    )
    return _pair_coverage(pairs)


# ---------------------------------------------------------------------------
# B107: containment near-dup pairs (asymmetric |A∩B| / |A|)
# ---------------------------------------------------------------------------
# b26's jaccard >= 0.5 deliberately prunes pairs whose sizes differ
# more than 2x — which is exactly where QUOTATION/BOILERPLATE
# duplication lives: a 40-token snippet reproduced inside a 400-token
# page has jaccard ~0.1 but containment ~1.0. Containment is the
# directional set measure the LSH-Ensemble line of work (Zhu et al.
# 2016) indexes; for curation it flags "doc A is (mostly) inside doc
# B" so the contained doc can be dropped or the span attributed.
_B107_TAU = 0.9  # containment threshold (|A∩B| / |A| for A the smaller)
_B107_MIN_SH = 3  # docs with < 3 distinct shingles can't be evidence:
# a one-shingle doc is "contained" in every doc sharing that shingle
_B107_DF_CAP = 50  # hot-shingle guard, identical in the oracle (b105's
# discipline — boilerplate shingles are not containment evidence)

B107_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) < 3
                    THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS shingles
        FROM (SELECT doc_id, lang,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> t != '') AS toks
              FROM documents)
        WHERE len(toks) > 0
    ), eligible AS (
        SELECT doc_id, lang, shingles, len(shingles) AS n_sh
        FROM sh WHERE len(shingles) >= {_B107_MIN_SH}
    ), p AS (
        SELECT doc_id, lang, n_sh, unnest(shingles) AS s FROM eligible
    ), live AS (
        SELECT s, lang FROM p GROUP BY s, lang
        HAVING COUNT(*) BETWEEN 2 AND {_B107_DF_CAP}
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b,
               COUNT(*) AS n_common
        FROM p a
        JOIN live USING (s, lang)
        JOIN p b ON a.s = b.s AND a.lang = b.lang
                AND a.doc_id != b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a AS contained_id, doc_b AS container_id,
           CAST(n_common AS BIGINT) AS n_common,
           (CAST(n_common AS DOUBLE) / n_a) AS containment
    FROM inter
    WHERE (CAST(n_common AS DOUBLE) / n_a) >= {_B107_TAU}
"""


@query("b107_containment_pairs", oracle=B107_ORACLE)
def b107_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs: (contained, container) where the
    contained doc's distinct word-3-gram set is >= {_B107_TAU:.0%}
    inside the container's — the asymmetric duplication (quotes,
    embedded boilerplate, page-in-page) that b26's size-ratio-pruned
    symmetric jaccard deliberately cannot see.

    Plan = b26's inverted index with b105's df cap: explode distinct
    shingles (hashed to int64 — counts over hashes equal counts over
    strings, b26's argument), one uniform-hash bucket per
    (shingle, lang) capped at df <= {_B107_DF_CAP} (identical in the
    oracle), DIRECTED pair emission inside the bucket (both
    directions — containment is asymmetric), pair-count aggregate,
    threshold on n_common / n_contained. Docs under {_B107_MIN_SH}
    distinct shingles are excluded in both engines: a one-shingle doc
    is vacuously "contained" in every doc sharing it.

    Scale: Σ df² bounded by the cap; no per-pair array work — the
    intersection size falls out of the bucket pair count exactly as
    in b26. At 100 TB this is the standard containment pre-filter in
    front of an attribution/span pass (b87/b97 then locate WHERE the
    contained text sits).
    """
    from pyspark import StorageLevel

    docs = documents_wide(spark, sf_dir)
    sh = docs.select(
        "doc_id", "lang", F.expr(TOKENS_EXPR).alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"transform({word_ngrams_expr(3, 'toks')}, s -> xxhash64(s))"
        ).alias("shingles"),
    )
    # Eligibility is gated INSIDE the generator expression, never as a
    # Filter on the expensive chain: a `.filter(n_sh >= 3)` inlines
    # the whole tokenize+shingle build into an interpreted scan-level
    # Filter (the b62/b105 constraint-inference trap — the executed
    # plan showed the chain duplicated into both scans). Ineligible
    # docs (< 3 distinct shingles; NULL/empty text collapses there
    # too) emit an empty array, whose explode_outer NULL row is
    # dropped on the GENERATED column — not pushable below Generate.
    posting = (
        sh.select(
            "lang",
            "doc_id",
            F.size("shingles").alias("n_sh"),
            F.explode_outer(
                F.expr(
                    f"CASE WHEN size(shingles) >= {_B107_MIN_SH} "
                    "THEN shingles ELSE CAST(array() AS ARRAY<BIGINT>) END"
                )
            ).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        # the posting has TWO consumers (the df counts and the bucket
        # collect); without truncation each re-runs the corpus-wide
        # tokenize+shingle lineage (the b27-multi-consumer lesson) —
        # narrow ~30 B rows, disk-backed
        .transform(lazy_checkpoint)
    )
    # df FIRST, collect SECOND (r7 100x lesson): filtering on
    # size(collect_list) materializes the HOT buckets' full lists
    # before dropping them — on the 100x Zipf corpus 27k shingles
    # exceed the cap, some with df >> 10k, i.e. the b28 unspillable-
    # buffer shape. A count aggregate is map-side-combinable at any
    # df; the semi join then bounds every collected bucket at the cap
    # BY CONSTRUCTION, and the bucket groupBy reuses the join's
    # (s, lang) partitioning.
    live = (
        posting.groupBy("s", "lang")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _B107_DF_CAP))
        .select("s", "lang")
    )
    bucket = (
        posting.join(live, ["s", "lang"], "left_semi")
        .groupBy("s", "lang")
        .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
    )
    pairs = bucket.select(
        F.explode(
            F.expr(
                """flatten(transform(ds, x ->
                       filter(transform(ds, y ->
                                  struct(x.doc_id AS doc_a, x.n_sh AS n_a,
                                         y.doc_id AS doc_b)),
                              p -> p.doc_a != p.doc_b)))"""
            )
        ).alias("p")
    ).select("p.*")
    inter = pairs.groupBy("doc_a", "doc_b", "n_a").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    containment = F.col("n_common").cast("double") / F.col("n_a").cast(
        "double"
    )
    return (
        inter.filter(containment >= _B107_TAU)
        .select(
            F.col("doc_a").alias("contained_id"),
            F.col("doc_b").alias("container_id"),
            F.col("n_common").cast("bigint").alias("n_common"),
            containment.alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# b112: CCNet paragraph-level dedup (keep-first paragraph occurrence,
# corpus-wide) — the granularity between b24 (whole doc) and b97
# (overlapping token spans)
# ---------------------------------------------------------------------------
# Wenzek et al. 2019 (CCNet) dedup by paragraph hash before anything
# else: split each doc on paragraph boundaries, hash each paragraph,
# keep the FIRST occurrence corpus-wide, rewrite the doc from its
# surviving paragraphs. This corpus has no newline/punctuation
# boundaries (pure space-separated tokens), so "paragraph" is defined
# structurally as fixed NON-OVERLAPPING blocks of _B112_P tokens —
# the standard fallback for boundary-free text, and exactly the
# hash-set semantics CCNet applies (first writer wins, including
# intra-doc repeats: a doc repeating its own paragraph keeps only the
# earliest copy).
_B112_P = 20

B112_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x != '') AS toks
        FROM documents
    ),
    paras AS (
        SELECT doc_id, s.pos AS pos, s.para AS para
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(CAST(ceil(len(toks) / {_B112_P}.0) AS BIGINT)),
                       i -> {{'pos': i,
                              'para': array_to_string(
                                  toks[i * {_B112_P} + 1 : i * {_B112_P} + {_B112_P}],
                                  ' ')}})) AS s
            FROM t WHERE len(toks) > 0
        )
    ),
    kept AS (
        SELECT doc_id, pos, para
        FROM (SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, pos) AS rn
              FROM paras)
        WHERE rn = 1
    ),
    rebuilt AS (
        SELECT doc_id, COUNT(*) AS kept_paras,
               string_agg(para, ' ' ORDER BY pos) AS new_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.toks) / {_B112_P}.0) AS BIGINT) AS n_paras,
           CAST(COALESCE(r.kept_paras, 0) AS BIGINT) AS kept_paras,
           COALESCE(r.new_text, '') AS new_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)
"""


def paragraph_dedup_rewrite(
    docs: DataFrame, with_tokens: bool = False
) -> DataFrame:
    """Core of b112 over any ``(doc_id, text)`` relation — exposed so
    the curation funnel (b100/a32) can run the CCNet paragraph step
    ahead of the LM gate with the SAME code as the registered query.

    Returns ``(doc_id, n_paras, kept_paras, new_text)`` — one row per
    input doc; ``new_text = ''`` when every paragraph was already seen
    (a fully-duplicated doc). ``with_tokens=True`` adds ``new_toks``
    (the rewritten text's token array — identical to re-tokenizing
    ``new_text``, since paragraphs are single-space joins of token
    blocks) so the graded funnel (b113) can checkpoint ONE token
    array and feed its lm / fingerprint / banding / rewrite stages
    without re-tokenizing the rewritten corpus per stage (r10,
    VERDICT r9 #2a).

    Scale shape (reference: CCNet's sharded hash set, re-expressed as
    relational keep-first). r10 redesign (VERDICT r9 #2): paragraph
    TEXT never crosses an exchange — the r9 form shuffled paragraph
    strings three times (window, rebuild groupBy, final join); now
    every shuffled row is (hash, doc_id, pos) / (doc_id, pos-array):
    - Paragraph-HASH postings are map-only: ``transform(sequence())``
      slices the token array into {_B112_P}-token blocks and hashes
      each block scan-side (xxhash64 of the joined block — int64
      shuffle keys, the b102 discipline; the oracle partitions by the
      paragraph STRING, identical keep-sets absent a 64-bit collision,
      the b26 odds argument). The paragraph string itself dies in the
      same projection that hashes it.
    - Keep-first is ONE narrow shuffle keyed by the 64-bit hash
      (uniform — no skew), evaluated as min(struct(doc_id, pos)) over
      a hash-partitioned window; WindowExec buffers SPILL, so a
      boilerplate paragraph shared by 10M docs at 100 TB degrades to
      disk, never OOM (the b55 window-min discipline) — and the
      buffered rows are now 20 bytes, not paragraph text.
    - Rebuild is scan-side: kept block POSITIONS aggregate to one
      sorted int array per doc (bounded by paragraphs-per-doc; a
      1 MB doc is ~2.5k paras), join back to the tokenized docs (the
      single exchange that carries token arrays), and ``new_text``
      is rebuilt in the projection as the ordered concat of kept
      block slices — the b97 array_except discipline applied to
      block granularity.
    """
    toks = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
    # hash postings: (doc_id, pos, h) — map-only, text dies scan-side.
    # posexplode_OUTER + post-filter: a plain posexplode lets
    # constraint inference push the whole slice+hash chain into an
    # interpreted per-row scan Filter (the b105 trap).
    ph = (
        toks.filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.posexplode_outer(
                F.expr(
                    f"""transform(
                        sequence(0, cast(ceil(size(toks) / {_B112_P}.0)
                                         as int) - 1),
                        i -> xxhash64(concat_ws(' ',
                                 slice(toks, i * {_B112_P} + 1, {_B112_P}))))"""
                )
            ).alias("pos", "h"),
        )
        .filter(F.col("h").isNotNull())
    )
    w = Window.partitionBy("h")
    kept = (
        ph.withColumn(
            "first", F.min(F.struct(F.col("doc_id"), F.col("pos"))).over(w)
        )
        .filter(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("kp"))
    )
    # toks enters the join as a JOIN-OUTPUT ATTRIBUTE (computed in the
    # join input's projection), so the rebuild's references below
    # cannot be CollapseProject-inlined into N re-tokenizations (the
    # b26/b113 attribute discipline).
    new_toks = F.coalesce(
        F.flatten(
            F.transform(
                F.col("kp"),
                lambda p: F.slice(
                    F.col("toks"), p * _B112_P + 1, _B112_P
                ),
            )
        ),
        F.expr("array()"),
    )
    # with_tokens returns new_toks INSTEAD of new_text (one reference
    # to the rebuild expression per row either way — aliasing both in
    # one projection would evaluate the flatten twice); callers derive
    # text as concat_ws(' ', new_toks) where a string is needed.
    return toks.join(kept, "doc_id", "left").select(
        "doc_id",
        F.ceil(F.size("toks") / F.lit(float(_B112_P)))
        .cast("bigint")
        .alias("n_paras"),
        F.coalesce(F.size("kp"), F.lit(0)).cast("bigint").alias("kept_paras"),
        new_toks.alias("new_toks")
        if with_tokens
        else F.concat_ws(" ", new_toks).alias("new_text"),
    )


def doc_paragraphs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per-doc base counts, exploded paragraph rows) for any
    ``(doc_id, text)`` relation — b112's map-only block build,
    extracted (r9) so the ingest twin (a35) slices paragraphs with
    the SAME rule. base = (doc_id, n_paras); paras = (doc_id, pos,
    para). The build has NO token-level explode (transform over a
    sequence slices the token array, _B112_P x fewer generated
    rows), and the explode is posexplode_OUTER + post-filter — the
    b105 constraint-inference trap (a plain explode re-infers the
    whole slice chain into the scan filter)."""
    toks = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
    n_paras = F.ceil(F.size("toks") / F.lit(float(_B112_P)))
    base = toks.select("doc_id", n_paras.cast("bigint").alias("n_paras"))
    paras = (
        toks.filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.posexplode_outer(
                F.expr(
                    f"""transform(
                        sequence(0, cast(ceil(size(toks) / {_B112_P}.0)
                                         as int) - 1),
                        i -> concat_ws(' ',
                                 slice(toks, i * {_B112_P} + 1, {_B112_P})))"""
                )
            ).alias("pos", "para"),
        )
        .filter(F.col("para").isNotNull())
    )
    return base, paras


def rebuild_from_paragraphs(base: DataFrame, kept: DataFrame) -> DataFrame:
    """(doc_id, n_paras) x surviving (doc_id, pos, para) rows ->
    b112's output shape (doc_id, n_paras, kept_paras, new_text) —
    extracted (r9) for the ingest twin. The collect_list is bounded
    by paragraphs-per-doc (docs are bounded; a 1 MB doc is ~2.5k
    paras)."""
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept_paras"),
            F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("ps"),
        )
        .select(
            "doc_id",
            "kept_paras",
            F.concat_ws(
                " ", F.transform(F.col("ps"), lambda s: s["para"])
            ).alias("new_text"),
        )
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("kept_paras", F.lit(0)).cast("bigint").alias("kept_paras"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


@query("b112_paragraph_dedup", oracle=B112_ORACLE)
def b112_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-granularity dedup over the documents table —
    see paragraph_dedup_rewrite for semantics and the scale shape.
    Reference behavior modeled: Wenzek et al. 2019 §3.1 (paragraph
    hash set, first occurrence wins); the VERDICT r8 gap between
    b24's whole-doc fingerprint and b97's overlapping span removal."""
    return paragraph_dedup_rewrite(documents_wide(spark, sf_dir))
