"""Exactness pins for the r14 integer batch kernels
(functions/intkernels.py): b28's SimHash counter kernel and the
winnowing-family print kernel. The correctness claim is EXACT
equality with the interpreted SQL folds they replaced — integer
arithmetic, so any mismatch is a real defect, not rounding."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_streams_sandbox_spark.functions.tokens import TOKENS_EXPR
from kafka_streams_sandbox_spark.operators import dedup

# Hostile token classes: ASCII, Latin-1, combining marks, CJK, RTL,
# astral emoji, digits, tabs-in-token (can't occur post-split but pins
# ascii()), 1-char, long token.
_HOSTILE_TOKENS = [
    "a",
    "word",
    "é",
    "naïve",
    "á",  # combining acute
    "中",
    "你好世界",
    "\U0001f600",
    "x\U0001f680y",
    "مرحبا",
    "0123456789" * 5,
    "z" * 300,
]

_HOSTILE_TEXTS = [
    "x",
    "one two",
    "one two three",
    "one two three four",
    "one two three four five six seven",
    " ".join(_HOSTILE_TOKENS),
    "\U0001f600 \U0001f680 emoji doc \U0001f600",
    "你好世界 深度学习 你好世界 深度学习 你好世界 深度学习 你好世界",
    "the quick brown fox jumps over the lazy dog " * 8,
    " ".join(f"w{i % 17}" for i in range(120)),
    " ".join(f"u{i}" for i in range(120)),
]


@pytest.fixture(scope="module")
def kernel_docs_dir(tmp_path_factory) -> str:
    tmp = tmp_path_factory.mktemp("intkernel_docs")
    texts = _HOSTILE_TEXTS
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["srcK"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp / "documents.parquet"))
    return str(tmp)


def test_ascii_split_parity_with_python_ord(spark):
    """The winnow kernel's foundational assumption: Spark's
    split(tok, '') + ascii(c) iterates full Unicode CODE POINTS
    exactly like Python ord() — including astral-plane chars."""
    df = spark.createDataFrame([(t,) for t in _HOSTILE_TOKENS], "tok string")
    rows = df.selectExpr(
        "tok", "transform(split(tok, ''), c -> ascii(c)) AS codes"
    ).collect()
    assert len(rows) == len(_HOSTILE_TOKENS)
    for r in rows:
        assert list(r["codes"]) == [ord(c) for c in r["tok"]], r["tok"]


def test_simhash_kernel_bit_equals_sql_fold(spark, kernel_docs_dir, sf_dir):
    """b28's numpy counter kernel == SIMHASH_EXPR's interpreted fold,
    signature for signature, on the hostile corpus AND the sf0.001
    fixture."""
    from kafka_streams_sandbox_spark.catalog import documents_wide
    from kafka_streams_sandbox_spark.functions.intkernels import (
        simhash_from_token_hashes,
    )

    for d in (kernel_docs_dir, sf_dir):
        docs = documents_wide(spark, d).filter(
            F.expr(f"size({TOKENS_EXPR}) > 0")
        )
        fold = {
            r["doc_id"]: r["simhash"]
            for r in docs.select(
                "doc_id", F.expr(dedup.SIMHASH_EXPR).alias("simhash")
            ).collect()
        }
        kern = {
            r["doc_id"]: r["simhash"]
            for r in docs.select(
                "doc_id",
                F.expr(f"transform({TOKENS_EXPR}, t -> xxhash64(t))").alias(
                    "th"
                ),
            )
            .mapInPandas(simhash_from_token_hashes, "doc_id long, simhash long")
            .collect()
        }
        assert len(fold) > 5
        assert kern == fold


def test_minhash_sig_kernel_equals_sql_aggregates(spark, kernel_docs_dir, sf_dir):
    """The r14 minhash signature kernel == the r6-r13 posting-explode
    + 32 pmod-min aggregate form, signature for signature (the
    permutation arithmetic is exact int64 either way)."""
    from kafka_streams_sandbox_spark.catalog import documents_wide
    from kafka_streams_sandbox_spark.functions.intkernels import (
        minhash_sig_kernel,
    )
    from kafka_streams_sandbox_spark.operators.dedup import (
        _MINHASH_K,
        _PRIME,
        char_ngrams_hashed_expr,
    )

    for d in (kernel_docs_dir, sf_dir):
        docs = documents_wide(spark, d).filter(
            F.expr(f"size({TOKENS_EXPR}) > 0")
        )
        posting = docs.select(
            "doc_id",
            F.explode_outer(F.expr(char_ngrams_hashed_expr(5))).alias("h"),
        ).withColumn("h", F.expr(f"pmod(h, {_PRIME})"))
        sql_sig = {
            r["doc_id"]: list(r["sig"])
            for r in posting.groupBy("doc_id")
            .agg(
                *[
                    F.min(
                        F.expr(
                            f"pmod({2 * i + 1} * h + {7919 * i + 13}, {_PRIME})"
                        )
                    ).alias(f"m{i}")
                    for i in range(_MINHASH_K)
                ]
            )
            .select(
                "doc_id",
                F.array(*[f"m{i}" for i in range(_MINHASH_K)]).alias("sig"),
            )
            .collect()
        }
        kern_sig = {
            r["doc_id"]: list(r["sig"])
            for r in docs.select(
                "doc_id", F.expr(char_ngrams_hashed_expr(5)).alias("hs")
            )
            .mapInPandas(
                minhash_sig_kernel(_MINHASH_K, _PRIME),
                "doc_id long, sig array<bigint>",
            )
            .collect()
        }
        assert len(sql_sig) > 5
        assert kern_sig == sql_sig


def test_winnow_kernel_equals_sql_chain(spark, kernel_docs_dir, sf_dir):
    """The winnow kernel's (doc_id, pr) posting SET == the r13 SQL
    chain's (token poly hash -> gram fold -> window min -> distinct ->
    explode), doc for doc, on the hostile corpus AND the sf0.001
    fixture."""
    from kafka_streams_sandbox_spark.catalog import documents_wide
    from kafka_streams_sandbox_spark.functions.intkernels import (
        winnow_prints_kernel,
    )
    from kafka_streams_sandbox_spark.operators.dedup import (
        _TOKHASH_SPARK,
        _WIN_B2,
        _WIN_N,
        _WIN_W,
        _gram4_spark,
    )

    for d in (kernel_docs_dir, sf_dir):
        toks = (
            documents_wide(spark, d)
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
            .filter(F.size("toks") > 0)
        )
        sql_posting = (
            toks.select("doc_id", F.expr(_TOKHASH_SPARK).alias("th"))
            .select("doc_id", F.expr(_gram4_spark()).alias("gh"))
            .select(
                "doc_id",
                F.explode_outer(
                    F.expr(
                        f"""array_distinct(CASE WHEN size(gh) < {_WIN_W}
                            THEN array(array_min(gh))
                            ELSE transform(sequence(1, size(gh) - {_WIN_W - 1}),
                                 i -> array_min(slice(gh, i, {_WIN_W}))) END)"""
                    )
                ).alias("pr"),
            )
        )
        expected = {(r["doc_id"], r["pr"]) for r in sql_posting.collect()}
        got = {
            (r["doc_id"], r["pr"])
            for r in toks.mapInPandas(
                winnow_prints_kernel(_WIN_B2, _WIN_N, _WIN_W),
                "doc_id long, pr long",
            ).collect()
        }
        assert len(expected) > 10
        assert got == expected


# An empty per-doc segment must fail the task, not mis-reduce:
# np.add.reduceat / np.minimum.reduceat return the NEXT doc's value on
# a zero-length segment, so without the check doc 1 below would
# silently inherit doc 2's result.
def _assert_empty_segment_fails(spark, rows, schema, kernel, out_schema):
    df = spark.createDataFrame(rows, schema).coalesce(1)
    with pytest.raises(Exception, match="ValueError.*empty"):
        df.mapInPandas(kernel, out_schema).collect()


def test_simhash_kernel_rejects_empty_segment(spark):
    from kafka_streams_sandbox_spark.functions.intkernels import (
        simhash_from_token_hashes,
    )

    _assert_empty_segment_fails(
        spark,
        [(0, [11, 12]), (1, []), (2, [13])],
        "doc_id long, th array<bigint>",
        simhash_from_token_hashes,
        "doc_id long, simhash long",
    )


def test_minhash_kernel_rejects_empty_segment(spark):
    from kafka_streams_sandbox_spark.functions.intkernels import (
        minhash_sig_kernel,
    )
    from kafka_streams_sandbox_spark.operators.dedup import _MINHASH_K, _PRIME

    _assert_empty_segment_fails(
        spark,
        [(0, [11, 12]), (1, []), (2, [13])],
        "doc_id long, hs array<bigint>",
        minhash_sig_kernel(_MINHASH_K, _PRIME),
        "doc_id long, sig array<bigint>",
    )


def test_winnow_kernel_rejects_tokenless_doc(spark):
    from kafka_streams_sandbox_spark.functions.intkernels import (
        winnow_prints_kernel,
    )
    from kafka_streams_sandbox_spark.operators.dedup import (
        _WIN_B2,
        _WIN_N,
        _WIN_W,
    )

    _assert_empty_segment_fails(
        spark,
        [(0, ["one", "two"]), (1, []), (2, ["three"])],
        "doc_id long, toks array<string>",
        winnow_prints_kernel(_WIN_B2, _WIN_N, _WIN_W),
        "doc_id long, pr long",
    )
