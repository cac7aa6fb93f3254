"""Tokenizer unit tests — fixtures mirrored from the reference
(``spimi.rs:326-330``, ``parser.rs:15,44-49``; FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from kma_information_retrieval_spark.functions.tokenize import (
    _int32_offsets,
    bigrams_expr,
    fan_out,
    tokenize_expr,
)
from kma_information_retrieval_spark.oracle import tokenize as py_tokenize


def _spark_tokens(spark, text: str, mode: str) -> list[str]:
    df = spark.createDataFrame([(text,)], "content string")
    return df.select(tokenize_expr("content", mode).alias("t")).collect()[0]["t"]


def test_t3_sentence(spark):
    # reference fixture spimi.rs:326: "Hello, World! This is a test."
    got = _spark_tokens(spark, "Hello, World! This is a test.", "code")
    assert got == ["hello", "world", "this", "test"]


def test_t3_strips_inner_punct(spark):
    got = _spark_tokens(spark, "foo_bar() baz.qux(x1) a b2c", "code")
    # '_' stripped in code mode (not alphanumeric), digits kept, len>2 filter
    assert got == ["foobar", "bazquxx1", "b2c"]


def test_t1_letters_mode(spark):
    # T1 keeps only letter-runs >= 3; digit-bearing words are split/dropped
    got = _spark_tokens(spark, "Cat dog42x hello ab the42", "letters")
    assert got == ["cat", "dog", "hello", "the"]


def test_spark_matches_python_oracle(spark):
    texts = [
        "Hello, World! This is a test.",
        "x1 y22 zzz compute() COMPUTING comp",
        "multi\nline\ttext with  spaces",
    ]
    for t in texts:
        assert _spark_tokens(spark, t, "code") == py_tokenize(t, "code")


def test_positions_assigned_after_filter(spark):
    from kma_information_retrieval_spark.functions.tokenize import tokens_with_positions

    df = spark.createDataFrame([(1, "aa bbb a cc ddd")], "doc_id long, content string")
    rows = tokens_with_positions(df).collect()
    assert [(r["pos"], r["term"]) for r in rows] == [(0, "bbb"), (1, "ddd")]


def test_bigrams(spark):
    df = spark.createDataFrame([("one two three",)], "content string")
    got = df.select(bigrams_expr(tokenize_expr("content")).alias("b")).collect()[0]["b"]
    assert got == ["one two", "two three"]


def test_bigrams_short_doc(spark):
    df = spark.createDataFrame([("single",), ("a b",)], "content string")
    got = [r["b"] for r in df.select(bigrams_expr(tokenize_expr("content")).alias("b")).collect()]
    assert got == [[], []]


def test_positions_offsets_refuse_int32_overflow():
    """The positions column's list offsets are int32 (array<int>): a
    batch whose summed tfs pass 2^31-1 must raise, not wrap."""
    limit = np.iinfo(np.int32).max
    got = _int32_offsets(np.array([3, 0, 2], dtype=np.int64))
    assert got.dtype == np.int32
    assert got.tolist() == [0, 3, 3, 5]
    assert _int32_offsets(np.array([limit - 1, 1]))[-1] == limit
    with pytest.raises(OverflowError):
        _int32_offsets(np.array([limit, 1], dtype=np.int64))


def test_fan_out_cached_and_streaming_frames(spark):
    """A cached frame with fewer partitions than slots fans out; a
    streaming frame, whose inputFiles() raises, passes through."""
    slots = spark.sparkContext.defaultParallelism
    cached = spark.range(10).coalesce(1).cache()
    try:
        assert fan_out(cached).rdd.getNumPartitions() == slots
    finally:
        cached.unpersist()
    stream = spark.readStream.format("rate").load()
    with pytest.raises(AnalysisException):
        stream.inputFiles()
    assert fan_out(stream) is stream
