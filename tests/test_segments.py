"""Segment build pipeline: salting, compression, block-max WAND
rank-identity, sha256 integrity invariant, checkpoint resume."""

from __future__ import annotations

import json
import math
import os
import shutil

import pyspark.sql.functions as F
import pytest

from kma_information_retrieval_spark.index import segments
from kma_information_retrieval_spark.index.segments import (
    MAX_SEGMENTS,
    SEGMENT_BYTES,
    build_index,
    load_index,
    part_id_for,
    segments_for_bytes,
    verify_content_integrity,
)
from kma_information_retrieval_spark.index.wand import bm25_topk_batch, bm25_topk_segments

QUERIES = {
    "q_head": ["compute", "index"],
    "q_mixed": ["index", "shard", "compute"],
    "q_tail": ["wonderful", "contest"],
    "q_single": ["merge"],
    "q_missing": ["zzzmissing", "index"],
    "q_four": ["token", "query", "score", "block"],
}


@pytest.fixture(scope="module")
def seg_index(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("segidx"))
    # postings_per_group=40 forces real salting of head terms at 200 docs;
    # partition_by pinned: this module tests the TERM layout's salting,
    # pruning and WAND behavior (the auto default resolves to "doc" when
    # a positional table is built)
    build_index(
        spark, docs, out, num_segments=8, postings_per_group=40, block_size=16,
        partition_by="term",
    )
    return load_index(spark, out)


def test_manifest_written(seg_index):
    m = seg_index.meta
    assert m["n_docs"] == 200
    assert m["num_segments"] == 8
    assert len(m["partitions"]) > 0
    total_postings = sum(p["n_postings"] for p in m["partitions"].values())
    assert total_postings == seg_index.dictionary.agg(F.sum("df")).collect()[0][0]


def test_head_terms_salted(seg_index, oracle):
    factors = {r["term"]: r["salt_factor"] for r in seg_index.saltmap.collect()}
    assert factors, "expected head terms to be salted"
    # the most frequent vocab word must be salted and split across salts
    head = max(oracle.tf, key=lambda t: oracle.df(t))
    assert head in factors and factors[head] > 1
    salts = [
        r["salt"]
        for r in seg_index.segments.filter(F.col("term") == head).collect()
    ]
    assert len(salts) == len(set(salts)) and len(salts) > 1
    # salted sub-lists are disjoint and their union is the full posting list
    rows = seg_index.segments.filter(F.col("term") == head).collect()
    assert sum(r["df"] for r in rows) == oracle.df(head)


def test_segment_df_cf_match_oracle(seg_index, oracle):
    got = (
        seg_index.segments.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    )
    assert len(got) == len(oracle.tf)
    for r in got:
        assert r["df"] == oracle.df(r["term"])
        assert r["cf"] == oracle.cf(r["term"])


def test_compression_ratio(seg_index):
    row = (
        seg_index.segments.select(
            F.sum(F.length("doc_bytes")).alias("enc"), F.sum("df").alias("n")
        ).collect()[0]
    )
    assert row["enc"] < 8 * row["n"]  # strictly better than raw int64


def test_partition_pruning_matches_layout(seg_index):
    """Driver-computed part_ids must agree with what the build wrote."""
    rows = seg_index.segments.select("term", "salt", "part_id").limit(200).collect()
    for r in rows:
        assert part_id_for(r["term"], r["salt"], seg_index.meta["num_segments"]) == r["part_id"]


@pytest.mark.parametrize("strategy", ["exact", "wand", "maxscore"])
@pytest.mark.parametrize("qid", list(QUERIES), ids=list(QUERIES))
def test_topk_rank_identity(seg_index, oracle, qid, strategy):
    terms = QUERIES[qid]
    got = bm25_topk_segments(seg_index, terms, 10, strategy=strategy)
    want = oracle.bm25_topk(terms, 10)
    assert [d for d, _ in got] == [d for d, _ in want], (qid, strategy)
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), (qid, gd, gs, ws)


def test_topk_batch_all_queries(seg_index, oracle):
    res = bm25_topk_batch(seg_index, QUERIES, 10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in QUERIES.items():
        got = sorted(by_q.get(qid, []), key=lambda x: (-x[1], x[0]))
        want = oracle.bm25_topk(terms, 10)
        assert [d for d, _ in got] == [d for d, _ in want], qid


def test_content_integrity(seg_index, docs, spark):
    assert verify_content_integrity(seg_index, docs) == 0
    tampered = docs.withColumn(
        "content",
        F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(F.col("content")),
    )
    assert verify_content_integrity(seg_index, tampered) == 1


def _crash_and_resume(spark, docs, out, oracle, **build_kwargs):
    """Drop committed partitions 0..2 from the manifest and the segment
    dir, rebuild with resume=True, and check the final index is
    identical. Returns the resumed manifest."""
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)
    full = {
        (r["term"], r["salt"]): (r["df"], bytes(r["doc_bytes"]))
        for r in load_index(spark, out).segments.collect()
    }
    # simulate a crash that lost partitions 0..2
    lost = [p for p in list(manifest["partitions"]) if int(p) < 3]
    assert lost, "expected some low part_ids in the manifest"
    for p in lost:
        del manifest["partitions"][p]
        shutil.rmtree(os.path.join(out, "segments", f"part_id={p}"), ignore_errors=True)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)

    m2 = build_index(spark, docs, out, resume=True, **build_kwargs)
    assert set(m2["partitions"]) >= set(lost)
    resumed = {
        (r["term"], r["salt"]): (r["df"], bytes(r["doc_bytes"]))
        for r in load_index(spark, out).segments.collect()
    }
    assert resumed == full
    # ranks identical post-resume
    got = bm25_topk_segments(load_index(spark, out), ["index", "compute"], 10)
    want = oracle.bm25_topk(["index", "compute"], 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    return m2


def test_checkpoint_resume(spark, docs, oracle, tmp_path_factory):
    """Kill-and-resume: drop some committed partitions from the manifest
    and segment dir, rebuild with resume=True, final index identical."""
    out = str(tmp_path_factory.mktemp("resume"))
    build_index(spark, docs, out, num_segments=8, postings_per_group=40, block_size=16)
    _crash_and_resume(spark, docs, out, oracle, num_segments=8,
                      postings_per_group=40, block_size=16)


@pytest.mark.parametrize("n_bytes, want", [
    (0, 1),
    (SEGMENT_BYTES, 1),
    (SEGMENT_BYTES + 1, 2),
    (MAX_SEGMENTS * SEGMENT_BYTES, MAX_SEGMENTS),
    (MAX_SEGMENTS * SEGMENT_BYTES + 1, MAX_SEGMENTS),
    (1 << 40, MAX_SEGMENTS),
])
def test_segments_for_bytes(n_bytes, want):
    assert segments_for_bytes(n_bytes) == want


def test_default_build_sizes_from_input(spark, tmp_path):
    """A default-argument build of a tiny corpus is one segment. n_docs
    counts the token-free docs too, and input_bytes is the UTF-8 byte
    total of the text, not its character count."""
    rows = [(1, "héllo world hello"), (2, "a b"), (3, ""), (4, "world wide web")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    out = str(tmp_path / "idx")
    m = build_index(spark, docs, out)
    assert m["num_segments"] == 1
    assert m["n_docs"] == 4 and m["n_docs_tokened"] == 2
    assert m["input_bytes"] == sum(len(c.encode()) for _, c in rows)
    assert m["input_bytes"] > sum(len(c) for _, c in rows)
    assert set(m["partitions"]) == {"0"}
    assert [n for n in os.listdir(os.path.join(out, "segments"))
            if n.startswith("part_id=")] == ["part_id=0"]
    idx = load_index(spark, out)
    assert idx.docmap.count() == 4
    assert {r["doc_id"] for r in idx.query("world").collect()} == {1, 4}


def test_resume_keeps_sized_segment_count(spark, docs, oracle, tmp_path, monkeypatch):
    """A resume after a default-sized build keeps the committed count,
    even when sizing the same input again would give another."""
    n_bytes = docs.agg(F.sum(F.octet_length("content"))).collect()[0][0]
    # shrink the per-segment target so the 200-doc corpus sizes to 8
    monkeypatch.setattr(segments, "SEGMENT_BYTES", -(-n_bytes // 8))
    out = str(tmp_path / "idx")
    m = build_index(spark, docs, out, postings_per_group=40, block_size=16)
    monkeypatch.undo()
    assert m["num_segments"] == 8
    assert segments_for_bytes(m["input_bytes"]) == 1
    m2 = _crash_and_resume(spark, docs, out, oracle, postings_per_group=40,
                           block_size=16)
    assert m2["num_segments"] == 8


def test_persisted_wildcard_tables(seg_index, oracle):
    got = sorted(r["term"] for r in seg_index.wildcard_terms("comput*").collect())
    assert got == sorted(oracle.wildcard_terms("comput*"))
    got2 = sorted(r["term"] for r in seg_index.wildcard_terms("c?t").collect())
    assert got2 == sorted(oracle.wildcard_terms("c?t"))


def test_wildcard_topk(seg_index, oracle):
    terms = sorted(oracle.wildcard_terms("test*"))
    got = seg_index.wildcard_topk("test*", 10)
    want = oracle.bm25_topk(terms, 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_decode_group_blocks_roundtrip(seg_index, oracle):
    from kma_information_retrieval_spark.index.segments import decode_group_blocks

    rows = seg_index.segments.filter(F.col("term") == "wonderful").collect()
    assert rows
    all_docs, all_tfs = [], []
    for r in rows:
        docs, tfs, dls = decode_group_blocks(r)
        assert list(docs) == sorted(docs)
        # partial decode: first block only must prefix the full decode
        d0, t0, l0 = decode_group_blocks(r, blocks=[0])
        assert list(d0) == list(docs[: len(d0)])
        all_docs.extend(int(d) for d in docs)
        all_tfs.extend(int(t) for t in tfs)
    want = oracle.tf["wonderful"]
    assert dict(zip(all_docs, all_tfs)) == want


def test_term_position_entries_matches_groupby(spark, docs):
    """The per-doc positional expression must replace the classic
    posexplode -> groupBy(term, doc_id) -> sort_array(collect_list)
    aggregation row-for-row (round-6 shuffle removal). Covers empty
    and single-token documents alongside the synthetic corpus."""
    from pyspark.sql import functions as F

    from kma_information_retrieval_spark.functions.tokenize import (
        term_position_entries,
        tokenize_expr,
    )

    edge = spark.createDataFrame(
        [(100001, ""), (100002, "  ;;  "), (100003, "solo"),
         (100004, "dup dup dup"), (100005, "ab abc ab abc xyz")],
        "doc_id long, content string",
    )
    base = docs.select("doc_id", "content").unionByName(edge)
    tok_arrays = base.select(
        "doc_id", tokenize_expr("content", "code").alias("toks")
    )

    legacy = (
        tok_arrays.select(
            "doc_id", F.size("toks").alias("dl"),
            F.posexplode("toks").alias("pos", "term"),
        )
        .groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"), F.max("dl").alias("dl"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )
    perdoc = tok_arrays.select(
        "doc_id", F.size("toks").alias("dl"),
        F.explode(term_position_entries(F.col("toks"))).alias("e"),
    ).select(
        F.col("e.term").alias("term"), "doc_id",
        F.size("e.positions").cast("long").alias("tf"), "dl",
        F.col("e.positions").alias("positions"),
    )

    # simpleString ignores nullability: the when/otherwise guard makes
    # the expression's fields nullable where the aggregate's were not,
    # but parquet writes every field optional either way
    assert (legacy.schema.simpleString()
            == perdoc.select(*legacy.columns).schema.simpleString())
    a = legacy.select("term", "doc_id", "tf", "dl", F.to_json("positions").alias("p"))
    b = perdoc.select("term", "doc_id", "tf", "dl", F.to_json("positions").alias("p"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # the Arrow/numpy kernel the build actually uses (round-6 §4.2)
    # must match both shapes row-for-row, including the edge docs
    from kma_information_retrieval_spark.functions.tokenize import (
        positional_entries_frame,
    )

    arrow = positional_entries_frame(tok_arrays)
    c = arrow.select("term", "doc_id", "tf", "dl", F.to_json("positions").alias("p"))
    assert c.count() == a.count()
    assert a.exceptAll(c).count() == 0
    assert c.exceptAll(a).count() == 0

    # in-kernel part_id must equal the JVM md5 expression / the
    # driver-side term_part_for (the partition-pruning contract)
    from kma_information_retrieval_spark.index.segments import _stable_hash_col

    with_pid = positional_entries_frame(tok_arrays, num_segments=16)
    mismatch = with_pid.withColumn(
        "want",
        F.pmod(_stable_hash_col(F.col("term")), F.lit(16)).cast("int"),
    ).filter(F.col("part_id") != F.col("want"))
    assert mismatch.count() == 0

    # tiny-batch path: a batch smaller than one doc's tokens never
    # occurs (batches are row-aligned), but multi-batch task streams do
    # — force 2-row batches and re-check
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "2")
    try:
        c2 = positional_entries_frame(tok_arrays).select(
            "term", "doc_id", "tf", "dl", F.to_json("positions").alias("p")
        )
        assert c2.count() == a.count()
        assert a.exceptAll(c2).count() == 0
    finally:
        spark.conf.set(batch_key, prev_batch)
