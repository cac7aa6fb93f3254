"""Streaming incremental index: generation append via foreachBatch,
cross-generation merge rank-identity vs the oracle on the full corpus."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from kma_information_retrieval_spark.corpus import CORPUS_SCHEMA, local_corpus
from kma_information_retrieval_spark.oracle import OracleIndex
from kma_information_retrieval_spark.streaming import (
    incremental_index_stream,
    load_generations,
)


@pytest.fixture(scope="module")
def gen_index(spark, tmp_path_factory):
    """Stream the 200-doc corpus in two file batches -> two generations."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "incoming")
    out = str(base / "index")
    os.makedirs(src)
    rows = local_corpus(200)

    def write_batch(batch_rows, name):
        spark.createDataFrame(batch_rows, CORPUS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch([tuple(r.values()) for r in rows[:120]], "b0")
    stream = spark.readStream.schema(CORPUS_SCHEMA).option("maxFilesPerTrigger", "100").parquet(src)
    q = incremental_index_stream(
        stream, out, num_segments=4, postings_per_group=40, block_size=16
    )
    q.processAllAvailable()
    write_batch([tuple(r.values()) for r in rows[120:]], "b1")
    q.processAllAvailable()
    q.stop()
    return load_generations(spark, out)


def test_two_generations(gen_index):
    assert len(gen_index.gen_dirs) >= 2
    assert gen_index.n_docs == 200


def test_merged_dictionary(gen_index, oracle):
    got = {r["term"]: (r["df"], r["cf"]) for r in gen_index.dictionary.collect()}
    assert len(got) == len(oracle.tf)
    for t, (df, cf) in got.items():
        assert df == oracle.df(t) and cf == oracle.cf(t)


@pytest.mark.parametrize(
    "terms", [["index", "compute"], ["shard", "merge", "token"], ["wonderful"]]
)
def test_merged_topk_rank_identity(gen_index, oracle, terms):
    got = gen_index.bm25_topk(terms, 10)
    want = oracle.bm25_topk(terms, 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)


def test_cross_generation_query_surface(gen_index, oracle):
    """Boolean/phrase/wildcard across ALL generations pre-compaction,
    served from the unioned persisted tables (GenerationIndex.bundle) —
    must equal the whole-corpus oracle."""
    for q in ('"hash join"', "compute and test", "(spark or query) and not dup"):
        got = {r["doc_id"] for r in gen_index.query(q).collect()}
        assert got == oracle.search(q), q
    got_wc = {r["doc_id"] for r in gen_index.query("s*n").collect()}
    assert got_wc == oracle.search("s*n")


def test_compaction_preserves_results(gen_index, oracle, spark):
    """Compact all generations into one; BM25 results (now WAND over the
    merged-avgdl block-max metadata) must stay rank- and score-identical,
    and phrase/proximity must survive (positional tables are unioned into
    the compacted generation — round-2 verdict #3)."""
    from kma_information_retrieval_spark.index import load_index
    from kma_information_retrieval_spark.index.wand import bm25_topk_batch
    from kma_information_retrieval_spark.operators.boolean import compile_query
    from kma_information_retrieval_spark.streaming.incremental import (
        compact_generations,
    )

    queries = [["index", "compute"], ["shard", "merge", "token"], ["wonderful"]]
    before = {tuple(t): gen_index.bm25_topk(t, 10) for t in queries}
    n_docs = gen_index.n_docs
    # pre-compaction phrase results = union over the (doc-disjoint)
    # generations, queried while their dirs still exist
    pre_phrase: set[int] = set()
    for g in gen_index.gen_dirs:
        pre_phrase |= {
            r["doc_id"] for r in load_index(spark, g).query('"hash join"').collect()
        }

    compacted = compact_generations(
        spark, gen_index.out_dir, num_segments=4, postings_per_group=40,
        block_size=16,
    )
    assert len(compacted.gen_dirs) == 1
    assert compacted.n_docs == n_docs
    # the compacted generation is a regular loadable index with exact
    # WAND bounds (block-max recomputed against the merged avgdl)
    idx = load_index(spark, compacted.gen_dirs[0])
    for terms in queries:
        got = sorted(
            ((r["doc_id"], r["score"])
             for r in bm25_topk_batch(idx, {"q": terms}, 10).collect()),
            key=lambda x: (-x[1], x[0]),
        )
        want = before[tuple(terms)]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12)
        # oracle agreement too
        assert [d for d, _ in got] == [d for d, _ in oracle.bm25_topk(terms, 10)]
    # positional tables survive compaction: phrase queries are served
    # from the compacted index itself, identical to pre-compaction
    assert compacted.metas[0]["with_positions"] is True
    bundle = idx.bundle()
    assert bundle.positional is not None
    got_phrase = {r["doc_id"] for r in idx.query('"hash join"').collect()}
    assert got_phrase == pre_phrase == oracle.search('"hash join"')
    got_ids = {r["doc_id"] for r in compile_query("compute and test", bundle).collect()}
    want_ids = oracle.search("compute and test")
    assert got_ids == set(want_ids)


def test_streaming_exact_dedup_cross_batch(spark, tmp_path):
    """applyInPandasWithState dedup: the canonical doc of a content hash
    is the first-seen (earliest batch, min doc_id); duplicates arriving
    in the SAME batch and in LATER batches are both flagged, and state
    persists across micro-batches."""
    from kma_information_retrieval_spark.streaming.dedup_stream import (
        streaming_exact_dedup,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    batch1 = [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")]
    batch2 = [(5, "alpha"), (6, "beta"), (7, "delta"), (8, "delta")]
    schema = "doc_id long, content string"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in spark.table("dedup_sink").collect()
    }
    assert got == {
        1: (1, False),   # first alpha
        2: (2, False),   # first beta
        3: (1, True),    # same-batch dup of 1
        4: (4, False),
        5: (1, True),    # cross-batch dup of 1 (state survived)
        6: (2, True),    # cross-batch dup of 2
        7: (7, False),   # first delta (batch 2)
        8: (7, True),    # same-batch dup of 7
    }


def test_windowed_term_counts_watermark(spark, tmp_path):
    """Event-time windowed term counts: a window emits exactly once
    (append mode) after the watermark passes its end, and a doc arriving
    LATER than the watermark allows is dropped, not counted."""
    from datetime import datetime

    from kma_information_retrieval_spark.streaming.trending import (
        windowed_term_counts,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = "event_time timestamp, content string"
    t = lambda m: datetime(2026, 1, 1, 10, m)

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = windowed_term_counts(
        stream, window="10 minutes", watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory").queryName("trend_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # batch 1: two docs in [10:00, 10:10) -> watermark after = 10:05-10m
    emit([(t(2), "spark spark join"), (t(5), "spark scan")])
    q.processAllAvailable()
    # batch 2: doc at 10:25 -> watermark advances to 10:15, closing the
    # [10:00, 10:10) window (emits on the next trigger)
    emit([(t(25), "other words here")])
    q.processAllAvailable()
    # batch 3: a LATE doc stamped 10:04 — behind the 10:15 watermark, so
    # its counts must NOT appear when the window is (already) finalized
    emit([(t(4), "spark late late")])
    q.processAllAvailable()
    q.stop()

    rows = spark.table("trend_sink").collect()
    first = {
        r["term"]: r["cf"] for r in rows
        if r["window_start"] == t(0) and r["window_end"] == t(10)
    }
    assert first == {"spark": 3, "join": 1, "scan": 1}  # late doc dropped
    # the [10:20, 10:30) window is still open (watermark hasn't passed
    # 10:30), so append mode must not have emitted it
    assert all(r["window_start"] == t(0) for r in rows)


def _tiny_gens(spark, out, n=60):
    from pyspark.sql import functions as F

    from kma_information_retrieval_spark.index import build_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i % 7} gamma{i % 3} delta") for i in range(n)],
        "doc_id long, content string",
    )
    for i, gen in enumerate((
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )):
        build_index(spark, gen, os.path.join(out, "generations", f"gen={i + 1:010d}"),
                    num_segments=2)
    return docs


@pytest.fixture(scope="module")
def tiny_gi(spark, tmp_path_factory):
    """Own two-generation index: gen_index's directory is compacted
    (mutated) by test_compaction_preserves_results above."""
    out = str(tmp_path_factory.mktemp("tinygens") / "idx")
    _tiny_gens(spark, out)
    return load_generations(spark, out)


def test_cross_generation_wand_matches_exact(tiny_gi):
    """Round-3 verdict #8: cross-generation WAND — bounds re-derived
    from the raw (block_max_tf, block_min_dl) metadata under the merged
    avgdl — must return exactly what the full-decode kernel returns."""
    assert len(tiny_gi.gen_dirs) == 2
    for terms in (["alpha", "doc3"], ["gamma1"], ["doc2", "gamma0", "delta"]):
        wand = tiny_gi.bm25_topk(terms, 10, use_wand=True)
        exact = tiny_gi.bm25_topk(terms, 10, use_wand=False)
        assert [d for d, _ in wand] == [d for d, _ in exact]
        assert [s for _, s in wand] == pytest.approx([s for _, s in exact], rel=1e-12)


def test_generation_bm25_batch_matches_singles(tiny_gi):
    """Round-3 verdict #7: a batch of queries over the streaming index
    fans out in ONE job and must match the per-query API."""
    batch = {"q1": ["alpha", "doc3"], "q2": ["gamma1"], "q3": ["zzznope"]}
    rows = tiny_gi.bm25_topk_batch(batch, 5).collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid in by_q:
        by_q[qid].sort(key=lambda x: (-x[1], x[0]))
    assert by_q.get("q3") is None  # no matching term -> no rows
    for qid in ("q1", "q2"):
        single = tiny_gi.bm25_topk(batch[qid], 5)
        assert by_q[qid] == single


def test_compaction_crash_window_no_double_count(spark, tmp_path):
    """Round-3 advice: a crash between the compacted manifest's commit
    and the source rmtree leaves both committed — load_generations must
    skip sources listed in a committed compacted_from, and the next
    compaction run finishes the cleanup."""
    import shutil

    from kma_information_retrieval_spark.streaming.incremental import (
        compact_generations,
    )

    out = str(tmp_path / "idx")
    _tiny_gens(spark, out)
    g1 = os.path.join(out, "generations", "gen=0000000001")
    backup = str(tmp_path / "backup")
    shutil.copytree(g1, backup)
    gi = compact_generations(spark, out, num_segments=2)
    assert gi.n_docs == 60 and len(gi.gen_dirs) == 1
    shutil.copytree(backup, g1)  # simulate the crash's leftover source
    gi2 = load_generations(spark, out)
    assert len(gi2.gen_dirs) == 1 and gi2.n_docs == 60  # not double-counted
    assert {r["term"] for r in gi2.dictionary.collect()} == {
        r["term"] for r in gi.dictionary.collect()
    }
    compact_generations(spark, out, num_segments=2)  # finishes cleanup
    assert not os.path.isdir(g1)


def test_missing_docmap_raises_descriptive(spark, tmp_path):
    """Round-3 advice: a generation with a missing docmap must raise a
    descriptive error from bundle(), not AttributeError."""
    import shutil

    out = str(tmp_path / "idx")
    _tiny_gens(spark, out)
    g1 = os.path.join(out, "generations", "gen=0000000001")
    shutil.rmtree(os.path.join(g1, "docmap"))
    gi = load_generations(spark, out)
    with pytest.raises(ValueError, match="docmap"):
        gi.bundle()


def test_generation_wildcard_topk(tiny_gi, monkeypatch):
    """Wildcard->BM25 over the streaming generations: distributed
    expansion (no collect during plan construction), results equal the
    collected-terms batch path."""
    from pyspark.sql import DataFrame

    from kma_information_retrieval_spark.operators.boolean import wildcard_terms

    terms = sorted(
        r["term"] for r in wildcard_terms("doc*", tiny_gi.bundle()).collect()
    )
    assert terms
    expected = tiny_gi.bm25_topk(terms, 10)

    def boom(self):
        raise AssertionError("driver-side collect during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    frame = tiny_gi.wildcard_topk("doc*", 10)
    monkeypatch.undo()
    got = sorted(
        ((r["doc_id"], r["score"]) for r in frame.collect()),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == expected


# ---------------------------------------------------------------- deletes


@pytest.fixture(scope="module")
def del_gi(spark, tmp_path_factory):
    """Two-generation index with live tombstones (doc_id % 5 == 0
    deleted, across both generations)."""
    from kma_information_retrieval_spark.streaming.incremental import delete_docs

    out = str(tmp_path_factory.mktemp("delgens") / "idx")
    _tiny_gens(spark, out)
    delete_docs(spark, out, [i for i in range(60) if i % 5 == 0])
    return load_generations(spark, out)


def _tiny_oracle(n=60, live=None):
    return OracleIndex({
        i: f"alpha beta doc{i % 7} gamma{i % 3} delta"
        for i in range(n) if live is None or i in live
    })


def test_delete_masks_boolean(del_gi):
    """Tombstoned docs vanish from boolean results immediately (anti-
    join path, no compaction needed)."""
    got = {r["doc_id"] for r in del_gi.query("alpha").collect()}
    assert got == {i for i in range(60) if i % 5 != 0}


def test_delete_masks_bm25_build_time_stats(del_gi):
    """Lucene delete semantics pre-merge: results exclude deleted docs,
    but n_docs/avgdl/idf stay at build-time values — scores of live
    docs are bit-identical to the undeleted index's scores. Both the
    WAND path (pivot skip) and the exact kernel (mask) must agree."""
    oi = _tiny_oracle()
    full = oi.bm25_topk(["doc1", "alpha"], 60)
    want = [(d, s) for d, s in full if d % 5 != 0][:10]
    for use_wand in (True, False):
        got = del_gi.bm25_topk(["doc1", "alpha"], 10, use_wand=use_wand)
        assert [d for d, _ in got] == [d for d, _ in want], use_wand
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), use_wand
    # the two engine paths themselves stay bit-identical under deletes
    assert del_gi.bm25_topk(["doc1", "alpha"], 10, use_wand=True) == \
        del_gi.bm25_topk(["doc1", "alpha"], 10, use_wand=False)


def test_delete_masks_wildcard_topk(del_gi):
    """The distributed wildcard->BM25 path honors tombstones too."""
    rows = del_gi.wildcard_topk("doc*", 60).collect()
    assert rows and all(r["doc_id"] % 5 != 0 for r in rows)


def test_delete_then_compact_refreshes_stats(spark, tmp_path_factory):
    """Compaction applies tombstones physically: stats (n_docs, avgdl,
    df/cf) are recomputed over the live corpus, so post-compaction BM25
    equals a from-scratch index over the survivors; the tombstone set
    is cleared; a later delete triggers single-generation compaction."""
    from kma_information_retrieval_spark.streaming.incremental import (
        compact_generations,
        delete_docs,
    )

    out = str(tmp_path_factory.mktemp("delcompact") / "idx")
    _tiny_gens(spark, out)
    deleted = {i for i in range(60) if i % 5 == 0}
    delete_docs(spark, out, sorted(deleted))
    gi = compact_generations(spark, out, num_segments=2)
    assert len(gi.gen_dirs) == 1
    assert gi.n_docs == 60 - len(deleted)
    assert not os.path.isdir(os.path.join(out, "tombstones"))

    live = {i for i in range(60) if i % 5 != 0}
    oi = _tiny_oracle(live=live)
    assert abs(gi.avgdl - oi.avgdl) < 1e-12
    want = oi.bm25_topk(["doc1", "alpha"], 10)
    got = gi.bm25_topk(["doc1", "alpha"], 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    assert {r["doc_id"] for r in gi.query('"alpha beta"').collect()} == live

    # single generation + fresh tombstones must still compact
    delete_docs(spark, out, [1])
    gi2 = compact_generations(spark, out, num_segments=2)
    assert len(gi2.gen_dirs) == 1 and gi2.n_docs == 60 - len(deleted) - 1
    assert 1 not in {r["doc_id"] for r in gi2.query("alpha").collect()}


def test_compaction_sizes_from_input_bytes(spark, tmp_path, monkeypatch):
    """Default-sized generations compact into a generation sized from
    their summed input_bytes, and the result equals a from-scratch
    index over the same docs."""
    from kma_information_retrieval_spark.index import segments
    from kma_information_retrieval_spark.streaming import incremental

    # a per-segment target small enough that the 60 tiny docs size to
    # more than one segment, and their sum to more than either half
    monkeypatch.setattr(segments, "SEGMENT_BYTES", 512)
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i % 7} gamma{i % 3} delta") for i in range(60)],
        "doc_id long, content string",
    )
    for i, half in enumerate((docs.filter(F.col("doc_id") < 20),
                              docs.filter(F.col("doc_id") >= 20))):
        segments.build_index(
            spark, half, os.path.join(out, "generations", f"gen={i:010d}"))
    metas = load_generations(spark, out).metas
    total = sum(m["input_bytes"] for m in metas)
    assert [m["num_segments"] for m in metas] == [
        segments.segments_for_bytes(m["input_bytes"]) for m in metas]
    want_segments = segments.segments_for_bytes(total)
    assert want_segments > max(m["num_segments"] for m in metas)

    gi = incremental.compact_generations(spark, out)
    assert len(gi.gen_dirs) == 1
    meta = gi.metas[0]
    assert meta["num_segments"] == want_segments
    assert meta["input_bytes"] == total
    oi = _tiny_oracle()
    assert gi.n_docs == 60 and abs(gi.avgdl - oi.avgdl) < 1e-12
    for terms in (["doc1", "alpha"], ["gamma2", "doc3", "delta"]):
        got = gi.bm25_topk(terms, 10)
        want = oi.bm25_topk(terms, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12)
    for q in ('"beta doc1"', "gamma0 and not doc3", "doc*"):
        assert {r["doc_id"] for r in gi.query(q).collect()} == oi.search(q), q


def test_compaction_without_input_bytes_sizes_to_cap(spark, tmp_path):
    """A source manifest that predates input_bytes counts as the cap."""
    from kma_information_retrieval_spark.index.segments import MAX_SEGMENTS
    from kma_information_retrieval_spark.streaming.incremental import (
        compact_generations,
    )

    out = str(tmp_path / "idx")
    _tiny_gens(spark, out)
    mp = os.path.join(out, "generations", "gen=0000000001", "manifest.json")
    with open(mp) as f:
        meta = json.load(f)
    del meta["input_bytes"]
    with open(mp, "w") as f:
        json.dump(meta, f)
    gi = compact_generations(spark, out)
    assert gi.metas[0]["num_segments"] == MAX_SEGMENTS
    assert "input_bytes" not in gi.metas[0]
    assert gi.n_docs == 60


def test_mixed_old_new_generation_schemas(spark, tmp_path_factory):
    """Round-4 advice: a streaming index whose OLD generations predate
    the (max_tf, min_dl, block_max_tf, block_min_dl) bounds columns
    must stay queryable next to post-upgrade generations (union with
    allowMissingColumns), with have_bounds False (ANY old generation
    forces the exact kernel) and results still rank-identical."""
    out = str(tmp_path_factory.mktemp("mixedgens") / "idx")
    _tiny_gens(spark, out)
    gi = load_generations(spark, out)
    assert gi.have_bounds is True
    want = gi.bm25_topk(["doc1", "alpha"], 10)

    # simulate a pre-upgrade generation: rewrite gen 1's segments
    # without the bounds columns (partition layout preserved)
    g0 = gi.gen_dirs[0]
    seg_dir = os.path.join(g0, "segments")
    old = spark.read.parquet(seg_dir).drop(
        "max_tf", "min_dl", "block_max_tf", "block_min_dl"
    ).cache()
    old.count()
    tmp_out = seg_dir + "_old"
    old.write.mode("overwrite").partitionBy("part_id").parquet(tmp_out)
    old.unpersist()
    import shutil

    shutil.rmtree(seg_dir)
    shutil.move(tmp_out, seg_dir)

    gi2 = load_generations(spark, out)
    assert gi2.have_bounds is False
    # the union itself must not raise, and the exact-kernel fallback
    # must produce the same ranking (scores are avgdl/idf math only —
    # unaffected by missing bounds metadata)
    assert gi2.segments.count() > 0
    got = gi2.bm25_topk(["doc1", "alpha"], 10)
    assert got == want
    # wildcard->BM25 path shares the same gate
    rows = gi2.wildcard_topk("doc*", 5).collect()
    assert len(rows) == 5
