"""The BM25 shard scorer (``index.wand.score_shards``): one Arrow call
per shard scores every query of a batch.

One batch covers the cases the per-shard query loop has to get right:
a term shared by several queries, a term repeated inside one query, a
query whose terms are all absent (it yields no rows), and a rare term
present in only some doc-layout parts. A doc-layout and a term-layout
index over the same docs must return bit-identical (doc_id, score)
lists for every strategy, rank-equal to ``OracleIndex``, at 8 segments
and at 1, where every layout is a single shard. A two-generation index
with tombstones covers the rescaled bounds and the deleted-doc mask.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from kma_information_retrieval_spark.index import build_index, load_index
from kma_information_retrieval_spark.index.wand import bm25_topk_batch
from kma_information_retrieval_spark.streaming.incremental import (
    delete_docs,
    load_generations,
)

STRATEGIES = ("exact", "wand", "maxscore")


def _build_layouts(spark, docs, base, num_segments):
    out = {}
    for layout in ("doc", "term"):
        d = str(base / layout)
        # small salt groups and blocks: head terms split into several
        # salted lists of several blocks, so pruning has work to skip
        build_index(spark, docs, d, num_segments=num_segments, partition_by=layout,
                    with_positions=False, postings_per_group=40, block_size=16)
        out[layout] = load_index(spark, d)
    return out


@pytest.fixture(scope="module")
def layouts(spark, docs, tmp_path_factory):
    return _build_layouts(spark, docs, tmp_path_factory.mktemp("shard_scorer"), 8)


@pytest.fixture(scope="module")
def one_segment_layouts(spark, docs, tmp_path_factory):
    return _build_layouts(spark, docs, tmp_path_factory.mktemp("shard_scorer_1"), 1)


@pytest.fixture(scope="module")
def rare_term(oracle):
    return min(t for t in sorted(oracle.tf) if oracle.df(t) == 2)


@pytest.fixture(scope="module")
def batch(rare_term):
    return {
        "shared_a": ["compute", "test"],
        "shared_b": ["test", "index", "hello"],
        "repeated": ["world", "world", "cat"],
        "absent": ["zzznope", "zzznada"],
        "rare": [rare_term, "compute"],
        "half_absent": ["zzznope", "shard"],
    }


def _by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}


def _assert_oracle_ranking(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)


def test_rare_term_misses_some_doc_parts(layouts, rare_term):
    seg = layouts["doc"].segments
    parts = {r["part_id"] for r in seg.select("part_id").distinct().collect()}
    with_term = {r["part_id"] for r in seg.filter(F.col("term") == rare_term)
                 .select("part_id").collect()}
    assert with_term and with_term < parts


def _assert_layouts_agree(layouts, batch, oracle):
    results = {}
    for strategy in STRATEGIES:
        for layout, idx in layouts.items():
            frame = bm25_topk_batch(idx, batch, 10, strategy=strategy)
            results[layout, strategy] = _by_query(frame.collect())
    base = results["doc", "exact"]
    # a query with no term in the index has no rows, as before
    assert set(base) == set(batch) - {"absent"}
    for key, got in results.items():
        assert got == base, key
    for qid, terms in batch.items():
        if qid != "absent":
            _assert_oracle_ranking(base[qid], oracle.bm25_topk(terms, 10))


def test_layouts_agree_bit_exactly_with_oracle(layouts, batch, oracle):
    _assert_layouts_agree(layouts, batch, oracle)


def test_layouts_agree_at_one_segment(one_segment_layouts, batch, oracle):
    for idx in one_segment_layouts.values():
        assert idx.meta["num_segments"] == 1
        assert set(idx.meta["partitions"]) == {"0"}
    _assert_layouts_agree(one_segment_layouts, batch, oracle)


def test_scoring_runs_as_one_arrow_call_per_shard(layouts, batch):
    for idx in layouts.values():
        plan = bm25_topk_batch(idx, batch, 10)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "FlatMapGroupsInArrow" in plan
        assert "FlatMapGroupsInPandas" not in plan


@pytest.fixture(scope="module")
def tomb_gens(spark, docs, tmp_path_factory):
    """Two generations of unequal avgdl (so pruning bounds are rescaled
    under the merged avgdl), with tombstones in both."""
    out = str(tmp_path_factory.mktemp("shard_gens") / "idx")
    for i, gen in enumerate((docs.filter(F.col("doc_id") % 3 == 0),
                             docs.filter(F.col("doc_id") % 3 != 0))):
        build_index(spark, gen, os.path.join(out, "generations", f"gen={i:010d}"),
                    num_segments=4, block_size=16)
    deleted = sorted(r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 1)
                     .select("doc_id").collect())
    delete_docs(spark, out, deleted)
    return load_generations(spark, out), frozenset(deleted)


def test_generations_with_tombstones(tomb_gens, batch, oracle):
    gi, deleted = tomb_gens
    assert len(gi.gen_dirs) == 2 and gi.have_bounds
    assert len({round(m["avgdl"], 9) for m in gi.metas}) == 2
    wand = _by_query(gi.bm25_topk_batch(batch, 10, use_wand=True).collect())
    exact = _by_query(gi.bm25_topk_batch(batch, 10, use_wand=False).collect())
    assert wand == exact
    assert set(wand) == set(batch) - {"absent"}
    for qid, terms in batch.items():
        if qid == "absent":
            continue
        # Lucene semantics: build-time statistics, deleted docs dropped
        full = oracle.bm25_topk(terms, 10 + len(deleted))
        want = [(d, s) for d, s in full if d not in deleted][:10]
        assert not {d for d, _ in wand[qid]} & deleted
        _assert_oracle_ranking(wand[qid], want)
