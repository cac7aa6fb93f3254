"""BM25 top-k over compressed segments: exact kernel + block-max WAND
+ document-at-a-time MaxScore.

Three scorers over the segment layout built by ``segments.build_index``
(pick with ``strategy="exact" | "wand" | "maxscore"``):

* ``exact`` — decode every block of the query terms' posting lists and
  score all candidates with a deterministic term-ordered float64
  reduction. The correctness baseline.
* ``wand`` — Block-Max WAND (Ding & Suel, SIGIR'11 — public
  algorithm): list-level upper bounds pick a pivot, block-level
  max-impact bounds let whole compressed blocks be skipped without
  decoding. Salted sub-lists of one term are simply extra cursors
  (their doc sets are disjoint, so correctness is unaffected).
* ``maxscore`` — MaxScore (Turtle & Flood 1995): lists split into
  essential/non-essential by sorted upper bounds; candidates come only
  from essential lists, non-essential lists are probed with early
  abandonment. Often beats WAND on long unselective queries, where
  pivot selection churns.

All three are bit-identical in output (fuzzed in
``tests/test_wand_fuzz.py``) and take segment rows as records (dicts).
:func:`score_shards` runs them: one ``applyInArrow`` call per shard
receives the shard's segment rows as one Arrow table (only the columns
the kernel reads) and scores every query of the batch from them. On a
doc-disjoint shard — a ``part_id`` of the doc layout, a generation of a
streaming index — each doc's score is complete inside the shard, so the
shards' local top-k rows merge into the global top-k
(:func:`merge_local_topk`). On the term layout a query's lists span
parts, so the shard is the query itself. The partition-pruned parquet
read (see ``SegmentIndex.query_segments``) feeds only the needed
(part_id, term) rows. Exactness contract matches the oracle: float64,
per-doc contributions summed in lexicographic term order, tie-break
(score DESC, doc_id ASC).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codecs import vb_decode
from .segments import K1, B, SegmentIndex

RESULT_SCHEMA = "query_id string, doc_id long, score double"


def _idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _impact(tf: float, dl: float, avgdl: float) -> float:
    """BM25 term impact (idf excluded) — increasing in tf, decreasing in
    dl, so impact(max_tf, min_dl, avgdl) upper-bounds every posting's
    impact under ANY avgdl."""
    return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


# ------------------------------------------------------------------ cursors


class _Cursor:
    """Lazy block-decoding cursor over one (term, salt) segment row."""

    __slots__ = (
        "term", "idf", "ub", "block_last", "block_ub",
        "_row", "_bi", "_docs", "_contrib", "_pos", "cur_doc", "n_blocks",
    )

    def __init__(self, row, idf: float, avgdl: float, rescale: bool = False):
        self.term = row["term"]
        self.idf = idf
        if rescale:
            # cross-generation querying: the stored impacts were baked
            # against the BUILDING generation's avgdl, which differs from
            # the merged avgdl scoring runs under — re-derive (looser but
            # valid) bounds from the raw (max_tf, min_dl) block metadata
            self.ub = idf * _impact(float(row["max_tf"]), float(row["min_dl"]), avgdl)
            self.block_ub = [
                idf * _impact(float(t), float(d), avgdl)
                for t, d in zip(row["block_max_tf"], row["block_min_dl"])
            ]
        else:
            self.ub = idf * float(row["max_impact"])
            self.block_ub = [idf * m for m in row["block_max_impact"]]
        self.block_last = row["block_last"]
        self._row = row
        self.n_blocks = len(self.block_last)
        self._bi = -1
        self._docs = None
        self._contrib = None
        self._pos = 0
        self.cur_doc = -1
        self._load_block(0, avgdl)

    def _load_block(self, bi: int, avgdl: float):
        if bi >= self.n_blocks:
            self.cur_doc = _EXHAUSTED
            return
        row = self._row
        d_off, t_off, l_off = row["block_doc_off"], row["block_tf_off"], row["block_dl_off"]
        gaps = vb_decode(bytes(row["doc_bytes"])[d_off[bi] : d_off[bi + 1]])
        base = np.uint64(self.block_last[bi - 1]) if bi > 0 else np.uint64(0)
        self._docs = (np.cumsum(gaps, dtype=np.uint64) + base).astype(np.int64)
        tf = vb_decode(bytes(row["tf_bytes"])[t_off[bi] : t_off[bi + 1]]).astype(np.float64)
        dl = vb_decode(bytes(row["dl_bytes"])[l_off[bi] : l_off[bi + 1]]).astype(np.float64)
        self._contrib = self.idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        self._bi = bi
        self._pos = 0
        self.cur_doc = int(self._docs[0])

    def contribution(self) -> float:
        return float(self._contrib[self._pos])

    def advance(self, avgdl: float):
        self._pos += 1
        if self._pos < self._docs.size:
            self.cur_doc = int(self._docs[self._pos])
        else:
            self._load_block(self._bi + 1, avgdl)

    def next_geq(self, target: int, threshold: float, avgdl: float):
        """Skip to the first doc >= target; whole blocks whose last doc
        < target are skipped WITHOUT decoding (this is the block-max
        payoff: block_ub is also consulted by the caller)."""
        if self.cur_doc >= target:
            return
        bi = self._bi
        # skip blocks by metadata only
        while bi < self.n_blocks and self.block_last[bi] < target:
            bi += 1
        if bi >= self.n_blocks:
            self.cur_doc = _EXHAUSTED
            return
        if bi != self._bi:
            self._load_block(bi, avgdl)
        pos = int(np.searchsorted(self._docs, target, side="left"))
        if pos >= self._docs.size:  # can't happen given block_last check
            self._load_block(self._bi + 1, avgdl)
            return
        self._pos = pos
        self.cur_doc = int(self._docs[pos])


_EXHAUSTED = 2**62


# ------------------------------------------------------------------ kernels


def _exact_kernel(rows: list[dict], idf_by_term: dict, avgdl: float, k: int,
                  rescale_bounds: bool = False,
                  deleted: frozenset | None = None):
    """Full-decode scoring with deterministic term-ordered summation.
    ``rows`` are segment-row records; ``rescale_bounds`` is accepted so
    all three kernels share one signature (no bounds are used here).
    ``deleted`` (tombstoned doc ids) are masked out before scoring —
    exactly as if their postings were never indexed."""
    terms = sorted(idf_by_term)
    rank = {t: i for i, t in enumerate(terms)}
    doc_parts, contrib_parts, rank_parts = [], [], []
    for row in rows:
        idf = idf_by_term[row["term"]]
        gaps = vb_decode(bytes(row["doc_bytes"]))
        # rebuild absolute ids block by block (first gap of each block is
        # relative to the previous block's last doc)
        docs = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
        # cumsum across block boundaries is already correct because the
        # first gap of block i was encoded relative to block i-1's last id
        tf = vb_decode(bytes(row["tf_bytes"])).astype(np.float64)
        dl = vb_decode(bytes(row["dl_bytes"])).astype(np.float64)
        contrib = idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        doc_parts.append(docs)
        contrib_parts.append(contrib)
        rank_parts.append(np.full(docs.size, rank[row["term"]], dtype=np.int32))
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    contrib = np.concatenate(contrib_parts)
    ranks = np.concatenate(rank_parts)
    if deleted:
        live = ~np.isin(docs, np.fromiter(deleted, dtype=np.int64))
        docs, contrib, ranks = docs[live], contrib[live], ranks[live]
        if docs.size == 0:
            return []
    # Fold per-doc scores strictly LEFT-TO-RIGHT in term-rank order in
    # O(N log N): lexsort postings by (doc, rank), then np.add.at —
    # which is unbuffered and applies additions in element order — so
    # each doc's contributions accumulate sequentially in ascending
    # rank order, bit-identical to the WAND kernel's term-sorted fold.
    # (np.add.reduceat was measured to associate right-to-left, and the
    # earlier one-mask-per-rank loop was O(n_terms * n_postings) — a
    # quadratic blowup for million-term wildcard expansions. Both
    # rejected; the fold order is pinned by tests/test_wand_fuzz.py —
    # rank identity must be bit-exact, not isclose.)
    uniq, inv = np.unique(docs, return_inverse=True)
    order = np.lexsort((ranks, docs))
    scores = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(scores, inv[order], contrib[order])
    sel = np.lexsort((uniq, -scores))[:k]
    return [(int(uniq[i]), float(scores[i])) for i in sel]


def _wand_kernel(rows: list[dict], idf_by_term: dict, avgdl: float, k: int,
                 rescale_bounds: bool = False,
                 deleted: frozenset | None = None):
    """Block-Max WAND. Exact top-k: pruning uses strict bounds, ties at
    the threshold are still evaluated, final order (score DESC, doc ASC).
    ``deleted`` docs are skipped at pivot evaluation (they contribute
    nothing and never enter the heap); all upper bounds remain valid —
    removing docs can only lower true block maxima."""
    cursors = [
        _Cursor(row, idf_by_term[row["term"]], avgdl, rescale=rescale_bounds)
        for row in rows
    ]
    cursors = [c for c in cursors if c.cur_doc != _EXHAUSTED]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    threshold = -math.inf

    while True:
        cursors = [c for c in cursors if c.cur_doc != _EXHAUSTED]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.cur_doc)
        # pivot: smallest prefix whose UB sum can reach the threshold.
        # >= (not >) so equal-score ties are still evaluated — the
        # tie-break (doc_id ASC) can prefer a tied newcomer.
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc >= threshold:
                pivot = i
                break
        if pivot == -1:
            break
        pivot_doc = cursors[pivot].cur_doc
        if pivot_doc == _EXHAUSTED:
            break
        if cursors[0].cur_doc == pivot_doc:
            if deleted and pivot_doc in deleted:
                # tombstoned: advance past without scoring
                for c in cursors:
                    if c.cur_doc == pivot_doc:
                        c.advance(avgdl)
                continue
            # block-max refinement: sum of *block* UBs at pivot_doc
            if len(heap) >= k:
                block_acc = 0.0
                for c in cursors:
                    if c.cur_doc > pivot_doc:
                        break
                    block_acc += c.block_ub[c._bi]
                if block_acc < threshold:
                    # no doc in these blocks can beat threshold: advance
                    # the lowest cursor past pivot_doc and retry
                    cursors[0].advance(avgdl)
                    continue
            contribs = []
            for c in cursors:
                if c.cur_doc != pivot_doc:
                    break
                contribs.append((c.term, c.contribution()))
            contribs.sort(key=lambda tc: tc[0])
            score = 0.0
            for _, v in contribs:
                score += v
            entry = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            if len(heap) >= k:
                threshold = heap[0][0]
            for c in cursors:
                if c.cur_doc == pivot_doc:
                    c.advance(avgdl)
        else:
            # advance the first non-aligned cursor to the pivot doc,
            # skipping blocks via metadata
            for c in cursors:
                if c.cur_doc < pivot_doc:
                    c.next_geq(pivot_doc, threshold, avgdl)
                    break
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-nd, s) for s, nd in out]


def _maxscore_kernel(rows: list[dict], idf_by_term: dict, avgdl: float,
                     k: int, rescale_bounds: bool = False,
                     deleted: frozenset | None = None):
    """Document-at-a-time MaxScore (Turtle & Flood 1995) — the other
    classic dynamic-pruning family next to Block-Max WAND. Cursors sort
    by list upper bound ASC; the maximal prefix whose UB sum stays
    strictly below the heap threshold is NON-ESSENTIAL (a doc appearing
    only there can never be admitted, including by the doc-ASC
    tie-break, which requires score == threshold and is already ruled
    out by the strict inequality). Candidates come only from essential
    lists; non-essential lists are probed highest-UB-first with early
    abandonment once partial + remaining-UB cannot reach the threshold.

    Exactness contract (same as the exact/WAND kernels): admitted docs
    re-fold their contributions in ascending term order, so scores are
    bit-identical across all three kernels. The abandonment test adds a
    provable reassociation guard — a cursor-order partial sum can
    differ from the final term-order fold by at most
    (n_terms-1) * eps * sum|contrib| (standard float-sum error bound),
    so the bound is padded by n * 2^-52 * magnitude and pruning stays
    conservative (never drops a doc the exact kernel would return).

    ``deleted`` docs are skipped at candidate selection; bounds remain
    valid (removing docs only lowers true maxima).
    """
    cursors = [
        _Cursor(row, idf_by_term[row["term"]], avgdl, rescale=rescale_bounds)
        for row in rows
    ]
    cursors = [c for c in cursors if c.cur_doc != _EXHAUSTED]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    threshold = -math.inf
    eps = 2.0 ** -52

    while True:
        cursors = [c for c in cursors if c.cur_doc != _EXHAUSTED]
        if not cursors:
            break
        cursors.sort(key=lambda c: (c.ub, c.term))
        m = len(cursors)
        cum = [0.0] * m  # cum[i] = ub_0 + ... + ub_i
        acc = 0.0
        for i, c in enumerate(cursors):
            acc += c.ub
            cum[i] = acc
        # first essential index: smallest e with cum[e] >= threshold
        e = m
        for i in range(m):
            if cum[i] >= threshold:
                e = i
                break
        if e == m:
            break  # even the full UB sum can't reach the threshold
        # candidate: minimum current doc over essential lists
        doc = min(c.cur_doc for c in cursors[e:])
        if doc == _EXHAUSTED:
            break
        if deleted and doc in deleted:
            for c in cursors[e:]:
                if c.cur_doc == doc:
                    c.advance(avgdl)
            continue
        contribs = []
        partial = 0.0
        for c in cursors[e:]:
            if c.cur_doc == doc:
                v = c.contribution()
                contribs.append((c.term, v))
                partial += v
        abandoned = False
        for i in range(e - 1, -1, -1):
            # remaining potential = cum[i]; reassociation guard keeps
            # the cut conservative under any fold order
            bound = partial + cum[i]
            if bound + m * eps * abs(bound) < threshold:
                abandoned = True
                break
            c = cursors[i]
            c.next_geq(doc, -math.inf, avgdl)
            if c.cur_doc == doc:
                v = c.contribution()
                contribs.append((c.term, v))
                partial += v
        if not abandoned:
            contribs.sort(key=lambda tc: tc[0])
            score = 0.0
            for _, v in contribs:
                score += v
            entry = (score, -doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            if len(heap) >= k:
                threshold = heap[0][0]
        for c in cursors[e:]:
            if c.cur_doc == doc:
                c.advance(avgdl)
    out = sorted(heap, key=lambda e_: (-e_[0], -e_[1]))
    return [(-nd, s) for s, nd in out]


_KERNELS = {
    "exact": _exact_kernel,
    "wand": _wand_kernel,
    "maxscore": _maxscore_kernel,
}


def _pick_kernel(use_wand: bool, strategy: str | None):
    if strategy is not None:
        return _KERNELS[strategy]
    return _wand_kernel if use_wand else _exact_kernel


# segment columns each kernel reads: the exact kernel decodes whole
# lists; the pruning kernels also walk block metadata and need either
# the stored (avgdl-baked) impacts or the raw bounds they rescale
_DECODE_COLS = ["term", "doc_bytes", "tf_bytes", "dl_bytes"]
_BLOCK_COLS = ["block_last", "block_doc_off", "block_tf_off", "block_dl_off"]
_STORED_BOUNDS = ["max_impact", "block_max_impact"]
_RAW_BOUNDS = ["max_tf", "min_dl", "block_max_tf", "block_min_dl"]


def _kernel_columns(kern, rescale_bounds: bool) -> list[str]:
    if kern is _exact_kernel:
        return _DECODE_COLS
    return _DECODE_COLS + _BLOCK_COLS + (_RAW_BOUNDS if rescale_bounds else _STORED_BOUNDS)


# ------------------------------------------------------------------ public API


def make_topk_kernel(idf_all: dict, qterms: dict, avgdl: float, k: int,
                     use_wand: bool, rescale_bounds: bool = False,
                     deleted: frozenset | None = None,
                     strategy: str | None = None):
    """``(key, pandas frame)`` adapter over the top-k kernels, for
    scoring collected segment rows outside Spark: ``key[0]`` is a query
    id of ``qterms``, the frame holds that query's segment rows, and
    the result is its top-k as a (query_id, doc_id, score) frame.
    Queries inside Spark go through :func:`score_shards`."""
    kern = _pick_kernel(use_wand, strategy)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = key[0]
        idf_by_term = {t: idf_all[t] for t in qterms[qid] if t in idf_all}
        top = kern(pdf.to_dict("records"), idf_by_term, avgdl, k,
                   rescale_bounds=rescale_bounds, deleted=deleted)
        return pd.DataFrame(
            {"query_id": qid, "doc_id": [d for d, _ in top], "score": [s for _, s in top]}
        )

    return run


def score_shards(
    tagged: DataFrame,
    shard: str,
    queries: dict[str, list[str] | None],
    k: int,
    avgdl: float,
    idf: dict[str, float] | None = None,
    n_docs: int = 0,
    use_wand: bool = True,
    strategy: str | None = None,
    rescale_bounds: bool = False,
    deleted: frozenset | None = None,
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score), <= k rows per query.

    ``tagged`` holds the segment rows of the batch's terms and a
    ``shard`` column. Each shard is one ``groupBy(shard).applyInArrow``
    call: the shard's rows arrive as one Arrow table, are turned into
    records once, and every query of ``queries`` is scored from the
    rows of its own terms. A query with no rows in a shard yields
    nothing there, so a query whose terms are all absent returns no
    rows.

    * ``shard="query_id"`` (term layout): the shard is one query —
      ``tagged`` carries each row once per query using its term — and
      its top-k is final.
    * any other shard (``part_id`` of the doc layout, ``gen`` across
      generations) must be doc-disjoint: every doc's postings sit in
      one shard, so local scores are complete and
      :func:`merge_local_topk` keeps the best k of <= shards*k rows.
      Each doc is still summed in lexicographic term order inside one
      kernel, so scores are bit-identical to a single-task scan.

    ``queries`` maps query id -> terms; ``None`` terms mean every term
    in the rows (a wildcard expansion that never reaches the driver).
    ``idf`` maps term -> idf. Without it, idf is computed in the kernel
    from each row's corpus-global ``gdf`` column and ``n_docs``, with
    the same CPython ``math.log`` as the dict path (a Catalyst
    ``F.log`` column is 1 ulp off ``math.log`` for some inputs, which
    breaks bit-exact identity between the two paths).
    ``rescale_bounds``: derive pruning bounds from the raw
    (block_max_tf, block_min_dl) metadata under ``avgdl`` instead of
    the stored impacts — needed whenever ``avgdl`` differs from the one
    the segments were encoded with (cross-generation queries).
    ``deleted``: tombstoned doc ids masked out of scoring (streaming
    deletes; Lucene semantics — stats stay build-time until
    compaction)."""
    import pyarrow as pa

    kern = _pick_kernel(use_wand, strategy)
    queries = {q: None if ts is None else sorted(set(ts)) for q, ts in queries.items()}
    cols = [shard] + _kernel_columns(kern, rescale_bounds) + (["gdf"] if idf is None else [])

    def run(key: tuple, table: pa.Table) -> pa.Table:
        rows = table.to_pylist()
        by_term: dict[str, list[dict]] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        if idf is None:
            idf_by_term = {t: _idf(rs[0]["gdf"], n_docs) for t, rs in by_term.items()}
        else:
            idf_by_term = idf
        scored = queries
        if shard == "query_id":
            qid = key[0].as_py()
            scored = {qid: queries[qid]}
        qids, docs, scores = [], [], []
        for qid, terms in scored.items():
            terms = [t for t in (sorted(by_term) if terms is None else terms) if t in by_term]
            top = kern([r for t in terms for r in by_term[t]],
                       {t: idf_by_term[t] for t in terms}, avgdl, k,
                       rescale_bounds=rescale_bounds, deleted=deleted)
            qids += [qid] * len(top)
            docs += [d for d, _ in top]
            scores += [s for _, s in top]
        return pa.table({
            "query_id": pa.array(qids, pa.string()),
            "doc_id": pa.array(docs, pa.int64()),
            "score": pa.array(scores, pa.float64()),
        })

    local = tagged.select(*cols).groupBy(shard).applyInArrow(run, schema=RESULT_SCHEMA)
    return local if shard == "query_id" else merge_local_topk(local, k)


def bm25_topk_terms_frame(
    index: SegmentIndex,
    terms_df: DataFrame,
    k: int = 10,
    use_wand: bool = True,
    query_id: str = "q",
) -> DataFrame:
    """Bag-of-terms BM25 top-k where the term set is a **DataFrame**
    (e.g. a wildcard expansion) that is never collected to the driver
    (round-3 verdict #3: the old path ``.collect()``-ed the matched
    terms, then shipped a giant In-filter — at a 10^9-term vocab a
    ``qu*`` expansion would materialize millions of terms driver-side).

    Fully distributed shape, mirroring the boolean path's
    ``_docs_of_terms`` (``operators/boolean.py``): the term frame joins
    the dictionary to attach each term's corpus-global df as a row
    column (``gdf``; idf itself is computed inside the kernel with
    CPython ``math.log`` — see :func:`score_shards`), then —
    term layout — joins the saltmap to enumerate each term's (salt,
    part_id) pairs so the segment join carries ``part_id`` equality —
    the broadcast hash join drops non-candidate (part_id, term) rows at
    the scan's exit, and Spark inserts a dynamic-partition-pruning
    subquery on the segment scan (PLANS.md §6 shows
    ``dynamicpruningexpression(part_id IN ...)`` in the audited plan),
    so only candidate part directories are read — the collected path's
    partition pruning, without driver materialization. Scoring reuses
    the same exact/WAND kernels through :func:`score_shards`.

    Scale limit (term layout): the joins are fully distributed, but
    the query is the term layout's scoring shard, so one query's entire
    expansion funnels into a single task — an unselective pattern
    (``*a*``) at a 10^9-term vocab makes that task the straggler/OOM
    point even though nothing touches the driver. For such patterns
    build with ``partition_by="doc"``: the kernel then runs per
    ``part_id`` with complete local scores and the <= parts*k global
    merge distributes the scoring too."""
    from .segments import _part_id_col

    n_docs, avgdl = index.meta["n_docs"], index.meta["avgdl"]
    tdf = (
        index.dictionary.join(terms_df.select("term").distinct(), "term")
        .select("term", F.col("df").alias("gdf"))
    )
    doc_layout = index.meta.get("partition_by") == "doc"
    sm = None if doc_layout else index.saltmap
    if sm is not None:
        tagged_terms = (
            tdf.join(sm, "term", "left")
            .withColumn(
                "salt",
                F.explode(
                    F.sequence(
                        F.lit(0), F.coalesce(F.col("salt_factor"), F.lit(1)) - 1
                    )
                ),
            )
            .select(
                _part_id_col(
                    F.col("term"), F.col("salt"), index.meta["num_segments"]
                ).alias("part_id"),
                "term",
                "gdf",
            )
            .distinct()  # two salts of one term may share a part_id
        )
        tagged = index.segments.join(tagged_terms, ["part_id", "term"])
    else:
        tagged = index.segments.join(tdf, "term")
    if doc_layout:
        return score_shards(tagged, "part_id", {query_id: None}, k, avgdl,
                            n_docs=n_docs, use_wand=use_wand)
    return score_shards(tagged.withColumn("query_id", F.lit(query_id)), "query_id",
                        {query_id: None}, k, avgdl, n_docs=n_docs, use_wand=use_wand)


def merge_local_topk(local: DataFrame, k: int) -> DataFrame:
    """Global top-k per query over per-shard local top-k rows (the
    two-stage merge: <= shards*k candidate rows per query)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bm25_topk_batch(
    index: SegmentIndex,
    queries: dict[str, list[str]],
    k: int = 10,
    use_wand: bool = True,
    strategy: str | None = None,
) -> DataFrame:
    """Batch top-k over the segment index: DataFrame
    (query_id, doc_id, score), <= k rows per query, ordered by
    (score DESC, doc_id ASC) within each query.

    Doc-partitioned index (``build_index(partition_by="doc")``): every
    partition holds all query terms for a disjoint doc subset, so each
    ``part_id`` is one :func:`score_shards` call that scores the whole
    batch — an *exact* local top-k per query (scores complete within
    the partition) — and a global merge keeps the best k of <= parts*k
    candidate rows per query.

    Term-partitioned index: the parquet scan is pruned to the union of
    candidate part_ids and query terms; rows are tagged with the ids of
    the queries using their term inside the plan (a literal term ->
    query-ids map, exploded), and each query is scored in one task, so
    a query batch saturates the cluster while individual merges stay
    local. A stop-word query at 10^12 docs would make that one task a
    straggler — which is exactly what the doc layout exists for.
    """
    spark = index.spark
    all_terms = sorted({t for ts in queries.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    n_docs, avgdl = index.meta["n_docs"], index.meta["avgdl"]

    df_rows = index.dictionary.filter(F.col("term").isin(all_terms)).collect()
    idf = {r["term"]: _idf(r["df"], n_docs) for r in df_rows}
    seg = index.query_segments(all_terms)
    if index.meta.get("partition_by") == "doc":
        return score_shards(seg, "part_id", queries, k, avgdl, idf=idf,
                            use_wand=use_wand, strategy=strategy)
    qids_of_term: dict[str, list[str]] = {}
    for qid, ts in queries.items():
        for t in sorted(set(ts)):
            qids_of_term.setdefault(t, []).append(qid)
    qids_map = F.create_map(*[
        c for t, qs in sorted(qids_of_term.items())
        for c in (F.lit(t), F.array(*[F.lit(q) for q in qs]))
    ])
    tagged = seg.withColumn("query_id", F.explode(F.element_at(qids_map, F.col("term"))))
    return score_shards(tagged, "query_id", queries, k, avgdl, idf=idf,
                        use_wand=use_wand, strategy=strategy)


def bm25_topk_segments(
    index: SegmentIndex, terms: list[str], k: int = 10, use_wand: bool = True,
    strategy: str | None = None,
) -> list[tuple[int, float]]:
    """Single-query convenience: list of (doc_id, score)."""
    out = bm25_topk_batch(index, {"q": terms}, k, use_wand, strategy=strategy).collect()
    return sorted(((r["doc_id"], r["score"]) for r in out), key=lambda x: (-x[1], x[0]))
