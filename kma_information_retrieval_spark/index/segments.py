"""Segment build pipeline — the north-star core (BASELINE.json).

The reference's SPIMI (P1-P4, ``spimi.rs``) is a hand-rolled shuffle:
accumulate term->docs in memory, spill sorted runs, k-way merge. Spark's
shuffle machinery replaces it wholesale; what remains ours is the
*layout policy*:

1. one tokenize pass -> ``(term, doc_id, tf, dl[, positions])``
   aggregated postings, materialized ONCE — as the positional parquet
   itself when ``with_positions`` (downstream jobs re-read it with
   ``positions`` column-pruned away), else as a slim in-memory cache —
   and feeding every structure below;
2. **explicit salting for head-term skew** (term layout): terms whose
   document frequency exceeds ``postings_per_group`` are split into
   ``ceil(df / postings_per_group)`` disjoint sub-lists by a hash of
   doc_id, so no reducer ever materializes a stop-word-sized posting
   list (AQE skew handling is a safety net, not the plan);
3. shuffle by ``part_id``, sort within partitions by
   ``(term, salt, doc_id)``;
4. a streaming mapInPandas encoder walks each sorted partition,
   delta+varbyte-compresses each (term, salt) group (doc gaps, tfs,
   dls) in blocks of ``block_size`` docs, and computes **block-max
   metadata**: per-block last doc_id, byte offsets, and the max BM25
   impact ``tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))`` (idf excluded — it
   is a query-time constant per term). Only the current group is ever
   buffered, so executor memory is bounded by the salt target, not by
   list length;
5. segments land as parquet partitioned by ``part_id`` with a
   **manifest** (per-partition lineage + metrics) enabling
   **checkpoint resume**: a re-run skips committed part_ids and
   dynamically overwrites only the missing ones.

Two segment layouts (classic IR trade-off, cf. "term-partitioned vs
document-partitioned indexes", IIR §20.3 / ES-Lucene shards):

* ``partition_by="term"`` (default): ``part_id = H(term, salt) %
  num_segments``. Query-time partition pruning — a term lookup touches
  exactly its candidate part_ids — but one top-k query's merge is a
  single task (``index/wand.py``).
* ``partition_by="doc"``: ``part_id = H(doc_id) % num_segments``; every
  partition holds *all* terms for a disjoint doc subset, so BM25 top-k
  fans out as per-partition exact WAND + a <= parts*k global merge
  (no single-task straggler at 10^12 docs). No term pruning — every
  query touches every partition (mitigated by term-sorted row groups).

Beyond the compressed segments, the build persists the **full query
surface** (the reference deserializes all five structures and serves
every query type from them, ``main.rs:408-423``,
``coordinate_index.rs:145-208``):

* ``positional`` — (term, doc_id, tf, positions) parquet partitioned
  by a term-hash ``part_id`` (boolean/phrase/proximity after restart;
  boolean term lookups column-prune ``positions`` away at scan time);
* ``dictionary``/``saltmap`` — stats + salting metadata;
* ``trigrams``/``permuterm``/``grams2``/``suffixes`` — wildcard
  prefilters (``grams2`` covers short-infix patterns like ``*ar*``
  that yield no trigram; ``suffixes`` is the reference's suffix tree,
  ``suffix_tree.rs:36-195``, as a suffix-sorted (suffix, term) table
  serving single-char-literal patterns like ``*a*`` by range scan);
* ``bigrams`` (optional) — word-pair doc lists (J8).

The serial driver tail is collapsed by submitting independent write
jobs from concurrent threads (Spark schedules concurrently-submitted
jobs onto free slots): the docmap (source-only scan: lineage + sha256)
launches first and overlaps the positional-store shuffle; the
dictionary is aggregated once and written while stats collect; then
the encode (dominant) runs alongside the saltmap/gram-table writes,
all reading the materialized postings store.

**Segment count follows the input** (:func:`segments_for_bytes`): one
segment per ``SEGMENT_BYTES`` (4 MiB) of document text, at least 1 and
at most ``MAX_SEGMENTS`` (32, reached at 128 MiB). The reference's
SPIMI sizes its blocks by data volume the same way. Every segment is
one encode task and one file per table directory, and at small sizes
that per-task and per-file cost dominates the build, so a 50-doc
generation builds as one segment. An explicit ``num_segments`` wins;
a resume reuses the committed manifest's count.

Hash choices are md5-based (not xxhash64) so the driver can compute a
query term's candidate part_ids in pure Python and prune the parquet
scan to those partitions.

Per-row invariant: ``docmap`` carries ``sha256(content)`` for every
doc; :func:`verify_content_integrity` re-checks it against any source.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import vb_decode, vb_encode_with_ends

K1 = 1.2
B = 0.75

SEGMENT_SCHEMA = (
    "part_id int, term string, salt int, df long, cf long, max_impact double, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, "
    "block_last array<long>, block_max_impact array<double>, "
    "block_doc_off array<int>, block_tf_off array<int>, block_dl_off array<int>, "
    # raw bounds alongside the avgdl-baked impacts: BM25 impact is
    # increasing in tf and decreasing in dl, so (max_tf, min_dl) yield
    # valid upper bounds under ANY avgdl — what cross-generation WAND
    # needs, since per-generation impacts were built against
    # per-generation avgdl (round-3 verdict #8)
    "max_tf long, min_dl long, block_max_tf array<long>, block_min_dl array<long>"
)


SEGMENT_BYTES = 4 << 20
MAX_SEGMENTS = 32


def segments_for_bytes(n_bytes: int) -> int:
    """Segment count for ``n_bytes`` of document text: one segment per
    ``SEGMENT_BYTES``, between 1 and ``MAX_SEGMENTS``."""
    return min(MAX_SEGMENTS, max(1, -(-n_bytes // SEGMENT_BYTES)))


def _stable_hash(s: str) -> int:
    """Python-side equivalent of the Spark-side md5 prefix hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _stable_hash_col(col) -> object:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def part_id_for(term: str, salt: int, num_segments: int) -> int:
    return _stable_hash(f"{term}#{salt}") % num_segments


def term_part_for(term: str, num_segments: int) -> int:
    """Partition of a term in the positional table (no salt)."""
    return _stable_hash(term) % num_segments


def _identity_partition_keys(spark: SparkSession, n: int) -> dict[int, int]:
    """For each partition p in 0..n-1, a 32-bit key x with
    ``pmod(hash(x), n) == p`` — hash being the same Murmur3 that
    ``repartition(n, col)`` partitions by. Substituting x for p makes
    the exchange an IDENTITY mapping: partition p receives exactly the
    rows with part_id p, instead of whatever `pmod(hash(p), n)`
    collides onto (n distinct values into n buckets leaves ~1/e of
    them empty — guide §2.5). One tiny local job (a few thousand
    ``spark.range`` rows, no data scan); deterministic, so retried
    tasks repartition identically."""
    cached = _IDENTITY_KEYS_CACHE.get(n)
    if cached is not None:
        return cached
    keys: dict[int, int] = {}
    lo, step = 0, max(64, 8 * n)
    while len(keys) < n:
        cand = spark.range(lo, lo + step).select(
            F.col("id").cast("int").alias("x"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("p"),
        )
        for r in cand.collect():
            keys.setdefault(r["p"], r["x"])
        lo += step
    # pure math (which ints hash onto which of n buckets) — data-
    # independent, so memoizing across builds in one process is safe
    # and keeps the probe job out of every subsequent build's timing
    _IDENTITY_KEYS_CACHE[n] = keys
    return keys


_IDENTITY_KEYS_CACHE: dict[int, dict[int, int]] = {}


def _part_id_col(term_col, salt_col, num_segments: int):
    return (
        _stable_hash_col(F.concat(term_col, F.lit("#"), salt_col.cast("string")))
        % num_segments
    ).cast("int")


# ------------------------------------------------------------------ build


def _encode_partition(avgdl: float, block_size: int, grouped: bool = False):
    """mapInPandas kernel factory.

    grouped=True (the build default): one input row per (term, salt)
    group with aligned doc_ids/tfs/dls arrays (JVM-side collect_list) —
    pure numpy per group, minimal Arrow row count.
    grouped=False: stream over a partition sorted by (term, salt,
    doc_id), walking group boundaries with numpy (kept for pipelines
    that cannot pre-aggregate; one group buffered at a time)."""

    def encode_group(part_id, term, salt, doc_ids, tfs, dls) -> dict:
        docs = np.asarray(doc_ids, dtype=np.uint64)
        order = np.argsort(docs, kind="stable")
        docs = docs[order]
        tf = np.asarray(tfs, dtype=np.uint64)[order]
        dl = np.asarray(dls, dtype=np.uint64)[order]
        impact = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        n = docs.size
        # one gap array for the whole list (the first gap of each block is
        # relative to the previous block's last doc, which is exactly what
        # a single global delta gives), encoded in ONE numpy pass; block
        # byte offsets are sliced from the per-value end offsets.
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = docs[0]
        np.subtract(docs[1:], docs[:-1], out=gaps[1:])
        doc_bytes, d_ends = vb_encode_with_ends(gaps)
        tf_bytes, t_ends = vb_encode_with_ends(tf)
        dl_bytes, l_ends = vb_encode_with_ends(dl)
        bstarts = np.arange(0, n, block_size)
        bends = np.minimum(bstarts + block_size, n) - 1
        block_last = docs[bends].astype(np.int64).tolist()
        block_max = np.maximum.reduceat(impact, bstarts).tolist()
        d_off = [0] + d_ends[bends].astype(int).tolist()
        t_off = [0] + t_ends[bends].astype(int).tolist()
        l_off = [0] + l_ends[bends].astype(int).tolist()
        return {
            "part_id": int(part_id),
            "term": term,
            "salt": int(salt),
            "df": int(n),
            "cf": int(tf.sum()),
            "max_impact": float(impact.max()),
            "doc_bytes": doc_bytes,
            "tf_bytes": tf_bytes,
            "dl_bytes": dl_bytes,
            "block_last": block_last,
            "block_max_impact": block_max,
            "block_doc_off": d_off,
            "block_tf_off": t_off,
            "block_dl_off": l_off,
            "max_tf": int(tf.max()),
            "min_dl": int(dl.min()),
            "block_max_tf": np.maximum.reduceat(tf, bstarts).astype(np.int64).tolist(),
            "block_min_dl": np.minimum.reduceat(dl, bstarts).astype(np.int64).tolist(),
        }

    def run_grouped(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one input row per (term, salt) group: columns part_id, term,
        # salt, doc_ids/tfs/dls (aligned arrays). Pure numpy per group.
        for pdf in batches:
            out = [
                encode_group(pid, term, salt, np.asarray(d), np.asarray(t), np.asarray(l))
                for pid, term, salt, d, t, l in zip(
                    pdf["part_id"], pdf["term"], pdf["salt"],
                    pdf["doc_ids"], pdf["tfs"], pdf["dls"],
                )
            ]
            if out:
                yield pd.DataFrame(out)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized group walk: group boundaries found with numpy on the
        # sorted (term, salt) columns; only whole-group numpy slices are
        # passed to the encoder — no per-row Python.
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            terms = pdf["term"].to_numpy()
            salts = pdf["salt"].to_numpy()
            n = len(pdf)
            if n == 0:
                continue
            change = np.flatnonzero((terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1]))
            starts = np.concatenate(([0], change + 1))
            # hold the trailing (possibly incomplete) group for the next batch
            last_start = int(starts[-1])
            carry = pdf.iloc[last_start:]
            out = []
            pid = pdf["part_id"].to_numpy()
            docs = pdf["doc_id"].to_numpy()
            tfs = pdf["tf"].to_numpy()
            dls = pdf["dl"].to_numpy()
            for si in range(len(starts) - 1):
                s, e = int(starts[si]), int(starts[si + 1])
                out.append(
                    encode_group(pid[s], terms[s], salts[s], docs[s:e], tfs[s:e], dls[s:e])
                )
            if out:
                yield pd.DataFrame(out)
        if carry is not None and len(carry):
            pdf = carry
            out = [
                encode_group(
                    pdf["part_id"].iloc[0], pdf["term"].iloc[0], pdf["salt"].iloc[0],
                    pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(), pdf["dl"].to_numpy(),
                )
            ]
            yield pd.DataFrame(out)

    return run_grouped if grouped else run


def _encode_grouped(avgdl: float, block_size: int):
    return _encode_partition(avgdl, block_size, grouped=True)


def _written(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def saltmap_frame(dictionary: DataFrame, postings_per_group: int, max_salt: int) -> DataFrame:
    """Explicit head-term salting policy (frequency sketch = exact df
    here): terms whose df exceeds the per-group target get split into
    ceil(df/target) doc-hash sub-lists, capped at max_salt."""
    return (
        dictionary.filter(F.col("df") > postings_per_group)
        .select(
            "term",
            F.least(
                F.ceil(F.col("df") / F.lit(postings_per_group)), F.lit(max_salt)
            ).cast("int").alias("salt_factor"),
        )
    )


def salt_and_encode(
    spark: SparkSession,
    term_doc: DataFrame,
    dictionary: DataFrame,
    avgdl: float,
    seg_dir: str,
    num_segments: int,
    postings_per_group: int,
    max_salt: int,
    block_size: int,
    partition_by: str = "term",
    skip_part_ids: list[int] | None = None,
) -> DataFrame | None:
    """Salt + shuffle + compress-encode a (term, doc_id, tf, dl) frame
    into segment parquet at ``seg_dir``. Returns the saltmap frame
    (term layout) or None (doc layout). Shared by :func:`build_index`
    and generation compaction (``streaming/incremental.py``) — the
    reference's k-way segment merge (P3, ``spimi.rs:109-205``) is this
    same shuffle re-run over already-aggregated postings."""
    if partition_by == "term":
        saltmap = saltmap_frame(dictionary, postings_per_group, max_salt)
        salted = (
            term_doc
            .join(F.broadcast(saltmap), "term", "left")
            .withColumn(
                "salt",
                F.when(
                    F.col("salt_factor").isNotNull(),
                    F.pmod(_stable_hash_col(F.col("doc_id").cast("string")), F.col("salt_factor")),
                ).otherwise(F.lit(0)).cast("int"),
            )
            .withColumn("part_id", _part_id_col(F.col("term"), F.col("salt"), num_segments))
            .select("part_id", "term", "salt", "doc_id", "tf", "dl")
        )
    else:
        # doc layout: hash every posting by doc_id; salt == part_id keeps
        # the encoder's (term, salt) group keys doc-disjoint per part.
        saltmap = None
        pid = F.pmod(
            _stable_hash_col(F.col("doc_id").cast("string")), F.lit(num_segments)
        ).cast("int")
        salted = term_doc.select(
            pid.alias("part_id"), "term", pid.alias("salt"), "doc_id", "tf", "dl"
        )
    if skip_part_ids:
        salted = salted.filter(~F.col("part_id").isin(list(skip_part_ids)))
    # Shuffle once by part_id, sort within partitions, stream the sorted
    # rows through the numpy group-walk encoder. (A collect_list-based
    # variant — _encode_partition(grouped=True) — was measured slower:
    # no map-side combine, object/GC-heavy.)
    #
    # The shuffle is pinned to an IDENTITY partitioning (round-6, guide
    # §2.5 "synthetic partitioning keys with too few distinct values"):
    # `repartition(num_segments, "part_id")` hashes num_segments
    # distinct values into num_segments buckets, so collisions left
    # ~1/e of the encode tasks empty and doubled up others — the
    # measured straggler in the parallel build's write phase. Mapping
    # each part_id to a probed key whose hash lands exactly on
    # partition part_id gives every encode task exactly one segment's
    # rows (and keeps the one-file-per-directory layout).
    pkeys = _identity_partition_keys(spark, num_segments)
    pkey_map = F.create_map(
        *[F.lit(v) for p in range(num_segments) for v in (p, pkeys[p])]
    )
    encoded = (
        salted.repartition(num_segments, F.element_at(pkey_map, F.col("part_id")))
        .sortWithinPartitions("term", "salt", "doc_id")
        .mapInPandas(_encode_partition(avgdl, block_size), schema=SEGMENT_SCHEMA)
    )
    # Dynamic overwrite touches only part_ids present in `encoded`, so a
    # resume replaces exactly the uncommitted partitions. Scoped to THIS
    # writer (not spark.conf.set): a session-global set from this worker
    # thread would race the concurrent side-table writes and leak the
    # mode into later partitioned overwrites (round-2 advice).
    (
        encoded.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(seg_dir)
    )
    return saltmap


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = "code",
    num_segments: int | None = None,
    postings_per_group: int = 50_000,
    max_salt: int = 64,
    block_size: int = 128,
    resume: bool = False,
    identity_cols: tuple[str, ...] = (),
    partition_by: str = "auto",
    with_positions: bool = True,
    with_bigrams: bool = False,
) -> dict:
    """Build (or resume) the full index at ``out_dir``. Returns the manifest.

    ``docs`` needs ``id_col`` (stable long) and ``text_col``; pass
    ``identity_cols`` (e.g. repo/path/commit/lang) to carry lineage into
    the docmap. Resume skips part_ids already committed in the manifest
    (and side tables that already have a ``_SUCCESS`` marker) and
    dynamically overwrites only missing segment partitions, so a rebuild
    after partial failure converges to the identical index.

    ``num_segments`` is the number of segment partitions: ``part_id =
    H(term, salt) % num_segments`` on the term layout, ``H(doc_id) %
    num_segments`` on the doc layout, and the positional table's
    ``H(term) % num_segments``. ``None`` (the default) sizes it from the
    input, :func:`segments_for_bytes` of the text's UTF-8 byte total:
    one segment per 4 MiB, between 1 and 32. The byte total is recorded
    in the manifest as ``input_bytes``. A resume reuses the committed
    manifest's count; the sizing is deterministic in the input, so a
    resume after a build that died before committing sizes the same.

    ``partition_by``: "term" (pruned lookups), "doc" (distributed top-k
    merge), or "auto" (the default) — see the module docstring for the
    trade-off. Auto resolves to "doc" when ``with_positions`` is on:
    the positional table already serves every term lookup partition-
    pruned, so the segments' remaining job is batch top-k scoring,
    where the term layout's one-task-per-query merge becomes a
    straggler on stop-word queries at 10^12 docs (round-2 verdict #4).
    Without a positional table the segments serve the lookups
    themselves, so auto resolves to "term" for the pruning.
    ``with_positions=False`` skips the positional table (BM25/wildcard
    only — phrase/proximity then need :meth:`SegmentIndex.bundle`'s
    decoded-postings fallback for boolean, and no phrase path).
    """
    if partition_by == "auto":
        partition_by = "doc" if with_positions else "term"
    if partition_by not in ("term", "doc"):
        raise ValueError(f"partition_by must be 'term', 'doc' or 'auto', got {partition_by!r}")
    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str, since: list) -> None:
        now = time.time()
        phases[name] = round(now - since[0], 3)
        since[0] = now

    _t = [t0]
    manifest_path = os.path.join(out_dir, "manifest.json")
    committed: dict = {}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            prior = json.load(f)
        committed = prior.get("partitions", {})
        if num_segments is None:
            num_segments = prior["num_segments"]

    from ..functions.tokenize import fan_out, tokenize_expr

    # One aggregate over the source sizes the build: the doc count is
    # the manifest's n_docs (token-free docs included), the byte total
    # picks the segment count.
    size_row = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length(F.col(text_col))).alias("bytes"),
    ).collect()[0]
    n_docs = int(size_row["n"])
    input_bytes = int(size_row["bytes"] or 0)
    if num_segments is None:
        num_segments = segments_for_bytes(input_bytes)
    _mark("input_size", _t)

    # The tokenize stage is the CPU hot path; fan a source with fewer
    # splits than the cluster has slots out first (see fan_out).
    base = fan_out(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("content"),
        *[F.col(c) for c in identity_cols],
    )

    tok_arrays = base.select("doc_id", tokenize_expr("content", mode).alias("toks"))
    if with_bigrams:
        # reused by the bigram table write below — avoid a second tokenize
        from pyspark import StorageLevel

        tok_arrays = tok_arrays.persist(StorageLevel.MEMORY_AND_DISK)
    # dl is carried through the explode (size of the token array), so the
    # postings never need a doc-keyed join back to a doc-length table —
    # at 10^12 files that join is a full extra shuffle of every posting.
    # ONE per-doc aggregation feeds everything downstream (positional
    # table, dictionary, doc lengths, salting, encoding). A
    # (term, doc_id) group never crosses document boundaries, so the
    # positional postings are computed INSIDE each row — no shuffle
    # anywhere in the positional build (round-6, guide §2.4; the old
    # posexplode -> groupBy(term, doc_id) shape moved one row per TOKEN
    # through an exchange the grouping key never needed). The per-doc
    # aggregation itself runs as an Arrow/numpy batch kernel
    # (functions/tokenize.positional_entries_frame): the equivalent
    # higher-order-function expression evaluates its lambdas
    # interpreted per token and was the single largest CPU bucket of
    # the whole build (guide §4.2; measured 34 s -> 9 s at local[1]).
    if with_positions:
        from ..functions.tokenize import positional_entries_frame

        # part_id comes out of the same kernel (one md5 per distinct
        # term per batch instead of a per-posting-row md5 expression)
        term_doc_full = positional_entries_frame(tok_arrays, num_segments)
    else:
        # tf-only build (doc-layout / BM25-only): the slim aggregation
        # keeps the classic two-level hash-agg shape — no positional
        # payload, so the exchange it pays is narrow
        toks = tok_arrays.select(
            "doc_id", F.size("toks").alias("dl"),
            F.posexplode("toks").alias("pos", "term"),
        )
        term_doc_full = toks.groupBy("term", "doc_id").agg(
            F.count("*").alias("tf"), F.max("dl").alias("dl")
        )

    # fresh (non-resume) build: clear prior segment AND positional dirs —
    # both are partitioned by part_id, and an in-place rebuild must not
    # inherit stale part_id directories that the new data leaves empty
    seg_dir = os.path.join(out_dir, "segments")
    pos_dir = os.path.join(out_dir, "positional")
    if not committed:
        import shutil

        for stale in (seg_dir, pos_dir):
            if os.path.exists(stale):
                shutil.rmtree(stale)

    def _skip(name: str) -> bool:
        return resume and _written(os.path.join(out_dir, name))

    job_secs: dict[str, float] = {}

    def _timed(fn):
        def run():
            t = time.time()
            fn()
            job_secs[fn.__name__] = round(time.time() - t, 3)
        return run

    # ---- docmap: lineage + sha256 invariant + n_chars per doc. It only
    # scans the SOURCE (no postings dependency), so it launches here and
    # runs concurrently with the positional-store shuffle, filling that
    # stage's scan/reduce tail waves instead of queueing behind it.
    def w_docmap():
        if _skip("docmap"):
            return
        dm = base.select(
            "doc_id",
            *identity_cols,
            F.sha2("content", 256).alias("content_sha256"),
            F.length("content").alias("n_chars"),
        )
        dm.write.mode("overwrite").parquet(os.path.join(out_dir, "docmap"))

    bg_pool = ThreadPoolExecutor(max_workers=1)
    f_docmap = bg_pool.submit(_timed(w_docmap))

    cached = None
    if with_positions:
        # ---- the POSITIONAL TABLE IS the materialization point: the one
        # tokenize+aggregate pass streams straight into the on-disk
        # positional parquet (term-hash partitioned, term-sorted row
        # groups), and every downstream job (stats, dictionary, salting,
        # encode) re-reads it with `positions` COLUMN-PRUNED away.
        # Round 2 cached the fat aggregation in the BlockManager *and*
        # wrote this same table — double materialization, and the
        # deserialized position arrays dominated old-gen GC pressure,
        # the biggest measured parallel-scaling CPU loss. Narrow
        # columnar re-scans are cheaper than either.
        # Positions stay RAW int arrays (measured round 4): delta-gap
        # encoding the arrays before the write saved only ~1.4% bytes —
        # zstd already captures the sorted-small-int structure — and
        # would add a prefix-sum decode to every phrase/proximity query.
        if not (resume and _written(pos_dir)):
            # Single-shuffle positional store (round-6, guide §2.4):
            # the groupBy's own exchange is the only shuffle the
            # positional payload crosses. The previous shape re-moved
            # the SAME aggregated rows through a second
            # `repartition(part_id)` exchange purely to get one file
            # per part_id directory; a LOCAL part_id-major sort gives
            # the dynamic-partition writer its required ordering
            # instead, trading one globally-term-sorted file per
            # directory for one term-sorted file per (shuffle
            # partition x directory) at half the shuffle volume on the
            # dominant build phase. Directory pruning is unchanged;
            # row-group min/max pruning still works WITHIN each file
            # (each is term-sorted) but a point lookup now opens every
            # file of its directory (terms hash-scatter across shuffle
            # partitions) — measured flat on the persisted-query bench
            # rows; AQE's size-based coalescing bounds the per-
            # directory file count by exchange bytes.
            pos = term_doc_full.select(
                "part_id", "term", "doc_id", "tf", "dl", "positions"
            )
            # Pipelined Arrow batches for THIS job only: with the
            # default 64k-row batches one scan task is a single batch,
            # so JVM->Python serialization, the kernel, and the
            # Python->JVM read-back run strictly serially inside each
            # task. Smaller batches overlap the three (producer/
            # consumer across the socket), measured as hi-level wall
            # win on the scaling bench at identical results. Runtime
            # conf, restored immediately after the write (the encode's
            # mapInPandas later prefers large batches); the concurrent
            # docmap job has no Python stage, so the temporary setting
            # cannot leak into another plan.
            batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
            prev_batch = spark.conf.get(batch_key)
            spark.conf.set(batch_key, "8192")
            try:
                (
                    pos.sortWithinPartitions("part_id", "term", "doc_id")
                    .write.mode("overwrite").partitionBy("part_id")
                    .parquet(pos_dir)
                )
            finally:
                spark.conf.set(batch_key, prev_batch)
        _mark("positional_store", _t)
        # The map-only store writes (scan tasks x part_ids) smallish
        # files, and the default 4 MB per-file open cost then inflates
        # the three downstream re-scans (stats aggregate, dictionary,
        # encode) to one tiny task per ~file — measured 64 tasks over a
        # 61 MB table at the bench. coalesce packs the scan slices
        # without a shuffle; the bound is scale-adaptive but resolves
        # to the same value at every bench parallelism level
        # (max(num_segments, 4*cores) = num_segments there), so the
        # scaling experiment still compares identical plans.
        n_rescan = max(
            num_segments, 4 * spark.sparkContext.defaultParallelism
        )
        term_doc = spark.read.schema(
            "part_id int, term string, doc_id long, tf long, dl long, "
            "positions array<int>"
        ).parquet(pos_dir).select("term", "doc_id", "tf", "dl").coalesce(n_rescan)
    else:
        # no positional table (doc-layout / BM25-only builds): the slim
        # (term, doc_id, tf, dl) aggregation is cheap to cache in memory
        cached = term_doc_full.cache()
        term_doc = cached.select("term", "doc_id", "tf", "dl")

    # ---- global stats + dictionary parquet: two independent narrow
    # aggregates over the materialized postings, submitted CONCURRENTLY
    # (the stats collect would otherwise serialize before the encode can
    # start). avgdl is defined over token-bearing docs (matches
    # collection_stats and the SQL oracle; recorded in the manifest).
    # The dictionary is computed ONCE and written; every consumer
    # (saltmap, the encode's salting broadcast, the three gram tables)
    # then reads the written parquet — a tiny vocab-sized table —
    # instead of re-running the full postings scan + aggregation.
    # Before this, the lazy `dictionary` frame was re-evaluated by ~6
    # downstream plans per build, the second-largest measured CPU cost.
    dict_dir = os.path.join(out_dir, "dictionary")

    def _write_dictionary():
        if not (resume and _written(dict_dir)):
            term_doc.groupBy("term").agg(
                F.count("*").alias("df"), F.sum("tf").alias("cf")
            ).write.mode("overwrite").parquet(dict_dir)

    with ThreadPoolExecutor(max_workers=1) as pre:
        f_dict = pre.submit(_write_dictionary)
        # n_docs_tokened (docs holding >= 1 posting) and total_words
        # (sum of every posting's tf) come from ONE aggregate over the
        # same postings scan, run concurrently with the dictionary
        # write — the old shape read total_words back from the written
        # dictionary afterwards, a second serial driver round trip on
        # the build's critical path (and round-4 verdict #2c already
        # removed the doc-keyed doclen shuffle this pass replaced).
        stats_row = term_doc.agg(
            F.countDistinct("doc_id").alias("n"),
            F.sum("tf").alias("tw"),
        ).collect()[0]
        n_docs_tokened = int(stats_row["n"])
        total_words = int(stats_row["tw"] or 0)
        f_dict.result()
    dictionary = spark.read.schema("term string, df long, cf long").parquet(dict_dir)
    avgdl = (total_words / n_docs_tokened) if n_docs_tokened else 1.0
    saltmap = saltmap_frame(dictionary, postings_per_group, max_salt) \
        if partition_by == "term" else None
    _mark("stats_dictionary", _t)

    # ---- concurrent write jobs (independent DAGs off the shared
    # materialized postings). Spark's scheduler runs concurrently-
    # submitted jobs on free slots; the encode dominates, the side
    # tables (and the docmap launched earlier) fill its stragglers'
    # idle slots instead of running as a serial driver-side chain.
    def w_encode():
        salt_and_encode(
            spark, term_doc, dictionary, avgdl, seg_dir, num_segments,
            postings_per_group, max_salt, block_size, partition_by,
            skip_part_ids=[int(p) for p in committed] if committed else None,
        )

    def w_saltmap():
        # dictionary itself is already on disk (written above)
        if saltmap is not None and not _skip("saltmap"):
            saltmap.write.mode("overwrite").parquet(os.path.join(out_dir, "saltmap"))

    def w_grams():
        # wildcard prefilter tables over the vocabulary (T7/T8 + the
        # 2-gram infix table) — tiny relative to postings; lets a loaded
        # index serve every wildcard shape without a vocab regex scan.
        # The four writes are INDEPENDENT jobs over the same written
        # dictionary parquet; submitted concurrently (guide §2.6) so
        # their driver-side job setup and short-stage tails overlap
        # instead of forming a serial chain — measured as the
        # worst-scaling slice of write_all at the bench's hi level
        # (round-6).
        from ..operators.indexes import (
            gram2_index, permuterm_index, suffix_index, trigram_index,
        )

        vocab = dictionary.select("term")
        gram_jobs = []
        if not _skip("trigrams"):
            gram_jobs.append(lambda: trigram_index(vocab).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "trigrams")))
        if not _skip("permuterm"):
            gram_jobs.append(lambda: permuterm_index(vocab).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "permuterm")))
        if not _skip("grams2"):
            gram_jobs.append(lambda: gram2_index(vocab).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "grams2")))
        if not _skip("suffixes"):
            # sorted so the suffix prefix scan (J12) prunes row groups
            gram_jobs.append(lambda: suffix_index(vocab).sort("suffix")
                             .write.mode("overwrite")
                             .parquet(os.path.join(out_dir, "suffixes")))
        if gram_jobs:
            with ThreadPoolExecutor(max_workers=len(gram_jobs)) as gp:
                for f in [gp.submit(j) for j in gram_jobs]:
                    f.result()

    def w_bigrams():
        if not with_bigrams or _skip("bigrams"):
            return
        from ..functions.tokenize import bigrams_expr

        # per-row array_distinct == the old global .distinct() (dupes
        # only arise within one doc's bigram array) — no shuffle
        bg = (
            tok_arrays.select(
                "doc_id",
                F.explode(F.array_distinct(bigrams_expr(F.col("toks")))).alias("bigram"),
            )
            .select("bigram", "doc_id")
        )
        bg.write.mode("overwrite").parquet(os.path.join(out_dir, "bigrams"))

    jobs = [w_encode, w_saltmap, w_grams, w_bigrams]
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(_timed(j)) for j in jobs] + [f_docmap]
        for f in futures:
            f.result()  # re-raise the first failure
    bg_pool.shutdown()
    _mark("write_all", _t)

    # ---- per-partition lineage + metrics -> manifest
    metrics = segment_metrics(spark, seg_dir)
    _mark("metrics", _t)
    elapsed = time.time() - t0
    partitions = dict(committed)
    for pid, m in metrics.items():
        if pid not in committed:
            partitions[pid] = m
    if cached is not None:
        cached.unpersist()
    if with_bigrams:
        tok_arrays.unpersist()
    manifest = {
        "version": 2,
        "n_docs": n_docs,
        "n_docs_tokened": n_docs_tokened,
        "avgdl": avgdl,
        "avgdl_definition": "total_words / token-bearing docs",
        "total_words": total_words,
        "input_bytes": input_bytes,
        "num_segments": num_segments,
        "partition_by": partition_by,
        "with_positions": with_positions,
        "with_bigrams": with_bigrams,
        "postings_per_group": postings_per_group,
        "max_salt": max_salt,
        "block_size": block_size,
        "mode": mode,
        "k1": K1,
        "b": B,
        "build_secs": elapsed,
        "phase_secs": phases,
        "write_job_secs": job_secs,
        "docs_per_sec": (n_docs / elapsed) if elapsed > 0 else None,
        "partitions": partitions,
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def segment_metrics(spark: SparkSession, seg_dir: str) -> dict[str, dict]:
    """Per-partition lineage metrics over a written segment table
    (manifest payload: group/term/posting counts + compressed bytes)."""
    seg = spark.read.parquet(seg_dir)
    rows = (
        seg.groupBy("part_id")
        .agg(
            F.count("*").alias("n_groups"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("df").alias("n_postings"),
            F.sum(F.length("doc_bytes")).alias("doc_bytes"),
            F.sum(F.length("tf_bytes") + F.length("dl_bytes")).alias("aux_bytes"),
        )
        .collect()
    )
    return {
        str(r["part_id"]): {
            "n_groups": int(r["n_groups"]),
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
            "doc_bytes": int(r["doc_bytes"]),
            "aux_bytes": int(r["aux_bytes"]),
        }
        for r in rows
    }


def decoded_postings_frame(seg: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) decoded from compressed segment rows — a
    distributed mapInPandas decode (numpy varbyte + cumsum per group).
    Feeds boolean fallbacks and generation compaction.

    Predicates do NOT push through mapInPandas — filter ``seg`` (e.g.
    ``seg.filter(col('term').isin(...))``) BEFORE calling this, so the
    parquet scan prunes; filtering the returned frame decodes the whole
    index first."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for term, db, tb, lb in zip(
                pdf["term"].to_numpy(), pdf["doc_bytes"], pdf["tf_bytes"], pdf["dl_bytes"]
            ):
                gaps = vb_decode(bytes(db))
                docs = np.cumsum(gaps, dtype=np.uint64).astype(np.int64)
                outs.append(pd.DataFrame({
                    "term": term,
                    "doc_id": docs,
                    "tf": vb_decode(bytes(tb)).astype(np.int64),
                    "dl": vb_decode(bytes(lb)).astype(np.int64),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return seg.select("term", "doc_bytes", "tf_bytes", "dl_bytes").mapInPandas(
        run, schema="term string, doc_id long, tf long, dl long"
    )


# ------------------------------------------------------------------ load / verify


@dataclass
class SegmentIndex:
    """Query handle on a built index directory.

    The handle is a snapshot: each table is opened (files listed, schema
    read — one Spark job) on first use and that DataFrame is reused by
    every later query. After rebuilding into the same directory, call
    :func:`load_index` again for a new handle."""

    spark: SparkSession
    out_dir: str
    meta: dict
    _tables: dict[str, DataFrame] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def _table(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = self.spark.read.parquet(os.path.join(self.out_dir, name))
        return self._tables[name]

    def _has(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.out_dir, name))

    @property
    def segments(self) -> DataFrame:
        return self._table("segments")

    @property
    def docmap(self) -> DataFrame:
        return self._table("docmap")

    @property
    def dictionary(self) -> DataFrame:
        return self._table("dictionary")

    @property
    def saltmap(self) -> DataFrame | None:
        return self._table("saltmap") if self._has("saltmap") else None

    @property
    def trigrams(self) -> DataFrame:
        return self._table("trigrams")

    @property
    def permuterm(self) -> DataFrame:
        return self._table("permuterm")

    @property
    def grams2(self) -> DataFrame | None:
        return self._table("grams2") if self._has("grams2") else None

    @property
    def suffixes(self) -> DataFrame | None:
        return self._table("suffixes") if self._has("suffixes") else None

    @property
    def positional(self) -> DataFrame | None:
        return self._table("positional") if self._has("positional") else None

    @property
    def bigrams(self) -> DataFrame | None:
        return self._table("bigrams") if self._has("bigrams") else None

    # -------------------------------------------------- query surface

    def bundle(self):
        """The persisted query surface as an :class:`IndexBundle` — every
        query type (boolean/phrase/proximity/wildcard) compiles against
        on-disk tables; nothing re-tokenizes the corpus. Matches the
        reference's deserialize-then-search loop (``main.rs:408-423``).

        Boolean term lookups read the positional table with ``positions``
        column-pruned away; if the index was built ``with_positions=
        False``, postings are decoded from the compressed segments
        instead (and phrase/proximity are unavailable)."""
        from ..operators.boolean import IndexBundle

        pos = self.positional
        term_postings = None
        if pos is not None:
            postings = pos.select("part_id", "term", "doc_id", "tf")
            positional = pos.select("part_id", "term", "doc_id", "positions", "tf")
        else:
            postings = self.decoded_postings()
            positional = None

            def term_postings(t, _self=self):
                # filter the SEGMENTS scan (partition/row-group pruned)
                # BEFORE the opaque decode — filtering the decoded frame
                # would decompress the entire index per term lookup
                return decoded_postings_frame(_self.query_segments([t])).select(
                    "term", "doc_id", "tf"
                )
        n_seg = self.meta["num_segments"]
        return IndexBundle(
            postings=postings,
            all_docs=self.docmap.select("doc_id"),
            positional=positional,
            vocab=self.dictionary.select("term"),
            trigrams=self.trigrams,
            permuterm=self.permuterm,
            grams2=self.grams2,
            suffixes=self.suffixes,
            bigrams=self.bigrams,
            term_part=(lambda t: term_part_for(t, n_seg)) if pos is not None else None,
            term_postings=term_postings,
        )

    def query(self, query_str: str, strict: bool = False) -> DataFrame:
        """Compile a boolean/phrase/proximity/wildcard query against the
        persisted tables -> DataFrame of matching doc_ids."""
        from ..operators.boolean import compile_query

        return compile_query(query_str, self.bundle(), strict=strict)

    def decoded_postings(self) -> DataFrame:
        """(term, doc_id, tf) decoded from the compressed segments — the
        boolean fallback when no positional table exists."""
        return decoded_postings_frame(self.segments).select("term", "doc_id", "tf")

    def wildcard_terms(self, pattern: str, strategy: str = "auto") -> DataFrame:
        """Wildcard -> matching vocabulary terms via the persisted gram
        tables (same router as the in-memory path, J10-J13;
        ``strategy="intersect"`` = the reference's multi-index Medium
        tier)."""
        from ..operators.boolean import IndexBundle, wildcard_terms

        bundle = IndexBundle(
            postings=None,
            all_docs=None,
            vocab=self.dictionary.select("term"),
            trigrams=self.trigrams,
            permuterm=self.permuterm,
            grams2=self.grams2,
            suffixes=self.suffixes,
        )
        return wildcard_terms(pattern, bundle, strategy=strategy)

    def wildcard_topk(self, pattern: str, k: int = 10,
                      use_wand: bool = True) -> list[tuple[int, float]]:
        """Wildcard BM25: expand the pattern to matching terms, score the
        union as a bag-of-terms query over the segments. The expansion
        stays a DataFrame end-to-end — matched terms semi-join the
        dictionary (distributed idf) and the segments (saltmap-derived
        part ids, dynamic-partition-prunable), so a pattern matching
        millions of vocab terms never materializes on the driver
        (round-3 verdict #3 replaced the ``.collect()`` here)."""
        from .wand import bm25_topk_terms_frame

        out = bm25_topk_terms_frame(
            self, self.wildcard_terms(pattern), k, use_wand=use_wand
        ).collect()
        return sorted(((r["doc_id"], r["score"]) for r in out), key=lambda x: (-x[1], x[0]))

    def salt_factors(self, terms: list[str]) -> dict[str, int]:
        sm = self.saltmap
        if sm is None:
            return {}
        rows = sm.filter(F.col("term").isin(list(terms))).collect()
        return {r["term"]: r["salt_factor"] for r in rows}

    def candidate_part_ids(self, terms: list[str]) -> list[int]:
        """Driver-side partition pruning: every (term, salt) of the query
        maps to a known part_id (md5-based hash, Python-computable).
        Doc-partitioned layout has no term locality — all parts."""
        if self.meta.get("partition_by") == "doc":
            return sorted(int(p) for p in self.meta["partitions"])
        factors = self.salt_factors(terms)
        pids = set()
        for t in terms:
            for s in range(factors.get(t, 1)):
                pids.add(part_id_for(t, s, self.meta["num_segments"]))
        return sorted(pids)

    def query_segments(self, terms: list[str]) -> DataFrame:
        pids = self.candidate_part_ids(terms)
        return self.segments.filter(
            F.col("part_id").isin(pids) & F.col("term").isin(list(terms))
        )


def load_index(spark: SparkSession, out_dir: str) -> SegmentIndex:
    with open(os.path.join(out_dir, "manifest.json")) as f:
        meta = json.load(f)
    return SegmentIndex(spark, out_dir, meta)


def verify_content_integrity(index: SegmentIndex, source: DataFrame,
                             id_col: str = "doc_id", text_col: str = "content") -> int:
    """Per-row invariant (input_hint): sha256(content) in the source must
    equal the docmap's recorded hash. Returns the number of mismatched or
    missing rows (0 = intact)."""
    src = source.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("src_sha"),
    )
    joined = src.join(index.docmap.select("doc_id", "content_sha256"), "doc_id", "full")
    bad = joined.filter(
        F.col("src_sha").isNull()
        | F.col("content_sha256").isNull()
        | (F.col("src_sha") != F.col("content_sha256"))
    )
    return bad.count()


# ------------------------------------------------------------------ decode helpers (query side)


def decode_group_blocks(row, blocks: list[int] | None = None):
    """Decode selected blocks of a segment row -> (doc_ids, tfs, dls).
    ``blocks=None`` decodes everything."""
    n_blocks = len(row["block_last"])
    sel = range(n_blocks) if blocks is None else blocks
    docs_out, tf_out, dl_out = [], [], []
    d_off, t_off, l_off = row["block_doc_off"], row["block_tf_off"], row["block_dl_off"]
    for bi in sel:
        gaps = vb_decode(bytes(row["doc_bytes"])[d_off[bi] : d_off[bi + 1]])
        base = np.uint64(row["block_last"][bi - 1]) if bi > 0 else np.uint64(0)
        docs = np.cumsum(gaps, dtype=np.uint64) + base
        docs_out.append(docs)
        tf_out.append(vb_decode(bytes(row["tf_bytes"])[t_off[bi] : t_off[bi + 1]]))
        dl_out.append(vb_decode(bytes(row["dl_bytes"])[l_off[bi] : l_off[bi + 1]]))
    if not docs_out:
        z = np.zeros(0, dtype=np.uint64)
        return z, z, z
    return np.concatenate(docs_out), np.concatenate(tf_out), np.concatenate(dl_out)
