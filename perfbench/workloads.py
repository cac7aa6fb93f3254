"""The ``serve`` and ``ingest`` workloads.

Both are closed loops: one client thread sends an operation, waits for
its collected result, then sends the next. Every timed result is
checked against ``oracle.OracleIndex`` over the same generated
documents, outside the timed region. Every ``build_index`` argument
keeps its library default.
"""

from __future__ import annotations

import math
import os
import time
import traceback
from statistics import median

import pandas as pd

from kma_information_retrieval_spark.functions.tokenize import (
    positional_entries_frame,
    tokenize_expr,
)
from kma_information_retrieval_spark.index.segments import build_index, load_index
from kma_information_retrieval_spark.index.wand import (
    _idf,
    bm25_topk_batch,
    make_topk_kernel,
)
from kma_information_retrieval_spark.oracle import OracleIndex
from kma_information_retrieval_spark.streaming.incremental import (
    compact_generations,
    delete_docs,
    load_generations,
)

from perfbench import inputs
from perfbench.tracing import tree_cpu_s

K = 10
# Set-up is timed SETUP_REPS times per run, after SETUP_WARMUP untimed
# set-ups: the first few restarts of a session run cold JVM code and
# take up to twice as long.
SETUP_WARMUP = 2
SETUP_REPS = 10
SERVE_DOCS = 400
INGEST_BASE_DOCS = 200
INGEST_GEN_DOCS = 50
INGEST_DELETES = 3


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def text_bytes(rows) -> int:
    return sum(len(c.encode()) for _, c in rows)


class Run:
    """State of one benchmark run: the Spark session, the tracer and the
    timed operations with their check outcomes."""

    def __init__(self, session, tracer, work: str, seed: int, sampler):
        self.session = session
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.sampler = sampler
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.extra: dict = {}
        self.layer: dict[str, float] = {}
        self.manifests: list[tuple[str, dict]] = []
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Wall seconds since the previous phase ended, for the report."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    @property
    def spark(self):
        return self.session.spark

    def cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the memory
        sampler's own, so that sampling cost is not counted as the
        program's."""
        return tree_cpu_s() - self.sampler.cpu_s()

    def frame(self, rows):
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "content"]),
            "doc_id long, content string")

    def timed(self, cls: str, fn):
        """Run one op; record its latency, or count it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed op is counted and the loop goes on
            traceback.print_exc()
            self.failed += 1
            return None
        self.lat.setdefault(cls, []).append(time.perf_counter() - t0)
        return out

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failed += 1
            self.mismatches.append(what)

    def setup(self, open_fn) -> list[float]:
        """Set up ``SETUP_WARMUP + SETUP_REPS`` times: stop the Spark
        session, then time starting a new one and ``open_fn`` (opening
        the index). Returns the wall seconds of the last ``SETUP_REPS``."""
        times = []
        for _ in range(SETUP_WARMUP + SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.session.start(self.tr, "session.start")
            open_fn()
            times.append(time.perf_counter() - t0)
        return times[SETUP_WARMUP:]

    def build(self, rows, out_dir: str, span: str) -> dict:
        with self.tr.span(span):
            manifest = build_index(self.spark, self.frame(rows), out_dir)
        files, size = dir_stats(out_dir)
        manifest = dict(manifest, files_written=files, bytes_written=size)
        self.manifests.append((span, manifest))
        return manifest

    def tokenize_kernel(self, rows, n_tokens: int) -> None:
        """Traced only: the tokenize + positional kernel alone, into a
        no-op sink."""
        df = self.frame(rows)
        toks = df.select("doc_id", tokenize_expr("content").alias("toks"))
        t0 = time.perf_counter()
        with self.tr.span("tokenize.kernel"):
            positional_entries_frame(toks, 32).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        self.layer["tokenize.kernel_s"] = dt
        self.layer["tokenize.tokens_per_s"] = n_tokens / dt


def _bm25_rows(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}


def same_topk(got: list, want: list) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(g, w, rel_tol=1e-12) for (_, g), (_, w) in zip(got, want))


def oracle_topk(oracle: OracleIndex, terms, deleted=frozenset()) -> list:
    full = oracle.bm25_topk(terms, K + len(deleted))
    return [(d, s) for d, s in full if d not in deleted][:K]


# ---------------------------------------------------------------- serve


def serve(run: Run, traced: bool) -> dict:
    tr = run.tr
    rows = inputs.docs(run.seed, SERVE_DOCS)
    run.session.start(tr)
    run.phase("launch")
    idx_dir = os.path.join(run.work, "serve_index")
    manifest = run.build(rows, idx_dir, "segments.build")
    idx = load_index(run.spark, idx_dir)
    run.phase("build")
    oracle = OracleIndex(dict(rows))

    def bm25(cls, queries, op):
        with tr.span(f"wand.{cls}", op):
            with tr.span(f"wand.{cls}.plan"):
                df = bm25_topk_batch(idx, queries, K)
            with tr.span(f"wand.{cls}.exec"):
                return _bm25_rows(df.collect())

    def boolean(cls, q, op):
        with tr.span(f"boolean.{cls}", op):
            with tr.span(f"boolean.{cls}.plan"):
                df = idx.query(q)
            with tr.span(f"boolean.{cls}.exec"):
                return {r["doc_id"] for r in df.collect()}

    def op_of(cls, payload, op=None):
        if cls == "bm25":
            return bm25(cls, {"q": payload}, op)
        if cls == "bm25_head":
            return bm25(cls, payload, op)
        return boolean(cls, payload, op)

    # Warm-up, untimed: the session's first BM25 query starts its pandas
    # UDF workers, and the first boolean query compiles the join plans;
    # each costs about 2 s once.
    warmup, timed_round = inputs.serve_rounds(run.seed, rows, 2)
    for cls, payload in warmup:
        if cls in ("bm25", "boolean"):
            op_of(cls, payload)
    run.phase("warmup")

    # One round, the same operations on every commit.
    results = []
    cpu0 = run.cpu_s()
    for cls, payload in timed_round:
        op = run.attempted
        results.append((cls, payload, run.timed(cls, lambda: op_of(cls, payload, op))))
    cpu = run.cpu_s() - cpu0
    run.phase("timed")

    for cls, payload, got in results:
        if got is None:
            continue
        if cls == "bm25":
            run.check(f"bm25 {payload}", same_topk(got.get("q", []), oracle_topk(oracle, payload)))
        elif cls == "bm25_head":
            for qid, terms in payload.items():
                run.check(f"bm25_head {terms}",
                          same_topk(got.get(qid, []), oracle_topk(oracle, terms)))
        else:
            run.check(f"{cls} {payload}", got == oracle.search(payload))

    if traced:
        run.tokenize_kernel(rows, sum(oracle.doclen.values()))
        wand_isolation(run, idx, timed_round, oracle)

    def open_index():
        with tr.span("segments.load"):
            load_index(run.spark, idx_dir)

    setup_times = run.setup(open_index)
    run.phase("setup")

    input_bytes = text_bytes(rows)
    terms = sorted({t for c, p in timed_round if c in ("bm25", "bm25_head")
                    for t in (p if c == "bm25" else [x for ts in p.values() for x in ts])})
    run.extra.update({
        "docs": SERVE_DOCS, "corpus_text_bytes": input_bytes,
        "index_bytes": manifest["bytes_written"],
        "head_share_of_ops": sum(c == "bm25_head" for c, _ in timed_round) / len(timed_round),
        "query_term_df": {t: oracle.df(t) for t in terms},
        "round_p50_s": sum(median(run.lat[c]) for c in inputs.SERVE_CLASSES),
    })
    return {
        "setup_s": median(setup_times),
        "cpu_s_per_round": cpu,
        "index_bytes_per_input_byte": manifest["bytes_written"] / input_bytes,
        "_setup_times": setup_times,
    }


def wand_isolation(run: Run, idx, first_round, oracle: OracleIndex) -> None:
    """Traced only: the head batch's segment rows, collected once, scored
    by each top-k kernel strategy on the driver. All three must return
    the same top-k as each other and as the oracle."""
    queries = next(p for c, p in first_round if c == "bm25_head")
    all_terms = sorted({t for ts in queries.values() for t in ts})
    seg = idx.query_segments(all_terms).toPandas()
    n_docs, avgdl = idx.meta["n_docs"], idx.meta["avgdl"]
    idf = {t: _idf(oracle.df(t), n_docs) for t in all_terms}
    qterms = {q: sorted(set(ts)) for q, ts in queries.items()}
    tops = {}
    for strategy in ("exact", "wand", "maxscore"):
        kern = make_topk_kernel(idf, qterms, avgdl, K, use_wand=True, strategy=strategy)
        t0 = time.perf_counter()
        out = {}
        for q, ts in qterms.items():
            res = kern((q,), seg[seg["term"].isin(ts)].assign(query_id=q))
            out[q] = list(zip(res["doc_id"].tolist(), res["score"].tolist()))
        run.layer[f"wand.kernel_s.{strategy}"] = time.perf_counter() - t0
        tops[strategy] = out
    for q, ts in qterms.items():
        want = oracle_topk(oracle, ts)
        for strategy, out in tops.items():
            run.check(f"kernel {strategy} {ts}", same_topk(out[q], want))
        run.check(f"kernels agree {ts}",
                  tops["exact"][q] == tops["wand"][q] == tops["maxscore"][q])
    run.layer["wand.postings_per_batch"] = float(sum(
        seg[seg["term"].isin(ts)]["df"].sum() for ts in qterms.values()))


# ---------------------------------------------------------------- ingest


def ingest(run: Run, traced: bool) -> dict:
    tr = run.tr
    out_dir = os.path.join(run.work, "ingest_index")

    def gen_dir(k):
        return os.path.join(out_dir, "generations", f"gen={k:010d}")

    docs = dict(inputs.docs(run.seed, INGEST_BASE_DOCS))
    run.session.start(tr)
    run.phase("launch")
    run.build(list(docs.items()), gen_dir(0), "base.build")
    run.phase("build")

    def query(queries, op):
        with tr.span("incremental.load", op):
            gi = load_generations(run.spark, out_dir)
        with tr.span("incremental.query", op) as s:
            if s is not None:
                s["gens"] = len(gi.gen_dirs)
            return _bm25_rows(gi.bm25_topk_batch(queries, K).collect())

    def check(queries, got, oracle, dead):
        for qid, terms in queries.items():
            want = oracle_topk(oracle, terms, dead)
            run.check(f"gen_query {terms} got {got.get(qid, [])[:3]} want {want[:3]}",
                      same_topk(got.get(qid, []), want))

    # Warm-up, untimed: the base generation's build warmed the append
    # path; a first delete and query warm theirs.
    deleted = set(inputs.deletions(run.seed, 0, sorted(docs), INGEST_DELETES))
    delete_docs(run.spark, out_dir, sorted(deleted))
    queries = inputs.gen_queries(run.seed, 0)
    check(queries, query(queries, None), OracleIndex(docs), frozenset(deleted))
    run.phase("warmup")

    # One cycle, the same operations on every commit: append a
    # generation, tombstone docs of either generation, query both.
    new = inputs.docs(run.seed, INGEST_GEN_DOCS, INGEST_BASE_DOCS)
    docs.update(new)
    dead = inputs.deletions(run.seed, 1, sorted(set(docs) - deleted), INGEST_DELETES)
    deleted.update(dead)
    queries = inputs.gen_queries(run.seed, 1)
    op = run.attempted

    def delete():
        with tr.span("incremental.delete", op):
            delete_docs(run.spark, out_dir, dead)

    cpu0 = run.cpu_s()
    run.timed("append", lambda: run.build(new, gen_dir(1), "segments.build"))
    run.timed("delete", delete)
    got = run.timed("gen_query", lambda: query(queries, op))
    cpu = run.cpu_s() - cpu0
    if got is not None:
        check(queries, got, OracleIndex(docs), frozenset(deleted))
    run.phase("timed")

    if traced:
        # compaction, and a query of the compacted index
        t0 = time.perf_counter()
        with tr.span("incremental.compact", run.attempted):
            compact_generations(run.spark, out_dir)
        run.layer["incremental.compact_s"] = time.perf_counter() - t0
        run.layer["incremental.compact.bytes_written"] = float(dir_stats(out_dir)[1])
        live = {d: c for d, c in docs.items() if d not in deleted}
        check(queries, query(queries, None), OracleIndex(live), frozenset())
        run.tokenize_kernel(list(docs.items()), sum(OracleIndex(docs).doclen.values()))

    def open_generations():
        with tr.span("incremental.load"):
            load_generations(run.spark, out_dir)

    setup_times = run.setup(open_generations)
    run.phase("setup")

    input_bytes = text_bytes(docs.items())
    index_bytes = dir_stats(out_dir)[1]
    terms = sorted({t for c in (0, 1) for ts in inputs.gen_queries(run.seed, c).values()
                    for t in ts})
    final = OracleIndex(docs)
    run.extra.update({
        "query_term_df": {t: final.df(t) for t in terms},
        "base_docs": INGEST_BASE_DOCS, "gen_docs": INGEST_GEN_DOCS,
        "corpus_text_bytes": input_bytes, "index_bytes": index_bytes,
        "append_docs_per_s": INGEST_GEN_DOCS / median(run.lat["append"]),
        "round_p50_s": sum(median(run.lat[c]) for c in ("append", "delete", "gen_query")),
    })
    return {
        "setup_s": median(setup_times),
        "cpu_s_per_round": cpu,
        "index_bytes_per_input_byte": index_bytes / input_bytes,
        "_setup_times": setup_times,
    }


WORKLOADS = {"serve": serve, "ingest": ingest}
