"""CLI mirroring the reference binary's verbs (``main.rs:10-107``:
build / search / parquet-inspect / parquet-build), so a user of the
reference can run the same commands against the Spark engine:

    python -m kma_information_retrieval_spark build \
        --input ./books --output ./idx --formats parquet,json,csv
    python -m kma_information_retrieval_spark search \
        --query '"hash join" and not dup' --dict ./idx
    python -m kma_information_retrieval_spark search \
        --query 'spark query join' --dict ./idx --topk 10
    python -m kma_information_retrieval_spark parquet-inspect --input t.parquet
    python -m kma_information_retrieval_spark parquet-build \
        --input t.parquet --output ./idx2 --partition-by term

Differences from the reference CLI, by design: ``--memory-limit`` maps
to the salting target (``postings_per_group``) — Spark's shuffle spill
handles the actual memory bound SPIMI enforced by hand; ``search``
gains ``--topk`` (BM25 WAND), ``--strict`` (reference J5 missing-term
abort) and ``--generations`` (query a streaming generation index,
honoring tombstone deletes). ``delete`` / ``compact`` manage the
streaming index's lifecycle (Lucene semantics: delete masks
immediately, compact reclaims and refreshes stats):

    python -m kma_information_retrieval_spark delete \
        --index ./genidx --ids 17,42
    python -m kma_information_retrieval_spark compact --index ./genidx

``curate`` (no reference counterpart) chains the training-corpus
operators — boilerplate-line removal, quality floor, language keep,
per-group cap, sequence packing — over a parquet corpus:

    python -m kma_information_retrieval_spark curate \
        --input docs.parquet --output ./curated \
        --boilerplate-frac 0.05 --min-quality 0.65 --lang en \
        --cap source:1000 --pack-budget 2048

``grep`` / ``grep-index`` (no reference counterpart) are raw-content
search — trigram-prefiltered literal/regex matching with grep-style
``doc:line:text`` output and exit code 1 on no matches:

    python -m kma_information_retrieval_spark grep-index \
        --input docs.parquet --output ./tri
    python -m kma_information_retrieval_spark grep \
        --input docs.parquet --index ./tri \
        --pattern 'hash (join|scan)' --regex
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _id_col(df):
    return df.withColumn(
        "doc_id", F.conv(F.substring(F.md5("doc_name"), 1, 15), 16, 10).cast("long")
    )


def cmd_build(args, spark: SparkSession) -> int:
    from .operators.sinks import write_dictionary_formats
    from .index import build_index, load_index
    from .sources.loader import read_raw_files, strip_xml_body

    docs = read_raw_files(spark, args.input, min_bytes=args.min_bytes,
                          suffix=args.suffix)
    if args.xml_body:
        docs = strip_xml_body(docs)
    docs = _id_col(docs)
    manifest = build_index(
        spark, docs, args.output, mode=args.mode,
        num_segments=args.num_segments,
        postings_per_group=args.memory_limit,
        partition_by=args.partition_by, resume=args.resume,
    )
    print(f"indexed {manifest['n_docs']} docs in {manifest['build_secs']:.1f}s "
          f"({manifest['docs_per_sec']:.0f} docs/s) -> {args.output}")
    if args.formats:
        sizes = write_dictionary_formats(
            load_index(spark, args.output).dictionary, args.output
        )
        for fmt in args.formats.split(","):
            fmt = fmt.strip()
            if fmt in sizes:
                print(f"dictionary_{fmt}: {sizes[fmt]} bytes")
    return 0


def _emit_topk(spark, scored, terms, args) -> int:
    """Print BM25 top-k lines, optionally with a best-window snippet
    per hit (computed only over the k result docs — the corpus scan is
    id-pruned before tokenization)."""
    scored = sorted(scored, key=lambda x: (-x[1], x[0]))
    if not args.snippets:
        for doc_id, score in scored:
            print(f"{doc_id}\t{score:.4f}")
        return 0
    if not args.corpus:
        print("error: --snippets requires --corpus", file=sys.stderr)
        return 2
    from .operators.snippets import snippets as snip
    from .sources.loader import read_corpus

    # read through the same loader as parquet-build so the stable
    # md5-prefix doc ids line up with the index's
    ids = [d for d, _ in scored]
    corpus = read_corpus(
        spark, args.corpus,
        explicit={"id": args.id_col, "text": args.text_col},
    ).select("doc_id", "content").filter(F.col("doc_id").isin(ids))
    sn = {
        r["doc_id"]: r["snippet"]
        for r in snip(corpus, terms, args.snippets).collect()
    }
    for doc_id, score in scored:
        print(f"{doc_id}\t{score:.4f}\t{sn.get(doc_id, '')}")
    return 0


def cmd_search(args, spark: SparkSession) -> int:
    if args.generations:
        from .streaming.incremental import load_generations

        gi = load_generations(spark, args.dict)
        if args.topk:
            terms = args.query.split()
            return _emit_topk(
                spark, list(gi.bm25_topk(terms, args.topk)), terms, args)
        try:
            hits = gi.query(args.query, strict=args.strict)
        except KeyError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        for r in hits.orderBy("doc_id").collect():
            print(r["doc_id"])
        return 0

    from .index import load_index
    from .index.wand import bm25_topk_batch

    idx = load_index(spark, args.dict)
    if args.topk:
        terms = args.query.split()
        rows = bm25_topk_batch(
            idx, {"q": terms}, args.topk,
            strategy=getattr(args, "strategy", None),
        ).collect()
        if not rows and getattr(args, "suggest_on_miss", False):
            _print_miss_suggestions(idx, terms)
        return _emit_topk(
            spark, [(r["doc_id"], r["score"]) for r in rows], terms, args)
    try:
        hits = idx.query(args.query, strict=args.strict)
    except KeyError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    out = hits.orderBy("doc_id").collect()
    if not out and getattr(args, "suggest_on_miss", False):
        import re

        _print_miss_suggestions(
            idx, [t for t in re.findall(r"[a-z0-9]+", args.query.lower())
                  if t not in ("and", "or", "not")])
    for r in out:
        print(r["doc_id"])
    return 0


def _print_miss_suggestions(idx, terms: list[str]) -> None:
    """Zero-hit UX: for each query term NOT in the vocabulary, print
    'did you mean' corrections from the index's own trigram tables
    (stderr, so stdout stays a clean doc-id/score stream)."""
    from pyspark.sql import functions as F

    from .operators.spelling import suggest_batch

    vocab = idx.dictionary.select("term", "cf")
    known = {
        r["term"] for r in
        vocab.filter(F.col("term").isin(sorted(set(terms)))).collect()
    }
    unknown = sorted(set(terms) - known)
    if not unknown:
        return
    sugg = suggest_batch(vocab, idx.trigrams, unknown, k=3).collect()
    by_q: dict[str, list[str]] = {}
    for r in sugg:
        by_q.setdefault(r["query"], []).append(r["term"])
    for t in unknown:
        alts = by_q.get(t)
        if alts:
            print(f"did you mean: {t} -> {', '.join(alts)}", file=sys.stderr)


def cmd_grep(args, spark: SparkSession) -> int:
    """Literal/regex search over raw content (trigram prefilter +
    exact verify), line-oriented output like grep -n."""
    from .operators import codesearch as cs

    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("content"),
    )
    tri = None
    if args.index:
        tri = spark.read.parquet(args.index)
    elif not args.no_prefilter:
        tri = cs.content_trigram_index(docs, fold_case=args.ignore_case)
    kw = dict(tri=tri, ignore_case=args.ignore_case)
    if args.regex:
        kw.pop("ignore_case")
        hits = cs.grep_lines(docs, pattern=args.pattern, **kw)
    else:
        hits = cs.grep_lines(docs, needle=args.pattern, **kw)
    n = 0
    for r in hits.orderBy("doc_id", "line_no").limit(args.limit).collect():
        print(f"{r['doc_id']}:{r['line_no']}:{r['line']}")
        n += 1
    if n == 0:
        return 1  # grep convention: no matches
    return 0


def cmd_grep_index(args, spark: SparkSession) -> int:
    from .operators import codesearch as cs

    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("content"),
    )
    tri = cs.content_trigram_index(docs, fold_case=args.ignore_case)
    tri.repartition("trigram").write.mode("overwrite").parquet(args.output)
    print(f"content-trigram index written to {args.output}")
    return 0


def cmd_delete(args, spark: SparkSession) -> int:
    from .streaming.incremental import delete_docs

    ids = [int(x) for x in args.ids.split(",") if x.strip()]
    delete_docs(spark, args.index, ids)
    print(f"tombstoned {len(ids)} doc id(s) in {args.index} "
          "(applied at query time; run compact to reclaim space)")
    return 0


def cmd_compact(args, spark: SparkSession) -> int:
    from .streaming.incremental import compact_generations

    gi = compact_generations(spark, args.index,
                             num_segments=args.num_segments)
    print(f"compacted -> {len(gi.gen_dirs)} generation(s), {gi.n_docs} docs")
    return 0


def cmd_parquet_inspect(args, spark: SparkSession) -> int:
    from .sources.loader import inspect_schema

    print(inspect_schema(spark.read.parquet(args.input), n=args.rows))
    return 0


def cmd_parquet_build(args, spark: SparkSession) -> int:
    from .index import build_index
    from .sources.loader import read_corpus

    docs = read_corpus(spark, args.input)
    manifest = build_index(
        spark, docs, args.output, mode=args.mode,
        num_segments=args.num_segments,
        postings_per_group=args.memory_limit,
        partition_by=args.partition_by, resume=args.resume,
    )
    print(f"indexed {manifest['n_docs']} docs in {manifest['build_secs']:.1f}s "
          f"({manifest['docs_per_sec']:.0f} docs/s) -> {args.output}")
    return 0


def cmd_curate(args, spark: SparkSession) -> int:
    """Training-corpus curation chain over a parquet corpus: optional
    boilerplate-line removal -> quality floor -> language keep ->
    per-group cap, writing ``curated.parquet`` (and, with
    ``--pack-budget``, the greedy ``packing.parquet`` assignment).
    Every stage is one of the oracle-gated operators; the chain is the
    CLI form of the q_curation_pipeline composition."""
    import os

    from .operators import curation, textstats

    raw = spark.read.parquet(args.input)
    docs = raw.select(F.col(args.id_col).alias("doc_id"),
                      F.col(args.text_col).alias("content"))
    stages = [("input", docs.count())]
    if args.boilerplate_frac is not None:
        cleaned = curation.remove_boilerplate_lines(
            docs, min_doc_frac=args.boilerplate_frac)
        removed = cleaned.agg(F.sum("n_removed")).collect()[0][0] or 0
        docs = cleaned.select("doc_id", "content")
        stages.append(("boilerplate_lines_removed", removed))
    if args.min_quality is not None:
        keep = textstats.quality_scores(docs).filter(
            F.col("quality") >= args.min_quality).select("doc_id")
        docs = docs.join(keep, "doc_id")
        stages.append(("quality", docs.count()))
    if args.lang:
        keep = textstats.language_id(docs).filter(
            F.col("lang_pred") == args.lang).select("doc_id")
        docs = docs.join(keep, "doc_id")
        stages.append(("lang", docs.count()))
    if args.cap:
        col, cap = args.cap.rsplit(":", 1)
        grouped = docs.join(
            raw.select(F.col(args.id_col).alias("doc_id"), col), "doc_id")
        docs = curation.cap_per_group(
            grouped, int(cap), group_col=col).select("doc_id", "content")
        stages.append((f"cap[{col}<={cap}]", docs.count()))
    docs.write.mode("overwrite").parquet(os.path.join(args.output, "curated.parquet"))
    stages.append(("curated", docs.count()))
    if args.pack_budget:
        packed = curation.pack_sequences(
            docs, args.pack_budget, n_shards=args.pack_shards)
        packed.write.mode("overwrite").parquet(
            os.path.join(args.output, "packing.parquet"))
        stages.append(
            ("sequences", packed.select("shard", "seq_id").distinct().count()))
    print(" ".join(f"{n}={c}" for n, c in stages))
    return 0


def cmd_related(args, spark: SparkSession) -> int:
    """PMI collocations over a parquet corpus — the query-expansion /
    related-terms miner; optionally filtered to one left term."""
    from .operators import textstats

    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("content"),
    )
    out = textstats.pmi_associations(
        docs, min_pair_count=args.min_count, top_k=args.topk)
    if args.term:
        out = out.filter(F.col("term") == args.term.lower())
    for r in out.orderBy("term", F.desc("pmi_bits"), "other").collect():
        print(f"{r['term']}\t{r['other']}\t{r['pair_count']}"
              f"\t{r['pmi_bits']:.6f}")
    return 0


def cmd_suggest(args, spark: SparkSession) -> int:
    """Term completion and spelling correction served from a built
    index's own dictionary/trigram tables (no corpus re-read)."""
    from .index import load_index
    from .operators.spelling import suggest_batch, suggest_prefix

    if not args.prefix and not args.correct:
        print("error: pass --prefix and/or --correct", file=sys.stderr)
        return 2
    idx = load_index(spark, args.dict)
    vocab = idx.dictionary.select("term", "cf")
    if args.prefix:
        out = suggest_prefix(vocab, args.prefix, k=args.topk)
        for r in out.orderBy("query", F.desc("cf"), "term").collect():
            print(f"{r['query']}\t{r['term']}\t{r['cf']}")
    if args.correct:
        out = suggest_batch(vocab, idx.trigrams, args.correct, k=args.topk)
        for r in out.orderBy("query", "lev", F.desc("cf"), "term").collect():
            print(f"{r['query']}\t{r['term']}\t{r['lev']}\t{r['cf']}")
    return 0


def cmd_rank(args, spark: SparkSession) -> int:
    """Top-k under any of the engine's ranking families, straight off a
    parquet corpus (the DataFrame path; no prebuilt index needed)."""
    from .operators import indexes as ops

    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.text_col).alias("content"),
    )
    toks = ops.token_frame(docs)
    post = ops.postings(toks)
    dic = ops.dictionary(post)
    dl = ops.doc_lengths(toks)
    st = ops.collection_stats(docs, toks).collect()[0]
    n_docs, avgdl = int(st["total_documents"]), float(st["avgdl"])
    terms = args.query.split()
    k = args.topk
    if args.model == "bm25":
        from .operators.bm25 import bm25_topk
        out = bm25_topk(post, dic, n_docs, avgdl, terms, k, doclen=dl)
    elif args.model == "pivoted":
        from .operators.bm25 import pivoted_topk
        out = pivoted_topk(post, dic, n_docs, avgdl, terms, k, doclen=dl)
    elif args.model == "pl2":
        from .operators.bm25 import pl2_topk
        out = pl2_topk(post, dic, n_docs, avgdl, terms, k, doclen=dl)
    elif args.model in ("ql", "jm"):
        from .operators import qlm
        total = int(dic.agg(F.sum("cf")).collect()[0][0])
        fn = qlm.ql_topk if args.model == "ql" else qlm.ql_topk_jm
        out = fn(post, dic, total, terms, doclen=dl, k=k)
    elif args.model == "sdm":
        from .operators import sdm
        total = int(dic.agg(F.sum("cf")).collect()[0][0])
        out = sdm.sdm_topk(post, ops.positional_index(toks), dic, total,
                           terms, doclen=dl, k=k)
    else:  # rrf: BM25 + QL fused
        from .operators import fusion, qlm
        from .operators.bm25 import bm25_scores
        total = int(dic.agg(F.sum("cf")).collect()[0][0])
        lex = bm25_scores(post, dic, n_docs, avgdl, terms, doclen=dl)
        ql = qlm.ql_scores(post, dic, total, terms, doclen=dl)
        out = fusion.rrf_fuse(
            [(lex, "doc_id", "score"), (ql, "doc_id", "score")], topk=k
        ).withColumnRenamed("rrf", "score")
    for r in out.collect():
        print(f"{r['doc_id']}\t{r['score']:.6f}")
    return 0


def _common_build_args(p: argparse.ArgumentParser, default_mode: str) -> None:
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default=default_mode,
                   choices=["code", "letters", "unicode"])
    p.add_argument("--num-segments", type=int, default=None,
                   help="segment partitions; default: sized from the input, "
                        "one per 4 MiB of document text, between 1 and 32")
    p.add_argument("--memory-limit", type=int, default=50_000,
                   help="salting target: max postings per (term, salt) group")
    p.add_argument("--partition-by", choices=["term", "doc", "auto"], default="auto")
    p.add_argument("--resume", action="store_true")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="kma_information_retrieval_spark",
        description="FB2/parquet text indexing and Boolean/BM25 search (Spark)",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build index from a directory of text/FB2 files")
    b.add_argument("--input", required=True, help="directory glob of input files")
    b.add_argument("--formats", default="",
                   help="also write the dictionary in these formats (parquet,json,csv)")
    b.add_argument("--min-bytes", type=int, default=0)
    b.add_argument("--suffix", default=None, help="only files with this suffix")
    b.add_argument("--xml-body", action="store_true",
                   help="extract <body> text and strip tags (FB2)")
    _common_build_args(b, default_mode="letters")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="boolean/phrase/wildcard or BM25 top-k search")
    s.add_argument("--query", required=True)
    s.add_argument("--dict", required=True, help="index directory (build output)")
    s.add_argument("--topk", type=int, default=0,
                   help="treat query as bag-of-words, print BM25 top-k")
    s.add_argument("--strict", action="store_true",
                   help="missing term aborts the query (reference J5)")
    s.add_argument("--generations", action="store_true",
                   help="--dict is a generation (streaming) index dir; "
                        "honors tombstone deletes")
    s.add_argument("--snippets", type=int, default=0, metavar="WIDTH",
                   help="with --topk: append a best-window snippet of "
                        "WIDTH tokens per hit (needs --corpus)")
    s.add_argument("--corpus", default=None,
                   help="parquet corpus with the document text "
                        "(snippet source; only the k hit docs are read)")
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--strategy", default="wand",
                   choices=["exact", "wand", "maxscore"],
                   help="with --topk on a segment index: scoring kernel "
                        "(all three are rank-identical by contract)")
    s.add_argument("--suggest-on-miss", action="store_true",
                   help="zero hits: print 'did you mean' corrections for "
                        "unknown query terms on stderr (trigram index)")
    s.set_defaults(fn=cmd_search)

    sg = sub.add_parser("suggest", help="term completion (--prefix) and "
                        "spelling 'did you mean' (--correct) over a built "
                        "index's dictionary/trigram tables")
    sg.add_argument("--dict", required=True, help="index directory")
    sg.add_argument("--prefix", action="append", default=[],
                    help="complete this prefix (repeatable)")
    sg.add_argument("--correct", action="append", default=[],
                    help="suggest corrections for this term (repeatable)")
    sg.add_argument("--topk", type=int, default=5)
    sg.set_defaults(fn=cmd_suggest)

    rk = sub.add_parser("rank", help="top-k over a parquet corpus under any "
                        "ranking family (bm25/ql/jm/pivoted/pl2/sdm/rrf)")
    rk.add_argument("--input", required=True, help="parquet corpus")
    rk.add_argument("--query", required=True, help="whitespace-split terms")
    rk.add_argument("--model", default="bm25",
                    choices=["bm25", "ql", "jm", "pivoted", "pl2", "sdm", "rrf"])
    rk.add_argument("--topk", type=int, default=10)
    rk.add_argument("--id-col", default="doc_id")
    rk.add_argument("--text-col", default="text")
    rk.set_defaults(fn=cmd_rank)

    r = sub.add_parser("related", help="PMI collocations / related terms "
                                       "over a parquet corpus")
    r.add_argument("--input", required=True)
    r.add_argument("--term", default=None,
                   help="only associations for this left term")
    r.add_argument("--topk", type=int, default=5)
    r.add_argument("--min-count", type=int, default=3)
    r.add_argument("--id-col", default="doc_id")
    r.add_argument("--text-col", default="text")
    r.set_defaults(fn=cmd_related)

    g = sub.add_parser("grep", help="literal/regex search over raw content "
                                    "(trigram prefilter + exact verify), "
                                    "doc:line:text output")
    g.add_argument("--input", required=True, help="parquet corpus")
    g.add_argument("--pattern", required=True)
    g.add_argument("--regex", action="store_true",
                   help="treat pattern as a regex (Java/RE2 common subset)")
    g.add_argument("--ignore-case", action="store_true")
    g.add_argument("--index", default=None,
                   help="pre-built content-trigram index dir (grep-index)")
    g.add_argument("--no-prefilter", action="store_true",
                   help="full scan (skip building an ad-hoc trigram index)")
    g.add_argument("--limit", type=int, default=100)
    g.add_argument("--id-col", default="doc_id")
    g.add_argument("--text-col", default="text")
    g.set_defaults(fn=cmd_grep)

    gi = sub.add_parser("grep-index", help="persist a content-trigram index "
                                           "for repeated greps")
    gi.add_argument("--input", required=True)
    gi.add_argument("--output", required=True)
    gi.add_argument("--ignore-case", action="store_true",
                    help="build a case-folded index (for grep --ignore-case)")
    gi.add_argument("--id-col", default="doc_id")
    gi.add_argument("--text-col", default="text")
    gi.set_defaults(fn=cmd_grep_index)

    d = sub.add_parser("delete", help="tombstone-delete doc ids from a "
                                      "generation index (Lucene semantics)")
    d.add_argument("--index", required=True, help="generation index dir")
    d.add_argument("--ids", required=True, help="comma-separated doc ids")
    d.set_defaults(fn=cmd_delete)

    c = sub.add_parser("compact", help="merge generations into one; applies "
                                       "tombstones and refreshes stats")
    c.add_argument("--index", required=True, help="generation index dir")
    c.add_argument("--num-segments", type=int, default=None,
                   help="segment partitions; default: sized from the sources' "
                        "summed input bytes, one per 4 MiB, between 1 and 32")
    c.set_defaults(fn=cmd_compact)

    pi = sub.add_parser("parquet-inspect", help="print schema + sample rows")
    pi.add_argument("--input", required=True)
    pi.add_argument("--rows", type=int, default=3)
    pi.set_defaults(fn=cmd_parquet_inspect)

    pb = sub.add_parser("parquet-build", help="build index from a parquet corpus")
    pb.add_argument("--input", required=True)
    _common_build_args(pb, default_mode="code")
    pb.set_defaults(fn=cmd_parquet_build)

    cu = sub.add_parser("curate", help="curation chain: boilerplate removal, "
                        "quality/language filters, per-group caps, packing")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--boilerplate-frac", type=float, default=None,
                    help="remove lines occurring in >= this fraction of docs")
    cu.add_argument("--min-quality", type=float, default=None)
    cu.add_argument("--lang", default=None,
                    help="keep only docs language_id predicts as this")
    cu.add_argument("--cap", default=None, metavar="COL:N",
                    help="keep at most N docs per value of column COL")
    cu.add_argument("--pack-budget", type=int, default=None,
                    help="also emit packing.parquet at this token budget")
    cu.add_argument("--pack-shards", type=int, default=64)
    cu.set_defaults(fn=cmd_curate)

    return ap


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark("kma_ir_cli")
    try:
        return args.fn(args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
