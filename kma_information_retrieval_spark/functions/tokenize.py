"""Tokenizers — pure Catalyst expressions, zero Python in the hot path.

The reference has two divergent tokenizers (documented in SURVEY.md §2.2):

* T1 "letters" — regex ``\\b[а-яёА-ЯЁa-zA-Z]{3,}\\b``, lowercased
  (reference ``parser.rs:15,44-49``): keeps only letter-words of length
  >= 3, drops digit-bearing tokens.
* T3 "code"/SPIMI — split on whitespace, strip non-alphanumeric chars
  inside each token, lowercase, keep length > 2 (reference
  ``spimi.rs:65-75``, duplicated ``main.rs:589-597``).

The new engine exposes both behind one configurable entry point and
defaults to T3 semantics with an ASCII character class ("code" mode),
which is the right default for a source-code corpus and is expressible
identically in Spark (Java regex) and DuckDB (RE2) so the oracle can
reproduce it. "unicode" mode is T3 with the full Unicode alnum class
(exact reference parity for non-Latin text).

Divergence (documented): the reference filters on *byte* length
(``word.len() > 2`` in Rust); we filter on character length. Identical
for ASCII corpora.

Everything returns Column expressions, so Catalyst folds the tokenize
into whole-stage codegen and prunes ``content`` reads to exactly the
tokenize stage.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# T3 semantics ("split whitespace, strip non-alnum inside each token,
# lower, keep len > 2") as TWO cheap whole-content passes and ZERO
# higher-order functions (HOF lambdas run interpreted per element, and
# Spark's regexp_replace is ~25x slower than translate/extract — both
# dominated the build until replaced):
#   1. one fused translate pass: A-Z -> a-z case folding AND deletion of
#      every ASCII non-alnum-non-whitespace char (translate deletes the
#      matching chars beyond the replacement string's length; whitespace
#      boundaries untouched -> identical to stripping inside each
#      whitespace-split token). Folding the former separate lower() pass
#      into the same char table saves a full copy of every document —
#      the tokenize stage is the build's largest CPU bucket;
#   2. regexp_extract_all of alnum runs of length >= 3 (runs ARE the
#      whitespace-separated tokens, so the length filter is the {3,}
#      quantifier).
# (Non-ASCII letters are never lowercased by either version — they are
# token separators in "code" mode regardless, so results are identical;
# the SQL oracle applies the same fused translate.)
# "code" mode is exact T3 for ASCII text (non-ASCII bytes split tokens
# instead of being stripped — documented divergence; the "unicode" mode
# keeps full reference semantics via the slower regex strip).

# every ASCII char that is neither alnum nor \s (space \t \n \x0b \f \r)
ASCII_STRIP_CHARS = "".join(
    chr(c)
    for c in range(128)
    if not (chr(c).isalnum() or chr(c) in " \t\n\x0b\f\r")
)
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

TOKENIZER_MODES = {
    "code": ("strip_extract", None),
    # full Unicode alnum class (ref T3), regex strip (slow path)
    "unicode": ("regex_strip_extract", (r"[^\p{L}\p{N}\s]+", r"[\p{L}\p{N}]{3,}")),
    # extract letter-runs of len >= 3, lower  (ref T1)
    "letters": ("extract", r"[а-яёА-ЯЁa-zA-Z]{3,}"),
    # identifier subtokens (camelCase/ALLCAPS/snake/digit boundaries,
    # min length 2 — "db"/"io" matter in code); because build_index
    # threads ``mode`` into this one expression, the WHOLE persisted
    # engine — boolean, positional phrase, wildcard, BM25/WAND —
    # becomes subtoken-aware with mode="identifiers": subtokens are
    # positionally adjacent, so the phrase '"user name"' matches
    # getUserName (operators/codesearch.py owns the split rules)
    "identifiers": ("identifier_split", None),
}


def fan_out(df: DataFrame) -> DataFrame:
    """Fan a file-backed frame out to the session's parallelism before a
    CPU-heavy per-row pass (tokenize / shingle / trigram explode).

    Benchmark-scale corpora arrive as 1-2 parquet splits, which caps
    the whole-stage-codegen tokenize at 1-2 cores no matter how many
    the session has (measured: the sf1.0 documents table scans as 2
    splits, so every tokenizing operator ran its hottest stage at 2/32
    cores). File count comes from scan metadata — no job is submitted.
    Non-file frames (createDataFrame, post-shuffle results), streaming
    frames (their plan cannot be inspected outside a running query) and
    inputs that already have >= parallelism splits pass through
    untouched, so at real scale this no-ops. The index build fans its
    source out through this function too."""
    if df.isStreaming:
        return df
    n_in = len(df.inputFiles())
    if n_in == 0:
        # a cached frame's analyzed plan is the InMemoryRelation, so
        # inputFiles() reports no file scan. Probe the cached relation's
        # partition count instead — but ONLY for frames that are
        # actually marked for caching: on an uncached shuffle-bearing
        # frame, .rdd finalizes the adaptive plan and EXECUTES its
        # stages at plan-build time, which this helper must never do.
        # (storageLevel is plan metadata — no job either way.) The bench
        # corpora are cached 1-2-split scans, exactly the frames that
        # need the fan-out most; uncached non-file frames pass through.
        from pyspark import StorageLevel

        if df.storageLevel == StorageLevel.NONE:
            return df
        n_in = df.rdd.getNumPartitions()
    slots = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(slots) if 0 < n_in < slots else df


def tokenize_expr(text: Column | str, mode: str = "code") -> Column:
    """Array<string> of tokens for one text column.

    Tokens are lowercased and length-filtered; position = index in the
    returned array (i.e. positions are assigned *after* dropping short
    tokens, matching the reference's running-counter semantics at
    ``parser.rs:65-114``).
    """
    col = F.col(text) if isinstance(text, str) else text
    style, rx = TOKENIZER_MODES[mode]
    if style == "identifier_split":
        # late import: operators.codesearch -> (pyspark only), no cycle
        from ..operators.codesearch import split_identifiers_expr

        return split_identifiers_expr(col, min_len=2)
    if style == "extract":
        toks = F.regexp_extract_all(col, F.lit(rx), 0)
        return F.transform(toks, lambda x: F.lower(x))
    if style == "regex_strip_extract":
        strip_rx, run_rx = rx
        return F.regexp_extract_all(
            F.lower(F.regexp_replace(col, strip_rx, "")), F.lit(run_rx), 0
        )
    folded = F.translate(col, ASCII_UPPER + ASCII_STRIP_CHARS, ASCII_UPPER.lower())
    return F.regexp_extract_all(folded, F.lit(r"[a-z0-9]{3,}"), 0)


def tokens_with_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    mode: str = "code",
) -> DataFrame:
    """(doc_id, pos, term) token frame — the single parse pass every index
    derives from (fixing the reference's re-parse-per-index pattern at
    ``main.rs:202-232``)."""
    toks = tokenize_expr(text_col, mode)
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "term"),
    )


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and pass it to ``fn`` as a lambda variable
    (single-element-array transform). Catalyst's CollapseProject inlines
    multiply-referenced projection columns, which would otherwise
    duplicate an expensive subexpression (an ``array_sort`` here) once
    per reference; a lambda variable is bound exactly once by
    construction."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def term_position_entries(tokens: Column) -> Column:
    """array<struct<term, positions>> — per-document positional postings
    computed entirely inside the row (round-6, guide §2.4 "remove
    shuffles outright").

    A ``(term, doc_id)`` group never crosses document boundaries, so the
    classic ``posexplode -> groupBy(term, doc_id) ->
    sort_array(collect_list(pos))`` shape pays a full exchange (plus an
    object-hash aggregate over one row per token) for an aggregation
    that is local to each document. This expression produces the
    identical entries with array operations only: sort ``(term, pos)``
    pairs (positions of equal terms stay ascending — the struct sort is
    lexicographic), find the run starts, and slice one
    ``(term, positions)`` struct per distinct term. O(L log L) per
    document, no shuffle, no aggregation buffer; ``explode`` of the
    result replaces the groupBy output row-for-row (equivalence pinned
    by tests/test_segments.py).
    """
    pairs = F.transform(
        tokens, lambda t, i: F.struct(t.alias("term"), i.alias("pos"))
    )

    def with_sorted(s):
        length = F.size(s)
        starts = F.filter(
            F.sequence(F.lit(1), length),
            lambda i: (i == F.lit(1))
            | (F.element_at(s, i)["term"] != F.element_at(s, i - 1)["term"]),
        )

        def with_starts(st):
            n_runs = F.size(st)
            return F.transform(
                st,
                lambda b, k: F.struct(
                    F.element_at(s, b)["term"].alias("term"),
                    F.transform(
                        F.slice(
                            s,
                            b,
                            F.when(k < n_runs - 1, F.element_at(st, k + 2))
                            .otherwise(length + 1) - b,
                        ),
                        lambda e: e["pos"],
                    ).alias("positions"),
                ),
            )

        return _bind(starts, with_starts)

    # guard: sequence(1, 0) would DESCEND ([1, 0]) for an empty array and
    # element_at would then read past the end (an error under ANSI mode)
    return F.when(
        F.size(tokens) == 0,
        F.array().cast("array<struct<term:string,positions:array<int>>>"),
    ).otherwise(_bind(F.array_sort(pairs), with_sorted))


def _int32_offsets(lengths) -> np.ndarray:
    """Arrow list offsets (``0, l0, l0+l1, ...``) as int32, the offset
    width of Spark's ``array<int>``. Summed in int64 and checked, so a
    batch holding more than 2^31-1 list elements raises instead of the
    int32 cast wrapping silently into corrupt offsets."""
    offs = np.concatenate(([0], np.cumsum(lengths, dtype=np.int64)))
    if offs[-1] > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{int(offs[-1])} list elements in one Arrow batch exceed the "
            "int32 offsets of array<int>; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return offs.astype(np.int32)


def positional_entries_frame(
    tok_arrays: DataFrame, num_segments: int | None = None
) -> DataFrame:
    """``(term, doc_id, tf, dl, positions)`` positional postings from a
    ``(doc_id, toks)`` frame — row-identical to
    ``explode(term_position_entries(toks))`` (pinned by
    tests/test_segments.py) but computed per Arrow batch with numpy
    (guide §4.2: hand whole batches to vectorized native code).

    The HOF expression is the right *shape* (per-doc, no shuffle) but
    higher-order lambdas are evaluated interpreted per element, and the
    positional build is the index build's dominant CPU phase — measured
    at local[1]/80k docs: 34 s of interpreted expression time vs 9 s
    for this kernel including the Arrow boundary crossing (the only
    columns shipped are doc_id and the token arrays the kernel needs).
    Per batch: flatten every doc's tokens through the Arrow list
    offsets (zero-copy), dictionary-encode terms, one stable lexsort of
    (doc, term-code) int pairs, run-boundary detection, and the output
    positions column is assembled as one ListArray over the sorted
    position values — no per-row Python anywhere.

    Map-only: emits rows only for docs with >= 1 token (explode
    semantics); a null/empty token array contributes nothing.

    With ``num_segments``, a leading ``part_id`` column — the build's
    term-hash storage partition, identical to
    ``index.segments.term_part_for`` — is computed INSIDE the kernel:
    one hashlib md5 per *distinct* term per batch (vocabulary-sized)
    replaces a ``conv(substring(md5(term),...))`` expression evaluated
    per output row (posting-count-sized, measured ~4 s/10.4M rows at
    one core)."""

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            nrows = rb.num_rows
            if nrows == 0:
                continue
            doc = rb.column(rb.schema.get_field_index("doc_id"))
            toks = rb.column(rb.schema.get_field_index("toks"))
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            offs = toks.offsets.to_numpy().astype(np.int64)
            lens = np.diff(offs)
            if toks.null_count:
                lens = np.where(toks.is_valid().to_numpy(zero_copy_only=False),
                                lens, 0)
            total = int(lens.sum())
            if total == 0:
                continue
            # absolute indices into the (unsliced) values buffer: base
            # offset per doc + the per-doc position — robust to sliced
            # batches and to null slots with non-degenerate offsets
            doc_idx = np.repeat(np.arange(nrows, dtype=np.int64), lens)
            cum = np.concatenate(([0], np.cumsum(lens[:-1])))
            pos = np.arange(total, dtype=np.int64) - np.repeat(cum, lens)
            abs_idx = np.repeat(offs[:-1], lens) + pos
            enc = toks.values.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)[abs_idx]
            order = np.lexsort((codes, doc_idx))
            sc, sd, sp = codes[order], doc_idx[order], pos[order]
            bound = np.flatnonzero((sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1]))
            starts = np.concatenate(([0], bound + 1))
            tf = np.diff(np.concatenate((starts, [total])))
            doc_ids = doc.to_numpy()
            cols = [
                pc.take(enc.dictionary, pa.array(sc[starts])),
                pa.array(doc_ids[sd[starts]], type=pa.int64()),
                pa.array(tf, type=pa.int64()),
                pa.array(lens[sd[starts]], type=pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(_int32_offsets(tf), type=pa.int32()),
                    pa.array(sp.astype(np.int32), type=pa.int32()),
                ),
            ]
            names = ["term", "doc_id", "tf", "dl", "positions"]
            if num_segments is not None:
                import hashlib

                dict_terms = enc.dictionary.to_pylist()
                pid_per_code = np.fromiter(
                    (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % num_segments
                     for t in dict_terms),
                    dtype=np.int32, count=len(dict_terms),
                )
                cols.insert(0, pa.array(pid_per_code[sc[starts]], type=pa.int32()))
                names.insert(0, "part_id")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = "term string, doc_id long, tf long, dl long, positions array<int>"
    if num_segments is not None:
        schema = "part_id int, " + schema
    return tok_arrays.select("doc_id", "toks").mapInArrow(kernel, schema=schema)


def bigrams_expr(tokens: Column) -> Column:
    """Adjacent-pair "w1 w2" strings from a token array (ref T6,
    ``bigram_index.rs:54-61``) — an array ``transform`` over indices, no
    shuffle and no window function needed."""
    n = F.size(tokens)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.slice(tokens, 1, n - 1),
            lambda x, i: F.concat_ws(" ", x, F.element_at(tokens, i + 2)),
        )
    )
