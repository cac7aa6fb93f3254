"""Property fuzz of the WAND and MaxScore kernels against the exact kernel, at the
numpy level (no Spark session): random posting lists are run through
the real segment encoder, then scored by Block-Max WAND — including the
cross-generation rescaled-bounds mode, where segments were encoded
under one avgdl and queried under another — and must match the
full-decode exact kernel on every example."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kma_information_retrieval_spark.index.segments import _encode_partition
from kma_information_retrieval_spark.index.wand import (
    _exact_kernel,
    _maxscore_kernel,
    _wand_kernel,
)

TERMS = ["alpha", "beta", "gamma", "delta"]


@st.composite
def corpora(draw):
    n_docs = draw(st.integers(2, 40))
    dl = [draw(st.integers(1, 50)) for _ in range(n_docs)]
    postings = {}
    for t in TERMS[: draw(st.integers(1, 4))]:
        docs = sorted(
            draw(
                st.sets(st.integers(0, n_docs - 1), min_size=1, max_size=n_docs)
            )
        )
        tfs = [draw(st.integers(1, 5)) for _ in docs]
        postings[t] = (docs, tfs)
    avgdl_build = sum(dl) / len(dl)
    avgdl_query = draw(
        st.floats(min_value=1.0, max_value=60.0, allow_nan=False)
    )
    k = draw(st.integers(1, 8))
    split_salt = draw(st.booleans())
    return n_docs, dl, postings, avgdl_build, avgdl_query, k, split_salt


def encode_rows(postings, dl, avgdl_build, split_salt, block_size=4):
    groups = []
    for t, (docs, tfs) in postings.items():
        chunks = [(0, docs, tfs)]
        if split_salt and len(docs) >= 2:
            # two doc-disjoint salted sub-lists -> two cursors per term
            mid = len(docs) // 2
            chunks = [(0, docs[:mid], tfs[:mid]), (1, docs[mid:], tfs[mid:])]
        for salt, d, f in chunks:
            groups.append({
                "part_id": 0, "term": t, "salt": salt,
                "doc_ids": list(d), "tfs": list(f),
                "dls": [dl[i] for i in d],
            })
    enc = _encode_partition(avgdl_build, block_size, grouped=True)
    out = list(enc(iter([pd.DataFrame(groups)])))
    return pd.concat(out, ignore_index=True)


@given(c=corpora())
@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_wand_equals_exact(c):
    n_docs, dl, postings, avgdl_build, avgdl_query, k, split_salt = c
    # the kernels take segment rows as records, as score_shards passes them
    rows = encode_rows(postings, dl, avgdl_build, split_salt).to_dict("records")
    rng = np.random.default_rng(0)
    idf = {t: float(0.1 + 3.0 * rng.random()) for t in postings}

    # same-avgdl mode: stored impacts are exact bounds
    exact = _exact_kernel(rows, idf, avgdl_build, k)
    wand = _wand_kernel(rows, idf, avgdl_build, k)
    assert wand == exact
    ms = _maxscore_kernel(rows, idf, avgdl_build, k)
    assert ms == exact

    # cross-generation mode: encoded under avgdl_build, queried under
    # avgdl_query with bounds re-derived from raw (max_tf, min_dl)
    exact_q = _exact_kernel(rows, idf, avgdl_query, k)
    wand_q = _wand_kernel(rows, idf, avgdl_query, k, rescale_bounds=True)
    assert wand_q == exact_q
    ms_q = _maxscore_kernel(rows, idf, avgdl_query, k, rescale_bounds=True)
    assert ms_q == exact_q

    # tombstoned docs: every third posting doc deleted — all three
    # kernels must skip them identically (the streaming delete path)
    all_docs = sorted({d for docs_, _ in postings.values() for d in docs_})
    deleted = frozenset(all_docs[::3])
    exact_d = _exact_kernel(rows, idf, avgdl_build, k, deleted=deleted)
    assert _wand_kernel(rows, idf, avgdl_build, k, deleted=deleted) == exact_d
    assert _maxscore_kernel(rows, idf, avgdl_build, k, deleted=deleted) == exact_d


def test_catalyst_log_vs_math_log_divergence(spark):
    """The measurement behind the kernel-side idf design (round-4
    advice on wand.py): JVM Math.log (Catalyst F.log) and CPython's
    libm log are each ~1-ulp-accurate but are NOT bit-identical — on
    this platform they diverge at e.g. (df=8, n_docs=10), where F.log
    gives 0.2578291093020998 and math.log 0.25782910930209985. That is
    why score_shards receives the raw df column and computes idf
    with math.log inside the kernel (one log implementation across the
    dict-idf, rowidf and streaming paths) instead of attaching a
    Catalyst idf column. This test pins the 1-ulp envelope — if the
    platforms drifted further apart than 1 ulp, scores (sums of
    several idf-scaled terms) could diverge beyond rank safety and the
    oracle's 4-decimal rounding."""
    import math

    from pyspark.sql import functions as F

    cases = []
    rng = np.random.default_rng(7)
    for n in (1, 10, 1_000, 80_000, 10**9, 10**12):
        dfs = {1, 2, n // 2 or 1, max(n - 1, 1), n}
        dfs |= {int(x) for x in rng.integers(1, max(n, 2), size=200)}
        cases += [(int(d), int(n)) for d in dfs if 1 <= d <= n]
    frame = spark.createDataFrame(cases, "df long, n long")
    idf_expr = F.log(
        F.lit(1.0)
        + (F.col("n").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    got = frame.select("df", "n", idf_expr.alias("idf")).collect()
    assert len(got) == len(cases)
    for r in got:
        want = math.log(1.0 + (r["n"] - r["df"] + 0.5) / (r["df"] + 0.5))
        assert abs(r["idf"] - want) <= math.ulp(want), (
            r["df"], r["n"], r["idf"], want)
