"""Seeded benchmark inputs.

Documents reuse the package's synthetic code corpus
(``corpus.content_for``), drawn from a seed-offset id range and
renumbered from 0, so each seed is a different corpus with the same
Zipfian shape. Query terms are drawn by vocabulary rank band, because
how much work BM25 pruning can skip depends on the query terms'
document frequency. The program under test only sees the generated
rows and query strings.
"""

from __future__ import annotations

import random

from kma_information_retrieval_spark import corpus
from kma_information_retrieval_spark.oracle import tokenize

# Seed s draws corpus rows [s * ID_STRIDE, s * ID_STRIDE + n).
ID_STRIDE = 1_000_003

# Vocabulary rank bands (rank = index into corpus.vocabulary(), which
# the corpus samples Zipf(1.07) by rank). Head terms occur in nearly
# every document; mid terms are the stem words; tail terms are the
# generated var#### identifiers.
VOCAB = corpus.vocabulary()
HEAD = VOCAB[0:12]
MID = VOCAB[30:200]
TAIL = VOCAB[400:2000]

SERVE_CLASSES = ("bm25", "bm25_head", "boolean", "phrase", "wildcard")


def docs(seed: int, n: int, first_id: int = 0) -> list[tuple[int, str]]:
    """``n`` (doc_id, content) rows with doc ids ``first_id ..``."""
    base = seed * ID_STRIDE + first_id
    return [(first_id + j, corpus.content_for(base + j)) for j in range(n)]


def _bm25_terms(rng: random.Random) -> list[str]:
    return sorted({rng.choice(MID), rng.choice(TAIL), rng.choice(MID + TAIL)})


def serve_rounds(seed: int, rows: list[tuple[int, str]], n_rounds: int) -> list[list[tuple]]:
    """``n_rounds`` rounds of the serve mix. Each round holds one op of
    every class in a seeded order, so every run has the same class
    shares. An op is ``(class, payload)``: a term list for ``bm25``, a
    dict of 8 head-band term lists for ``bm25_head``, and a query string
    for the other classes."""
    rng = random.Random(f"serve-{seed}")
    rounds = []
    for _ in range(n_rounds):
        a, b, c = rng.sample(MID, 3)
        doc_toks = []
        while len(doc_toks) < 2:
            doc_toks = tokenize(rng.choice(rows)[1])
        p = rng.randrange(len(doc_toks) - 1)
        ops = [
            ("bm25", _bm25_terms(rng)),
            ("bm25_head", {f"h{i}": sorted(rng.sample(HEAD, 2)) for i in range(8)}),
            ("boolean", f"({a} or {b}) and not {c}"),
            ("phrase", f'"{doc_toks[p]} {doc_toks[p + 1]}"'),
            ("wildcard", rng.choice(MID)[:4] + "*"),
        ]
        rng.shuffle(ops)
        rounds.append(ops)
    return rounds


def gen_queries(seed: int, cycle: int) -> dict[str, list[str]]:
    """The 4-query BM25 batch an ingest cycle sends to the generations."""
    rng = random.Random(f"ingest-q-{seed}-{cycle}")
    return {f"g{i}": _bm25_terms(rng) for i in range(4)}


def deletions(seed: int, cycle: int, live: list[int], n: int) -> list[int]:
    """``n`` live doc ids an ingest cycle tombstones."""
    return sorted(random.Random(f"ingest-d-{seed}-{cycle}").sample(live, n))
