"""Seeded inputs: the corpus and every workload's queries.

Everything derives from ``--seed``. The corpus is the engine's own Zipf
generator (``corpus.gen_zipf_pages``: Zipf(1.1) vocabulary ``term0000`` …,
planted head terms ``the``/``of``/``and``, noisy HTML) written to parquet;
the queries are drawn from the same Zipf vocabulary, so the reference query
set's terms (``spark``, ``join`` …), which never occur there, are not used.
The engine only ever receives the generated files and query tuples.
"""

from __future__ import annotations

import numpy as np

ZIPF_S = 1.1  # must match corpus.gen_zipf_pages
# Zipf ranks of each query band. The bands are narrow, so the terms a seed
# draws cost about the same as another seed's and latency medians compare
# across seeds: term frequency falls ~2x across the mid and rare bands.
HEAD_RANKS = (0, 5)
MID_RANKS = (40, 80)
RARE_RANKS = (3000, 4000)
PREFIX_EXPANSIONS = 8  # max_expansions of serve_hot's prefix requests


def term(rank: int) -> str:
    return f"term{rank:04d}"


def absent_term(seed: int, i: int) -> str:
    # the tokenizer keeps [a-z0-9]+ runs; 'zz…' never occurs in the corpus
    return f"zzabsent{seed}x{i}"


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def write_corpus(spark, path: str, n_docs: int, vocab: int, seed: int) -> None:
    from bloqsenjin_spark import corpus

    corpus.gen_zipf_pages(spark, n_docs, vocab, seed).write.mode(
        "overwrite").parquet(path)


def _band(rng, lo_hi, size: int) -> list[str]:
    lo, hi = lo_hi
    return [term(int(r)) for r in rng.choice(np.arange(lo, hi), size, replace=False)]


def rank_queries(seed: int) -> list[tuple]:
    """build_rank's query set: 20 Spark-tier top-k queries over head, mid,
    rare and absent terms, disjunctive and conjunctive."""
    rng = _rng(seed, 1)
    mid = _band(rng, MID_RANKS, 24)
    rare = _band(rng, RARE_RANKS, 4)
    heads = _band(rng, HEAD_RANKS, 4)
    qs = [
        (1, ["the"], "disjunctive", 10),
        (2, [heads[0], mid[0]], "disjunctive", 10),
        (3, [heads[1], "of", mid[1]], "disjunctive", 25),
        (4, [mid[2], mid[3], mid[4]], "disjunctive", 10),
        (5, [mid[5]], "disjunctive", 100),
        (6, [mid[6], mid[7]], "disjunctive", 10),
        (7, ["the", mid[8]], "conjunctive", 10),
        (8, [heads[2], mid[9]], "conjunctive", 10),
        (9, [mid[10], mid[11]], "conjunctive", 50),
        (10, ["and", heads[3]], "conjunctive", 10),
        (11, [rare[0]], "disjunctive", 10),
        (12, [rare[1], mid[12]], "disjunctive", 10),
        (13, [rare[2], "the"], "conjunctive", 10),
        (14, [absent_term(seed, 0)], "disjunctive", 10),
        (15, [absent_term(seed, 1), mid[13]], "conjunctive", 10),
        (16, [absent_term(seed, 2), mid[14]], "disjunctive", 10),
        (17, [mid[15], mid[16], mid[17], mid[18]], "disjunctive", 10),
        (18, [heads[0], heads[1]], "disjunctive", 1),
        (19, [mid[19], mid[20]], "disjunctive", 10),
        (20, [rare[3], mid[21], mid[22]], "disjunctive", 10),
    ]
    return qs


def hot_mix(seed: int) -> list[tuple[str, object]]:
    """serve_hot's request mix: (kind, payload) per request type, three
    variants of each. Kinds: 'query' (IndexServer.query_batch with one query
    tuple — 4-tuple, 5-tuple with MUST_NOT terms, or 6-tuple with per-term
    boosts), 'paged', 'prefix' and 'count'. The terms are fixed Zipf ranks,
    so every request costs about the same on every seed's corpus and the
    mix's percentiles compare across seeds; the seed names the absent
    terms."""
    mix: list[tuple[str, object]] = []
    for v in range(3):
        mid = [term(MID_RANKS[0] + 11 * v + j) for j in range(11)]
        rare = [term(RARE_RANKS[0] + 100 * v), term(RARE_RANKS[0] + 100 * v + 50)]
        heads = [term(2 * v), term((2 * v + 1) % 5)]
        digit = 4 + v
        q = 100 + 20 * v
        mix += [
            ("query", (q + 1, ["the", heads[0]], "disjunctive", 10)),
            ("query", (q + 2, [mid[0], mid[1], mid[2]], "disjunctive", 10)),
            ("query", (q + 3, ["the", mid[3]], "conjunctive", 10)),
            ("query", (q + 4, [rare[0]], "disjunctive", 10)),
            ("query", (q + 5, [absent_term(seed, 2 * v), rare[1]], "disjunctive", 10)),
            ("query", (q + 6, [absent_term(seed, 2 * v + 1), "the"], "conjunctive", 10)),
            ("query", (q + 7, [mid[4], mid[5]], "disjunctive", 10, ("the",))),
            ("query", (q + 8, [heads[1], mid[6]], "disjunctive", 10, (),
                       {heads[1]: 0.5, mid[6]: 2.0})),
            ("paged", ([(q + 9, [mid[7], heads[0]], "disjunctive", 10)], {q + 9: 20})),
            # term00<d>0 … term00<d>9: ten mid terms, PREFIX_EXPANSIONS kept
            ("prefix", [(q + 10, f"term00{digit}", 10)]),
            ("count", [(q + 11, [mid[8], mid[9]], "conjunctive", 10),
                       (q + 12, ["of", mid[10]], "disjunctive", 10)]),
        ]
    return mix


def zipf_stream(seed: int, n: int, vocab: int, qid0: int = 1,
                stream: int = 3) -> list[tuple]:
    """serve_zipf_churn's query stream: n single queries whose 1–3 terms are
    drawn from the corpus's Zipf(1.1) vocabulary; 80 % disjunctive, k=10.
    ``stream`` selects an independent sequence for the same seed."""
    rng = _rng(seed, stream)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]
    lens = rng.integers(1, 4, n)
    conj = rng.random(n) < 0.2
    draws = np.searchsorted(cdf, rng.random(int(lens.sum())))
    out = []
    pos = 0
    for i in range(n):
        ts = sorted({term(int(r)) for r in draws[pos:pos + lens[i]]})
        pos += lens[i]
        out.append((qid0 + i, ts, "conjunctive" if conj[i] else "disjunctive", 10))
    return out


def probe_terms(seed: int, n: int) -> list[str]:
    """Mid-band terms whose top documents the writer steps delete."""
    return _band(_rng(seed, 4), (20, 200), n)
