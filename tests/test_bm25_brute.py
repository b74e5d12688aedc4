"""M1 brute-force BM25: micro-fixture hand checks + NumPy-oracle rank identity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bloqsenjin_spark import corpus
from bloqsenjin_spark.operators import topk
from tests.numpy_oracle import bm25_topk as oracle_topk

MICRO_QUERIES = [
    (1, ["a"], "disjunctive", 10),
    (2, ["a", "e"], "disjunctive", 10),
    (3, ["a", "e"], "conjunctive", 10),
    (4, ["b", "c"], "conjunctive", 2),
    (5, ["zzz"], "disjunctive", 10),
    (6, ["d", "zzz"], "conjunctive", 10),
    (7, ["d", "d"], "disjunctive", 1),
]


def _mk_queries(spark, qs):
    from bloqsenjin_spark import schemas

    rows = [(q, sorted(set(t)), m, k) for q, t, m, k in qs]
    return spark.createDataFrame(rows, schema=schemas.QUERIES)


def test_micro_fixture_stats(spark, micro_docs):
    """FIXTURES.md §3: df={a:4,b:3,c:3,d:2,e:2}, N=8, dl(4)=0 counts."""
    tok = topk.tokenized(micro_docs)
    n, avgdl, ntok = topk.corpus_stats_df(tok).first()
    assert n == 8
    assert ntok == 3 + 4 + 3 + 1 + 0 + 3 + 5 + 2 == 21
    assert avgdl == pytest.approx(21 / 8)
    df = {r["term"]: r["df"] for r in topk.term_stats_df(topk.term_freqs(tok), 8).collect()}
    assert df == {"a": 4, "b": 3, "c": 3, "d": 2, "e": 2}


def test_micro_hand_computed_score(spark, micro_docs):
    """Score of query ['a'] on doc 2 ('a a a'): tf=3, dl=3, df=4, N=8."""
    res = topk.bm25_brute_force(micro_docs, _mk_queries(spark, [(1, ["a"], "disjunctive", 10)]))
    got = {r["doc_id"]: r["score"] for r in res.collect()}
    k1, b, avgdl = 1.2, 0.75, 21 / 8
    idf = math.log((8 - 4 + 0.5) / (4 + 0.5) + 1.0)
    want = idf * 3 * (k1 + 1) / (3 + k1 * (1 - b + b * 3 / avgdl))
    assert got[2] == pytest.approx(want, abs=1e-12)
    assert set(got) == {0, 2, 5, 7}


def test_micro_vs_numpy_oracle(spark, micro_docs):
    docs = {r["doc_id"]: r["text"] for r in micro_docs.collect()}
    want = oracle_topk(docs, MICRO_QUERIES)
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in topk.bm25_brute_force(micro_docs, _mk_queries(spark, MICRO_QUERIES))
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-9)


def test_zero_hit_and_conjunctive_absent(spark, micro_docs):
    res = topk.bm25_brute_force(
        micro_docs, _mk_queries(spark, [(5, ["zzz"], "disjunctive", 10), (6, ["d", "zzz"], "conjunctive", 10)])
    )
    assert res.count() == 0


def test_empty_term_batch_ships_only_markers(spark, micro_docs, monkeypatch):
    """A batch with no query terms pushes the empty allow-set into the scan
    (markers only), returns no rows and agrees with the NumPy oracle."""
    from bloqsenjin_spark.operators import postings

    seen = []
    real = postings.doc_term_freqs

    def spy(*args, **kwargs):
        seen.append(kwargs.get("terms"))
        return real(*args, **kwargs)

    monkeypatch.setattr(postings, "doc_term_freqs", spy)
    qs = [(1, [], "disjunctive", 10), (2, [], "conjunctive", 5)]
    res = topk.bm25_brute_force(micro_docs, _mk_queries(spark, qs))
    docs = {r["doc_id"]: r["text"] for r in micro_docs.collect()}
    assert res.collect() == [] == oracle_topk(docs, qs)
    assert seen == [[]]


def test_sf0001_vs_numpy_oracle(spark):
    docs_df = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    docs = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    want = oracle_topk(docs, corpus.REFERENCE_QUERIES)
    got = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in topk.bm25_brute_force(docs_df, corpus.reference_queries(spark))
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], abs=1e-9)


def test_duplicate_query_terms_deduped(spark, micro_docs):
    r1 = topk.bm25_brute_force(micro_docs, _mk_queries(spark, [(1, ["d", "d"], "disjunctive", 5)]))
    r2 = topk.bm25_brute_force(micro_docs, _mk_queries(spark, [(1, ["d"], "disjunctive", 5)]))
    assert [tuple(r) for r in r1.orderBy("rank").collect()] == [
        tuple(r) for r in r2.orderBy("rank").collect()
    ]


def test_tie_break_doc_id_asc(spark):
    """Identical docs ⇒ identical scores ⇒ ranked by doc_id ascending."""
    docs = spark.createDataFrame(
        [(i, "x y z") for i in range(6)], "doc_id long, text string"
    )
    res = (
        topk.bm25_brute_force(docs, _mk_queries(docs.sparkSession, [(1, ["x"], "disjunctive", 4)]))
        .orderBy("rank")
        .collect()
    )
    assert [r["doc_id"] for r in res] == [0, 1, 2, 3]
    assert len({round(r["score"], 12) for r in res}) == 1
