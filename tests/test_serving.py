"""Serving tier: rank-identity with the distributed path + latency sanity."""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter

import pytest

from bloqsenjin_spark import corpus
from bloqsenjin_spark.config import IndexConfig
from bloqsenjin_spark.operators import serving, topk, wand
from bloqsenjin_spark.operators.serving import IndexServer, _BoundedLRU
from bloqsenjin_spark.plans import build as B

CFG = IndexConfig(docs_per_shard=128, block_docs=16)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_idx"))
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    return d


def test_serving_rank_identical_to_spark_path(spark, index_dir):
    idx = B.read_index(spark, index_dir, CFG)
    want = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, CFG,
        ).orderBy("query_id", "rank").collect()
    ]
    srv = IndexServer(index_dir, CFG)
    got = sorted(srv.query_batch(corpus.REFERENCE_QUERIES))
    want = sorted(want)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_serving_rank_identical_to_brute_force(spark, index_dir):
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in topk.bm25_brute_force(docs, corpus.reference_queries(spark)).collect()
    )
    srv = IndexServer(index_dir, CFG)
    got = sorted(
        (q, r, d, round(s, 9)) for q, r, d, s in srv.query_batch(corpus.REFERENCE_QUERIES)
    )
    assert got == want


def test_serving_single_and_edge_queries(spark, index_dir):
    srv = IndexServer(index_dir, CFG)
    assert srv.query(["zebra"]) == []  # absent term
    assert srv.query(["zebra", "the"], mode="conjunctive") == []
    top1 = srv.query(["the"], k=1)
    assert len(top1) == 1 and top1[0][1] == 1
    # duplicate terms deduped (policy)
    assert srv.query(["the", "the"], k=3) == srv.query(["the"], k=3)


def test_serving_latency_and_cache(spark, index_dir):
    srv = IndexServer(index_dir, CFG)
    srv.query_batch(corpus.REFERENCE_QUERIES)  # warm the term cache
    t0 = time.perf_counter()
    n = 20
    for _ in range(n):
        srv.query_batch(corpus.REFERENCE_QUERIES)
    per_batch = (time.perf_counter() - t0) / n
    # 12 queries per batch from a warm server: must be far under a Spark job
    assert per_batch < 0.5, f"serving too slow: {per_batch:.3f}s/batch"


def test_serving_caches_are_lru_bounded(spark, index_dir, monkeypatch):
    """A long-lived server over a many-distinct-term query stream must not
    grow its caches without bound — and eviction must not change results.
    The decoded row-group cache keeps its decoded bytes under its budget."""
    import pyarrow.parquet as pq

    with monkeypatch.context() as m:  # no per-term cache
        m.setattr(serving, "_TERM_CACHE_ENTRIES", 0)
        ref = IndexServer(index_dir, CFG)
    vocab = sorted(ref.idf)  # every indexed term, >> cache cap
    assert len(vocab) > 8
    ref._load_terms(vocab)
    sizes = sorted(g.nbytes for g in ref._postings_reader.cache.values())
    n_groups = len(ref._postings_reader._directory())
    assert len(sizes) == n_groups >= 3
    budget = 2 * sizes[-1]  # room for two row groups
    monkeypatch.setattr(serving, "_ROW_GROUP_CACHE_BYTES", budget)
    reads: list = []
    real = pq.ParquetFile.read_row_group

    def counted(self, *a, **kw):
        reads.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted)
    monkeypatch.setattr(serving, "_TERM_CACHE_ENTRIES", 4)
    srv = IndexServer(index_dir, CFG)
    rg_cache = srv._postings_reader.cache
    for t in vocab:  # stream of distinct single-term queries
        assert srv.query([t], k=3) == ref.query([t], k=3)
        assert len(srv._term_cache) <= 4
        assert rg_cache.size == sum(g.nbytes for g in rg_cache.values())
        assert 0 < rg_cache.size <= budget
    assert len(reads) > n_groups  # evicted row groups were decoded again
    # re-querying an evicted term still answers correctly (reload path)
    assert srv.query([vocab[0]], k=3) == ref.query([vocab[0]], k=3)


def test_serving_score_block_cache_identity_and_bound(spark, index_dir,
                                                     monkeypatch):
    """Round-9 follow-up: the decoded-BM25-block LRU must (a) populate on
    first use and serve identical results on repeats and under eviction
    pressure, (b) stay bounded, (c) be dropped by refresh(force=True) —
    cached arrays belong to a generation."""
    with monkeypatch.context() as m:
        m.setattr(serving, "_SCORE_BLOCK_CACHE_ENTRIES", 0)
        ref = IndexServer(index_dir, CFG)
        m.setattr(serving, "_SCORE_BLOCK_CACHE_ENTRIES", 2)
        tiny = IndexServer(index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    want = ref.query_batch(corpus.REFERENCE_QUERIES)
    assert srv.query_batch(corpus.REFERENCE_QUERIES) == want
    assert len(srv._score_block_cache) > 0  # populated
    assert srv.query_batch(corpus.REFERENCE_QUERIES) == want  # cache hits
    # eviction pressure cannot change results
    assert tiny.query_batch(corpus.REFERENCE_QUERIES) == want
    assert len(tiny._score_block_cache) <= 2
    # MUST_NOT path shares the cache; equality with the uncached server
    negq = [(1, ["the"], "disjunctive", 5, ["customer"])]
    assert srv.query_batch(negq) == ref.query_batch(negq)
    srv.refresh(force=True)
    assert len(srv._score_block_cache) == 0  # generation drop


CFG_POS = IndexConfig(docs_per_shard=128, block_docs=16, positions=True)


@pytest.fixture(scope="module")
def pos_index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_pidx"))
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG_POS)
    return d


def test_serving_phrase_matches_spark_path(spark, pos_index_dir,
                                           monkeypatch):
    phrases = [(1, "the fast"), (2, "customer order"), (3, "zebra stripes"),
               (4, "The, FAST!")]
    idx = B.read_index(spark, pos_index_dir)
    want = sorted(
        (r["query_id"], r["doc_id"])
        for r in wand.phrase_match_positional(idx.postings, phrases, idx.cfg).collect()
    )
    srv = IndexServer(pos_index_dir)
    got = srv.phrase_batch(phrases)
    assert got == want
    assert any(q == 1 for q, _ in got)
    # decoded positional blocks persist across calls (bounded LRU) and a
    # warm repeat is result-identical
    n_blocks = len(srv._block_cache)
    assert 0 < n_blocks <= serving._POS_BLOCK_CACHE_ENTRIES
    assert srv.phrase_batch(phrases) == want
    assert len(srv._block_cache) == n_blocks

    # tiny block-cache cap: still correct, never exceeds the cap
    monkeypatch.setattr(serving, "_POS_BLOCK_CACHE_ENTRIES", 2)
    small = IndexServer(pos_index_dir)
    assert small.phrase_batch(phrases) == want
    assert len(small._block_cache) <= 2


def test_serving_phrase_topk_matches_spark_path(spark, pos_index_dir):
    """Serving phrase top-k is rank-identical (and score-bit-identical) to
    the distributed single-pass phrase_bm25_topk on the same index."""
    phrases = [(1, "the fast", 5), (2, "customer order", 3),
               (3, "zebra stripes", 4)]
    idx = B.read_index(spark, pos_index_dir)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.phrase_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            phrases, idx.cfg,
        ).collect()
    )
    got = sorted(IndexServer(pos_index_dir).phrase_topk_batch(phrases))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == w[3]  # bit-identical scores (same kernel, same order)


def test_serving_phrase_requires_positions(spark, index_dir):
    with pytest.raises(ValueError, match="positional"):
        IndexServer(index_dir, CFG).phrase_batch([(1, "the fast")])


def test_serving_boolean_and_filtered_match_spark_path(spark, index_dir):
    """MUST_NOT queries (5-tuples) and allow-set restriction are
    rank-identical between the serving tier and the distributed path."""
    from pyspark.sql import functions as F

    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)

    boolean = [
        (1, ["join", "hash"], "conjunctive", 10, ["merge"]),
        (2, ["customer", "order"], "disjunctive", 10, ["slow", "filter"]),
        (3, ["spark"], "disjunctive", 10, ["zebra"]),
    ]
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            boolean, CFG,
        ).collect()
    )
    got = sorted(srv.query_batch(boolean))
    assert len(got) == len(want) > 0
    assert [g[:3] for g in got] == [w[:3] for w in want]
    # exclusion is real: no doc in q1 results contains 'merge'
    merge_docs = {
        r["doc_id"] for r in docs.collect()
        if "merge" in (r["text"] or "").lower()
    }
    assert merge_docs and not any(
        d in merge_docs for q, _, d, _ in got if q == 1
    )

    allowed = [r["doc_id"] for r in docs.where(F.col("lang") == "en")
               .select("doc_id").collect()]
    allow_map = shard_bitmap_df(
        docs.where(F.col("lang") == "en").select("doc_id"), CFG,
        bitmap_col="allow",
    )
    want_f = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, CFG, allow_map=allow_map,
        ).collect()
    )
    got_f = sorted(srv.query_batch(corpus.REFERENCE_QUERIES,
                                   allowed_doc_ids=allowed))
    assert len(got_f) == len(want_f) > 0
    assert [g[:3] for g in got_f] == [w[:3] for w in want_f]
    assert all(d in set(allowed) for _, _, d, _ in got_f)


def test_serving_highlights_match_spark_path(spark, pos_index_dir):
    queries = [(1, ["the", "fast"], "disjunctive", 3),
               (2, ["customer"], "conjunctive", 2)]
    idx = B.read_index(spark, pos_index_dir)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["term"], r["pos"])
        for r in wand.topk_highlights(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            queries, idx.cfg,
        ).collect()
    )
    got = IndexServer(pos_index_dir).highlight_batch(queries)
    assert got == want and len(got) > 0


def test_serving_count_batch_matches_spark_path(spark, index_dir):
    queries = [
        (1, ["the", "fast"], "disjunctive", 10),
        (2, ["customer", "order"], "conjunctive", 10),
        (3, ["zebra"], "disjunctive", 10),
        (4, ["join", "hash"], "conjunctive", 10, ["merge"]),
    ]
    idx = B.read_index(spark, index_dir, CFG)
    want = sorted(
        (r["query_id"], r["n_hits"])
        for r in wand.match_counts(idx.postings, idx.doc_lens, queries, CFG).collect()
    )
    got = IndexServer(index_dir, CFG).count_batch(queries)
    assert got == want
    assert dict(got)[3] == 0 and dict(got)[1] > 0


def test_serving_prefix_topk_matches_spark_path(spark, index_dir):
    """Serving prefix top-k expands from the in-memory dictionary replica
    (no Spark job) and is rank-identical to wand.prefix_bm25_topk."""
    prefixes = [(1, "s", 5), (2, "c", 4), (3, "zzz", 5)]
    idx = B.read_index(spark, index_dir, CFG)
    for cap in (3, 100):
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in wand.prefix_bm25_topk(
                idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                prefixes, CFG, max_expansions=cap,
            ).collect()
        )
        got = sorted(IndexServer(index_dir, CFG).prefix_topk_batch(
            prefixes, max_expansions=cap))
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)
    assert not any(q == 3 for q, _, _, _ in got)  # no expansion ⇒ no rows


def test_serving_near_matches_spark_path(spark, pos_index_dir):
    """Serving proximity matches the distributed near_match_positional, and
    near_batch(slop=0) ≡ phrase_batch."""
    near = [(1, "the fast", 0), (2, "the fast", 2), (3, "customer order", 1),
            (4, "zebra stripes", 3)]
    idx = B.read_index(spark, pos_index_dir)
    want = sorted(
        (r["query_id"], r["doc_id"])
        for r in wand.near_match_positional(idx.postings, near, idx.cfg).collect()
    )
    srv = IndexServer(pos_index_dir)
    got = srv.near_batch(near)
    assert got == want and len(got) > 0
    phrases = [(q, p) for q, p, _ in near]
    assert srv.near_batch([(q, p, 0) for q, p in phrases]) == srv.phrase_batch(phrases)


def test_serving_refresh_generations(spark, tmp_path):
    """Generation-stamped refresh: logical deletes and purges bump the
    index generation; a long-lived server serves its loaded snapshot until
    refresh(), then becomes identical to a freshly constructed server."""
    from bloqsenjin_spark.plans import deletes as D
    from bloqsenjin_spark.plans.build import read_index_generation

    d = str(tmp_path / "ridx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    g0 = read_index_generation(d)
    assert g0 >= 1
    srv = IndexServer(d, CFG)
    baseline = srv.query_batch(corpus.REFERENCE_QUERIES)
    assert srv.refresh() is False  # nothing written since load

    victims = [doc for q, _r, doc, _s in baseline if q == 1][:3]
    assert victims
    D.delete_docs(spark, d, victims)
    assert read_index_generation(d) > g0
    # stale-serve isolation: the old generation still answers consistently
    assert srv.query_batch(corpus.REFERENCE_QUERIES) == baseline
    assert srv.refresh() is True
    after = srv.query_batch(corpus.REFERENCE_QUERIES)
    assert after == IndexServer(d, CFG).query_batch(corpus.REFERENCE_QUERIES)
    assert after != baseline
    assert not any(doc in set(victims) for q, _r, doc, _s in after if q == 1)
    assert srv.refresh() is False

    # physical purge rewrites the index (fresh stats): another generation
    D.purge_deletes(spark, d)
    assert srv.refresh(), "purge must move the generation"
    assert srv.query_batch(corpus.REFERENCE_QUERIES) == IndexServer(
        d, CFG).query_batch(corpus.REFERENCE_QUERIES)


def test_serving_refresh_after_streaming_compact(spark, tmp_path):
    """build → serve → streaming append → compact → refresh(): the server
    picks up the compacted index and matches both a fresh server and the
    Spark query path."""
    from pyspark.sql import functions as F

    from bloqsenjin_spark.streaming import ingest

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    in_dir, seg_dir, ck_dir, serve_dir = (
        str(tmp_path / x) for x in ("in", "seg", "ck", "serve")
    )
    docs.where(F.col("doc_id") < 250).coalesce(1).write.mode("overwrite").parquet(in_dir)
    ingest.start_ingest(spark, in_dir, seg_dir, ck_dir, cfg=CFG).awaitTermination(120)
    B.write_index(ingest.compact(spark, seg_dir, CFG), serve_dir)
    srv = IndexServer(serve_dir, CFG)
    base = srv.query_batch(corpus.REFERENCE_QUERIES)
    assert srv.n_docs == 250 and srv.refresh() is False

    docs.where(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(in_dir)
    ingest.start_ingest(spark, in_dir, seg_dir, ck_dir, cfg=CFG).awaitTermination(120)
    B.write_index(ingest.compact(spark, seg_dir, CFG), serve_dir)

    assert srv.refresh() is True
    assert srv.n_docs == 500
    got = sorted(srv.query_batch(corpus.REFERENCE_QUERIES))
    assert got == sorted(IndexServer(serve_dir, CFG).query_batch(corpus.REFERENCE_QUERIES))
    assert got != sorted(base)
    idx = B.read_index(spark, serve_dir, CFG)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, CFG,
        ).collect()
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]


def test_serving_ann_full_probe_equals_brute(spark, index_dir):
    """Serving IVF at full probe is exact: rank-identical to the Spark
    brute-force cosine top-k (and to ann_cosine_ivf at full probe)."""
    from bloqsenjin_spark.operators import similarity

    emb = corpus.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    similarity.write_ivf(emb, index_dir, n_centroids=8)
    srv = IndexServer(index_dir, CFG)
    qids = list(range(10))
    got = sorted(srv.ann_batch(qids, k=5, n_probe=8))
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"])
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    )
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-9)


def test_serving_ann_pruned_probe_matches_spark_ivf(spark, index_dir):
    """At pruned probe the serving replica is rank-identical to the Spark
    IVF path (same deterministic centroids), and recall vs brute force stays
    above the pinned floor."""
    from bloqsenjin_spark.operators import similarity

    emb = corpus.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    similarity.write_ivf(emb, index_dir, n_centroids=8)
    srv = IndexServer(index_dir, CFG)
    qids = list(range(10))
    for n_probe in (2, 4):
        got = sorted(srv.ann_batch(qids, k=5, n_probe=n_probe))
        want = sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["score"])
            for r in similarity.ann_cosine_ivf(
                emb, qids, k=5, n_centroids=8, n_probe=n_probe
            ).collect()
        )
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-9)
    brute = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    hits = {(q, v) for q, _r, v, _s in srv.ann_batch(qids, k=5, n_probe=2)}
    recall = len(hits & brute) / len(brute)
    assert recall >= 0.5, f"pruned-probe recall collapsed: {recall}"


def test_serving_fuzzy_topk_matches_spark_path(spark, index_dir):
    """Serving fuzzy top-k expands from the in-memory dictionary with the
    same (distance, df, term) rule — rank-identical to wand.fuzzy_bm25_topk."""
    fuzzy = [(1, "spork", 1, 5), (2, "ow", 1, 5), (3, "quary", 2, 4),
             (4, "xyzzy", 1, 5)]
    idx = B.read_index(spark, index_dir, CFG)
    for cap in (2, 50):
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in wand.fuzzy_bm25_topk(
                idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                fuzzy, CFG, max_expansions=cap,
            ).collect()
        )
        got = sorted(IndexServer(index_dir, CFG).fuzzy_topk_batch(
            fuzzy, max_expansions=cap))
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)
    assert not any(q == 4 for q, _, _, _ in got)


def test_lazy_stats_mode_identical(spark, index_dir, pos_index_dir,
                                  monkeypatch):
    """stats_mode='lazy' — NO vocabulary residency: per-batch row-group-
    pruned term_stats reads through a bounded LRU, prefix via a ranged read
    of the term-sorted files, fuzzy via the on-disk SymSpell bucket replica
    (write_fuzzy_index) — returns results identical to the eager whole-dict
    server on every dictionary-dependent form."""
    B.write_fuzzy_index(spark, index_dir, max_dist=2)
    eager = IndexServer(index_dir, CFG)
    lazy = IndexServer(index_dir, CFG, stats_mode="lazy")
    assert lazy.df is None and lazy.idf is None  # nothing resident
    assert (lazy.query_batch(corpus.REFERENCE_QUERIES)
            == eager.query_batch(corpus.REFERENCE_QUERIES))
    pq = [(1, "s", 10), (2, "c", 10), (3, "zz", 5)]
    assert (lazy.prefix_topk_batch(pq, max_expansions=4)
            == eager.prefix_topk_batch(pq, max_expansions=4))
    fq = [(1, "spork", 1, 5), (2, "quary", 2, 4), (3, "xyzzy", 1, 5)]
    assert (lazy.fuzzy_topk_batch(fq, max_expansions=3)
            == eager.fuzzy_topk_batch(fq, max_expansions=3))
    mq = [(1, ["spork", "quary"], 1, 5), (2, ["sow", "row"], 1, 6)]
    assert (lazy.fuzzy_multi_topk_batch(mq, distance_decay=0.5)
            == eager.fuzzy_multi_topk_batch(mq, distance_decay=0.5))
    assert (lazy.count_batch(corpus.REFERENCE_QUERIES)
            == eager.count_batch(corpus.REFERENCE_QUERIES))
    # phrase-family scoring reads idf lazily too (positional index)
    phrases = [(1, "the fast", 5), (2, "customer order", 5)]
    lp = IndexServer(pos_index_dir, stats_mode="lazy")
    assert (lp.phrase_topk_batch(phrases)
            == IndexServer(pos_index_dir).phrase_topk_batch(phrases))
    # residency is bounded by the LRU cap, not the vocabulary
    monkeypatch.setattr(serving, "_TERM_CACHE_ENTRIES", 4)
    small = IndexServer(index_dir, CFG, stats_mode="lazy")
    small.query_batch(corpus.REFERENCE_QUERIES)
    small.prefix_topk_batch(pq, max_expansions=4)
    assert len(small._stats_lru) <= 4
    # lazy fuzzy without the replica fails with the remedy, not a scan
    import shutil as _sh
    import tempfile as _tf

    bare = _tf.mkdtemp(prefix="lazy_bare_")
    try:
        docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
        B.build_index_resumable(docs.limit(50), bare, CFG)
        with pytest.raises(ValueError, match="write_fuzzy_index"):
            IndexServer(bare, CFG, stats_mode="lazy").fuzzy_topk_batch(
                [(1, "spork", 1, 5)])
    finally:
        _sh.rmtree(bare, ignore_errors=True)


def test_lazy_fuzzy_over_distance_refuses_unless_opted_in(spark, index_dir):
    """Lazy-mode fuzzy at a distance ABOVE the replica's build distance
    must refuse loudly by default (the latency tier never silently degrades
    to an O(vocabulary) scan); allow_fuzzy_scan=True opts into the
    streaming scan, which returns results identical to the eager tier's
    full-dict fallback at the same distance."""
    B.write_fuzzy_index(spark, index_dir, max_dist=1)
    fq = [(1, "spork", 3, 5)]  # dist 3 > built 1 (and > eager SymSpell cap)
    lazy = IndexServer(index_dir, CFG, stats_mode="lazy")
    with pytest.raises(ValueError, match="exceeds the on-disk"):
        lazy.fuzzy_topk_batch(fq, max_expansions=3)
    scan = IndexServer(index_dir, CFG, stats_mode="lazy",
                       allow_fuzzy_scan=True)
    eager = IndexServer(index_dir, CFG)
    assert (scan.fuzzy_topk_batch(fq, max_expansions=3)
            == eager.fuzzy_topk_batch(fq, max_expansions=3))
    # within the build distance the prefetched-bucket path serves as before
    ok = [(1, "spork", 1, 5), (2, "quary", 1, 4)]
    assert (lazy.fuzzy_topk_batch(ok, max_expansions=3)
            == eager.fuzzy_topk_batch(ok, max_expansions=3))


def test_serving_fuzzy_multi_matches_spark_path(spark, index_dir):
    """Multi-word fuzzy serving (per-word SymSpell expansion composed into
    one boosted disjunctive query) is rank-identical to
    wand.fuzzy_multi_bm25_topk — with and without the distance decay."""
    multi = [(1, ["spork", "quary"], 1, 5), (2, ["ow", "dta"], 1, 4),
             (3, ["sow", "row"], 1, 6), (4, ["xyzzy", "qqqzz"], 1, 5)]
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    for decay in (None, 0.5):
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in wand.fuzzy_multi_bm25_topk(
                idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                multi, CFG, max_expansions=3, distance_decay=decay,
            ).collect()
        )
        got = sorted(srv.fuzzy_multi_topk_batch(
            multi, max_expansions=3, distance_decay=decay))
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)
    assert not any(q == 4 for q, _, _, _ in got)  # zero-expansion guard


def test_serving_weighted_and_paged_match_spark_path(spark, index_dir):
    """6-tuple boosts flow through the shared kernel unchanged, and
    paged_batch slices the same global ranking as bm25_topk_paged."""
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    wq = [
        (1, ["the", "fast"], "disjunctive", 8, [], {"the": 0.25, "fast": 2.0}),
        (2, ["join", "hash"], "conjunctive", 8, ["merge"], {"join": 2.0}),
    ]
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl, wq, CFG
        ).collect()
    )
    got = sorted(srv.query_batch(wq))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)

    q = [(1, ["the", "fast"], "disjunctive", 6)]
    offs = {1: 5}
    want_p = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_topk_paged(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            q, offs, CFG,
        ).collect()
    )
    got_p = sorted(srv.paged_batch(q, offs))
    assert len(got_p) == len(want_p) > 0
    assert [g[:3] for g in got_p] == [w[:3] for w in want_p]
    assert all(5 < r <= 11 for _q, r, _d, _s in got_p)  # global ranks


def test_serving_near_topk_matches_spark_path(spark, pos_index_dir):
    near = [(1, "the fast", 5, 2), (2, "customer order", 4, 1),
            (3, "zebra stripes", 5, 3)]
    idx = B.read_index(spark, pos_index_dir)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.near_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            near, idx.cfg,
        ).collect()
    )
    srv = IndexServer(pos_index_dir)
    got = sorted(srv.near_topk_batch(near))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == w[3]  # bit-identical (same kernel, same order)
    phrases = [(1, "the fast", 5), (2, "customer order", 4)]
    assert srv.near_topk_batch([(q, p, k, 0) for q, p, k in phrases]) == \
        srv.phrase_topk_batch(phrases)


def test_serving_auto_refresh(spark, tmp_path):
    """auto_refresh=True servers pick up a new generation at the next batch
    without an explicit refresh() call."""
    from bloqsenjin_spark.plans import deletes as D

    d = str(tmp_path / "aridx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    srv = IndexServer(d, CFG, auto_refresh=True)
    base = srv.query_batch(corpus.REFERENCE_QUERIES)
    victims = [doc for q, _r, doc, _s in base if q == 1][:2]
    D.delete_docs(spark, d, victims)
    after = srv.query_batch(corpus.REFERENCE_QUERIES)  # no refresh() call
    assert after != base
    assert after == IndexServer(d, CFG).query_batch(corpus.REFERENCE_QUERIES)


def test_serving_auto_refresh_covers_dictionary_expansion(spark, tmp_path):
    """The batch snapshot must poll the generation BEFORE prefix/fuzzy
    expansion — otherwise one batch expands from the old dictionary and
    scores against the new index (torn generations)."""
    d = str(tmp_path / "dictidx")
    a = spark.createDataFrame(
        [(i, "alpha alder amber stone") for i in range(8)],
        "doc_id long, text string")
    B.build_index_resumable(a, d, CFG)
    srv = IndexServer(d, CFG, auto_refresh=True)
    assert srv.prefix_topk_batch([(1, "a", 5)])  # warm: old dictionary
    # rebuild the SAME dir with a disjoint vocabulary (new generation)
    import shutil
    for t in ("postings", "doc_lens", "term_stats", "corpus_stats",
              "checkpoints", "build_metrics"):
        shutil.rmtree(f"{d}/{t}", ignore_errors=True)
    b = spark.createDataFrame(
        [(i, "beta birch bronze stone") for i in range(8)],
        "doc_id long, text string")
    B.build_index_resumable(b, d, CFG)
    fresh = IndexServer(d, CFG)
    got = srv.prefix_topk_batch([(1, "b", 5)])
    assert got == fresh.prefix_topk_batch([(1, "b", 5)]) and got
    assert srv.prefix_topk_batch([(1, "a", 5)]) == []  # old vocab gone
    assert srv.fuzzy_topk_batch([(1, "birxh", 1, 5)]) == \
        fresh.fuzzy_topk_batch([(1, "birxh", 1, 5)])


def test_serving_guards(spark, index_dir, pos_index_dir):
    """Duplicate query_ids in proximity batches and negative boosts fail
    loudly instead of silently corrupting results."""
    psrv = IndexServer(pos_index_dir)
    with pytest.raises(ValueError, match="duplicate query_ids"):
        psrv.near_batch([(1, "the fast", 0), (1, "customer order", 2)])
    with pytest.raises(ValueError, match="duplicate query_ids"):
        psrv.phrase_topk_batch([(1, "the fast", 5), (1, "customer order", 5)])
    srv = IndexServer(index_dir, CFG)
    with pytest.raises(ValueError, match="negative term boosts"):
        srv.query_batch([(1, ["the"], "disjunctive", 5, [], {"the": -1.0})])


def test_symspell_candidates_equal_full_scan(index_dir):
    """The SymSpell deletion-neighborhood expansion must be a lossless
    replacement for the round-4 full-dictionary scan: for every (word, dist)
    the verified candidate set equals brute-force Levenshtein over the whole
    loaded dictionary (the SymSpell lemma, checked empirically on the real
    index vocabulary plus adversarial words)."""
    srv = IndexServer(index_dir, CFG)._snap()
    vocab = list(srv.df)
    words = ["spork", "ow", "quary", "xyzzy", "", "a",
             vocab[0], vocab[len(vocab) // 2], vocab[-1] + "x"]
    for word in words:
        for dist in (0, 1, 2):
            brute = {t for t in vocab
                     if srv._levenshtein(t, word, dist) <= dist}
            sym = {t for t in srv._fuzzy_candidates(word, dist)
                   if srv._levenshtein(t, word, dist) <= dist}
            assert sym == brute, (word, dist)
    # candidate sets are bucket-bounded: far fewer than the vocabulary for a
    # typical word (the sub-linearity this structure exists for)
    assert len(srv._fuzzy_candidates("spork", 1)) < len(vocab)


def test_symspell_index_shared_and_dropped_on_refresh(index_dir):
    srv = IndexServer(index_dir, CFG)
    srv.fuzzy_topk_batch([(1, "spork", 1, 5)])
    assert 1 in srv._fuzzy_idx  # built lazily, visible on the parent
    idx_obj = srv._fuzzy_idx
    srv.refresh(force=True)
    assert srv._fuzzy_idx is not idx_obj and srv._fuzzy_idx == {}


def test_fuzzy_and_prefix_duplicate_qid_raise(index_dir):
    srv = IndexServer(index_dir, CFG)
    with pytest.raises(ValueError, match="duplicate query_ids"):
        srv.fuzzy_topk_batch([(1, "spork", 1, 5), (1, "quary", 1, 5)])
    with pytest.raises(ValueError, match="duplicate query_ids"):
        srv.prefix_topk_batch([(1, "s", 5), (1, "c", 5)])


def test_wand_duplicate_qid_raise():
    """Spark-side prefix/fuzzy entry points share the duplicate-qid guard
    (raised before any plan is built, so no real index is needed)."""
    with pytest.raises(ValueError, match="duplicate query_ids"):
        wand.prefix_bm25_topk(None, None, None, 0.0, [(1, "s", 5), (1, "c", 5)])
    with pytest.raises(ValueError, match="duplicate query_ids"):
        wand.fuzzy_bm25_topk(None, None, None, 0.0,
                             [(1, "a", 1, 5), (1, "b", 1, 5)])


# ---- serving-side snippets (doc-store replica) -------------------------------

CFG_POS_SNIP = IndexConfig(docs_per_shard=128, block_docs=16, positions=True)


@pytest.fixture(scope="module")
def snippet_index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serve_snip_idx"))
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG_POS_SNIP)
    B.write_doc_store(docs, d, CFG_POS_SNIP)
    return d


def test_snippet_batch_matches_spark_path(spark, snippet_index_dir):
    """IndexServer.snippet_batch ≡ wand.topk_snippets: rank, score, snip_pos
    and the snippet TEXT all identical (the doc-store replica serves the same
    normalized token stream the Spark path slices from the corpus)."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = B.read_index(spark, snippet_index_dir, CFG_POS_SNIP)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9),
         r["snip_pos"], r["snippet"])
        for r in wand.topk_snippets(
            docs, idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, CFG_POS_SNIP,
        ).collect()
    )
    got = [
        (q, r, d, round(s, 9), p, sn)
        for q, r, d, s, p, sn in IndexServer(
            snippet_index_dir, CFG_POS_SNIP).snippet_batch(corpus.REFERENCE_QUERIES)
    ]
    assert len(got) == len(want) > 0
    assert got == want


def test_snippet_batch_requires_doc_store(spark, tmp_path):
    """Without the opt-in replica the server refuses loudly."""
    d = str(tmp_path / "no_store_idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG_POS_SNIP)
    srv = IndexServer(d, CFG_POS_SNIP)
    with pytest.raises(ValueError, match="doc_store"):
        srv.snippet_batch([(1, ["the", "fast"], "disjunctive", 5)])


def test_doc_store_bumps_generation_and_refresh_picks_it_up(spark, tmp_path):
    d = str(tmp_path / "gen_idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG_POS_SNIP)
    srv = IndexServer(d, CFG_POS_SNIP)
    g0 = srv.generation
    B.write_doc_store(docs, d, CFG_POS_SNIP)
    assert B.read_index_generation(d) > g0
    assert srv.refresh() is True
    rows = srv.snippet_batch([(1, ["the", "fast"], "disjunctive", 5)])
    assert rows and all(isinstance(r[5], str) and r[5] for r in rows)


def test_serving_ann_picks_up_ivf_appends_via_refresh(spark, tmp_path):
    """append_ivf + refresh(): the serving ANN replica sees the appended
    vectors, and full probe over the appended index is exact vs brute-force
    cosine over ALL vectors (completeness is centroid-independent)."""
    from pyspark.sql import functions as F

    from bloqsenjin_spark.operators import similarity

    d = str(tmp_path / "ann_append_idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    emb = corpus.load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    cut = int(n * 0.8)
    similarity.write_ivf(emb.where(F.col("vec_id") < cut), d, n_centroids=8)
    srv = IndexServer(d, CFG)
    qids = list(range(5))
    partial = srv.ann_batch(qids, k=5, n_probe=8)
    assert partial  # replica loaded (pre-append generation)
    assert similarity.append_ivf(
        emb.where(F.col("vec_id") >= cut), d, skew_threshold=None) is False
    assert srv.refresh() is True  # append bumped the generation
    got = sorted(srv.ann_batch(qids, k=5, n_probe=8))
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["score"])
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    )
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-9)


def test_serving_ann_zero_norm_query_yields_no_nans(spark, tmp_path):
    """An all-zero query vector must produce finite (zero) scores, never
    NaN-ordered ranks (round-4 ADVICE)."""
    import math

    from bloqsenjin_spark.operators import similarity

    d = str(tmp_path / "ann_zero_idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    rs = __import__("numpy").random.RandomState(3)
    rows = [(i, [float(x) for x in rs.standard_normal(8)]) for i in range(32)]
    rows.append((99, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    similarity.write_ivf(emb, d, n_centroids=4)
    out = IndexServer(d, CFG).ann_batch([99], k=5, n_probe=4)
    assert out and all(math.isfinite(s) and s == 0.0 for _q, _r, _v, s in out)


# ---- doc-range slice ownership (multi-server deployment shape) ---------------

def test_slice_servers_merge_to_full_results(spark, index_dir):
    """Two IndexServers each owning HALF the doc-range shards, merged by the
    frontend helpers, must reproduce the single full server exactly — top-k
    (ranks, scores), and exact counts — across plain/boolean/filtered
    forms. This is the fan-out-and-merge deployment from the module
    docstring, executed."""
    from bloqsenjin_spark.operators.serving import merge_counts, merge_topk

    full = IndexServer(index_dir, CFG)
    n_shards = len(full.dls)
    assert n_shards >= 2  # fixture must exercise a real split
    half = n_shards // 2
    a = IndexServer(index_dir, CFG, shards=range(half))
    b = IndexServer(index_dir, CFG, shards=range(half, n_shards))
    # slice owners hold ONLY their shards' arrays
    assert set(a.dls) == set(range(half))
    assert set(b.dls) == set(range(half, n_shards))

    batches = [
        corpus.REFERENCE_QUERIES,
        [(1, ["join", "hash"], "conjunctive", 10, ["merge"]),
         (2, ["customer", "order"], "disjunctive", 10, ["slow"])],
    ]
    for queries in batches:
        want = sorted(full.query_batch(queries))
        got = sorted(merge_topk(
            [a.query_batch(queries), b.query_batch(queries)], queries))
        assert got == want and len(want) > 0

    qs = corpus.REFERENCE_QUERIES
    want_counts = sorted(full.count_batch(qs))
    got_counts = merge_counts([a.count_batch(qs), b.count_batch(qs)])
    assert got_counts == want_counts and len(want_counts) > 0


def test_slice_server_posting_reads_are_shard_filtered(index_dir):
    """A slice owner's posting reads carry the shard predicate — rows from
    un-owned shards never reach its kernel (checked via the raw load)."""
    full = IndexServer(index_dir, CFG)
    n_shards = len(full.dls)
    a = IndexServer(index_dir, CFG, shards=range(1))
    tbl = a._load_terms(["the", "customer"])
    assert set(int(s) for s in tbl["shard"]) <= {0}
    assert len(tbl["term"]) > 0
    fulltbl = full._load_terms(["the", "customer"])
    assert len(set(int(s) for s in fulltbl["shard"])) == n_shards


def test_phrase_family_allow_sets(spark, tmp_path):
    """ACL parity for the phrase family: allowed_doc_ids restricts phrase /
    near matches and phrase top-k, consistent with (a) set intersection on
    the match forms and (b) the Spark allow_map path on the ranked form."""
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    cfg = IndexConfig(docs_per_shard=128, block_docs=16, positions=True)
    d = str(tmp_path / "pidx_allow")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, cfg)
    srv = IndexServer(d, cfg)
    phrases = [(1, "the fast"), (2, "customer order")]
    base = srv.phrase_batch(phrases)
    assert base
    allowed = sorted({doc for _q, doc in base})[::2]  # every other match
    got = srv.phrase_batch(phrases, allowed_doc_ids=allowed)
    assert got == [(q, doc) for q, doc in base if doc in set(allowed)]
    # near twin honors the same set
    got_n = srv.near_batch([(q, p, 1) for q, p in phrases],
                           allowed_doc_ids=allowed)
    assert all(doc in set(allowed) for _q, doc in got_n)
    # ranked form == Spark phrase_bm25_topk with the allow bitmap
    idx = B.read_index(spark, d, cfg)
    allow = shard_bitmap_df(
        spark.createDataFrame([(int(x),) for x in allowed], "doc_id long"),
        cfg, bitmap_col="allow",
    )
    tq = [(1, "the fast", 5), (2, "customer order", 5)]
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand.phrase_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            tq, cfg, allow_map=allow).collect()
    )
    got_t = [(q, r, doc, round(s, 9))
             for q, r, doc, s in srv.phrase_topk_batch(
                 tq, allowed_doc_ids=allowed)]
    assert sorted(got_t) == want and len(want) > 0
    # empty allow-set ⇒ no matches anywhere
    assert srv.phrase_batch(phrases, allowed_doc_ids=[]) == []


def test_fuzzy_symspell_join_equals_scan_expansion(spark, index_dir):
    """The distributed SymSpell deletion-variant join must produce EXACTLY
    the scan-based expansion (same candidates, same ranking) across dists
    0/1/2, multi-word batches and zero-hit words — the lossless-replacement
    property, Spark-side twin of the serving-tier candidate test."""
    idx = B.read_index(spark, index_dir, CFG)
    batches = [
        [(1, "spork", 0, 5), (2, "spork", 1, 5), (3, "spork", 2, 5)],
        [(1, "quary", 2, 4), (2, "ow", 1, 5), (3, "xyzzy", 1, 5),
         (4, "custmer", 2, 8)],
    ]
    for fq in batches:
        for cap in (3, 50):
            a = wand.expand_fuzzy_terms_with_dist(
                idx.term_stats, fq, max_expansions=cap)
            b = wand._expand_fuzzy_scan(idx.term_stats, fq, max_expansions=cap)
            assert a == b, (fq, cap)
            assert wand.expand_fuzzy_terms(
                idx.term_stats, fq, max_expansions=cap
            ) == {q: [t for t, _d in pairs] for q, pairs in b.items()}
    # dist > 2 routes to the scan (identical by construction)
    fq3 = [(1, "spork", 3, 5)]
    assert wand.expand_fuzzy_terms_with_dist(idx.term_stats, fq3) == \
        wand._expand_fuzzy_scan(idx.term_stats, fq3)


def test_paged_composition_forms(spark, index_dir, pos_index_dir):
    """Deep paging composes with the expansion and phrase families on BOTH
    tiers: page (offset, offset+k] of each form's ranking with GLOBAL ranks
    — pinned against the deepened unpaged ranking's slice, and Spark ≡
    serving."""
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    offsets = {1: 3, 2: 2}

    def page_of(rows, offsets, kmap):
        return [r for r in rows
                if offsets.get(r[0], 0) < r[1]
                <= offsets.get(r[0], 0) + kmap[r[0]]]

    # fuzzy (single + multi) and prefix, serving tier
    cases = [
        (lambda off=None: srv.fuzzy_topk_batch(
            [(1, "spork", 1, 4), (2, "ow", 1, 3)], max_expansions=3,
            offsets=off),
         lambda: srv.fuzzy_topk_batch(
            [(1, "spork", 1, 4 + 3), (2, "ow", 1, 3 + 2)], max_expansions=3),
         {1: 4, 2: 3}),
        (lambda off=None: srv.fuzzy_multi_topk_batch(
            [(1, ["spork", "quary"], 1, 4), (2, ["ow"], 1, 3)],
            distance_decay=0.5, offsets=off),
         lambda: srv.fuzzy_multi_topk_batch(
            [(1, ["spork", "quary"], 1, 7), (2, ["ow"], 1, 5)],
            distance_decay=0.5),
         {1: 4, 2: 3}),
        (lambda off=None: srv.prefix_topk_batch(
            [(1, "s", 4), (2, "c", 3)], max_expansions=4, offsets=off),
         lambda: srv.prefix_topk_batch(
            [(1, "s", 7), (2, "c", 5)], max_expansions=4),
         {1: 4, 2: 3}),
    ]
    for paged_fn, deep_fn, kmap in cases:
        paged = sorted(paged_fn(offsets))
        want = sorted(page_of(deep_fn(), offsets, kmap))
        assert paged == want and len(paged) > 0
        assert all(r[1] > offsets.get(r[0], 0) for r in paged)  # global ranks

    # fuzzy paged: Spark ≡ serving
    fq = [(1, "spork", 1, 4), (2, "ow", 1, 3)]
    spark_rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.fuzzy_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl, fq, CFG,
            max_expansions=3, offsets=offsets,
        ).collect()
    )
    got = sorted(srv.fuzzy_topk_batch(fq, max_expansions=3, offsets=offsets))
    assert len(got) == len(spark_rows) > 0
    for g, w in zip(got, spark_rows):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)

    # phrase paged: Spark ≡ serving ≡ slice of deep
    pidx = B.read_index(spark, pos_index_dir)
    psrv = IndexServer(pos_index_dir)
    phrases = [(1, "the fast", 4), (2, "customer order", 3)]
    pw = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.phrase_bm25_topk(
            pidx.postings, pidx.doc_lens, pidx.term_stats, pidx.avgdl,
            phrases, pidx.cfg, offsets=offsets,
        ).collect()
    )
    pg = sorted(psrv.phrase_topk_batch(phrases, offsets=offsets))
    deep = psrv.phrase_topk_batch(
        [(1, "the fast", 7), (2, "customer order", 5)])
    assert pg == sorted(page_of(deep, offsets, {1: 4, 2: 3}))
    assert len(pg) == len(pw) > 0
    for g, w in zip(pg, pw):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_must_not_on_expansion_forms(spark, index_dir):
    """MUST_NOT composes with prefix/fuzzy/fuzzy-multi expansion search on
    both tiers: neg terms ride the ordinary 5-tuple exclusion under the
    expanded disjunctive query — Spark ≡ serving, and no result doc
    contains a neg term."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    neg = {1: ["order"], 2: ["slow"]}
    neg_docs = {
        t: {r["doc_id"] for r in docs.collect()
            if t in (r["text"] or "").lower().split()}
        for t in ("order", "slow")
    }
    assert all(neg_docs.values())

    cases = [
        (lambda: wand.prefix_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            [(1, "c", 8), (2, "s", 8)], CFG, max_expansions=4, must_not=neg),
         lambda: srv.prefix_topk_batch(
            [(1, "c", 8), (2, "s", 8)], max_expansions=4, must_not=neg)),
        (lambda: wand.fuzzy_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            [(1, "spork", 1, 8), (2, "quary", 1, 8)], CFG,
            max_expansions=3, must_not=neg),
         lambda: srv.fuzzy_topk_batch(
            [(1, "spork", 1, 8), (2, "quary", 1, 8)], max_expansions=3,
            must_not=neg)),
        (lambda: wand.fuzzy_multi_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            [(1, ["spork", "quary"], 1, 8), (2, ["sow", "row"], 1, 8)], CFG,
            distance_decay=0.5, must_not=neg),
         lambda: srv.fuzzy_multi_topk_batch(
            [(1, ["spork", "quary"], 1, 8), (2, ["sow", "row"], 1, 8)],
            distance_decay=0.5, must_not=neg)),
    ]
    for spark_fn, srv_fn in cases:
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in spark_fn().collect()
        )
        got = sorted(srv_fn())
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)
        for qid, _r, d, _s in got:  # exclusion is real
            for t in neg.get(qid, []):
                assert d not in neg_docs[t]


def test_fuzzy_multi_conjunctive_semantics(spark, index_dir):
    """Conjunctive multi-word fuzzy (the typo-tolerant AND): a doc is
    eligible iff EVERY word's capped expansion set matches it. Pinned
    against an independent Python derivation over the corpus at exhaustive
    k (per-word expansion lists from the shared batch job → per-word doc
    sets → intersection), scores equal to the disjunctive branch on the
    surviving docs, and Spark ≡ serving."""
    import re as _re

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = B.read_index(spark, index_dir, CFG)
    srv = IndexServer(index_dir, CFG)
    BIG = 10_000
    multi = [(1, ["spork", "quary"], 1, BIG), (2, ["sow", "row"], 1, BIG),
             (3, ["quary", "zebra"], 1, BIG)]
    toks = {
        r["doc_id"]: set(_re.split("[^a-z0-9]+", (r["text"] or "").lower()))
        for r in docs.collect()
    }
    # independent expectation: per-word expansion (shared batch job) →
    # matched docs per word → intersection across the query's words
    sid = 0
    owner, batch = [], []
    for qi, (_q, ws, d, k) in enumerate(multi):
        for w in ws:
            owner.append(qi)
            batch.append((sid, w, d, k))
            sid += 1
    exp = wand.expand_fuzzy_terms_with_dist(idx.term_stats, batch, 50)
    want_conj: dict[int, set] = {}
    for qi in range(len(multi)):
        per_word = []
        for s, o in enumerate(owner):
            if o != qi:
                continue
            terms = {t for t, _d in exp.get(s, [])}
            per_word.append(
                {d for d, ts in toks.items() if ts & terms})
        want_conj[multi[qi][0]] = (
            set.intersection(*per_word) if per_word and all(
                len(exp.get(s, [])) > 0 for s, o in enumerate(owner)
                if o == qi)
            else set()
        )
    assert want_conj[1] and want_conj[2]
    assert not want_conj[3]  # zebra expands to nothing ⇒ AND fails

    disj = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in wand.fuzzy_multi_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            multi, CFG, distance_decay=0.5).collect()
    }
    conj_rows = wand.fuzzy_multi_bm25_topk(
        idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
        multi, CFG, distance_decay=0.5, mode="conjunctive").collect()
    got = {}
    for r in conj_rows:
        got.setdefault(r["query_id"], set()).add(r["doc_id"])
        # same scoring model: conj filters eligibility, not scores
        assert r["score"] == pytest.approx(
            disj[(r["query_id"], r["doc_id"])], abs=1e-12)
    for qid, ws in want_conj.items():
        assert got.get(qid, set()) == ws
    # the AND genuinely bites: strictly fewer matches than OR for q1
    assert len(want_conj[1]) < sum(
        1 for (q, _d) in disj if q == 1)

    srv_rows = sorted(srv.fuzzy_multi_topk_batch(
        multi, distance_decay=0.5, mode="conjunctive"))
    spark_rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in conj_rows
    )
    assert len(srv_rows) == len(spark_rows) > 0
    for g, w in zip(srv_rows, spark_rows):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_paged_highlights_and_snippets(spark, snippet_index_dir):
    """Deep paging composes with the decoration forms too: paged
    highlights/snippets decorate page (offset, offset+k] with GLOBAL
    ranks — Spark ≡ serving ≡ the deep ranking's slice."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = B.read_index(spark, snippet_index_dir, CFG_POS_SNIP)
    srv = IndexServer(snippet_index_dir, CFG_POS_SNIP)
    qs = [(1, ["the", "fast"], "disjunctive", 4),
          (2, ["customer", "order"], "disjunctive", 3)]
    offsets = {1: 3, 2: 2}

    want_h = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["term"], r["pos"])
        for r in wand.topk_highlights(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl, qs,
            CFG_POS_SNIP, offsets=offsets,
        ).collect()
    )
    got_h = sorted(srv.highlight_batch(qs, offsets=offsets))
    assert got_h == want_h and len(got_h) > 0
    assert all(r > offsets[q] for q, r, *_ in got_h)  # global page ranks

    want_s = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9),
         r["snip_pos"], r["snippet"])
        for r in wand.topk_snippets(
            docs, idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            qs, CFG_POS_SNIP, offsets=offsets,
        ).collect()
    )
    got_s = [(q, r, d, round(s, 9), p, sn) for q, r, d, s, p, sn in
             srv.snippet_batch(qs, offsets=offsets)]
    assert got_s == want_s and len(got_s) > 0
    # the page is exactly the deep ranking's slice
    deep = [(q, r, d, round(s, 9), p, sn) for q, r, d, s, p, sn in
            srv.snippet_batch([(1, ["the", "fast"], "disjunctive", 7),
                               (2, ["customer", "order"], "disjunctive", 5)])]
    kmap = {1: 4, 2: 3}
    assert got_s == [r for r in deep
                     if offsets[r[0]] < r[1] <= offsets[r[0]] + kmap[r[0]]]


def test_lazy_edge_cases_from_review(spark, index_dir):
    """Round-6 review regressions: (a) a prefix whose bumped last char
    lands in the surrogate range must not crash the lazy ranged read;
    (b) a fuzzy distance ABOVE the on-disk bucket replica's build distance
    routes (under the explicit allow_fuzzy_scan opt-in — the default now
    refuses, test_lazy_fuzzy_over_distance_refuses_unless_opted_in) to the
    streaming vocabulary scan — identical results to the eager server's
    documented scan fallback, nothing through the stats LRU; (c) replica
    handles persist across _snap() batches (opened once, not re-opened per
    batch)."""
    B.write_fuzzy_index(spark, index_dir, max_dist=1)
    eager = IndexServer(index_dir, CFG)
    lazy = IndexServer(index_dir, CFG, stats_mode="lazy",
                       allow_fuzzy_scan=True)

    # (a) surrogate-boundary prefix: no crash, same (empty) answer
    weird = [(1, "퟿", 5), (2, "s", 5)]
    assert (lazy.prefix_topk_batch(weird, max_expansions=4)
            == eager.prefix_topk_batch(weird, max_expansions=4))

    # (b) dist 2 > built dist 1 → streaming scan, results == eager
    fq = [(1, "quary", 2, 5), (2, "spork", 2, 4)]
    before = len(lazy._stats_lru)
    got = lazy.fuzzy_topk_batch(fq, max_expansions=3)
    want = eager.fuzzy_topk_batch(fq, max_expansions=3)
    assert len(got) == len(want) > 0
    for g, w in zip(sorted(got), sorted(want)):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)
    # the scan path added nothing vocabulary-sized to the LRU (only the
    # expansion terms' stats from the scoring pass enter it)
    assert len(lazy._stats_lru) - before < 50

    # (c) the fuzzy replica handle opened during (b) persisted to the
    # parent server despite the per-batch snapshot copies
    assert lazy._replica_handles.get("fuzzy") is not None
    h1 = lazy._replica_handles["fuzzy"][0]
    lazy.fuzzy_topk_batch([(1, "spork", 1, 3)])
    assert lazy._replica_handles["fuzzy"][0] is h1  # not re-opened


def _in_threads(target, n: int) -> list:
    """Run ``target(i)`` for i < n in n threads under a 1 µs switch
    interval, so the threads interleave inside every cache operation →
    the exceptions they raised."""
    errors: list[BaseException] = []

    def run(i: int) -> None:
        try:
            target(i)
        except BaseException as e:  # noqa: BLE001 — returned to the caller
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    return errors


def _hammer_lru(cache: _BoundedLRU) -> None:
    """Twelve threads get-or-set the same 16 keys of ``cache``: a lost race
    is a miss, never a KeyError or a dict-changed-size error, and every hit
    is the key's value."""
    bad_hits: list[tuple] = []

    def hammer(seed: int) -> None:
        for i in range(20_000):
            key = ("t", (i * 7 + seed) % 16, 0)
            got = cache.get(key)
            if got is None:
                cache[key] = key[1] * 10
            elif got != key[1] * 10:
                bad_hits.append((key, got))

    assert _in_threads(hammer, 12) == []
    assert bad_hits == []
    assert len(cache) <= cache.maxsize


def test_bounded_lru_threads_share_keys_without_errors():
    cache = _BoundedLRU(8)
    _hammer_lru(cache)
    assert cache.size == len(cache)


def test_bounded_lru_with_sizes_stays_exact_under_threads():
    """With a size function the summed size stays exact and within bound
    while threads race on the same keys."""
    def sizeof(v):
        return 1 + v % 3

    cache = _BoundedLRU(8, sizeof=sizeof)
    _hammer_lru(cache)
    assert cache.size == sum(sizeof(v) for v in cache.values())
    assert cache.size <= cache.maxsize


def test_bounded_lru_counts_entries_and_skips_oversized():
    """Without a size function every entry costs 1; an entry costing more
    than the whole bound is not stored (a bound of 0 caches nothing)."""
    lru = _BoundedLRU(2)
    lru["a"], lru["b"] = 1, 2
    assert lru.get("a") == 1  # a is now the most recent
    lru["c"] = 3
    assert list(lru) == ["a", "c"] and lru.size == 2
    off = _BoundedLRU(0)
    off["a"] = 1
    assert off.get("a") is None and off.size == 0
    by_len = _BoundedLRU(4, sizeof=len)
    by_len["x"], by_len["y"] = "12345", "12"
    assert "x" not in by_len and by_len.size == 2


@pytest.mark.parametrize("cache", ["positional_blocks", "lazy_stats"])
def test_concurrent_batches_share_lru_caches(index_dir, pos_index_dir,
                                             monkeypatch, cache):
    """Eight threads run batches on ONE server whose cache under test is
    bounded to a few entries, so batches keep evicting what other batches
    are reading: no thread raises, and every answer equals the
    single-threaded one. Covers the positional-block cache (one-phrase
    phrase_batch calls) and the lazy (df, idf) LRU (query_batch over the
    reference queries, stats_mode="lazy")."""
    if cache == "positional_blocks":
        monkeypatch.setattr(serving, "_POS_BLOCK_CACHE_ENTRIES", 2)
        srv = IndexServer(pos_index_dir)
        run_batch = srv.phrase_batch
        batches = [[(1, "the fast")], [(2, "customer order")],
                   [(3, "zebra stripes")], [(4, "the customer")]]
    else:
        monkeypatch.setattr(serving, "_TERM_CACHE_ENTRIES", 4)
        srv = IndexServer(index_dir, CFG, stats_mode="lazy")
        run_batch = srv.query_batch
        batches = [corpus.REFERENCE_QUERIES]
    want = [run_batch(b) for b in batches]
    assert any(want)
    wrong: list = []

    def run(i: int) -> None:
        for r in range(20):
            j = (i + r) % len(batches)
            got = run_batch(batches[j])
            if got != want[j]:
                wrong.append((j, got))

    assert _in_threads(run, 8) == []
    assert wrong == []
    lru = srv._block_cache if cache == "positional_blocks" else srv._stats_lru
    assert 0 < len(lru) <= lru.maxsize


def test_stats_for_runs_on_the_bench_shim(index_dir):
    """bench.py measures lazy-stats residency on a server made with
    IndexServer.__new__ and a bare OrderedDict as its stats LRU (and no
    other cache attribute): _stats_for must keep answering there, with the
    eager server's (df, idf) and absent terms negative-cached."""
    from collections import OrderedDict

    import pyarrow.dataset as pads

    eager = IndexServer(index_dir, CFG)
    terms = sorted(eager.df) + ["zebra"]
    assert "zebra" not in eager.df
    lshim = IndexServer.__new__(IndexServer)
    lshim.df = lshim.idf = None
    lshim.index_dir = index_dir
    lshim._ds = pads
    lshim._ts_ds = pads.dataset(f"{index_dir}/term_stats", format="parquet")
    lshim._stats_lru = OrderedDict()
    lshim._replica_handles = {}
    lshim.max_cached_terms = 65536
    want = {t: (eager.df[t], eager.idf[t]) for t in terms[:-1]}
    assert lshim._stats_for(terms) == want
    assert lshim._stats_lru["zebra"] is None
    assert lshim._stats_for(terms) == want  # now served from the LRU


def test_term_filter_prunes_row_groups(tmp_path):
    """``term IN (...)`` alone keeps every row group of a term-sorted file
    (pyarrow prunes on comparisons only); the serving reads' filter adds the
    batch's term range and keeps just the overlapping groups, with the same
    rows."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from bloqsenjin_spark.operators.serving import _term_filter

    terms = [f"t{i:05d}" for i in range(4096)]
    pq.write_table(pa.table({"term": terms, "df": list(range(4096))}),
                   str(tmp_path / "ts.parquet"), row_group_size=256)
    frag = next(iter(ds.dataset(str(tmp_path / "ts.parquet")).get_fragments()))
    want = ["t00300", "t00301", "t00700", "absent"]
    assert frag.metadata.num_row_groups == 16
    assert len(frag.split_by_row_group(ds.field("term").isin(want))) == 16
    assert len(frag.split_by_row_group(_term_filter(want))) == 3
    got = frag.to_table(filter=_term_filter(want)).to_pydict()
    assert got["term"] == ["t00300", "t00301", "t00700"]


def _scan_rows(index_dir, terms, shards=None):
    """Multiset of the postings rows of ``terms`` from a filtered dataset
    scan — the reference for the serving reader."""
    import pyarrow.dataset as ds

    flt = ds.field("term").isin(terms)
    if shards is not None:
        flt = flt & ds.field("shard").isin(sorted(shards))
    tbl = ds.dataset(f"{index_dir}/postings", format="parquet",
                     partitioning="hive").to_table(
        filter=flt, columns=list(IndexServer._BM25_COLS)).to_pydict()
    return Counter(zip(*(tbl[c] for c in IndexServer._BM25_COLS)))


def _served_rows(srv, terms):
    got = srv._load_terms(sorted(terms))
    return Counter(zip(*(got[c] for c in IndexServer._BM25_COLS)))


def _rewrite_postings(index_dir, dst, **write_kw):
    """Copy an index, rewriting every postings file with pyarrow (same
    rows; ``order`` reorders them, ``write_kw`` go to pq.write_table)."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    shutil.copytree(index_dir, dst)
    order = write_kw.pop("order", None)
    for f in glob.glob(f"{dst}/postings/shard=*/*.parquet"):
        tbl = pq.ParquetFile(f).read()
        if order is not None:
            tbl = tbl.take(order(tbl.num_rows))
        pq.write_table(tbl, f, **write_kw)
    return dst


@pytest.mark.parametrize("case", ["small_row_groups", "unsorted", "slice"])
def test_load_terms_equals_filtered_scan(index_dir, tmp_path, case):
    """The row-group reader returns, for every term, the same rows as a
    filtered scan of the postings dataset: on small row groups (the
    directory prunes), on files written out of term order, and on a
    shards= slice."""
    import numpy as np

    shards = None
    d = index_dir
    if case == "small_row_groups":
        d = _rewrite_postings(index_dir, str(tmp_path / "idx"),
                              row_group_size=16)
    elif case == "unsorted":
        rng = np.random.default_rng(5)
        d = _rewrite_postings(index_dir, str(tmp_path / "idx"),
                              order=rng.permutation)
    else:
        shards = {1, 2}
    srv = IndexServer(d, CFG, shards=shards)
    vocab = sorted(srv.idf)
    for terms in [vocab] + [vocab[i::5] + ["zebra"] for i in range(5)]:
        assert _served_rows(srv, terms) == _scan_rows(d, terms, shards)
    for t in vocab:  # single-term misses on a cold server
        one = IndexServer(d, CFG, shards=shards)
        assert _served_rows(one, [t]) == _scan_rows(d, [t], shards)
    if case == "small_row_groups":
        groups = srv._postings_reader._directory()
        assert len(groups) > 4 * len(srv.dls)
        one = IndexServer(d, CFG)
        one._load_terms(["customer"])
        assert 0 < len(one._postings_reader.cache) < len(groups) / 4


def test_row_group_decoded_once_while_cached(index_dir, monkeypatch):
    """A term miss that lands in row groups already decoded reads no
    parquet: counted on ParquetFile.read_row_group."""
    import pyarrow.parquet as pq

    reads: list = []
    real = pq.ParquetFile.read_row_group

    def counted(self, *a, **kw):
        reads.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted)
    monkeypatch.setattr(serving, "_TERM_CACHE_ENTRIES", 0)  # every call misses
    srv = IndexServer(index_dir, CFG)
    want = _served_rows(srv, ["customer", "order"])
    assert len(reads) > 0
    n = len(reads)
    assert _served_rows(srv, ["customer", "order"]) == want
    assert _served_rows(srv, ["order"]) + _served_rows(
        srv, ["customer"]) == want
    assert len(reads) == n
