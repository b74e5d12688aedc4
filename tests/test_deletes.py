"""Deletion: tombstone masking at query time, and purge ≡ rebuild-from-scratch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloqsenjin_spark import corpus
from bloqsenjin_spark.config import IndexConfig
from bloqsenjin_spark.operators import topk, wand
from bloqsenjin_spark.operators.postings import decode_postings
from bloqsenjin_spark.operators.serving import IndexServer
from bloqsenjin_spark.plans import build as B
from bloqsenjin_spark.plans import deletes as D

CFG = IndexConfig(docs_per_shard=128, block_docs=16)
DELETED = [0, 5, 130, 131, 340, 499]  # spans shards 0, 1, 2, 3; includes a top hit


@pytest.fixture()
def built(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, CFG)
    return d, docs


def test_tombstones_masked_at_query_time(spark, built):
    d, docs = built
    D.delete_docs(spark, d, DELETED)
    tombs = D.load_tombstones(spark, d)
    assert tombs == set(DELETED)
    # per-shard bitmap table covers exactly the touched shards
    tomb_map = D.tombstone_bitmap_df(spark, d, CFG)
    assert {r["shard"] for r in tomb_map.collect()} == {x // 128 for x in DELETED}

    idx = B.read_index(spark, d)
    res = wand.bm25_wand_topk(
        idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
        corpus.REFERENCE_QUERIES, CFG, tomb_map=tomb_map,
    ).collect()
    assert res and not any(r["doc_id"] in tombs for r in res)
    # doc 340 was the #1 hit for query 1 — its removal must promote #2 (49)
    q1 = sorted((r for r in res if r["query_id"] == 1), key=lambda r: r["rank"])
    assert q1[0]["doc_id"] == 49

    srv = IndexServer(d)  # auto-loads tombstones
    got = sorted(srv.query_batch(corpus.REFERENCE_QUERIES))
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in res
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]


def test_tombstones_masked_in_phrase_paths(spark, tmp_path):
    """Phrase match and phrase top-k must mask logically deleted docs via the
    cogrouped per-shard bitmaps (pre-purge)."""
    cfg = IndexConfig(docs_per_shard=4, block_docs=2, positions=True)
    rows = [(i, f"pad{i} needle point tail{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "pidx")
    B.build_index_resumable(docs, d, cfg)
    D.delete_docs(spark, d, [3, 7])
    tomb_map = D.tombstone_bitmap_df(spark, d, cfg)
    idx = B.read_index(spark, d)
    got = {
        r["doc_id"]
        for r in wand.phrase_match_positional(
            idx.postings, [(1, "needle point")], cfg, tomb_map=tomb_map
        ).collect()
    }
    assert got == {0, 1, 2, 4, 5, 6, 8, 9}
    topk_docs = {
        r["doc_id"]
        for r in wand.phrase_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            [(1, "needle point", 10)], cfg, tomb_map=tomb_map,
        ).collect()
    }
    assert topk_docs == got
    # serving tier masks from the same per-shard bitmaps
    srv = IndexServer(d)
    assert {doc for _, doc in srv.phrase_batch([(1, "needle point")])} == got

    # allow-set composes with tombstones in the phrase top-k too
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    allow_map = shard_bitmap_df(
        spark.createDataFrame([(i,) for i in range(0, 10, 2)], "doc_id long"),
        cfg, bitmap_col="allow",
    )
    filt = {
        r["doc_id"]
        for r in wand.phrase_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            [(1, "needle point", 10)], cfg,
            tomb_map=tomb_map, allow_map=allow_map,
        ).collect()
    }
    assert filt == {d for d in got if d % 2 == 0}


def test_purge_equals_rebuild(spark, built):
    d, docs = built
    D.delete_docs(spark, d, DELETED)
    D.purge_deletes(spark, d)
    assert D.load_tombstones(spark, d) == set()

    # reference: fresh index over the surviving docs
    kept = docs.where(~F.col("doc_id").isin(DELETED))
    ref = B.build_index(kept, CFG)

    purged = B.read_index(spark, d)
    assert purged.n_docs == ref.n_docs == 500 - len(DELETED)
    assert purged.avgdl == pytest.approx(ref.avgdl, rel=1e-12)

    got_post = sorted(
        (r["term"], r["doc_id"], r["tf"])
        for r in decode_postings(purged.postings, CFG).collect()
    )
    want_post = sorted(
        (r["term"], r["doc_id"], r["tf"])
        for r in decode_postings(ref.postings, CFG).collect()
    )
    assert got_post == want_post

    ts_got = {r["term"]: (r["df"], r["cf"]) for r in purged.term_stats.collect()}
    ts_want = {r["term"]: (r["df"], r["cf"]) for r in ref.term_stats.collect()}
    assert ts_got == ts_want

    # query results identical to brute force over surviving docs
    want = topk.bm25_brute_force(kept, corpus.reference_queries(spark)).orderBy(
        "query_id", "rank"
    ).collect()
    got = wand.bm25_wand_topk(
        purged.postings, purged.doc_lens, purged.term_stats, purged.avgdl,
        corpus.REFERENCE_QUERIES, CFG,
    ).orderBy("query_id", "rank").collect()
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g["query_id"], g["rank"], g["doc_id"]) == (
            w["query_id"], w["rank"], w["doc_id"],
        )
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_bogus_and_stale_tombstones_are_stat_noops(spark, built):
    """Tombstones for nonexistent or already-purged docIDs must not shift
    N/avgdl/idf (live-bitmap guard)."""
    d, _ = built
    D.delete_docs(spark, d, [340, 49])
    D.purge_deletes(spark, d)
    s1 = IndexServer(d)
    base = (s1.n_docs, s1.query(["spark"], k=3))

    D.delete_docs(spark, d, [10**9])  # never existed
    D.purge_deletes(spark, d)
    s2 = IndexServer(d)
    assert (s2.n_docs, s2.query(["spark"], k=3)) == base

    D.delete_docs(spark, d, [340])  # already purged
    D.purge_deletes(spark, d)
    s3 = IndexServer(d)
    assert (s3.n_docs, s3.query(["spark"], k=3)) == base
    assert D.load_tombstones(spark, d) == set()


def test_purge_noop_without_tombstones(spark, built):
    d, _ = built
    before = sorted(
        (r["term"], r["shard"], r["block_id"])
        for r in B.read_index(spark, d).postings.collect()
    )
    D.purge_deletes(spark, d)  # no tombstones → no-op
    after = sorted(
        (r["term"], r["shard"], r["block_id"])
        for r in B.read_index(spark, d).postings.collect()
    )
    assert before == after


def test_filtered_topk_allow_bitmaps(spark, built):
    """bm25_topk_filtered == (unbounded-rank results) ∩ allow-set, re-ranked —
    cross-plan check; composes with tombstone bitmaps."""
    d, docs = built
    idx = B.read_index(spark, d)
    allowed = docs.where(F.col("lang") == "en").select("doc_id")
    allow_ids = {r["doc_id"] for r in allowed.collect()}
    assert 0 < len(allow_ids) < 500

    kmap = {q: k for q, _, _, k in corpus.REFERENCE_QUERIES}

    def rerank(rows, keep):
        want = []
        by_q: dict = {}
        for r in rows:
            if r["doc_id"] in keep:
                by_q.setdefault(r["query_id"], []).append(
                    (-r["score"], r["doc_id"]))
        for q, lst in by_q.items():
            for rank, (neg_s, doc) in enumerate(sorted(lst)[: kmap[q]], start=1):
                want.append((q, rank, doc, -neg_s))
        return sorted(want)

    unbounded = [(q, t, m, 10**6) for q, t, m, _ in corpus.REFERENCE_QUERIES]
    full = wand.bm25_wand_topk(
        idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl, unbounded, CFG
    ).collect()

    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_topk_filtered(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, allowed, CFG,
        ).collect()
    )
    assert got == rerank(full, allow_ids)
    assert all(doc in allow_ids for _, _, doc, _ in got)

    # composition: tombstoned docs leave the filtered ranking too
    dead = sorted(allow_ids)[:3]
    D.delete_docs(spark, d, dead)
    tomb_map = D.tombstone_bitmap_df(spark, d, CFG)
    got2 = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand.bm25_topk_filtered(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            corpus.REFERENCE_QUERIES, allowed, CFG, tomb_map=tomb_map,
        ).collect()
    )
    assert got2 == rerank(full, allow_ids - set(dead))


def test_purge_cleans_doc_store_and_snippets_survive(spark, tmp_path):
    """Physical purge removes the purged docs' rows from the doc-store
    replica too (byte reclamation across every index table), and serving
    snippets after the purge remain byte-identical to the Spark snippet
    path over the purged corpus."""
    cfg = IndexConfig(docs_per_shard=64, block_docs=16, positions=True)
    d = str(tmp_path / "purge_store_idx")
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    B.build_index_resumable(docs, d, cfg)
    B.write_doc_store(docs, d, cfg)
    victims = [int(r["doc_id"]) for r in docs.limit(40).collect()][::3]
    D.delete_docs(spark, d, victims)
    D.purge_deletes(spark, d)
    remaining = {
        int(r["doc_id"])
        for r in spark.read.parquet(f"{d}/doc_store").select("doc_id").collect()
    }
    assert not (remaining & set(victims))
    live = {int(r["doc_id"]) for r in docs.collect()} - set(victims)
    assert remaining == live  # only purged rows were dropped
    # serving snippets on the purged index == Spark path over purged corpus
    srv = IndexServer(d, cfg)
    queries = [(1, ["the", "fast"], "disjunctive", 8)]
    got = [(q, r, doc, round(s, 9), p, sn)
           for q, r, doc, s, p, sn in srv.snippet_batch(queries)]
    idx = B.read_index(spark, d, cfg)
    kept_docs = docs.where(~F.col("doc_id").isin(victims))
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9),
         r["snip_pos"], r["snippet"])
        for r in wand.topk_snippets(
            kept_docs, idx.postings, idx.doc_lens, idx.term_stats,
            idx.avgdl, queries, cfg).collect()
    )
    assert got == want and len(want) > 0
    assert not any(doc in set(victims) for _q, _r, doc, _s, _p, _sn in got)


def test_or_bitmap_maps_length_mismatch_raises(spark):
    """Round-9 guard (round-8 ADVICE): OR-merging two differently-sized
    bitmap carriers must fail loudly (naming the lengths), not with an
    opaque numpy broadcast error inside the pandas UDF."""
    import pytest

    from bloqsenjin_spark.operators.bitmaps import or_bitmap_maps

    a = spark.createDataFrame([(0, bytes(16))], "shard int, tomb binary")
    b = spark.createDataFrame([(0, bytes(8))], "shard int, tomb binary")
    with pytest.raises(Exception, match="bitmap length mismatch"):
        or_bitmap_maps(a, b).collect()


def test_delete_docs_starts_no_spark_job(spark, built):
    """A logical delete is two session-free parquet commits (tombstone file
    + index_meta) — no Spark job — and Spark-era tombstone parts keep being
    read next to the pyarrow-written ones by every reader."""
    import os

    d, _ = built
    # a tombstone part as the Spark-job writer used to append it
    spark.createDataFrame([(0,), (5,)], "doc_id long").write.mode(
        "append").parquet(f"{d}/tombstones")
    gen = B.read_index_generation(d)
    sc = spark.sparkContext
    sc.setJobGroup("delete-no-job", "delete_docs must not start a job")
    try:
        D.delete_docs(spark, d, [130, 131, 340, 499])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("delete-no-job") == []
    assert B.read_index_generation(d) == gen + 1
    assert sorted(os.listdir(f"{d}/index_meta")) == ["part-00000.parquet"]

    assert D.load_tombstones(spark, d) == set(DELETED)
    tomb_map = D.tombstone_bitmap_df(spark, d, CFG)
    assert {r["shard"] for r in tomb_map.collect()} == {x // 128 for x in DELETED}
    srv = IndexServer(d)
    assert {s: set(np.flatnonzero(m) + s * 128)
            for s, m in srv.tomb_masks.items()} == {
        s: {x for x in DELETED if x // 128 == s} for s in {0, 1, 2, 3}}


def test_delete_docs_refuses_bad_ids_and_skips_empty(spark, built):
    """Empty input writes and bumps nothing; a bool, non-integer or negative
    id raises before anything is written."""
    import os

    d, _ = built
    gen = B.read_index_generation(d)
    D.delete_docs(spark, d, [])
    assert B.read_index_generation(d) == gen
    assert not os.path.exists(f"{d}/tombstones")
    for bad in ([True], [3, 1.0], [-1], [7, "9"], [None]):
        with pytest.raises(ValueError, match="non-negative integer"):
            D.delete_docs(spark, d, bad)
    assert B.read_index_generation(d) == gen
    assert not os.path.exists(f"{d}/tombstones")
    D.delete_docs(spark, d, [np.int64(5), 0])  # NumPy ints are ids too
    assert D.load_tombstones(spark, d) == {0, 5}


def test_leftover_temp_files_are_ignored(spark, built):
    """A crashed commit's dot-prefixed temp file is invisible to the server,
    the Spark tombstone reader and the meta reader — alongside committed
    files, and on its own."""
    import os

    d, _ = built
    junk = b"not parquet: a writer died before the rename"
    os.makedirs(f"{d}/tombstones")
    with open(f"{d}/tombstones/.tmp-dead.parquet", "wb") as f:
        f.write(junk)
    # only a temp file: no deletes anywhere
    assert IndexServer(d).tomb_masks == {}
    assert D.tombstone_bitmap_df(spark, d, CFG) is None
    assert D.load_tombstones(spark, d) == set()

    gen = B.read_index_generation(d)
    D.delete_docs(spark, d, DELETED)
    with open(f"{d}/index_meta/.tmp-dead.parquet", "wb") as f:
        f.write(junk)
    assert B.read_index_meta(d) == CFG
    assert B.read_index_generation(d) == gen + 1
    srv = IndexServer(d)
    assert sorted(int(x) for s, m in srv.tomb_masks.items()
                  for x in np.flatnonzero(m) + s * 128) == sorted(DELETED)
    tomb_map = D.tombstone_bitmap_df(spark, d, CFG)
    assert {r["shard"] for r in tomb_map.collect()} == {x // 128 for x in DELETED}


def test_legacy_spark_index_meta_replaced_by_one_file(spark, built):
    """A Spark-written index_meta (part files, _SUCCESS, .crc sidecars)
    holds exactly one file after the next meta write, and the generation
    continues from the legacy value."""
    import os

    d, _ = built
    spark.createDataFrame(
        [(CFG.docs_per_shard, CFG.block_docs, CFG.k1, CFG.b, False, 41, 40)],
        "docs_per_shard int, block_docs int, k1 double, b double, "
        "positions boolean, generation long, content_generation long",
    ).write.mode("overwrite").parquet(f"{d}/index_meta")
    assert len(os.listdir(f"{d}/index_meta")) > 1
    D.delete_docs(spark, d, [5])
    assert os.listdir(f"{d}/index_meta") == ["part-00000.parquet"]
    assert B.read_index_generation(d) == 42
    assert B.read_index_content_generation(d) == 40
    assert B.read_index_meta(d) == CFG


def _all_answers(srv):
    return (srv.query_batch(corpus.REFERENCE_QUERIES),
            srv.count_batch(corpus.REFERENCE_QUERIES))


@pytest.mark.parametrize("stats_mode", ["eager", "lazy"])
def test_refresh_after_delete_reuses_content_state(spark, built, stats_mode):
    """A tombstone-only refresh keeps the content state (stats, doc
    lengths, decoded-block caches) and re-reads only the masks; its answers
    equal a fresh server's. A purge changes content: everything reloads."""
    d, _ = built
    srv = IndexServer(d, stats_mode=stats_mode)
    before = _all_answers(srv)
    assert len(srv._score_block_cache) > 0
    kept = (srv.idf, srv._stats_lru, srv.dls, srv._score_block_cache,
            srv._match_block_cache, srv._term_cache,
            srv._postings_reader.cache)
    assert len(kept[-1]) > 0  # decoded row groups

    D.delete_docs(spark, d, DELETED)
    assert srv.refresh()
    assert all(a is b for a, b in zip(
        (srv.idf, srv._stats_lru, srv.dls, srv._score_block_cache,
         srv._match_block_cache, srv._term_cache,
         srv._postings_reader.cache), kept))
    after = _all_answers(srv)
    assert after != before
    assert after == _all_answers(IndexServer(d, stats_mode=stats_mode))
    assert not {r[2] for r in after[0]} & set(DELETED)

    D.purge_deletes(spark, d)
    assert srv.refresh()
    assert srv.dls is not kept[2]
    assert srv._score_block_cache is not kept[3]
    assert srv._postings_reader.cache is not kept[-1]
    if stats_mode == "eager":
        assert srv.idf is not kept[0]
    else:
        assert srv._stats_lru is not kept[1]
    assert _all_answers(srv) == _all_answers(IndexServer(d, stats_mode=stats_mode))


def _tomb_reads(monkeypatch) -> list:
    """Paths of the tombstone files the server reads from now on."""
    import pyarrow.parquet as pq

    reads: list = []
    real = pq.read_table

    def counted(source, *a, **kw):
        if "tombstones" in str(source):
            reads.append(str(source))
        return real(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counted)
    return reads


def _same_masks(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        np.array_equal(a[s], b[s]) for s in a)


def test_refresh_reads_only_new_tombstone_files(spark, built, monkeypatch):
    """After N deletes, the next delete's refresh reads exactly its one new
    tombstone file (a leftover temp file is never read), and the masks
    equal a fresh server's; in-flight snapshots keep their own masks."""
    import os

    d, _ = built
    os.makedirs(f"{d}/tombstones")
    with open(f"{d}/tombstones/.tmp-dead.parquet", "wb") as f:
        f.write(b"not parquet: a writer died before the rename")
    srv = IndexServer(d)
    for doc in DELETED[:-1]:
        D.delete_docs(spark, d, [doc])
        assert srv.refresh()
    before = srv._snap()
    old_masks = {s: m.copy() for s, m in before.tomb_masks.items()}
    reads = _tomb_reads(monkeypatch)
    D.delete_docs(spark, d, [DELETED[-1], 131])  # 131: already deleted
    assert srv.refresh()
    new = sorted(set(os.listdir(f"{d}/tombstones"))
                 - {os.path.basename(p) for p in before._tomb_files}
                 - {".tmp-dead.parquet"})
    assert len(new) == 1
    assert [os.path.basename(p) for p in reads] == new
    assert _same_masks(srv.tomb_masks, IndexServer(d).tomb_masks)
    assert _same_masks(before.tomb_masks, old_masks)
    assert _all_answers(srv) == _all_answers(IndexServer(d))


def test_removed_tombstone_file_forces_full_read(spark, built, monkeypatch):
    """A tombstone file the server has read that is gone from the log makes
    the next refresh read the whole log again: its ids stop masking."""
    import os

    import pyarrow.parquet as pq

    d, _ = built
    srv = IndexServer(d)
    D.delete_docs(spark, d, DELETED[:3])
    srv.refresh()
    D.delete_docs(spark, d, DELETED[3:5])
    srv.refresh()
    first = next(
        f for f in os.listdir(f"{d}/tombstones")
        if pq.read_table(f"{d}/tombstones/{f}").column(
            "doc_id").to_pylist() == DELETED[:3])
    os.remove(f"{d}/tombstones/{first}")
    reads = _tomb_reads(monkeypatch)
    D.delete_docs(spark, d, DELETED[5:])
    assert srv.refresh()
    assert len(reads) == 2  # the surviving earlier file and the new one
    masked = {int(x) for s, m in srv.tomb_masks.items()
              for x in np.flatnonzero(m) + s * CFG.docs_per_shard}
    assert masked == set(DELETED[3:])
    assert _same_masks(srv.tomb_masks, IndexServer(d).tomb_masks)


def test_refresh_and_delete_read_index_meta_once(spark, built, monkeypatch):
    """refresh() and delete_docs each read the index_meta row once: counted
    as dataset scans of index_meta/ plus opens of a file in it."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    d, _ = built
    srv = IndexServer(d)
    reads: list = []
    real = ds.dataset
    real_open = pq.ParquetFile.__init__

    def counted(source, *a, **kw):
        if str(source).rstrip("/").endswith("index_meta"):
            reads.append(source)
        return real(source, *a, **kw)

    def counted_open(self, source, *a, **kw):
        if "/index_meta/" in str(source):
            reads.append(source)
        real_open(self, source, *a, **kw)

    monkeypatch.setattr(ds, "dataset", counted)
    monkeypatch.setattr(pq.ParquetFile, "__init__", counted_open)
    D.delete_docs(spark, d, DELETED)
    assert len(reads) == 1
    reads.clear()
    assert srv.refresh()
    assert len(reads) == 1
    reads.clear()
    assert not srv.refresh()  # nothing new: still one read
    assert len(reads) == 1
