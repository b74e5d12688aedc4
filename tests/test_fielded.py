"""Fielded (multi-field) BM25: per-field stats, weighted per-field sum,
shard-aligned combine — vs an independent NumPy reference and the
single-field identity."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from bloqsenjin_spark import corpus
from bloqsenjin_spark.config import BM25_B, BM25_K1, IndexConfig
from bloqsenjin_spark.functions.text import tokens
from bloqsenjin_spark.operators import fielded, wand
from bloqsenjin_spark.plans.build import build_index

CFG = IndexConfig(docs_per_shard=128, block_docs=16)


def _split_fields(text):
    toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]
    return {"title": toks[:5], "body": toks[5:]}


def _bm25f_ref(docs_rows, queries, weights, k1=BM25_K1, b=BM25_B):
    """Independent reference: per-field BM25 with that field's stats,
    weighted sum over fields, rank (score desc, doc asc)."""
    per_field = {f: {} for f in ("title", "body")}
    for d, text in docs_rows:
        fx = _split_fields(text)
        for f in per_field:
            per_field[f][d] = fx[f]
    n = len(docs_rows)
    out = []
    for qid, terms, _mode, k in queries:
        uterms = sorted(set(terms))
        combined: dict[int, float] = {}
        for f in sorted(per_field):
            toks = per_field[f]
            avgdl = (sum(len(v) for v in toks.values()) / n) or 1.0
            df = {}
            for v in toks.values():
                for t in set(v):
                    df[t] = df.get(t, 0) + 1
            for d, v in toks.items():
                s, hit = 0.0, False
                for t in uterms:
                    tf = v.count(t)
                    if not tf:
                        continue
                    hit = True
                    idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    s += idf * tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * len(v) / avgdl))
                if hit:
                    combined[d] = combined.get(d, 0.0) + weights[f] * s
        ranked = sorted(combined.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [(qid, r, d, s) for r, (d, s) in enumerate(ranked, 1)]
    return sorted(out)


def _field_exprs():
    t = tokens(F.col("text"))
    return {
        "title": F.concat_ws(" ", F.slice(t, 1, 5)),
        "body": F.concat_ws(
            " ",
            F.when(F.size(t) > 5, F.slice(t, 6, F.size(t) - 5))
            .otherwise(F.array().cast("array<string>")),
        ),
    }


def test_bm25f_matches_numpy_reference(spark):
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    queries = [(1, ["spark"], "disjunctive", 10),
               (2, ["the", "fast"], "disjunctive", 8),
               (3, ["zebra"], "disjunctive", 5)]
    weights = {"title": 2.0, "body": 1.0}
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.bm25f_topk(idxs, queries, weights, CFG).collect()
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _bm25f_ref(rows, queries, weights)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], abs=1e-9)
    assert not any(q == 3 for q, _, _, _ in got)


def test_bm25f_single_field_identity(spark):
    """One field covering the whole text at weight 1 must equal the ordinary
    single-index ranking exactly."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    queries = [(1, ["the", "fast"], "disjunctive", 10),
               (2, ["customer", "order"], "disjunctive", 6)]
    idxs = fielded.build_fielded_index(docs, {"all": F.col("text")}, CFG)
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in fielded.bm25f_topk(idxs, queries, {"all": 1.0}, CFG).collect()
    )
    idx = build_index(docs, CFG)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand.bm25_wand_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            queries, CFG,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_bm25f_guards(spark):
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, {"all": F.col("text")}, CFG)
    with pytest.raises(ValueError, match="unknown query mode"):
        fielded.bm25f_topk(idxs, [(1, ["the"], "dismax", 5)], {}, CFG)
    with pytest.raises(ValueError, match="negative field weights"):
        fielded.bm25f_topk(
            idxs, [(1, ["the"], "disjunctive", 5)], {"all": -1.0}, CFG)


def test_bm25f_tombstones_and_guards(spark):
    """Fielded queries honor tombstone bitmaps (shared kernel), and the
    batch rejects duplicate query_ids / unknown field names."""
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    queries = [(1, ["the", "fast"], "disjunctive", 8)]
    weights = {"title": 2.0, "body": 1.0}
    base = fielded.bm25f_topk(idxs, queries, weights, CFG).collect()
    victims = [r["doc_id"] for r in base][:3]
    tomb = shard_bitmap_df(
        spark.createDataFrame([(int(d),) for d in victims], "doc_id long"),
        CFG, bitmap_col="tomb",
    )
    after = fielded.bm25f_topk(idxs, queries, weights, CFG, tomb_map=tomb).collect()
    got = [r["doc_id"] for r in after]
    assert not set(got) & set(victims) and len(after) == 8
    survivors = [r["doc_id"] for r in base if r["doc_id"] not in victims]
    assert got[: len(survivors)] == survivors  # order of survivors unchanged

    with pytest.raises(ValueError, match="duplicate query_ids"):
        fielded.bm25f_topk(
            idxs, [(1, ["the"], "disjunctive", 5),
                   (1, ["fast"], "disjunctive", 5)], weights, CFG)
    with pytest.raises(ValueError, match="unknown fields"):
        fielded.bm25f_topk(idxs, queries, {"titel": 2.0}, CFG)


# ---- TRUE (merged-tf) BM25F --------------------------------------------------

def _doc_ts(spark, docs):
    from bloqsenjin_spark.operators import topk

    tok = topk.tokenized(docs)
    return topk.term_stats_df(topk.term_freqs(tok), tok.count())


def _bm25f_merged_ref(docs_rows, queries, weights, k1=BM25_K1, b=BM25_B):
    """Independent merged-tf reference: tf̃ = Σ_f w_f·tf/(1−b+b·dl_f/avgdl_f)
    summed BEFORE saturation, document-level idf."""
    per_field = {f: {} for f in ("title", "body")}
    doc_toks = {}
    for d, text in docs_rows:
        fx = _split_fields(text)
        doc_toks[d] = fx["title"] + fx["body"]
        for f in per_field:
            per_field[f][d] = fx[f]
    n = len(docs_rows)
    avgdl = {
        f: (sum(len(v) for v in per_field[f].values()) / n) or 1.0
        for f in per_field
    }
    ddf = {}
    for v in doc_toks.values():
        for t in set(v):
            ddf[t] = ddf.get(t, 0) + 1
    out = []
    for qid, terms, _mode, k in queries:
        uterms = sorted(set(terms))
        scored: dict[int, float] = {}
        for d in doc_toks:
            s, hit = 0.0, False
            for t in uterms:
                tfm = 0.0
                for f in sorted(per_field):
                    tf = per_field[f][d].count(t)
                    if tf:
                        dl = len(per_field[f][d])
                        tfm += weights[f] * tf / (1.0 - b + b * dl / avgdl[f])
                if tfm > 0:
                    hit = True
                    idf = math.log((n - ddf[t] + 0.5) / (ddf[t] + 0.5) + 1.0)
                    s += idf * (k1 + 1.0) * tfm / (tfm + k1)
            if hit:
                scored[d] = s
        ranked = sorted(scored.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [(qid, r, d, s) for r, (d, s) in enumerate(ranked, 1)]
    return sorted(out)


def test_bm25f_merged_matches_numpy_reference(spark):
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    queries = [(1, ["spark"], "disjunctive", 10),
               (2, ["the", "fast"], "disjunctive", 8),
               (3, ["zebra"], "disjunctive", 5)]
    weights = {"title": 2.0, "body": 1.0}
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.bm25f_merged_topk(
            idxs, queries, weights, _doc_ts(spark, docs), CFG).collect()
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    want = _bm25f_merged_ref(rows, queries, weights)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert g[3] == pytest.approx(w[3], abs=1e-9)


def test_bm25f_merged_differs_from_per_field_sum(spark):
    """Guard against silently re-implementing the per-field-sum model: on a
    corpus where a term is SPLIT across fields vs CONCENTRATED in one, the
    two models must rank differently (merging before the concave saturation
    rewards spread less), while both stay internally consistent."""
    rows = [
        (0, "x x x x x f f f f f f"),       # 'x' concentrated in title
        (1, "x a b c d x f f x x x f"),     # 'x' spread title+body
        (2, "q w e r t y u i o p"),
        (3, "x y y y y y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    queries = [(1, ["x"], "disjunctive", 4)]
    weights = {"title": 3.0, "body": 1.0}
    persum = {
        (r["doc_id"]): r["score"]
        for r in fielded.bm25f_topk(idxs, queries, weights, CFG).collect()
    }
    merged = {
        (r["doc_id"]): r["score"]
        for r in fielded.bm25f_merged_topk(
            idxs, queries, weights, _doc_ts(spark, docs), CFG).collect()
    }
    assert set(persum) == set(merged)
    diffs = [d for d in persum if abs(persum[d] - merged[d]) > 1e-9]
    assert diffs, "merged-tf scores identical to per-field-sum — wrong model"
    # and the merged scores match the independent reference on this corpus
    want = dict(
        (d, s) for _q, _r, d, s in
        _bm25f_merged_ref(rows, queries, weights)
    )
    for d, s in merged.items():
        assert s == pytest.approx(want[d], abs=1e-9)


def test_bm25f_merged_pruning_exact_small_blocks(spark):
    """Block-max pruning (via the inverse-saturation bound) must not change
    results: tiny blocks force many prune decisions; compare against the
    same operator at one-giant-block config (no pruning possible)."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    queries = [(1, ["the", "fast"], "disjunctive", 10),
               (2, ["customer", "order", "spark"], "disjunctive", 7)]
    weights = {"title": 2.0, "body": 1.0}
    outs = []
    for cfg in (IndexConfig(docs_per_shard=64, block_docs=4),
                IndexConfig(docs_per_shard=512, block_docs=512)):
        idxs = fielded.build_fielded_index(docs, _field_exprs(), cfg)
        outs.append(sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fielded.bm25f_merged_topk(
                idxs, queries, weights, _doc_ts(spark, docs), cfg).collect()
        ))
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_bm25f_merged_guards_and_tombstones(spark):
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    dts = _doc_ts(spark, docs)
    weights = {"title": 2.0, "body": 1.0}
    with pytest.raises(ValueError, match="unknown query mode"):
        fielded.bm25f_merged_topk(
            idxs, [(1, ["the"], "dismax", 5)], weights, dts, CFG)
    with pytest.raises(ValueError, match="negative field weights"):
        fielded.bm25f_merged_topk(
            idxs, [(1, ["the"], "disjunctive", 5)],
            {"title": -1.0, "body": 1.0}, dts, CFG)
    with pytest.raises(ValueError, match="duplicate query_ids"):
        fielded.bm25f_merged_topk(
            idxs, [(1, ["the"], "disjunctive", 5),
                   (1, ["fast"], "disjunctive", 5)], weights, dts, CFG)
    queries = [(1, ["the", "fast"], "disjunctive", 8)]
    base = fielded.bm25f_merged_topk(idxs, queries, weights, dts, CFG).collect()
    victims = [r["doc_id"] for r in base][:3]
    tomb = shard_bitmap_df(
        spark.createDataFrame([(int(d),) for d in victims], "doc_id long"),
        CFG, bitmap_col="tomb",
    )
    after = fielded.bm25f_merged_topk(
        idxs, queries, weights, dts, CFG, tomb_map=tomb).collect()
    got = [r["doc_id"] for r in after]
    assert not set(got) & set(victims) and len(after) == 8


# ---- serving-tier fielded search ---------------------------------------------

def test_fielded_serving_matches_both_spark_models(spark, tmp_path):
    """FieldedIndexServer over persisted per-field replicas is rank-identical
    to BOTH Spark fielded models on the same indexes: query_batch ≡
    bm25f_topk (per-field-sum) and merged_batch ≡ bm25f_merged_topk (true
    BM25F, doc-level idf from a whole-document index)."""
    from pyspark.sql import functions as SF

    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    t = tokens(SF.col("text"))
    field_cols = {
        "title": SF.concat_ws(" ", SF.slice(t, 1, 5)),
        "body": SF.concat_ws(
            " ",
            SF.when(SF.size(t) > 5, SF.slice(t, 6, SF.size(t) - 5))
            .otherwise(SF.array().cast("array<string>")),
        ),
    }
    dirs = {}
    for f, expr in field_cols.items():
        d = str(tmp_path / f"fld_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        dirs[f] = d
    doc_dir = str(tmp_path / "fld_doc")
    B.build_index_resumable(docs, doc_dir, CFG)

    queries = [(1, ["the", "fast"], "disjunctive", 8),
               (2, ["customer", "order", "spark"], "disjunctive", 6),
               (3, ["zebra"], "disjunctive", 5)]
    weights = {"title": 2.0, "body": 1.0}
    idxs = fielded.build_fielded_index(docs, field_cols, CFG)
    srv = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir)

    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.bm25f_topk(idxs, queries, weights, CFG).collect()
    )
    got = sorted(srv.query_batch(queries, weights))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)

    from bloqsenjin_spark.operators import topk as T

    tok = T.tokenized(docs)
    dts = T.term_stats_df(T.term_freqs(tok), tok.count())
    want_m = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.bm25f_merged_topk(
            idxs, queries, weights, dts, CFG).collect()
    )
    got_m = sorted(srv.merged_batch(queries, weights))
    assert len(got_m) == len(want_m) > 0
    for g, w in zip(got_m, want_m):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)
    # the two serving models really differ on this corpus
    assert got != got_m


def test_fielded_serving_guards(spark, tmp_path):
    from pyspark.sql import functions as SF

    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "one_field")
    B.build_index_resumable(docs.select("doc_id", SF.col("text")), d, CFG)
    srv = FieldedIndexServer({"all": d}, CFG)
    with pytest.raises(ValueError, match="unknown query mode"):
        srv.query_batch([(1, ["the"], "dismax", 5)], {})
    with pytest.raises(ValueError, match="duplicate query_ids"):
        srv.query_batch([(1, ["the"], "disjunctive", 5),
                         (1, ["fast"], "disjunctive", 5)], {})
    with pytest.raises(ValueError, match="unknown fields"):
        srv.query_batch([(1, ["the"], "disjunctive", 5)], {"titel": 1.0})
    with pytest.raises(ValueError, match="doc_stats_dir"):
        srv.merged_batch([(1, ["the"], "disjunctive", 5)], {})
    with pytest.raises(ValueError, match="at least one field"):
        FieldedIndexServer({}, CFG)
    # mismatched sharding between field replicas is rejected loudly
    d2 = str(tmp_path / "other_cfg")
    B.build_index_resumable(
        docs.select("doc_id", SF.col("text")), d2,
        IndexConfig(docs_per_shard=64, block_docs=16))
    with pytest.raises(ValueError, match="doc-range sharding"):
        FieldedIndexServer({"a": d, "b": d2})


CFG_POS = IndexConfig(docs_per_shard=128, block_docs=16, positions=True)


def test_phrase_in_field_subset_and_serving(spark, tmp_path):
    """Phrase-in-field: per-field positional indexes answer phrase/NEAR
    queries restricted to a field. Properties pinned here:
    (a) fields partition the text ⇒ every field match is a whole-doc match
        (field ⊆ doc), for phrase and ordered NEAR alike;
    (b) the field branches find real matches and genuinely differ from the
        doc branch (a title-boundary-spanning phrase matches doc only);
    (c) FieldedIndexServer.phrase_batch/near_batch/phrase_topk_batch over
        the persisted field replicas are identical to the Spark operators."""
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    whole = build_index(docs, CFG_POS)
    fidxs = fielded.build_fielded_index(docs, _field_exprs(), CFG_POS)
    phrases = [(1, "the fast"), (2, "customer order"), (3, "zebra stripes")]

    doc_m = {
        (r["query_id"], r["doc_id"])
        for r in wand.phrase_match_positional(
            whole.postings, phrases, CFG_POS).collect()
    }
    by_field = {}
    for fname in ("title", "body"):
        by_field[fname] = {
            (r["query_id"], r["doc_id"])
            for r in fielded.phrase_match_fielded(
                fidxs, fname, phrases, CFG_POS).collect()
        }
        assert by_field[fname] <= doc_m  # (a) field ⊆ doc
    assert by_field["title"] or by_field["body"]  # (b) real matches
    assert by_field["title"] | by_field["body"] != doc_m  # boundary spans

    near_qs = [(1, "the fast", 2), (2, "customer order", 1)]
    near_doc = {
        (r["query_id"], r["doc_id"])
        for r in wand.near_match_positional(
            whole.postings, near_qs, CFG_POS).collect()
    }
    near_body = {
        (r["query_id"], r["doc_id"])
        for r in fielded.near_match_fielded(
            fidxs, "body", near_qs, CFG_POS).collect()
    }
    assert near_body and near_body <= near_doc

    # (c) serving twins over persisted replicas
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"pfld_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG_POS)
        dirs[f] = d
    fsrv = FieldedIndexServer(dirs, CFG_POS)
    for fname in ("title", "body"):
        assert set(fsrv.phrase_batch(fname, phrases)) == by_field[fname]
    assert set(fsrv.near_batch("body", near_qs)) == near_body
    ptk = [(1, "the fast", 5), (2, "customer order", 5)]
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.phrase_bm25_topk_fielded(
            fidxs, "body", ptk, CFG_POS).collect()
    )
    got = sorted(fsrv.phrase_topk_batch("body", ptk))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)
    with pytest.raises(ValueError, match="unknown field"):
        fsrv.phrase_batch("abstract", phrases)
    with pytest.raises(ValueError, match="unknown field"):
        fielded.phrase_match_fielded(fidxs, "abstract", phrases, CFG_POS)


def test_fielded_conjunctive_document_level(spark, tmp_path):
    """Document-level conjunctive fielded semantics ("every term in SOME
    field" — Lucene's default): (a) for both models, the conjunctive match
    set at exhaustive k equals the disjunctive set filtered to docs
    containing ALL terms anywhere, with identical per-doc scores; (b) the
    semantics is genuinely CROSS-field — some doc matches with its terms
    split across title and body, which no single-field conjunctive query
    finds; (c) serving twins are rank-identical to the Spark operators."""
    import re as _re

    from bloqsenjin_spark.operators import topk as T
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    tok = T.tokenized(docs)
    doc_ts = T.term_stats_df(T.term_freqs(tok), tok.count())
    weights = {"title": 2.0, "body": 1.0}
    terms = ["customer", "order"]
    BIG = 10_000
    qc = [(1, terms, "conjunctive", BIG)]
    qd = [(1, terms, "disjunctive", BIG)]

    toks_by_doc = {
        r["doc_id"]: set(_re.split("[^a-z0-9]+", (r["text"] or "").lower()))
        for r in docs.collect()
    }
    want_docs = {d for d, ts in toks_by_doc.items()
                 if all(t in ts for t in terms)}

    for op, kw in ((fielded.bm25f_topk, {}),
                   (fielded.bm25f_merged_topk, {"doc_term_stats": doc_ts})):
        disj = {r["doc_id"]: r["score"]
                for r in op(idxs, qd, weights, cfg=CFG, **kw).collect()}
        conj = {r["doc_id"]: r["score"]
                for r in op(idxs, qc, weights, cfg=CFG, **kw).collect()}
        assert set(conj) == want_docs and len(want_docs) > 0
        for d, s in conj.items():  # same scoring model, filtered eligibility
            assert s == pytest.approx(disj[d], abs=1e-9)

    # (b) cross-field: a doc whose terms split across fields matches the
    # document-level reading but neither single-field conjunctive query
    per_field_sets = {}
    for fname in ("title", "body"):
        fidx = idxs[fname]
        rows = wand.bm25_wand_topk(
            fidx.postings, fidx.doc_lens, fidx.term_stats, fidx.avgdl,
            [(1, terms, "conjunctive", BIG)], CFG,
        ).collect()
        per_field_sets[fname] = {r["doc_id"] for r in rows}
    assert want_docs - (per_field_sets["title"] | per_field_sets["body"]), \
        "corpus has no field-splitting doc; property not exercised"

    # (c) serving twins
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"cfld_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        dirs[f] = d
    doc_dir = str(tmp_path / "cfld_doc")
    B.build_index_resumable(docs, doc_dir, CFG)
    fsrv = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir)
    qck = [(1, terms, "conjunctive", 10), (2, ["the", "zebra"], "conjunctive", 5)]
    for op, srv_fn, kw in (
            (fielded.bm25f_topk, fsrv.query_batch, {}),
            (fielded.bm25f_merged_topk, fsrv.merged_batch,
             {"doc_term_stats": doc_ts})):
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in op(idxs, qck, weights, cfg=CFG, **kw).collect()
        )
        got = sorted(srv_fn(qck, weights))
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_fielded_allow_sets_and_paging(spark, tmp_path):
    """ACL allow-sets and deep paging on the fielded family, both tiers:
    (a) Spark bm25f_topk offsets = page slice of the deepened ranking with
    GLOBAL ranks; (b) FieldedIndexServer.query_batch/merged_batch with
    allowed_doc_ids ≡ Spark operators with the equivalent allow bitmaps;
    (c) serving offsets ≡ Spark offsets."""
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    weights = {"title": 2.0, "body": 1.0}
    queries = [(1, ["the", "fast"], "disjunctive", 4),
               (2, ["customer", "order"], "conjunctive", 3)]
    offsets = {1: 3, 2: 2}

    # (a) offsets = slice of the deepened ranking
    deep = [(q[0], q[1], q[2], q[3] + offsets.get(q[0], 0)) for q in queries]
    full = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in fielded.bm25f_topk(idxs, deep, weights, CFG).collect()
    )
    paged = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in fielded.bm25f_topk(idxs, queries, weights, CFG,
                                    offsets=offsets).collect()
    )
    kmap = {q[0]: q[3] for q in queries}
    assert paged == [r for r in full
                     if offsets[r[0]] < r[1] <= offsets[r[0]] + kmap[r[0]]]
    assert len(paged) > 0

    # serving twins
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"afld_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        dirs[f] = d
    doc_dir = str(tmp_path / "afld_doc")
    B.build_index_resumable(docs, doc_dir, CFG)
    fsrv = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir)
    dts = _doc_ts(spark, docs)
    en_docs = docs.where(F.col("lang") == "en").select("doc_id")
    allowed = [r["doc_id"] for r in en_docs.collect()]
    allow_map = shard_bitmap_df(en_docs, CFG, bitmap_col="allow")

    for op, srv_fn, kw in (
            (fielded.bm25f_topk, fsrv.query_batch, {}),
            (fielded.bm25f_merged_topk, fsrv.merged_batch,
             {"doc_term_stats": dts})):
        # (b) allow-set equality across tiers
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in op(idxs, queries, weights, cfg=CFG,
                        allow_map=allow_map, **kw).collect()
        )
        got = sorted(srv_fn(queries, weights, allowed_doc_ids=allowed))
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)
        # (c) paging equality across tiers
        want_p = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in op(idxs, queries, weights, cfg=CFG,
                        offsets=offsets, **kw).collect()
        )
        got_p = sorted(srv_fn(queries, weights, offsets=offsets))
        assert len(got_p) == len(want_p) > 0
        for g, w in zip(got_p, want_p):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_fielded_must_not(spark, tmp_path):
    """MUST_NOT on the per-field-sum fielded model (5-tuples, PLAIN neg
    terms): a doc is excluded when a neg term occurs in ANY field — Spark ≡
    serving, exclusion verified against the corpus; the merged model
    refuses 5-tuples loudly with the documented workaround."""
    import re as _re

    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    weights = {"title": 2.0, "body": 1.0}
    queries = [(1, ["the", "fast"], "disjunctive", 8, ["order"]),
               (2, ["customer", "order"], "conjunctive", 8, ["slow"])]
    neg_docs = {
        t: {r["doc_id"] for r in docs.collect()
            if t in _re.split("[^a-z0-9]+", (r["text"] or "").lower())}
        for t in ("order", "slow")
    }
    assert all(neg_docs.values())

    res = fielded.bm25f_topk(idxs, queries, weights, CFG).collect()
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in res
    )
    assert want
    for qid, _r, d, _s in want:
        for t in queries[qid - 1][4]:
            assert d not in neg_docs[t]
    # vs the no-neg ranking: survivors keep relative order, victims gone
    base = fielded.bm25f_topk(
        idxs, [q[:4] for q in queries], weights, CFG).collect()
    victims1 = {d for d in neg_docs["order"]}
    kept = [r["doc_id"] for r in base
            if r["query_id"] == 1 and r["doc_id"] not in victims1]
    got1 = [d for q, _r, d, _s in want if q == 1]
    assert got1[: len(kept)] == kept[: len(got1)]

    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"nfld_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        dirs[f] = d
    fsrv = FieldedIndexServer(dirs, CFG)
    got = sorted(fsrv.query_batch(queries, weights))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)

    # merged BM25F honors the same MUST_NOT semantics (round-6 close of
    # COMPOSITION note 7): exclusion verified + serving twin identical
    dts = _doc_ts(spark, docs)
    mres = fielded.bm25f_merged_topk(idxs, queries, weights, dts,
                                     cfg=CFG).collect()
    mwant = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in mres
    )
    assert mwant
    for qid, _r, d, _s in mwant:
        for t in queries[qid - 1][4]:
            assert d not in neg_docs[t]
    doc_dir = str(tmp_path / "nfld_doc")
    B.build_index_resumable(docs, doc_dir, CFG)
    mfsrv = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir)
    mgot = sorted(mfsrv.merged_batch(queries, weights))
    assert len(mgot) == len(mwant)
    for g, w in zip(mgot, mwant):
        assert g[:3] == w[:3]
        assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_fielded_serving_lazy_stats(spark, tmp_path):
    """FieldedIndexServer forwards stats_mode='lazy' to its per-field (and
    doc-stats) servers: no vocabulary resident anywhere, results identical
    to the eager server on BOTH fielded models, disj and conj alike."""
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"lzf_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        dirs[f] = d
    doc_dir = str(tmp_path / "lzf_doc")
    B.build_index_resumable(docs, doc_dir, CFG)
    eager = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir)
    lazy = FieldedIndexServer(dirs, CFG, doc_stats_dir=doc_dir,
                              stats_mode="lazy")
    assert all(s.df is None for s in lazy.servers.values())
    assert lazy._doc_stats.df is None
    weights = {"title": 2.0, "body": 1.0}
    qs = [(1, ["the", "fast"], "disjunctive", 6),
          (2, ["customer", "order"], "conjunctive", 5),
          (3, ["the"], "disjunctive", 4, ["order"])]
    assert lazy.query_batch(qs, weights) == eager.query_batch(qs, weights)
    qs4 = [q[:4] for q in qs[:2]]
    assert lazy.merged_batch(qs4, weights) == eager.merged_batch(qs4, weights)


def test_bm25f_fuzzy_prefix_single_field_identity(spark):
    """Cross-field expansion's degenerate case: over ONE field at weight 1.0
    the composed operators must equal the plain single-index forms exactly —
    bm25f_fuzzy_topk ≡ fuzzy_multi_bm25_topk (disj + decay AND word-level
    conjunctive) and bm25f_prefix_topk ≡ prefix_bm25_topk (the cross-field
    vocabulary reduces to the field's own term_stats)."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, {"all": F.col("text")}, CFG)
    idx = build_index(docs, CFG)
    fq = [(1, ["spork", "quary"], 1, 8), (2, ["orde"], 1, 6),
          (3, ["xyzzy"], 1, 5)]
    for mode in ("disjunctive", "conjunctive"):
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in fielded.bm25f_fuzzy_topk(
                idxs, fq, {"all": 1.0}, CFG, max_expansions=4,
                distance_decay=0.5, mode=mode).collect()
        )
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in wand.fuzzy_multi_bm25_topk(
                idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                fq, CFG, max_expansions=4, distance_decay=0.5,
                mode=mode).collect()
        )
        assert got == want and len(got) > 0, mode
    pq = [(1, "s", 8), (2, "cust", 6), (3, "zzqq", 5)]
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in fielded.bm25f_prefix_topk(
            idxs, pq, {"all": 1.0}, CFG, max_expansions=4).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand.prefix_bm25_topk(
            idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
            pq, CFG, max_expansions=4).collect()
    )
    assert got == want and len(got) > 0


def test_bm25f_expansion_guards(spark):
    """Expansion-form guards: bad mode, negative decay, duplicate qids, and
    the extended tuple's negative per-term boost all fail loudly."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idxs = fielded.build_fielded_index(docs, {"all": F.col("text")}, CFG)
    with pytest.raises(ValueError, match="unknown query mode"):
        fielded.bm25f_fuzzy_topk(idxs, [(1, ["the"], 1, 5)], {}, CFG,
                                 mode="dismax")
    with pytest.raises(ValueError, match="distance_decay"):
        fielded.bm25f_fuzzy_topk(idxs, [(1, ["the"], 1, 5)], {}, CFG,
                                 distance_decay=-0.5)
    with pytest.raises(ValueError, match="duplicate query_ids"):
        fielded.bm25f_fuzzy_topk(
            idxs, [(1, ["the"], 1, 5), (1, ["a"], 1, 5)], {}, CFG)
    with pytest.raises(ValueError, match="duplicate query_ids"):
        fielded.bm25f_prefix_topk(idxs, [(1, "a", 5), (1, "b", 5)], {}, CFG)
    with pytest.raises(ValueError, match="negative term boosts"):
        fielded.bm25f_topk(
            idxs, [(1, ["the"], "disjunctive", 5, (), {"the": -2.0})],
            {"all": 1.0}, CFG)


def test_bm25f_expansion_serving_matches_spark(spark, tmp_path):
    """FieldedIndexServer.fuzzy_topk_batch / prefix_topk_batch over
    title+body replicas are rank-identical to the Spark cross-field
    operators (disj with decay, word-level conjunctive, prefix), in BOTH
    stats modes (lazy needs the per-field SymSpell bucket replicas)."""
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"xf_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG)
        B.write_fuzzy_index(spark, d, max_dist=1)
        dirs[f] = d
    idxs = fielded.build_fielded_index(docs, _field_exprs(), CFG)
    weights = {"title": 2.0, "body": 1.0}
    fq = [(1, ["spork", "quary"], 1, 8), (2, ["customer", "orde"], 1, 6),
          (3, ["xyzzy"], 1, 5)]
    pq = [(1, "s", 8), (2, "cust", 6), (3, "zzqq", 5)]
    servers = [FieldedIndexServer(dirs, CFG),
               FieldedIndexServer(dirs, CFG, stats_mode="lazy")]
    for mode in ("disjunctive", "conjunctive"):
        want = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in fielded.bm25f_fuzzy_topk(
                idxs, fq, weights, CFG, max_expansions=4,
                distance_decay=0.5, mode=mode).collect()
        )
        assert len(want) > 0, mode
        for srv in servers:
            got = sorted(srv.fuzzy_topk_batch(
                fq, weights, max_expansions=4, distance_decay=0.5,
                mode=mode))
            assert len(got) == len(want), mode
            for g, w in zip(got, want):
                assert g[:3] == w[:3], mode
                assert g[3] == pytest.approx(w[3], abs=1e-12)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in fielded.bm25f_prefix_topk(
            idxs, pq, weights, CFG, max_expansions=4).collect()
    )
    assert len(want) > 0
    for srv in servers:
        got = sorted(srv.prefix_topk_batch(pq, weights, max_expansions=4))
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g[:3] == w[:3]
            assert g[3] == pytest.approx(w[3], abs=1e-12)


# ---- cross-field phrase/proximity (bm25f_phrase_topk, round 7) --------------


def _match_ordered(toks, words, slop):
    """Exact/sloppy ordered containment: every consecutive pair within
    (pos_i, pos_i + 1 + slop] — full search over candidate positions."""
    def rec(i, prev):
        if i == len(words):
            return True
        return any(
            rec(i + 1, p) for p, t in enumerate(toks)
            if t == words[i] and prev < p <= prev + 1 + slop
        )
    return any(rec(1, p) for p, t in enumerate(toks) if t == words[0])


def _match_unordered(toks, words, slop):
    uniq = set(words)
    w = (len(words) - 1) * (slop + 1)
    anchors = [p for p, t in enumerate(toks) if t in uniq]
    return any(
        uniq <= {t for p2, t in enumerate(toks) if a <= p2 <= a + w}
        for a in anchors
    )


def _bm25f_phrase_ref(docs_rows, queries, weights, ordered=True,
                      k1=BM25_K1, b=BM25_B):
    """Independent reference for cross-field phrase ranking: per-field
    positional containment; each matching field adds w_f · BM25_f over the
    phrase's deduped terms."""
    fields = {d: _split_fields(text) for d, text in docs_rows}
    n = len(docs_rows)
    stats = {}
    for f in ("title", "body"):
        df: dict = {}
        for fx in fields.values():
            for t in set(fx[f]):
                df[t] = df.get(t, 0) + 1
        avgdl = (sum(len(fx[f]) for fx in fields.values()) / n) or 1.0
        stats[f] = (df, avgdl)
    out = []
    for q in queries:
        qid, phrase, k = int(q[0]), q[1], int(q[2])
        slop = int(q[3]) if len(q) > 3 else 0
        words = [t for t in re.split("[^a-z0-9]+", phrase.lower()) if t]
        uterms = sorted(set(words))
        match = _match_ordered if ordered else _match_unordered
        combined: dict = {}
        for f in ("title", "body"):
            df, avgdl = stats[f]
            for d, fx in fields.items():
                toks = fx[f]
                if not match(toks, words, slop):
                    continue
                s = 0.0
                for t in uterms:
                    tf = toks.count(t)
                    idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    s += idf * tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * len(toks) / avgdl))
                combined[d] = combined.get(d, 0.0) + weights[f] * s
        ranked = sorted(combined.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [(qid, r, d, s) for r, (d, s) in enumerate(ranked, 1)]
    return sorted(out)


def test_bm25f_phrase_topk_vs_reference(spark):
    """Cross-field phrase/proximity ranking == the independent positional
    reference: matches in ANY field, weighted per-field phrase-BM25 sum."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    fidxs = fielded.build_fielded_index(docs, _field_exprs(), CFG_POS)
    weights = {"title": 2.0, "body": 1.0}
    queries = [(1, "the fast", 10), (2, "customer order", 10, 1),
               (3, "zebra stripes", 5)]
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    for ordered in (True, False):
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in fielded.bm25f_phrase_topk(
                fidxs, queries, weights, CFG_POS, ordered=ordered).collect()
        )
        want = _bm25f_phrase_ref(rows, queries, weights, ordered=ordered)
        assert [g[:3] for g in got] == [w[:3] for w in want]
        assert len(got) > 0
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_bm25f_phrase_single_field_identity(spark):
    """weights {all: 1.0} over one whole-doc index ≡ wand.phrase_bm25_topk
    / near_bm25_topk — the cross-field form degenerates exactly."""
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = build_index(docs, CFG_POS)
    queries = [(1, "the fast", 10), (2, "customer order", 8, 1)]
    for ordered in (True, False):
        got = sorted(
            tuple(r) for r in fielded.bm25f_phrase_topk(
                {"all": idx}, queries, {"all": 1.0}, CFG_POS,
                ordered=ordered).collect()
        )
        want = sorted(
            tuple(r) for r in wand.near_bm25_topk(
                idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                queries, CFG_POS, ordered=ordered).collect()
        )
        assert got == want and len(got) > 0


def test_bm25f_phrase_guards(spark):
    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    fidxs = fielded.build_fielded_index(docs, _field_exprs(), CFG_POS)
    with pytest.raises(ValueError, match="duplicate"):
        fielded.bm25f_phrase_topk(
            fidxs, [(1, "a b", 5), (1, "c d", 5)], {"title": 1.0}, CFG_POS)
    with pytest.raises(ValueError, match="unknown fields"):
        fielded.bm25f_phrase_topk(
            fidxs, [(1, "a b", 5)], {"abstract": 1.0}, CFG_POS)
    with pytest.raises(ValueError, match="negative"):
        fielded.bm25f_phrase_topk(
            fidxs, [(1, "a b", 5)], {"title": -1.0}, CFG_POS)


def test_bm25f_phrase_serving_and_paging(spark, tmp_path):
    """FieldedIndexServer.phrase_topk_batch_cross == Spark
    bm25f_phrase_topk row for row (both orderings), and offsets paging
    slices the same global ranking."""
    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    fidxs = fielded.build_fielded_index(docs, _field_exprs(), CFG_POS)
    dirs = {}
    for f, expr in _field_exprs().items():
        d = str(tmp_path / f"xpf_{f}")
        B.build_index_resumable(
            docs.select("doc_id", expr.alias("text")), d, CFG_POS)
        dirs[f] = d
    fsrv = FieldedIndexServer(dirs, CFG_POS)
    weights = {"title": 2.0, "body": 1.0}
    queries = [(1, "the fast", 10), (2, "customer order", 8, 1)]
    for ordered in (True, False):
        spark_rows = sorted(
            tuple(r) for r in fielded.bm25f_phrase_topk(
                fidxs, queries, weights, CFG_POS, ordered=ordered).collect()
        )
        got = sorted(fsrv.phrase_topk_batch_cross(queries, weights,
                                                  ordered=ordered))
        assert [g[:3] for g in got] == [s[:3] for s in spark_rows]
        assert len(got) > 0
        for g, s in zip(got, spark_rows):
            assert g[3] == pytest.approx(s[3], abs=1e-9)
    # paging: page 2 of q1 == global ranks 4..6 of the deep ranking
    deep = fielded.bm25f_phrase_topk(
        fidxs, [(1, "the fast", 6)], weights, CFG_POS)
    want_page = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in deep.collect() if r["rank"] > 3
    ]
    page = fielded.bm25f_phrase_topk(
        fidxs, [(1, "the fast", 3)], weights, CFG_POS, offsets={1: 3})
    got_page = [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in page.collect()
    ]
    assert got_page == sorted(want_page, key=lambda r: r[1])
    srv_page = fsrv.phrase_topk_batch_cross(
        [(1, "the fast", 3)], weights, offsets={1: 3})
    assert [r[:3] for r in srv_page] == [r[:3] for r in got_page]


def test_fielded_score_cache_invalidates_on_field_refresh(spark, tmp_path):
    """Round-9 follow-up: the fielded decoded-block LRU must drop when a
    per-field server picks up a NEW generation (auto_refresh or direct
    refresh) — cached decodes belong to the old bytes."""
    from pyspark.sql import functions as SF

    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "cache_field")
    B.build_index_resumable(docs.select("doc_id", SF.col("text")), d, CFG)
    srv = FieldedIndexServer({"all": d}, CFG, auto_refresh=True)
    q = [(1, ["the", "fast"], "disjunctive", 8)]
    before = srv.query_batch(q, {"all": 1.0})
    assert len(srv._score_block_cache) > 0
    # physically purge the current top hits: a content mutation bumps the
    # generation; auto_refresh picks it up at the next batch — the purged
    # docs must vanish, which can only happen if the decoded-block cache
    # was dropped along with the old generation
    from bloqsenjin_spark.plans import deletes as D

    victims = sorted({doc for _q, _r, doc, _s in before})[:3]
    D.delete_docs(spark, d, victims)
    D.purge_deletes(spark, d)
    after = srv.query_batch(q, {"all": 1.0})
    assert after != before  # new generation served, not stale cache
    assert not ({doc for _q, _r, doc, _s in after} & set(victims))


def test_fielded_score_cache_keyed_on_content_generation(spark, tmp_path):
    """The fielded decoded-block cache is bound to the per-field
    content_generation tuple: a plain delete keeps the same cache object
    (masks apply after the lookup) and the victims still vanish; a purge
    binds a NEW object, and inserts into the old one (an in-flight batch of
    the old generation) never reach it."""
    from pyspark.sql import functions as SF

    from bloqsenjin_spark.operators.serving import FieldedIndexServer
    from bloqsenjin_spark.plans import build as B
    from bloqsenjin_spark.plans import deletes as D

    docs = corpus.load_table(spark, "/root/testdata/sf0.001", "documents")
    d = str(tmp_path / "keyed_field")
    B.build_index_resumable(docs.select("doc_id", SF.col("text")), d, CFG)
    srv = FieldedIndexServer({"all": d}, CFG)
    q = [(1, ["the", "fast"], "disjunctive", 8)]
    before = srv.query_batch(q, {"all": 1.0})
    old = srv._score_block_cache
    assert len(old) > 0

    victims = sorted({doc for _q, _r, doc, _s in before})[:3]
    D.delete_docs(spark, d, victims)
    assert srv.refresh()
    after = srv.query_batch(q, {"all": 1.0})
    assert srv._score_block_cache is old
    assert not ({doc for _q, _r, doc, _s in after} & set(victims))
    assert after == FieldedIndexServer({"all": d}, CFG).query_batch(
        q, {"all": 1.0})

    D.purge_deletes(spark, d)
    assert srv.refresh()
    purged = srv.query_batch(q, {"all": 1.0})
    new = srv._score_block_cache
    assert new is not old and len(new) > 0
    old[("stale", 0, 0)] = "old-generation decode"
    assert ("stale", 0, 0) not in srv._score_block_cache
    assert srv.query_batch(q, {"all": 1.0}) == purged == FieldedIndexServer(
        {"all": d}, CFG).query_batch(q, {"all": 1.0})
