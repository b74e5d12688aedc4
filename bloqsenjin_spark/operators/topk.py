"""M1: brute-force BM25 top-k — entirely built-in DataFrame operators.

This is both the minimum end-to-end slice (SURVEY.md §7.1) and the permanent
correctness oracle for the index-backed engine (operators/wand.py must be
rank-identical to this on every query set).

Plan shape (all Catalyst, no UDF):
  tokens (split+filter, codegen) → explode → groupBy(term, doc_id) [partial
  agg map-side] → broadcast-join the query terms (tiny) → join term stats
  (broadcast, semi-joined to query terms first) → per-(query,doc) fold of
  term contributions in sorted term order (deterministic double summation)
  → window top-k with (score DESC, doc_id ASC) tie-break.

Reference parity: conjunctive = posting-list intersection is the semi-join
family (/root/reference/internal/models/preferences.go:300-309); disjunctive =
union is the OR-folded permission-mask family
(/root/reference/pkg/auth/http/log.go:170-196); the groupBy df-count is the
follower-count view (/root/reference/internal/models/profile.go:103-117).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bloqsenjin_spark.functions import bm25
from bloqsenjin_spark.functions.text import tokens


def tokenized(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """docs → (doc_id, tokens array<string>, dl long). Empty/null text → dl=0."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("long"))


def term_freqs(tok: DataFrame) -> DataFrame:
    """(doc_id, term, tf). One shuffle; map-side partial count via hash agg."""
    return (
        tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def corpus_stats_df(tok: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl, n_tokens). Exact — rank-identity forbids
    approx (SURVEY.md §2.4 A8). Empty docs count toward N and avgdl with dl=0
    (policy pinned in FIXTURES.md §3)."""
    return tok.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("n_tokens"),
    )


def term_stats_df(tf: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, cf, idf) — exact document frequency per term."""
    return tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).withColumn("idf", bm25.idf_col(F.col("df"), n_docs))


def query_terms(queries: DataFrame) -> DataFrame:
    """Explode query term arrays; dedupe (pinned policy: unique-term bag)."""
    return queries.select(
        "query_id", "mode", "k",
        F.size(F.array_distinct("terms")).alias("n_terms"),
        F.explode(F.array_distinct("terms")).alias("term"),
    )


def bm25_brute_force(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """→ TOPK_RESULT (query_id, rank, doc_id, score).

    Zero-hit queries produce no rows; conjunctive queries containing a term
    absent from the corpus produce no rows (intersection with ∅).

    Round-9 plan (same results to the float bit — the scoring expressions
    are unchanged; only the plan shape moved, guide §§2.3–2.4, §5):

    * ONE corpus scan instead of four. The old plan re-ran tokenization
      (extraction UDF included, when the caller's text column is one) once
      for corpus stats, once for the vocabulary-wide term_stats, once for
      tf and once for the dl join. Now a single map-side Arrow pass
      (operators.postings.doc_term_freqs — the same pinned tokenizer, with
      per-doc marker rows) yields tf, dl, n_docs and avgdl together.
    * Query-term filter BEFORE any exchange or cache (guide §2.3): only
      (doc, query-term) rows and the per-doc marker rows are retained —
      nothing vocabulary-sized is ever shuffled or cached. df per query
      term is exact on the filtered relation (one row per containing doc).
    * tf needs no corpus-wide groupBy — doc_term_freqs counts (doc, term)
      inside the document's own batch, so the old explode → groupBy(term,
      doc_id) shuffle of every token disappears outright (guide §2.4).
    * dl rides each row (marker AND tf rows), so the old corpus-sized
      sort-merge join on doc_id for dl disappears too.
    * per-term df comes from a window over the (tiny) filtered relation —
      no second aggregation branch re-reading the corpus.
    * round-9 follow-up: the query-term filter is additionally pushed INTO
      the scan kernel (doc_term_freqs(terms=...)) so only matching (doc,
      term) rows and the marker rows ever cross the Arrow boundary — ~8 %
      off the scan at 1M docs, growing with corpus size (guide §2.3). The
      further restructures tried (df folded into the stats action, literal
      df map instead of the window, collect-return instead of the
      localCheckpoint) A/B'd flat-to-negative at bench scale — Spark job
      overhead, not plan shape, dominates the post-scan stages — and were
      reverted (see OPTIMIZATION_r09.md "measured, kept out").
    """
    from pyspark.storagelevel import StorageLevel

    from bloqsenjin_spark.operators.postings import doc_term_freqs

    qt = query_terms(queries)
    # the query set is small by contract (it is createDataFrame'd from a
    # driver list everywhere this runs) — collecting the distinct terms
    # back lets the filter run map-side as a plain In-predicate, before
    # anything is cached or shuffled
    qterm_list = [r["term"] for r in qt.select("term").distinct().collect()]

    raw = doc_term_freqs(
        docs, doc_markers=True, terms=qterm_list,
    ).where(
        F.col("term").isNull()
        | (F.col("term").isin(qterm_list) if qterm_list else F.lit(False))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # markers: one row per doc (term NULL, dl always present) → exact stats
    n_docs, avgdl = raw.where(F.col("term").isNull()).agg(
        F.count("*"), F.avg("dl")).first()
    avgdl = float(avgdl or 0.0) or 1.0  # all-empty corpus guard

    tf_q = raw.where(F.col("term").isNotNull())
    # df per term == number of docs containing it — exact on the filtered
    # relation (identical to the full term_stats_df count for these terms)
    w_term = Window.partitionBy("term")
    contrib = (
        tf_q.withColumn("df", F.count("*").over(w_term))
        .withColumn("idf", bm25.idf_col(F.col("df"), int(n_docs)))
        .join(F.broadcast(qt), "term")
        .withColumn(
            "contrib",
            F.col("idf") * bm25.tf_component_col(F.col("tf"), F.col("dl"), avgdl),
        )
    )

    # Deterministic double summation: fold contributions in sorted term order.
    scored = (
        contrib.groupBy("query_id", "doc_id", "mode", "k", "n_terms")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score"),
            F.count("*").alias("n_matched"),
        )
        .where((F.col("mode") == "disjunctive") | (F.col("n_matched") == F.col("n_terms")))
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
    # materialize the (top-k-sized) result so tok's cache can be released
    # here instead of leaking past the call — the caller gets a computed
    # DataFrame, not a plan over an unpersisted cache
    out = out.localCheckpoint(eager=True)
    raw.unpersist()
    return out
