"""spark-submit entry point: build (or resume) the inverted index.

Cluster usage (BASELINE.json deployment shape):

    zip -r bloqsenjin_spark.zip bloqsenjin_spark
    spark-submit --py-files bloqsenjin_spark.zip \
        jobs/build_index_job.py \
        --pages <iceberg-or-parquet pages table/path> \
        --index-dir <output dir> \
        [--docs-per-shard N] [--block-docs N] [--from-documents]

On a cluster the session comes from spark-submit (master/executors from the
submit conf); getOrCreate() picks it up — bloqsenjin_spark.session.get_spark
is only the local-mode convenience path.

Python worker daemon: session.get_spark runs Python workers under
bloqsenjin_spark.worker_daemon, which saves ~250 ms of worker CPU per task
(see its docstring). The daemon is imported before any task runs, so it
cannot come from --py-files. Add
``--conf spark.python.daemon.module=bloqsenjin_spark.worker_daemon`` only
where the package is installed on the executors (e.g. pip-installed in their
Python environment); with --py-files alone, keep the stock daemon.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path (url, warc_ts, html, text, lang) or documents-shaped path with --from-documents")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--docs-per-shard", type=int, default=None)
    ap.add_argument("--block-docs", type=int, default=None)
    ap.add_argument("--positions", action="store_true",
                    help="build a positional index (enables phrase queries; "
                         "adds ~token-count ints to the index shuffle)")
    ap.add_argument("--from-documents", action="store_true",
                    help="input is documents-shaped (doc_id, text, ...): skip extraction + docID assignment")
    args = ap.parse_args()

    from bloqsenjin_spark.config import DEFAULT_CONFIG, IndexConfig
    from bloqsenjin_spark.functions.text import extract_text
    from bloqsenjin_spark.operators.docids import assign_doc_ids
    from bloqsenjin_spark.plans.build import build_index_resumable

    spark = SparkSession.builder.appName("bloqsenjin-build-index").getOrCreate()
    cfg = IndexConfig(
        docs_per_shard=args.docs_per_shard or DEFAULT_CONFIG.docs_per_shard,
        block_docs=args.block_docs or DEFAULT_CONFIG.block_docs,
        positions=args.positions,
    )
    # --pages may be a parquet path or an iceberg://catalog.db.table ref —
    # the index output (--index-dir) routes the same way via plans/store.py
    if args.pages.startswith("iceberg://"):
        src = spark.read.table(args.pages[len("iceberg://"):])
    else:
        src = spark.read.parquet(args.pages)
    if args.from_documents:
        docs = src
    else:
        ranked = assign_doc_ids(src.select("url", "html", "lang"))
        docs = ranked.select("doc_id", "url", extract_text("html").alias("text"), "lang")
    build_index_resumable(docs, args.index_dir, cfg)
    from bloqsenjin_spark.plans.store import for_index

    n = for_index(spark, args.index_dir).read("corpus_stats").first()
    print(f"index built: n_docs={n['n_docs']} avgdl={n['avgdl']:.3f} -> {args.index_dir}")


if __name__ == "__main__":
    main()
