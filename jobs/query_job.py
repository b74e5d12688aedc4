"""spark-submit entry point: answer top-k BM25 queries against a built index.

    spark-submit --py-files bloqsenjin_spark.zip jobs/query_job.py \
        --index-dir <dir> --out <result parquet> \
        [--queries <query set: .parquet | .json(l) | .pb>] \
        [--queries-format parquet|json|protobuf] \
        [--proto-descriptor <protoc descriptor_set file>]

Query-set contract (sources/queries.py): columns/fields
(query_id long, terms array<string>, mode conjunctive|disjunctive, k int);
terms are re-normalized with the engine tokenizer on ingest. Protobuf needs
the spark-protobuf package on the classpath. Without --queries, runs the
built-in reference query set.

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
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--queries-format", default=None,
                    choices=["parquet", "json", "protobuf"])
    ap.add_argument("--proto-descriptor", default=None)
    ap.add_argument("--docs-per-shard", type=int, default=None)
    ap.add_argument("--block-docs", type=int, default=None)
    args = ap.parse_args()

    from bloqsenjin_spark.config import DEFAULT_CONFIG, IndexConfig
    from bloqsenjin_spark.corpus import REFERENCE_QUERIES
    from bloqsenjin_spark.operators.wand import bm25_wand_topk
    from bloqsenjin_spark.plans.build import read_index
    from bloqsenjin_spark.plans.deletes import tombstone_bitmap_df
    from bloqsenjin_spark.sources.queries import load_query_set

    spark = SparkSession.builder.appName("bloqsenjin-query").getOrCreate()
    cfg = IndexConfig(
        docs_per_shard=args.docs_per_shard or DEFAULT_CONFIG.docs_per_shard,
        block_docs=args.block_docs or DEFAULT_CONFIG.block_docs,
    )
    if args.queries:
        qs = load_query_set(spark, args.queries, fmt=args.queries_format,
                            proto_descriptor=args.proto_descriptor)
    else:
        qs = REFERENCE_QUERIES
    idx = read_index(spark, args.index_dir, cfg)
    # honor pending (unpurged) logical deletes: per-shard bitmap table,
    # cogrouped into the scorer — None when the index has no tombstones
    tomb_map = tombstone_bitmap_df(spark, args.index_dir, cfg)
    res = bm25_wand_topk(idx.postings, idx.doc_lens, idx.term_stats, idx.avgdl,
                         qs, cfg, tomb_map=tomb_map)
    res.write.mode("overwrite").parquet(args.out)
    print(f"answered {len(qs)} queries -> {args.out}")


if __name__ == "__main__":
    main()
