"""Index storage backends — the writer/reader seam of the build plan.

The index is five tables (postings, doc_lens, term_stats, corpus_stats,
checkpoints) plus index_meta. Two backends implement the same small surface
(``commit_parquet_file`` is the parquet backend's session-free commit for
the one-row meta and the tombstone log):

* ``ParquetStore`` — path-based parquet directories. Per-shard idempotence
  comes from dynamic partition overwrite; checkpoint upsert is append +
  read-side dedup. This is the local/test backend and the fallback whenever
  no Iceberg catalog is configured.
* ``IcebergStore`` — catalog tables ``USING iceberg``. Per-shard idempotence
  comes from ``overwritePartitions`` (an atomic snapshot commit), checkpoint
  upsert is ``MERGE INTO`` keyed on shard, resume reads are snapshot-isolated,
  and ``expire_snapshots`` bounds metadata growth. This is the 100 TB
  deployment shape named by the build contract (BASELINE.json north_rule:
  "over Iceberg tables"); exactly-once of the reference's saga pattern
  (/root/reference/internal/models/bloq.go:277-306) becomes snapshot commit +
  retry.

``for_index(spark, index_dir)`` picks the backend: an ``iceberg://cat.ns``
index_dir selects IcebergStore (requires the catalog on the session), any
filesystem path selects ParquetStore. The rest of plans/build.py is
backend-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ICEBERG_SCHEME = "iceberg://"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is importable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — class not on the classpath
        return False


def commit_parquet_file(table, directory: str, name: str) -> None:
    """Write a pyarrow ``table`` as ``directory/name`` without a Spark job,
    atomically: the bytes go to a dot-prefixed temp file (pyarrow datasets
    and Spark's file listing both skip dot-prefixed names, so no reader
    sees a partial file), then ``os.replace`` publishes it under its final
    name. Local-filesystem parquet paths only, like the rest of the
    parquet backend's in-place swaps (plans/deletes.purge_deletes)."""
    import os
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex}.parquet")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(directory, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def for_index(spark: SparkSession, index_dir: str):
    if index_dir.startswith(ICEBERG_SCHEME):
        if not iceberg_available(spark):
            raise RuntimeError(
                f"{index_dir} needs the Iceberg runtime on the Spark classpath "
                "(spark.jars.packages org.apache.iceberg:iceberg-spark-runtime-..., "
                "plus a spark.sql.catalog.<name> SparkCatalog config)"
            )
        return IcebergStore(spark, index_dir[len(ICEBERG_SCHEME):])
    return ParquetStore(spark, index_dir)


class ParquetStore:
    """Path-based parquet tables; the local + fallback backend."""

    kind = "parquet"

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir

    def _p(self, table: str) -> str:
        return f"{self.index_dir}/{table}"

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._p(table))

    def overwrite(self, df: DataFrame, table: str, coalesce: int | None = None) -> None:
        if coalesce:
            df = df.coalesce(coalesce)
        df.write.mode("overwrite").parquet(self._p(table))

    def overwrite_sorted(self, df: DataFrame, table: str, sort_col: str,
                         n_files: int = 8) -> None:
        """Globally ``sort_col``-sorted write (range-partitioned files, rows
        sorted within each): parquet row-group min/max stats then prune
        point/range reads on that column — what the serving tier's lazy
        term-stats and fuzzy-bucket reads rely on."""
        df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        ).write.mode("overwrite").parquet(self._p(table))

    def overwrite_shards(self, df: DataFrame, table: str,
                         sort_within: str | None = None,
                         pre_partitioned: bool = False) -> None:
        """Replace exactly the shard partitions present in df (idempotent
        per-shard retry). repartition(shard) ⇒ one file per shard partition;
        ``sort_within`` orders rows inside each file (row-group pruning for
        keyed point reads, e.g. the doc-store snippet fetch).

        ``pre_partitioned=True``: the caller guarantees every shard's rows
        already live in one task partition (the round-9 build emits postings
        and doc_lens that way) — skip the index-sized repartition shuffle
        the write used to pay (guide §2.4); partitionBy still routes each
        task's rows to their shard directories."""
        out = df if pre_partitioned else df.repartition(F.col("shard"))
        if sort_within:
            out = out.sortWithinPartitions(sort_within)
        out.write.partitionBy("shard").option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").parquet(self._p(table))

    def replace_all(self, df: DataFrame, table: str,
                    pre_partitioned: bool = False) -> None:
        """Full-table replace, still shard-partitioned (fresh write_index)."""
        out = df if pre_partitioned else df.repartition(F.col("shard"))
        out.write.partitionBy("shard").mode(
            "overwrite"
        ).parquet(self._p(table))

    def upsert_checkpoints(self, df: DataFrame, table: str = "checkpoints") -> None:
        """Append-only; completed_shards dedupes on read (a shard row may
        appear twice after a crashed-then-retried round — harmless)."""
        df.write.mode("append").parquet(self._p(table))

    def compact(self) -> None:  # nothing to do for plain parquet dirs
        return


class IcebergStore:
    """Iceberg catalog tables. ``namespace`` is ``catalog.db.index_name``;
    each index table is ``<namespace>_<table>``."""

    kind = "iceberg"

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark = spark
        self.ns = namespace
        db = namespace.rsplit(".", 1)[0]
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {db}")

    def _t(self, table: str) -> str:
        return f"{self.ns}_{table}"

    def read(self, table: str) -> DataFrame:
        return self.spark.read.table(self._t(table))

    def overwrite(self, df: DataFrame, table: str, coalesce: int | None = None) -> None:
        if coalesce:
            df = df.coalesce(coalesce)
        df.writeTo(self._t(table)).using("iceberg").createOrReplace()

    def overwrite_sorted(self, df: DataFrame, table: str, sort_col: str,
                         n_files: int = 8) -> None:
        """Sorted replace as one snapshot commit (file-level column stats
        give Iceberg the same point/range-read pruning)."""
        df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        ).writeTo(self._t(table)).using("iceberg").createOrReplace()

    def overwrite_shards(self, df: DataFrame, table: str,
                         sort_within: str | None = None,
                         pre_partitioned: bool = False) -> None:
        """Atomic snapshot commit replacing only the shard partitions present
        in df — Iceberg's native form of dynamic partition overwrite."""
        t = self._t(table)
        out = df if pre_partitioned else df.repartition(F.col("shard"))
        if sort_within:
            out = out.sortWithinPartitions(sort_within)
        if not self.spark.catalog.tableExists(t):
            out.writeTo(t).using("iceberg").partitionedBy(
                F.col("shard")
            ).create()
            return
        out.writeTo(t).overwritePartitions()

    def replace_all(self, df: DataFrame, table: str,
                    pre_partitioned: bool = False) -> None:
        """Full-table replace as ONE snapshot commit."""
        out = df if pre_partitioned else df.repartition(F.col("shard"))
        out.writeTo(self._t(table)).using(
            "iceberg"
        ).partitionedBy(F.col("shard")).createOrReplace()

    def upsert_checkpoints(self, df: DataFrame, table: str = "checkpoints") -> None:
        """True keyed upsert: MERGE INTO on shard (the reference's
        read-modify-write checkpoint row, done as one atomic commit)."""
        import uuid

        t = self._t(table)
        if not self.spark.catalog.tableExists(t):
            df.writeTo(t).using("iceberg").create()
            return
        # per-call view name: concurrent builds sharing one session must not
        # clobber each other's MERGE source
        view = f"_ck_src_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"""
                MERGE INTO {t} dst USING {view} src ON dst.shard = src.shard
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
                """
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def compact(self, retain_last: int = 5) -> None:
        """Snapshot expiry so 10^5 incremental commits don't accrete
        unbounded metadata (CALL <catalog>.system.expire_snapshots)."""
        cat = self.ns.split(".", 1)[0]
        for table in ("postings", "doc_lens", "term_stats", "corpus_stats",
                      "checkpoints", "build_metrics", "index_meta"):
            t = self._t(table)
            if self.spark.catalog.tableExists(t):
                self.spark.sql(
                    f"CALL {cat}.system.expire_snapshots("
                    f"table => '{t}', retain_last => {retain_last})"
                )
