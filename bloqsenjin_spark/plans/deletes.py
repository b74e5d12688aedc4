"""Document deletion — the engine-native form of the reference's keyed DELETE
(/root/reference/internal/db/mariadb.go:249-268), in two LSM phases:

1. ``delete_docs``   — logical: append docIDs to a ``tombstones`` table.
   Query paths (operators/wand.py, operators/serving.py) mask tombstoned docs
   BEFORE top-k selection. Scores of surviving docs keep the build-time stats
   (N, df, avgdl) until a purge — the standard deferred-delete contract.
   The append is session-free on the parquet backend: one pyarrow-written
   file per call, published by atomic rename, plus the index_meta stamp —
   no Spark job, so a delete is visible to a refreshed server in
   milliseconds. Because postings, block-max and stats do not change, that
   refresh re-reads only the tombstone masks (IndexServer.refresh).
2. ``purge_deletes`` — physical: rewrite ONLY the affected doc-range shards
   without tombstoned postings, recompute global stats exactly
   (df/cf decremented by decoding the deleted docs' own postings — no corpus
   re-tokenization), refresh every block_max via the segment-merge machinery
   (merge needs doc_lens + new avgdl for the shard-local part and the new idf
   join for the term-global part), and truncate the tombstone table.

Property-tested: purge(delete(build(docs), D)) ≡ build(docs − D) in both the
decoded postings and the query results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bloqsenjin_spark.config import IndexConfig
from bloqsenjin_spark.functions import bm25
from bloqsenjin_spark.functions.codec import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from bloqsenjin_spark.operators.merge import merge_postings
from bloqsenjin_spark.plans.build import (
    check_index_meta,
    read_index_meta_row,
    write_index_meta,
)


def _parquet_only(index_dir: str) -> None:
    from bloqsenjin_spark.plans.store import ICEBERG_SCHEME

    if index_dir.startswith(ICEBERG_SCHEME):
        raise NotImplementedError(
            "tombstone delete/purge is implemented for parquet-path indexes; "
            "on Iceberg the native analog is `DELETE FROM <ns>_postings` row "
            "deletes + `rewrite_data_files` compaction (snapshot commits), "
            "which subsumes this module's log + shard-rewrite machinery"
        )


def _check_doc_ids(doc_ids) -> list[int]:
    """Validated doc ids, or ValueError before anything is written: a bool,
    a non-integer or a negative id is refused (a negative id would land in
    tombstone "shard -1" and mask nothing)."""
    import numbers

    ids = list(doc_ids)
    bad = [d for d in ids
           if isinstance(d, (bool, np.bool_))
           or not isinstance(d, numbers.Integral) or d < 0]
    if bad:
        raise ValueError(
            f"delete_docs takes non-negative integer doc ids; got {bad[:5]!r}"
        )
    return [int(d) for d in ids]


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> None:
    """Logical delete: append tombstones (idempotent — duplicates tolerated,
    readers dedupe). Bumps the index generation — a logical delete changes
    query results, so long-lived servers must see it as a new generation.

    Starts no Spark job: the ids land as ONE new parquet file in
    ``tombstones/`` (``doc_id int64``, the column every Spark reader of the
    log expects), committed atomically by plans.store.commit_parquet_file,
    and the meta stamp is write_index_meta's session-free parquet commit,
    from ONE read of the meta row (layout check and generation bump).
    An empty ``doc_ids`` writes nothing and bumps nothing; a bool,
    non-integer or negative id raises ValueError before any write."""
    import uuid

    import pyarrow as pa

    from bloqsenjin_spark.plans.store import commit_parquet_file

    _parquet_only(index_dir)
    ids = _check_doc_ids(doc_ids)
    if not ids:
        return
    commit_parquet_file(
        pa.table({"doc_id": pa.array(ids, pa.int64())}),
        f"{index_dir}/tombstones", f"part-{uuid.uuid4().hex}.parquet",
    )
    # ONE meta read serves the layout check and the generation bump
    row = read_index_meta_row(index_dir)
    if row is None:
        return  # pre-meta index: nothing to stamp
    # content=False: tombstones mask at query time in every path (incl.
    # snippet/fuzzy serving), so opt-in replicas stay valid — only
    # physical rewrites (purge/rebuild) advance content_generation
    write_index_meta(spark, index_dir, check_index_meta(index_dir, None, row),
                     content=False, prev=row)


def load_tombstones(spark: SparkSession, index_dir: str) -> set[int]:
    """Diagnostics/tests only — query paths use ``tombstone_bitmap_df`` (no
    driver-side materialization of the tombstone set)."""
    try:
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{index_dir}/tombstones").collect()
        }
    except Exception:  # noqa: BLE001 — missing table = no deletes
        return set()


def tombstone_bitmap_df(
    spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
) -> DataFrame | None:
    """→ (shard int, tomb binary) — one row per shard that has tombstones,
    ``tomb`` = docs_per_shard-bit little-endian bitmap by shard-local docID.

    Derived DISTRIBUTIVELY from the append-only tombstone log (one groupBy
    on shard, each group ≤ docs_per_shard ids) — nothing rides through the
    driver. Query paths cogroup/join these rows by shard next to doc_lens,
    so masking cost per task is one unpackbits, and total tombstone traffic
    is ≤ affected_shards × docs_per_shard/8 bytes regardless of delete count.
    Returns None when no tombstone table exists.
    """
    from pyspark.errors import AnalysisException

    from bloqsenjin_spark.plans.store import ICEBERG_SCHEME

    if index_dir.startswith(ICEBERG_SCHEME):
        return None  # Iceberg indexes delete natively (see _parquet_only)
    try:
        log = spark.read.parquet(f"{index_dir}/tombstones")
    except AnalysisException:  # missing table = no deletes
        return None
    from bloqsenjin_spark.operators.bitmaps import shard_bitmap_df

    return shard_bitmap_df(log, check_index_meta(index_dir, cfg),
                           bitmap_col="tomb")


def live_doc_ids(spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None) -> DataFrame:
    """→ (doc_id) of LIVE documents: the doc_lens live bitmaps minus the
    current tombstones, decoded DISTRIBUTIVELY (one mapInPandas over the
    per-shard rows — no driver-side doc set). This is the eligibility
    relation that couples the text index's delete set into OTHER search
    paths — e.g. filtered vector search (`similarity.*(allowed=...)`) when
    vec_id == doc_id, the caller-asserted mapping COMPOSITION.md note 8
    names. Serving-side twin: `IndexServer.ann_batch(
    exclude_tombstoned=True)` masks by the already-loaded tombstone
    bitmaps instead of materializing this relation."""
    cfg = check_index_meta(index_dir, cfg)
    dps = cfg.docs_per_shard
    dlens = spark.read.parquet(f"{index_dir}/doc_lens").select(
        "shard", "n_docs", "live"
    )
    tomb = tombstone_bitmap_df(spark, index_dir, cfg)
    if tomb is not None:
        dlens = dlens.join(tomb, "shard", "left")
    has_tomb = tomb is not None

    def explode(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                n = int(r.n_docs)
                live = np.unpackbits(
                    np.frombuffer(bytes(r.live), dtype=np.uint8),
                    bitorder="little",
                )[:n].astype(bool)
                if has_tomb and r.tomb is not None:
                    tm = np.unpackbits(
                        np.frombuffer(bytes(r.tomb), dtype=np.uint8),
                        bitorder="little",
                    )[:n].astype(bool)
                    live &= ~tm
                out.append(np.flatnonzero(live) + int(r.shard) * dps)
            yield pd.DataFrame(
                {"doc_id": np.concatenate(out) if out
                 else np.empty(0, dtype=np.int64)}
            )

    return dlens.mapInPandas(explode, schema="doc_id long")


def purge_deletes(spark: SparkSession, index_dir: str) -> None:
    """Physically remove tombstoned docs and restore exact global stats.

    Tombstones travel as per-shard bitmaps: the broadcast below holds the
    AFFECTED shards' bitmaps (docs_per_shard/8 bytes each, built by the
    distributed ``tombstone_bitmap_df`` job), never a global docID array —
    bounded by touched shards, not by delete count."""
    cfg = check_index_meta(index_dir, None)
    tomb_map = tombstone_bitmap_df(spark, index_dir, cfg)
    if tomb_map is None:
        return
    rows = tomb_map.collect()
    if not rows:
        return
    dps, bdocs = cfg.docs_per_shard, cfg.block_docs
    masks = {
        int(r["shard"]): np.unpackbits(
            np.frombuffer(bytes(r["tomb"]), dtype=np.uint8), bitorder="little"
        ).astype(bool)
        for r in rows
    }
    affected = sorted(masks)
    bmasks = spark.sparkContext.broadcast(masks)

    post = spark.read.parquet(f"{index_dir}/postings")
    dlens = spark.read.parquet(f"{index_dir}/doc_lens")

    # --- exact stat deltas: decode ONLY the deleted docs' postings/lengths ---
    def deltas(it):
        for pdf in it:
            t_out, df_out, cf_out = [], [], []
            for r in pdf.itertuples(index=False):
                base = r.shard * dps + r.block_id * bdocs
                ids = delta_decode(bytes(r.doc_deltas), base=base)
                hit = bmasks.value[r.shard][ids - r.shard * dps]
                if hit.any():
                    tfs = varint_decode(bytes(r.tfs)).astype(np.int64)
                    t_out.append(r.term)
                    df_out.append(int(hit.sum()))
                    cf_out.append(int(tfs[hit].sum()))
            yield pd.DataFrame({"term": t_out, "df_del": df_out, "cf_del": cf_out})

    stat_delta = (
        post.where(F.col("shard").isin(affected))
        .mapInPandas(deltas, schema="term string, df_del long, cf_del long")
        .groupBy("term")
        .agg(F.sum("df_del").alias("df_del"), F.sum("cf_del").alias("cf_del"))
    )

    old_ts = spark.read.parquet(f"{index_dir}/term_stats")
    old_cs = spark.read.parquet(f"{index_dir}/corpus_stats").first()

    # --- doc_lens: zero deleted LIVE positions; exact Σdl and doc-count
    # deltas. The live bitmap is what makes purge idempotent: tombstones for
    # nonexistent or already-purged docIDs clear nothing and change no stats.
    def fix_dlens(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples(index=False):
            dls = varint_decode(bytes(r.dls))
            live = np.unpackbits(
                np.frombuffer(bytes(r.live), dtype=np.uint8), bitorder="little"
            ).astype(bool)[: dls.size]
            m = bmasks.value.get(int(r.shard))
            if m is None:
                local = np.zeros(0, dtype=np.int64)
            else:
                # only genuinely-live docs count (bogus/stale tombstones noop)
                local = np.flatnonzero(m[: dls.size] & live)
            removed = int(dls[local].sum())
            dls = dls.copy()
            dls[local] = 0
            live = live.copy()
            live[local] = False
            out.append(
                (r.shard, int(dls.size), varint_encode(dls),
                 np.packbits(live, bitorder="little").tobytes(),
                 removed, int(local.size))
            )
        return pd.DataFrame(
            out,
            columns=["shard", "n_docs", "dls", "live", "dl_removed", "docs_removed"],
        )

    fixed_dlens = (
        dlens.where(F.col("shard").isin(affected))
        .groupBy("shard")
        .applyInPandas(
            lambda pdf: fix_dlens(pdf),
            schema="shard int, n_docs int, dls binary, live binary, "
                   "dl_removed long, docs_removed long",
        )
    ).persist()
    agg = fixed_dlens.agg(F.sum("dl_removed"), F.sum("docs_removed")).first()
    dl_removed = agg[0] or 0
    docs_removed = agg[1] or 0

    n_new = int(old_cs["n_docs"]) - int(docs_removed)
    total_dl_new = float(old_cs["avgdl"]) * int(old_cs["n_docs"]) - float(dl_removed)
    avgdl_new = (total_dl_new / n_new) if n_new else 1.0
    if docs_removed == 0:
        # every tombstone was bogus/stale — drop them, touch nothing else
        import shutil

        shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
        fixed_dlens.unpersist()
        return

    new_ts = (
        old_ts.join(stat_delta, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("df_del"), F.lit(0))).alias("df"),
            (F.col("cf") - F.coalesce(F.col("cf_del"), F.lit(0))).alias("cf"),
        )
        .where(F.col("df") > 0)
        .withColumn("idf", bm25.idf_col(F.col("df"), n_new))
    ).persist()

    # --- rewrite affected shards without tombstoned postings -----------------
    def strip(it):
        from bloqsenjin_spark.functions.codec import (
            segmented_delta_decode,
            segmented_delta_encode,
        )

        for pdf in it:
            has_pos_col = "positions" in pdf.columns
            rows = []
            for r in pdf.itertuples(index=False):
                base = r.shard * dps + r.block_id * bdocs
                ids = delta_decode(bytes(r.doc_deltas), base=base)
                keep = ~bmasks.value[r.shard][ids - r.shard * dps]
                if not keep.any():
                    continue
                tfs = varint_decode(bytes(r.tfs)).astype(np.int64)
                rp = r.positions if has_pos_col else None
                if rp is not None:
                    # drop the deleted docs' position segments, keep the rest
                    flat = segmented_delta_decode(bytes(rp), tfs)
                    offs = np.concatenate(([0], np.cumsum(tfs)))
                    kept = [
                        flat[offs[j]:offs[j + 1]]
                        for j in np.flatnonzero(keep)
                    ]
                    pos_blob = segmented_delta_encode(
                        np.concatenate(kept), tfs[keep]
                    )
                else:
                    pos_blob = None
                rows.append(
                    (r.term, r.shard, r.block_id, int(keep.sum()),
                     int(ids[keep][0]), int(ids[keep][-1]),
                     delta_encode(ids[keep], base=base),
                     varint_encode(tfs[keep].astype(np.uint64)),
                     int(tfs[keep].max()), float(r.block_max_score),
                     pos_blob)
                )
            cols = ["term", "shard", "block_id", "n_docs", "first_doc",
                    "last_doc", "doc_deltas", "tfs", "block_max_tf",
                    "block_max_score", "positions"]
            out = pd.DataFrame(rows, columns=cols)
            if not has_pos_col:
                out = out.drop(columns=["positions"])
            yield out

    stripped_affected = post.where(F.col("shard").isin(affected)).mapInPandas(
        strip, schema=post.schema
    )
    untouched = post.where(~F.col("shard").isin(affected))
    all_dlens = fixed_dlens.select("shard", "n_docs", "dls", "live").unionByName(
        dlens.where(~F.col("shard").isin(affected))
    )
    # merge pass refreshes block_max everywhere with the NEW idf/avgdl
    merged = merge_postings(
        stripped_affected.unionByName(untouched), all_dlens, new_ts, avgdl_new, cfg
    )

    # --- atomic-ish swap: write new tables, then replace ---------------------
    merged.repartition(F.col("shard")).write.partitionBy("shard").mode(
        "overwrite"
    ).parquet(f"{index_dir}/postings_new")
    all_dlens.repartition(F.col("shard")).write.partitionBy("shard").mode(
        "overwrite"
    ).parquet(f"{index_dir}/doc_lens_new")
    # term-sorted, like every term_stats write: lazy serving's pruned reads
    new_ts.repartitionByRange(8, F.col("term")).sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(f"{index_dir}/term_stats_new")

    import os
    import shutil

    # doc-store replica (serving snippets, plans.build.write_doc_store): drop
    # the purged docs' token rows from the AFFECTED shards — same broadcast
    # bitmaps, dynamic per-shard overwrite (purged docs can never rank, so
    # stale rows were correctness-harmless, but purge's contract is physical
    # removal and byte reclamation across every index table)
    if os.path.exists(f"{index_dir}/doc_store"):
        dstore = spark.read.parquet(f"{index_dir}/doc_store")

        def drop_dead(it):
            for pdf in it:
                ids = pdf["doc_id"].to_numpy()
                shs = pdf["shard"].to_numpy()
                keep = np.ones(len(pdf), dtype=bool)
                for s in np.unique(shs):
                    sel = shs == s
                    keep[sel] = ~bmasks.value[int(s)][ids[sel] - int(s) * dps]
                yield pdf[keep]

        # localCheckpoint cuts lineage: the dynamic overwrite below writes
        # the path this plan reads from
        survivors = (
            dstore.where(F.col("shard").isin(affected))
            .mapInPandas(drop_dead, schema=dstore.schema)
            .localCheckpoint(eager=True)
        )
        (
            survivors.repartition(F.col("shard"))
            .sortWithinPartitions("doc_id")
            .write.partitionBy("shard")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{index_dir}/doc_store")
        )
        # a fully-purged shard writes no partition, so dynamic overwrite
        # leaves its old directory — remove it explicitly
        alive = {int(r["shard"]) for r in survivors.select("shard").distinct().collect()}
        for s in affected:
            if s not in alive:
                shutil.rmtree(f"{index_dir}/doc_store/shard={s}",
                              ignore_errors=True)

    for t in ("postings", "doc_lens", "term_stats"):
        shutil.rmtree(f"{index_dir}/{t}")
        shutil.move(f"{index_dir}/{t}_new", f"{index_dir}/{t}")
    spark.createDataFrame([(n_new, avgdl_new)], "n_docs long, avgdl double").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/corpus_stats")
    shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
    write_index_meta(spark, index_dir, cfg)  # content bump: docs removed
    # the doc-store repair above keeps that replica CURRENT through the
    # purge — re-stamp it fresh; the fuzzy replica is NOT repaired (purge
    # can shrink the vocabulary), so it correctly reads as stale until
    # write_fuzzy_index reruns
    import os as _os

    from bloqsenjin_spark.plans.build import _stamp_replica

    if _os.path.exists(f"{index_dir}/doc_store"):
        _stamp_replica(spark, index_dir, "doc_store_meta", cfg)
    fixed_dlens.unpersist()
    new_ts.unpersist()
