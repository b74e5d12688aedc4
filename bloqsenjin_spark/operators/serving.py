"""Low-latency serving tier: answer top-k BM25 queries from the persisted
index WITHOUT launching a Spark job.

A search engine doesn't run a distributed job per query — it serves queries
from index replicas. This module is that tier: it reads the query terms'
posting blocks straight from the index files via pyarrow dataset predicate
pushdown (`term IN (...)` prunes to the relevant row groups, same pruning the
Spark path gets) and scores with the SAME NumPy kernel as the distributed
scorer (functions/scoring.py) — rank-identical by construction, pytest-pinned.

Scale shape: one server process owns a doc-range slice of shards (its
doc_lens arrays fit by construction: docs_per_shard × n_local_shards bytes);
a query fans out to the slice owners and merges partial top-k — exactly the
per-shard-partial + global-merge structure of the distributed path. In this
sandbox a single process holds all shards.

Latency: ~milliseconds per query vs ~1 s for a Spark job (bench.py reports
both as p95_query_sec / p95_serving_sec).
"""

from __future__ import annotations

from itertools import islice

import numpy as np

from bloqsenjin_spark.config import DEFAULT_CONFIG, IndexConfig
from bloqsenjin_spark.functions.codec import varint_decode
from bloqsenjin_spark.functions.scoring import (
    _check_boosts,
    global_topk,
    score_shard_blocks,
)


def _deepen_queries(queries, offsets, k_index: int):
    """Deepen each query's k by its offset — rank at depth offset+k so the
    page slice is exact (bm25_topk_paged's argument). ONE implementation
    for every serving deep-paging form; ``k_index`` is the k slot in the
    form's query tuples."""
    return [
        q[:k_index] + (int(q[k_index]) + int(offsets.get(int(q[0]), 0)),)
        + tuple(q[k_index + 1:])
        for q in queries
    ]


def _page_slice(rows, queries, offsets, k_index: int):
    """Keep page (offset, offset+k] of globally-ranked result rows —
    _deepen_queries' other half."""
    kmap = {int(q[0]): int(q[k_index]) for q in queries}
    return [
        r for r in rows
        if offsets.get(r[0], 0) < r[1] <= offsets.get(r[0], 0) + kmap[r[0]]
    ]


_MISSING = object()


class _BoundedLRU(dict):
    """Minimal bounded LRU for the scorer's decoded-block cache: plain dict
    get/set semantics (what functions.scoring.score_shard_blocks expects of
    its ``decode_cache``), recency tracked by re-insertion, eviction on
    insert. Shared MUTABLY by _snap() copies like the other serving caches
    (a snapshot warming the cache warms the server — same generation, same
    bytes)."""

    def __init__(self, maxsize: int):
        super().__init__()
        self.maxsize = maxsize

    def get(self, key, default=None):
        # dicts preserve insertion order: re-insert = mark recently used.
        # pop + re-insert rather than get + del: a thread that loses the race
        # for the same key sees a miss instead of a KeyError, with no lock
        # on this per-block path.
        got = self.pop(key, _MISSING)
        if got is _MISSING:
            return default
        super().__setitem__(key, got)
        return got

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        excess = len(self) - self.maxsize
        if excess > 0:
            # evict oldest entries (front of insertion order), lock-free: if
            # another thread resizes the dict during this pass, this insert
            # evicts nothing and the next one catches up; pop() tolerates a
            # key another thread removed first
            try:
                oldest = list(islice(self, excess))
            except RuntimeError:
                return
            for k in oldest:
                self.pop(k, None)


def _bounded(cache: "_BoundedLRU", n_rows: int):
    """Cap-aware cache admission: a batch whose candidate block rows exceed
    the LRU capacity would pure-scan-thrash it (every get a miss PLUS
    insert+evict overhead per block — measured SLOWER than no cache on a
    1M-doc count batch), so such a batch bypasses the cache and uses the
    kernel's call-local memo instead."""
    return cache if n_rows <= cache.maxsize else None


class IndexServer:
    """Serve top-k queries from an on-disk index directory (plans/build.py
    layout). Loads stats + doc lengths once; posting blocks are read per query
    with predicate pushdown (optionally memoized via ``cache_terms``)."""

    def __init__(self, index_dir: str, cfg: IndexConfig | None = None,
                 cache_terms: bool = True, max_cached_terms: int = 65536,
                 max_cached_blocks: int = 8192, auto_refresh: bool = False,
                 shards=None, stats_mode: str = "eager",
                 allow_fuzzy_scan: bool = False,
                 max_cached_score_blocks: int = 65536):
        if stats_mode not in ("eager", "lazy"):
            raise ValueError(f"stats_mode must be 'eager' or 'lazy', got {stats_mode!r}")
        # allow_fuzzy_scan: opt-in escape hatch for lazy-mode fuzzy queries
        # whose distance exceeds the on-disk replica's build distance — an
        # O(vocabulary) streaming scan per word. Default OFF: the latency
        # tier refuses loudly (build the deeper replica) rather than
        # silently degrading to a vocabulary pass.
        self.allow_fuzzy_scan = allow_fuzzy_scan
        self.index_dir = index_dir
        self._cfg_arg = cfg
        self._cache_terms = cache_terms
        # stats_mode='lazy': do NOT load the term→idf/df dictionaries — per
        # batch, the needed terms are read from the term-sorted term_stats
        # parquet (row-group-pruned) through a bounded LRU, and fuzzy
        # candidates come from the opt-in on-disk deletion-bucket table
        # (plans.build.write_fuzzy_index). Resident memory is O(LRU), not
        # O(vocabulary) — the web-vocab deployment shape; 'eager' (default)
        # keeps the round-5 whole-dict replica for small-vocab latency.
        self._stats_mode = stats_mode
        # shards: this server's doc-range SLICE (None = all). A slice owner
        # holds only its shards' doc_lens/tombstone arrays and its posting
        # reads carry a shard predicate — the multi-server deployment shape
        # from the module docstring, made executable: a frontend fans a query
        # to the slice owners and merges partials with merge_topk (exact:
        # every global winner wins its own slice).
        self._owned = (frozenset(int(x) for x in shards)
                       if shards is not None else None)
        self.max_cached_terms = max_cached_terms
        self.max_cached_blocks = max_cached_blocks
        # decoded (doc_ids, tfs) BM25 block LRU shared across query batches
        # (the scorer twin of the positional _block_cache; round-9
        # follow-up: decode was 40-60 % of a warm 1M-doc batch profile).
        # Bound: ≤ 16 B × block_docs per entry ⇒ default ≤ 512 MB worst
        # case at block_docs=512, typically tens of MB (sparse blocks);
        # sized so a 12-head-term batch over ~1M docs stays under the cap
        # (≈ 39k block rows) — batches whose row count exceeds the cap
        # BYPASS the cache entirely (see _bounded) instead of scan-
        # thrashing it
        self.max_cached_score_blocks = max_cached_score_blocks
        # auto_refresh: poll the generation stamp at the start of every batch
        # entry point (one tiny parquet read) instead of relying on explicit
        # refresh() calls — the opt-in always-fresh mode
        self.auto_refresh = auto_refresh
        self.__dict__.update(self._read_state())

    def _read_state(self) -> dict:
        """Load every generation-dependent attribute into a dict — applied
        with ONE __dict__.update so refresh() swaps the whole state (stats,
        doc_lens, tombstones, fresh empty caches) atomically under the GIL.
        Per-BATCH consistency comes from _snap(): every public batch method
        runs on a shallow copy that pins this state for its duration, so a
        concurrent refresh can never tear an in-flight batch across
        generations."""
        import pyarrow.dataset as ds

        from bloqsenjin_spark.plans.build import (
            check_index_meta,
            read_index_content_generation,
            read_index_generation,
        )

        index_dir = self.index_dir
        st: dict = {"_ds": ds}
        # generation read FIRST: a writer committing mid-load makes this
        # snapshot look older than it is, so the next refresh() reloads —
        # conservative, never stale-forever
        st["generation"] = read_index_generation(index_dir)
        # content stamp gates the opt-in replicas (doc store, fuzzy
        # buckets): a replica built before the last CONTENT mutation must
        # not silently serve old rows (_doc_store_ds / _fuzzy_handle)
        st["content_generation"] = read_index_content_generation(index_dir)
        st["cfg"] = cfg = check_index_meta(index_dir, self._cfg_arg)
        st["_postings"] = ds.dataset(f"{index_dir}/postings", format="parquet",
                                     partitioning="hive")
        cs = ds.dataset(f"{index_dir}/corpus_stats", format="parquet").to_table().to_pydict()
        st["n_docs"] = int(cs["n_docs"][0])
        st["avgdl"] = float(cs["avgdl"][0])
        st["_ts_ds"] = ds.dataset(f"{index_dir}/term_stats", format="parquet")
        if self._stats_mode == "eager":
            ts = st["_ts_ds"].to_table(columns=["term", "df", "idf"]).to_pydict()
            st["idf"] = dict(zip(ts["term"], (float(x) for x in ts["idf"])))
            # df drives prefix expansion ranking (df DESC, term ASC) — kept as
            # a separate dict so the idf hot path stays a str→float lookup
            st["df"] = dict(zip(ts["term"], (int(x) for x in ts["df"])))
            st["_stats_lru"] = None
        else:
            # lazy: no dictionary residency; per-term (df, idf) flows through
            # a bounded LRU backed by row-group-pruned term_stats reads
            st["idf"] = None
            st["df"] = None
            from collections import OrderedDict as _OD

            st["_stats_lru"] = _OD()
        # replica dataset handles (doc store, fuzzy buckets), lazily opened
        # ONCE per generation. A shared MUTABLE dict — _snap() batches are
        # shallow copies, so rebinding an attribute on the copy would throw
        # the handle away and re-open + re-staleness-check parquet on every
        # batch; mutating this dict persists to the parent (same mechanism
        # as _fuzzy_idx / the LRU caches)
        st["_replica_handles"] = {}
        dl = ds.dataset(f"{index_dir}/doc_lens", format="parquet",
                        partitioning="hive").to_table().to_pydict()
        owned = self._owned
        st["dls"] = {
            int(s): varint_decode(bytes(b)).astype(np.float64)
            for s, b in zip(dl["shard"], dl["dls"])
            if owned is None or int(s) in owned
        }
        # logical deletes (LSM tombstones) — per-SHARD boolean masks, the
        # serving-side form of plans.deletes.tombstone_bitmap_df: a server
        # owning a doc-range slice holds only its own shards' masks (same
        # bound as its doc_lens arrays), masked before top-k selection
        tomb_masks: dict[int, np.ndarray] = {}
        dps = cfg.docs_per_shard
        try:
            tt = ds.dataset(f"{index_dir}/tombstones", format="parquet").to_table()
            ids = np.unique(
                np.asarray(tt.column("doc_id").to_pylist(), dtype=np.int64))
            for s in np.unique(ids // dps):
                if owned is not None and int(s) not in owned:
                    continue
                m = np.zeros(dps, dtype=bool)
                m[ids[ids // dps == s] - s * dps] = True
                tomb_masks[int(s)] = m
        except FileNotFoundError:
            pass
        st["tomb_masks"] = tomb_masks
        from collections import OrderedDict

        # LRU caches, bounded so a long-lived server over a web-scale
        # vocabulary can't grow without limit: per-term posting rows for the
        # BM25 path and (separately, positional columns) for the phrase path,
        # plus decoded positional blocks reused across phrase_batch calls.
        # Rebuilt empty on refresh: cached rows belong to the old generation.
        st["_term_cache"] = OrderedDict() if self._cache_terms else None
        st["_pos_term_cache"] = OrderedDict() if self._cache_terms else None
        st["_block_cache"] = OrderedDict()
        st["_score_block_cache"] = _BoundedLRU(self.max_cached_score_blocks)
        # match-core twin (bare doc-id arrays for count/facet batches) —
        # a separate mapping from the scorer's (ids, tfs) entries
        st["_match_block_cache"] = _BoundedLRU(self.max_cached_score_blocks)
        # SymSpell deletion-neighborhood indexes, built lazily per distinct
        # max_dist on first fuzzy query of a generation (shared by snapshots;
        # refresh() drops them with the rest of the state)
        st["_fuzzy_idx"] = {}
        return st

    def refresh(self, force: bool = False) -> bool:
        """Pick up a new index generation (build resume, streaming compact,
        delete, purge — anything that rewrote index_meta): one tiny
        generation read; on change, reload stats/doc_lens/tombstones and
        invalidate every cache in a single atomic state swap. Returns True
        iff a reload happened. Until refresh() is called the server keeps
        serving its loaded generation — never a torn mix of two (append-only
        mutations like logical deletes leave even cold reads consistent;
        destructive rewrites like purge/compact require refresh before
        further cold reads since the old files are gone). This is the
        non-pathological version of the reference's re-init-per-request
        (/root/reference/pkg/rest/http/server.go:16-35)."""
        from bloqsenjin_spark.plans.build import read_index_generation

        if not force and read_index_generation(self.index_dir) == self.generation:
            return False
        self.__dict__.update(self._read_state())
        return True

    def _snap(self) -> "IndexServer":
        """Freeze ONE batch's view of the server: auto_refresh polls first,
        then a shallow copy pins every generation-dependent attribute (stats,
        doc_lens, tombstones, caches, dictionary) for the batch's duration —
        a concurrent refresh() swaps the ORIGINAL object's state atomically
        while the in-flight batch keeps its consistent snapshot, so no batch
        ever mixes two generations (including prefix/fuzzy expansion, which
        reads the dictionary before scoring). Caches are shared by reference
        until a refresh replaces them, so warm-cache benefits persist."""
        import copy

        if self.auto_refresh:
            self.refresh()
        snap = copy.copy(self)
        snap.auto_refresh = False
        snap._is_snap = True
        return snap

    _is_snap = False
    _BM25_COLS = ("term", "shard", "block_id", "block_max_score",
                  "doc_deltas", "tfs")
    _POS_COLS = ("term", "shard", "block_id", "doc_deltas", "tfs", "positions")

    def _decode_pos_block(self, tbl: dict, i: int, term: str,
                          shard: int, bid: int) -> tuple:
        """Decode one positional posting block → (doc_ids, flat_positions,
        offsets), via the cross-call LRU keyed (term, shard, block) — row
        indices are call-local. ONE implementation shared by the phrase and
        highlight paths so cache/offset fixes can't drift between them."""
        from bloqsenjin_spark.functions.codec import segmented_delta_decode

        key = (term, shard, bid)
        got = self._block_cache.get(key)
        if got is None:
            base = shard * self.cfg.docs_per_shard + bid * self.cfg.block_docs
            gaps = varint_decode(bytes(tbl["doc_deltas"][i])).astype(np.int64)
            gaps[0] += base
            ids = np.cumsum(gaps)
            tfs = varint_decode(bytes(tbl["tfs"][i])).astype(np.int64)
            flat = segmented_delta_decode(bytes(tbl["positions"][i]), tfs)
            offs = np.concatenate(([0], np.cumsum(tfs)))
            got = self._block_cache[key] = (ids, flat, offs)
            while len(self._block_cache) > self.max_cached_blocks:
                self._block_cache.popitem(last=False)
        else:
            self._block_cache.move_to_end(key)
        return got

    def _load_terms(self, terms: list[str], positional: bool = False) -> dict:
        """term-filtered block rows → column arrays, via a bounded per-term
        LRU (separate caches for the BM25 and positional column sets)."""
        cache = self._pos_term_cache if positional else self._term_cache
        cols = self._POS_COLS if positional else self._BM25_COLS
        if cache is None and not terms:
            return {k: [] for k in cols}
        need = [t for t in terms if cache is None or t not in cache]
        if need:
            flt = self._ds.field("term").isin(need)
            if self._owned is not None:
                flt = flt & self._ds.field("shard").isin(sorted(self._owned))
            tbl = self._postings.to_table(
                filter=flt, columns=list(cols)
            ).to_pydict()
            if cache is None:
                return tbl
            by_term: dict[str, dict] = {t: {k: [] for k in tbl} for t in need}
            for i, t in enumerate(tbl["term"]):
                for k in tbl:
                    by_term[t][k].append(tbl[k][i])
            for t in need:
                cache[t] = by_term.get(t, {k: [] for k in tbl})
        merged: dict[str, list] = {k: [] for k in cols}
        for t in terms:
            part = cache.get(t)
            if part is not None:
                cache.move_to_end(t)
                for k in merged:
                    merged[k].extend(part[k])
        while len(cache) > self.max_cached_terms:
            cache.popitem(last=False)
        return merged

    def _stats_for(self, terms) -> dict:
        """→ {term: (df, idf)} for the requested terms (absent vocabulary
        terms omitted). Eager mode: dict lookups. Lazy mode: bounded LRU +
        ONE row-group-pruned pyarrow read for the misses (term_stats is
        term-sorted parquet) — resident stats stay O(max_cached_terms)
        regardless of vocabulary size. Known-absent terms are cached as None
        so repeated misses don't re-read."""
        if self.df is not None:
            return {
                t: (self.df[t], self.idf[t]) for t in terms if t in self.df
            }
        lru = self._stats_lru
        out: dict = {}
        need: list[str] = []
        for t in dict.fromkeys(terms):
            if t in lru:
                lru.move_to_end(t)
                if lru[t] is not None:
                    out[t] = lru[t]
            else:
                need.append(t)
        if need:
            tbl = self._ts_ds.to_table(
                filter=self._ds.field("term").isin(need),
                columns=["term", "df", "idf"],
            ).to_pydict()
            for t, dfv, idfv in zip(tbl["term"], tbl["df"], tbl["idf"]):
                out[t] = lru[t] = (int(dfv), float(idfv))
            for t in need:
                if t not in lru:
                    lru[t] = None  # negative-cache absent terms
            while len(lru) > self.max_cached_terms:
                lru.popitem(last=False)
        return out

    def _idf_for(self, terms) -> dict:
        """→ {term: idf} subset for a batch's terms (both stats modes)."""
        return {t: v[1] for t, v in self._stats_for(terms).items()}

    def _prefix_candidates(self, prefix: str) -> list:
        """→ [(term, df)] of vocabulary terms with ``prefix``. Eager: scan
        the loaded df dict. Lazy: ONE ranged pyarrow read — term_stats is
        term-sorted, so row-group min/max stats prune the scan to the
        prefix's range (the read is a superset bounded by the next-character
        bump; an exact startswith post-filter trims edge rows)."""
        if self.df is not None:
            return [(t, self.df[t]) for t in self.df if t.startswith(prefix)]
        fld = self._ds.field("term")
        if prefix:
            flt = fld >= prefix
            bump = ord(prefix[-1]) + 1
            # upper range bound: skip when the bumped char is unencodable
            # (surrogates D800–DFFF, or past the last code point) — the
            # >= bound alone stays correct, post-filter trims
            if bump <= 0x10FFFF and not (0xD800 <= bump <= 0xDFFF):
                flt = flt & (fld < prefix[:-1] + chr(bump))
            tbl = self._ts_ds.to_table(
                filter=flt, columns=["term", "df"]).to_pydict()
        else:
            tbl = self._ts_ds.to_table(columns=["term", "df"]).to_pydict()
        return [
            (t, int(d)) for t, d in zip(tbl["term"], tbl["df"])
            if t.startswith(prefix)
        ]

    def _allow_masks(self, allowed_doc_ids) -> "dict[int, np.ndarray] | None":
        """Per-shard allow bitmaps from any docID iterable (serving-side form
        of bm25_topk_filtered's allow bitmaps, e.g. an ACL set)."""
        if allowed_doc_ids is None:
            return None
        dps = self.cfg.docs_per_shard
        ids = np.unique(np.fromiter(
            (int(d) for d in allowed_doc_ids), dtype=np.int64))
        masks: dict[int, np.ndarray] = {}
        for sh in np.unique(ids // dps):
            m = np.zeros(dps, dtype=bool)
            m[ids[ids // dps == sh] - sh * dps] = True
            masks[int(sh)] = m
        return masks

    def _excl_mask(self, shard: int, allow_masks) -> tuple:
        """→ (mask, skip): one shard's combined tombstone+allow exclusion;
        skip=True when an allow-set is in force and the shard has no allowed
        docs (nothing to decode)."""
        tm = self.tomb_masks.get(shard)
        if allow_masks is not None:
            am = allow_masks.get(shard)
            if am is None:
                return None, True
            tm = ~am if tm is None else (~am | tm)
        return tm, False

    def query_batch(
        self, queries: list[tuple[int, list[str], str, int]],
        allowed_doc_ids=None, excluded_doc_ids=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — rank-identical to
        operators/wand.bm25_wand_topk on the same index. Queries may carry a
        5th element (MUST_NOT terms) and a 6th (per-term boost dict — shared
        kernel, pruning stays exact). ``allowed_doc_ids`` (any int iterable)
        restricts ranking to those docs — the serving-side form of
        bm25_topk_filtered's allow bitmaps, e.g. an ACL set.
        ``excluded_doc_ids``: a batch-wide exclusion set masked like
        tombstones BEFORE top-k (exact) — the serving twin of
        wand.bm25_topk_must_not_phrase's exclusion bitmap (callers derive
        it from phrase_batch/near_batch for MUST_NOT-phrase queries)."""
        if not self._is_snap:
            return self._snap().query_batch(
                queries, allowed_doc_ids=allowed_doc_ids,
                excluded_doc_ids=excluded_doc_ids)
        _check_boosts(queries)
        all_terms = sorted(
            {t for q in queries for t in q[1]}
            | {t for q in queries if len(q) > 4 and q[4] for t in q[4]}
        )
        allow_masks = self._allow_masks(allowed_doc_ids)
        excl_masks = self._allow_masks(excluded_doc_ids)
        # eager: the whole-dict replica IS the idf map; lazy: one pruned
        # stats read for this batch's terms
        idf_map = self.idf if self.idf is not None else self._idf_for(all_terms)
        tbl = self._load_terms(all_terms)
        if not tbl["term"]:
            return []
        shards = np.asarray(tbl["shard"], dtype=np.int64)
        terms = np.asarray(tbl["term"], dtype=object)
        bids = np.asarray(tbl["block_id"], dtype=np.int64)
        bmax = np.asarray(tbl["block_max_score"], dtype=np.float64)
        deltas = np.asarray(tbl["doc_deltas"], dtype=object)
        tfs = np.asarray(tbl["tfs"], dtype=object)
        dcache = _bounded(self._score_block_cache, terms.size)

        q_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        s_parts: list[np.ndarray] = []
        for shard in np.unique(shards):
            m = shards == shard
            tm, skip = self._excl_mask(int(shard), allow_masks)
            if skip:
                continue  # no eligible docs in this shard
            if excl_masks is not None:
                em = excl_masks.get(int(shard))
                if em is not None:
                    tm = em.copy() if tm is None else (tm | em)
            oq, od, os_ = score_shard_blocks(
                int(shard), terms[m], bids[m], bmax[m], deltas[m], tfs[m],
                self.dls[int(shard)], queries, idf_map, self.avgdl, self.cfg,
                tomb_mask=tm, decode_cache=dcache,
            )
            q_parts.extend(oq)
            d_parts.extend(od)
            s_parts.extend(os_)
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts), queries,
        )

    def query(self, terms: list[str], mode: str = "disjunctive", k: int = 10):
        return self.query_batch([(0, terms, mode, k)])

    def paged_batch(
        self, queries: list, offsets: dict[int, int], allowed_doc_ids=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ page (offset, offset+k] of each ranking with GLOBAL ranks —
        identical to operators/wand.bm25_topk_paged: rank at depth offset+k,
        slice the page."""
        rows = self.query_batch(_deepen_queries(queries, offsets, 3),
                                allowed_doc_ids=allowed_doc_ids)
        return _page_slice(rows, queries, offsets, 3)

    def prefix_topk_batch(
        self, prefix_queries: list[tuple[int, str, int]],
        max_expansions: int = 100, allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — prefix-expanded top-k,
        rank-identical to operators/wand.prefix_bm25_topk on the same index.
        Expansion is a scan of the ALREADY-LOADED dictionary replica (the
        df dict — no file I/O, no Spark job), same rule as the distributed
        path: df DESC, term ASC, capped at ``max_expansions``."""
        if len({q[0] for q in prefix_queries}) != len(prefix_queries):
            raise ValueError("duplicate query_ids in prefix_queries")
        if not self._is_snap:
            return self._snap().prefix_topk_batch(
                prefix_queries, max_expansions=max_expansions,
                allowed_doc_ids=allowed_doc_ids, offsets=offsets,
                must_not=must_not)
        negs = must_not or {}
        queries = []
        for qid, prefix, k in prefix_queries:
            cands = self._prefix_candidates(str(prefix))
            cands.sort(key=lambda td: (-td[1], td[0]))
            terms = [t for t, _d in cands[:max_expansions]]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k),
                                tuple(negs.get(int(qid), ()))))
        if not queries:
            return []
        if offsets:  # deep paging over the expanded batch (paged_batch rule)
            return self.paged_batch(queries, offsets,
                                    allowed_doc_ids=allowed_doc_ids)
        return self.query_batch(queries, allowed_doc_ids=allowed_doc_ids)

    def mlt_topk_batch(
        self, mlt_queries: list[tuple[int, int, int]],
        max_query_terms: int = 25, min_term_freq: int = 1,
        min_doc_freq: int = 1, allowed_doc_ids=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — More-Like-This, result-
        identical to operators/mlt.more_like_this_topk on the same index
        (pytest-pinned): seed tokens come from the DOC-STORE replica (one
        shard-pruned pyarrow read for the whole batch), representative
        terms are selected by the shared integer-exact rule (tf DESC,
        df ASC, term ASC; df from _stats_for — LRU-bounded in lazy mode),
        ranking is one ordinary disjunctive batch at depth k+1 with the
        seed dropped and ranks renumbered."""
        from collections import Counter

        if len({q[0] for q in mlt_queries}) != len(mlt_queries):
            raise ValueError("duplicate query_ids in mlt_queries")
        if not self._is_snap:
            return self._snap().mlt_topk_batch(
                mlt_queries, max_query_terms=max_query_terms,
                min_term_freq=min_term_freq, min_doc_freq=min_doc_freq,
                allowed_doc_ids=allowed_doc_ids)
        dps = self.cfg.docs_per_shard
        need = sorted({int(s) for _q, s, _k in mlt_queries})
        store = self._doc_store_ds()
        filt = self._ds.field("shard").isin(
            sorted({d // dps for d in need})
        ) & self._ds.field("doc_id").isin(need)
        t = store.to_table(columns=["doc_id", "toks"], filter=filt)
        toks_by_doc = dict(zip(t["doc_id"].to_pylist(),
                               t["toks"].to_pylist()))
        all_terms = sorted({tt for toks in toks_by_doc.values()
                            for tt in toks})
        dfs = {tt: v[0] for tt, v in self._stats_for(all_terms).items()}
        queries = []
        for qid, seed, k in mlt_queries:
            tf = Counter(toks_by_doc.get(int(seed), ()))
            cands = sorted(
                ((tt, n) for tt, n in tf.items()
                 if n >= int(min_term_freq)
                 and dfs.get(tt, 0) >= int(min_doc_freq)),
                key=lambda tn: (-tn[1], dfs[tn[0]], tn[0]),
            )
            terms = [tt for tt, _n in cands[:int(max_query_terms)]]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k) + 1))
        if not queries:
            return []
        rows = self.query_batch(queries, allowed_doc_ids=allowed_doc_ids)
        seed_map = {int(q[0]): int(q[1]) for q in mlt_queries}
        kmap = {int(q[0]): int(q[2]) for q in mlt_queries}
        out: list[tuple[int, int, int, float]] = []
        nxt: dict[int, int] = {}
        for qid, _rank, doc, score in sorted(rows,
                                             key=lambda r: (r[0], r[1])):
            if doc == seed_map[qid]:
                continue
            r = nxt.get(qid, 0) + 1
            nxt[qid] = r
            if r <= kmap[qid]:
                out.append((qid, r, doc, score))
        return out

    def _wildcard_candidates(self, pattern: str) -> list:
        """→ [(term, df)] matching a wildcard pattern: the literal prefix
        prunes the dictionary (eager dict scan / lazy row-group-pruned
        range read — the SAME _prefix_candidates machinery), the anchored
        regex is the exact filter. Leading wildcards refuse loudly in both
        stats modes (a full-vocabulary scan per query is never the latency
        tier's job — Lucene's allowLeadingWildcard=false default)."""
        import re as _re

        from bloqsenjin_spark.operators.wand import wildcard_parts

        prefix, rx = wildcard_parts(pattern)
        if not prefix:
            raise ValueError(
                f"leading wildcard in pattern {pattern!r} forces a "
                "full-vocabulary scan — anchor the pattern with at least "
                "one literal character"
            )
        crx = _re.compile(rx)
        return [(t, d) for t, d in self._prefix_candidates(prefix)
                if crx.match(t)]

    def wildcard_topk_batch(
        self, wc_queries: list[tuple[int, str, int]],
        max_expansions: int = 100, allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — wildcard-expanded top-k,
        rank-identical to operators/wand.wildcard_bm25_topk on the same
        index (pytest-pinned): prefix-pruned candidates, regex filter,
        df DESC / term ASC cap, one disjunctive ranking batch."""
        if len({q[0] for q in wc_queries}) != len(wc_queries):
            raise ValueError("duplicate query_ids in wc_queries")
        if not self._is_snap:
            return self._snap().wildcard_topk_batch(
                wc_queries, max_expansions=max_expansions,
                allowed_doc_ids=allowed_doc_ids, offsets=offsets,
                must_not=must_not)
        negs = must_not or {}
        queries = []
        for qid, pattern, k in wc_queries:
            cands = self._wildcard_candidates(str(pattern))
            cands.sort(key=lambda td: (-td[1], td[0]))
            terms = [t for t, _d in cands[:max_expansions]]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k),
                                tuple(negs.get(int(qid), ()))))
        if not queries:
            return []
        if offsets:
            return self.paged_batch(queries, offsets,
                                    allowed_doc_ids=allowed_doc_ids)
        return self.query_batch(queries, allowed_doc_ids=allowed_doc_ids)

    def _phrase_hit_blocks(self, parsed, ordered: bool = True,
                           allow_masks=None):
        """Shared phrase/proximity machinery over (qid, toks, slop) triples:
        yields (qid, uniq_terms, shard, hits, per_term) for every block with
        ≥1 verified, tombstone- and allow-masked match (``allow_masks``:
        per-shard allow bitmaps from _allow_masks — the ACL form)."""
        from bloqsenjin_spark.functions.scoring import (
            near_verify_block_unordered,
            phrase_verify_block,
        )

        verify_fn = phrase_verify_block if ordered else near_verify_block_unordered

        if not self.cfg.positions:
            raise ValueError(
                "phrase serving needs a positional index — build with "
                "IndexConfig(positions=True)"
            )
        all_terms = sorted({t for _, toks, _ in parsed for t in toks})
        if not all_terms:
            return
        tbl = self._load_terms(all_terms, positional=True)
        by_term: dict[str, dict[tuple[int, int], int]] = {}
        for i, (t, s, b) in enumerate(zip(tbl["term"], tbl["shard"], tbl["block_id"])):
            by_term.setdefault(t, {})[(int(s), int(b))] = i
        dps, bdocs = self.cfg.docs_per_shard, self.cfg.block_docs
        decode = lambda i, term, shard, bid: self._decode_pos_block(  # noqa: E731
            tbl, i, term, shard, bid)

        for qid, toks, slop in parsed:
            uniq = list(dict.fromkeys(toks))
            maps = [by_term.get(t) for t in uniq]
            if any(m is None for m in maps):
                continue
            blocks = set(maps[0])
            for m in maps[1:]:
                blocks &= set(m)
            for shard, bid in sorted(blocks):
                per_term = {
                    t: decode(m[(shard, bid)], t, shard, bid)
                    for t, m in zip(uniq, maps)
                }
                base = shard * dps + bid * bdocs
                hits = verify_fn(per_term, toks, base, slop)
                tm = self.tomb_masks.get(shard)
                if tm is not None and hits.size:
                    hits = hits[~tm[hits - shard * dps]]
                if allow_masks is not None and hits.size:
                    am = allow_masks.get(shard)
                    hits = (hits[am[hits - shard * dps]]
                            if am is not None
                            else hits[:0])
                if hits.size:
                    yield qid, uniq, shard, hits, per_term

    def phrase_batch(self, phrases: list[tuple[int, str]],
                     allowed_doc_ids=None) -> list[tuple[int, int]]:
        """→ [(query_id, doc_id)] — exact phrase matches, identical results to
        operators/wand.phrase_match_positional on the same index. Requires a
        positions=True index; the positional payload is read ONLY here (the
        BM25 path never touches it)."""
        return self.near_batch([(qid, p, 0) for qid, p in phrases],
                               allowed_doc_ids=allowed_doc_ids)

    def near_batch(
        self, near_queries: list[tuple[int, str, int]], ordered: bool = True,
        allowed_doc_ids=None,
    ) -> list[tuple[int, int]]:
        """→ [(query_id, doc_id)] — proximity matches ((query_id, phrase,
        slop)), identical results to operators/wand.near_match_positional on
        the same index. ``ordered=True``: tokens in order, ≤ slop intervening
        positions between consecutive tokens (slop=0 ≡ phrase_batch);
        ``ordered=False``: all distinct terms in any order within a window of
        width (len(tokens)−1)·(slop+1) — a superset of the ordered match."""
        from bloqsenjin_spark.operators.wand import _parse_phrases

        if not self._is_snap:
            return self._snap().near_batch(near_queries, ordered=ordered,
                                           allowed_doc_ids=allowed_doc_ids)
        slops = {int(qid): int(s) for qid, _p, s in near_queries}
        if len(slops) != len(near_queries):
            raise ValueError("duplicate query_ids in a phrase/proximity batch")
        parsed = [
            (qid, toks, slops[qid])
            for qid, toks in _parse_phrases([(q, p) for q, p, _s in near_queries])
        ]
        out: list[tuple[int, int]] = []
        for qid, _uniq, _shard, hits, _pt in self._phrase_hit_blocks(
                parsed, ordered=ordered,
                allow_masks=self._allow_masks(allowed_doc_ids)):
            out.extend((qid, int(d)) for d in hits)
        return sorted(out)

    def _phrase_scored_hits(self, parsed, ordered, allow_masks):
        """Yield (qid, hits, score) for every verified phrase/proximity
        match of a parsed batch, scored with THIS index's stats (BM25 over
        the deduped terms from the same decoded positional blocks, summed
        in sorted-term order) — the scoring core shared by
        phrase_topk_batch and FieldedIndexServer.phrase_topk_batch_cross.
        Must run on a snapshot."""
        from bloqsenjin_spark.functions import bm25

        dps = self.cfg.docs_per_shard
        k1, b = self.cfg.k1, self.cfg.b
        idf_map = (
            self.idf if self.idf is not None
            else self._idf_for(sorted({t for _q, toks, _s in parsed
                                       for t in toks}))
        )
        for qid, uniq, shard, hits, per_term in self._phrase_hit_blocks(
                parsed, ordered=ordered, allow_masks=allow_masks):
            score = np.zeros(hits.size, dtype=np.float64)
            dl_h = self.dls[shard][hits - shard * dps]
            for t in sorted(uniq):  # lexicographic = oracle's sum order
                ids_t, _flat, offs_t = per_term[t]
                tf_t = np.diff(offs_t).astype(np.float64)
                score += idf_map[t] * bm25.tf_component_np(
                    tf_t[np.searchsorted(ids_t, hits)], dl_h, self.avgdl,
                    k1, b,
                )
            yield qid, hits, score

    def phrase_topk_batch(
        self, phrases: list[tuple[int, str, int]], ordered: bool = True,
        allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — phrase-filtered BM25 top-k,
        rank-identical to operators/wand.phrase_bm25_topk on the same index
        (pytest-pinned): BM25 over the phrase's deduped terms is computed for
        the verified matches from the SAME decoded positional blocks
        (position-segment lengths double as tf arrays), summed in sorted-term
        order for bit-identity with the distributed scorer."""
        from bloqsenjin_spark.functions.scoring import global_topk
        from bloqsenjin_spark.operators.wand import _parse_phrases

        if offsets:  # deep paging: rank at depth offset+k, slice the page
            rows = self.phrase_topk_batch(
                _deepen_queries(phrases, offsets, 2), ordered=ordered,
                allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, phrases, offsets, 2)
        if not self._is_snap:
            return self._snap().phrase_topk_batch(
                phrases, ordered=ordered, allowed_doc_ids=allowed_doc_ids)
        # items are (qid, phrase, k) or (qid, phrase, k, slop) — slop turns
        # exact-phrase filtering into ordered proximity (near_topk_batch)
        slop_map = {int(q[0]): int(q[3]) if len(q) > 3 else 0 for q in phrases}
        if len(slop_map) != len(phrases):
            raise ValueError("duplicate query_ids in a phrase/proximity batch")
        parsed = [
            (qid, toks, slop_map[qid])
            for qid, toks in _parse_phrases([(q[0], q[1]) for q in phrases])
        ]
        q_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        s_parts: list[np.ndarray] = []
        for qid, hits, score in self._phrase_scored_hits(
                parsed, ordered, self._allow_masks(allowed_doc_ids)):
            q_parts.append(np.full(hits.size, qid, dtype=np.int64))
            d_parts.append(hits)
            s_parts.append(score)
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts),
            [(int(q[0]), [], "", int(q[2])) for q in phrases],
        )

    def near_topk_batch(
        self, near_queries: list[tuple[int, str, int, int]],
        ordered: bool = True, allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — proximity-filtered BM25
        top-k ((query_id, phrase, k, slop)), rank-identical to
        operators/wand.near_bm25_topk at the same ``ordered`` setting;
        phrase_topk_batch ≡ (ordered, slop 0)."""
        return self.phrase_topk_batch(near_queries, ordered=ordered,
                                      allowed_doc_ids=allowed_doc_ids,
                                      offsets=offsets)

    # warn once a single MUST_NOT term's occurrence set crosses this many
    # docs: a head neg term (e.g. -the) makes the per-batch set build
    # O(corpus) in server memory — the Spark tier handles those shapes with
    # per-shard exclusion bitmaps instead (round-8 ADVICE)
    NEG_SET_WARN_DOCS = 1_000_000

    def _neg_doc_sets(self, neg_terms: list[str]) -> dict:
        """→ {term: set(doc_id)} occurrence sets for MUST_NOT terms — one
        pruned postings read, bounded by the neg terms' posting sizes (the
        serving-side analog of the kernel's neg-term block scan). A term
        whose set exceeds NEG_SET_WARN_DOCS logs a loud warning naming the
        Spark-tier alternative rather than degrading silently."""
        import warnings

        from bloqsenjin_spark.functions.codec import delta_decode

        out: dict[str, set] = {t: set() for t in neg_terms}
        if not neg_terms:
            return out
        tbl = self._load_terms(sorted(neg_terms))
        dps, bdocs = self.cfg.docs_per_shard, self.cfg.block_docs
        for i, t in enumerate(tbl["term"]):
            base = int(tbl["shard"][i]) * dps + int(tbl["block_id"][i]) * bdocs
            ids = delta_decode(bytes(tbl["doc_deltas"][i]), base=base)
            out[t].update(int(d) for d in ids)
        for t, s in out.items():
            if len(s) > self.NEG_SET_WARN_DOCS:
                warnings.warn(
                    f"MUST_NOT term {t!r} matches {len(s)} docs — the "
                    f"serving tier materializes that set per batch; route "
                    f"head neg terms to the Spark tier (per-shard "
                    f"exclusion bitmaps, operators.wand) instead",
                    RuntimeWarning, stacklevel=3,
                )
        return out

    def phrase_terms_topk_batch(
        self, queries: list, ordered: bool = True, allowed_doc_ids=None,
        offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — PHRASE × LOOSE-TERM boolean
        queries, rank-identical to operators/wand.phrase_terms_bm25_topk on
        the same index (pytest-pinned). Tuples ``(qid, phrase, terms, mode,
        k[, negs[, boosts[, slop]]])`` with the kernel's semantics: the
        phrase clause gates phrase-only-term contributions; loose terms
        contribute by presence; conjunctive = phrase AND all loose terms,
        disjunctive = phrase OR any loose term; MUST_NOT excludes either way.

        Composition of the two verified serving paths: the positional
        phrase machinery (_phrase_hit_blocks — tomb/allow-masked) scores
        the phrase-only terms of matched docs, the shared block-max kernel
        scores the loose terms UNTRUNCATED (exact: the combined rank needs
        every loose match, so this path is match-bounded like count_batch —
        head-term batches are the Spark tier's job), and the two maps merge
        per (query, doc) with the kernel's float order (loose-sum +
        phrase-only-sum)."""
        from bloqsenjin_spark.functions import bm25
        from bloqsenjin_spark.functions.scoring import global_topk
        from bloqsenjin_spark.operators.wand import (
            _parse_phrase_terms_queries,
        )

        if offsets:  # deep paging: rank at depth offset+k, slice the page
            rows = self.phrase_terms_topk_batch(
                _deepen_queries(queries, offsets, 4), ordered=ordered,
                allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, queries, offsets, 4)
        if not self._is_snap:
            return self._snap().phrase_terms_topk_batch(
                queries, ordered=ordered, allowed_doc_ids=allowed_doc_ids)
        parsed = _parse_phrase_terms_queries(queries)
        allow_masks = self._allow_masks(allowed_doc_ids)
        dps = self.cfg.docs_per_shard
        k1, b = self.cfg.k1, self.cfg.b
        score_terms = sorted(
            {t for _q, ptoks, loose, *_ in parsed for t in ptoks}
            | {t for _q, _p, loose, *_ in parsed for t in loose}
        )
        idf_map = (self.idf if self.idf is not None
                   else self._idf_for(score_terms))
        phrase_only = {
            qid: sorted(set(ptoks) - set(loose))
            for qid, ptoks, loose, *_ in parsed
        }
        wmaps = {qid: wmap for qid, _p, _l, _m, _k, _n, wmap, _s in parsed}
        # 1. phrase pass: matched docs + phrase-only-term contributions
        ph: dict[int, dict[int, float]] = {qid: {} for qid, *_ in parsed}
        ph_parsed = [(qid, ptoks, slop)
                     for qid, ptoks, _l, _m, _k, _n, _w, slop in parsed]
        for qid, _uniq, shard, hits, per_term in self._phrase_hit_blocks(
                ph_parsed, ordered=ordered, allow_masks=allow_masks):
            score = np.zeros(hits.size, dtype=np.float64)
            dl_h = self.dls[shard][hits - shard * dps]
            wmap = wmaps[qid]
            for t in phrase_only[qid]:  # sorted = the kernel's acc_p order
                ids_t, _flat, offs_t = per_term[t]
                tf_t = np.diff(offs_t).astype(np.float64)
                score += (idf_map[t] * float(wmap.get(t, 1.0))) * \
                    bm25.tf_component_np(
                        tf_t[np.searchsorted(ids_t, hits)], dl_h,
                        self.avgdl, k1, b,
                )
            d = ph[qid]
            for doc, s in zip(hits, score):
                d[int(doc)] = d.get(int(doc), 0.0) + float(s)
        # MUST_NOT excludes phrase-only matches too (the loose pass handles
        # its own negs via the shared kernel)
        all_negs = sorted({t for *_f, negs, _w, _s in parsed for t in negs})
        negsets = self._neg_doc_sets(all_negs)
        for qid, _p, _l, _m, _k, negs, _w, _s in parsed:
            if negs and ph[qid]:
                excl = set().union(*[negsets[t] for t in negs])
                ph[qid] = {d: s for d, s in ph[qid].items() if d not in excl}
        # 2. loose pass: untruncated shared-kernel scoring (exact combine)
        loose_q = [
            (qid, sorted(set(loose)), mode, 1 << 30, negs, wmap)
            for qid, _p, loose, mode, _k, negs, wmap, _s in parsed
            if loose
        ]
        lo: dict[int, dict[int, float]] = {qid: {} for qid, *_ in parsed}
        if loose_q:
            scan_terms = sorted(
                {t for q in loose_q for t in q[1]}
                | {t for q in loose_q if q[4] for t in q[4]}
            )
            tbl = self._load_terms(scan_terms)
            if tbl["term"]:
                shards = np.asarray(tbl["shard"], dtype=np.int64)
                terms = np.asarray(tbl["term"], dtype=object)
                bids = np.asarray(tbl["block_id"], dtype=np.int64)
                bmax = np.asarray(tbl["block_max_score"], dtype=np.float64)
                deltas = np.asarray(tbl["doc_deltas"], dtype=object)
                tfs = np.asarray(tbl["tfs"], dtype=object)
                for shard in np.unique(shards):
                    m = shards == shard
                    tm, skip = self._excl_mask(int(shard), allow_masks)
                    if skip:
                        continue
                    oq, od, os_ = score_shard_blocks(
                        int(shard), terms[m], bids[m], bmax[m], deltas[m],
                        tfs[m], self.dls[int(shard)], loose_q, idf_map,
                        self.avgdl, self.cfg, tomb_mask=tm,
                        decode_cache=_bounded(self._score_block_cache,
                                              terms.size),
                    )
                    for qa, da, sa in zip(oq, od, os_):
                        d = lo[int(qa[0])]
                        for doc, s in zip(da, sa):
                            d[int(doc)] = float(s)
        # 3. combine with the kernel's eligibility + float order
        q_parts: list[np.ndarray] = []
        d_parts: list[np.ndarray] = []
        s_parts: list[np.ndarray] = []
        for qid, _p, loose, mode, _k, _n, _w, _s in parsed:
            p, l_ = ph[qid], lo[qid]
            if mode == "conjunctive" and loose:
                docs = sorted(set(l_) & set(p))
            elif mode == "conjunctive":
                docs = sorted(p)
            else:
                docs = sorted(set(l_) | set(p))
            if not docs:
                continue
            q_parts.append(np.full(len(docs), qid, dtype=np.int64))
            d_parts.append(np.asarray(docs, dtype=np.int64))
            s_parts.append(np.asarray(
                [l_.get(d, 0.0) + p.get(d, 0.0) for d in docs],
                dtype=np.float64,
            ))
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts),
            [(int(q[0]), [], "", int(q[4])) for q in queries],
        )

    def highlight_batch(
        self, queries: list, allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, str, int]]:
        """→ [(query_id, rank, doc_id, term, pos)] — top-k + query-term
        positions, result-identical to operators/wand.topk_highlights on the
        same (positions=True) index: rank via the shared kernel, positions
        decoded only for the ranked docs' blocks (per-block LRU shared with
        the phrase paths via _decode_pos_block)."""
        if not self._is_snap:
            return self._snap().highlight_batch(
                queries, allowed_doc_ids=allowed_doc_ids, offsets=offsets)
        if not self.cfg.positions:
            raise ValueError(
                "highlight serving needs a positional index — build with "
                "IndexConfig(positions=True)"
            )
        tk = (self.paged_batch(queries, offsets,
                               allowed_doc_ids=allowed_doc_ids)
              if offsets
              else self.query_batch(queries, allowed_doc_ids=allowed_doc_ids))
        if not tk:
            return []
        return sorted(self._topk_positions(tk, queries))

    def _topk_positions(self, tk, queries) -> list[tuple[int, int, int, str, int]]:
        """(query_id, rank, doc_id, term, pos) rows for already-ranked
        results — the shared decode step of highlight_batch / snippet_batch
        (positions decoded only for the ranked docs' blocks, per-block LRU
        shared with the phrase paths via _decode_pos_block)."""
        all_terms = sorted({t for q in queries for t in q[1]})
        tbl = self._load_terms(all_terms, positional=True)
        by_term: dict[str, dict[tuple[int, int], int]] = {}
        for i, (t, s, b) in enumerate(zip(tbl["term"], tbl["shard"], tbl["block_id"])):
            by_term.setdefault(t, {})[(int(s), int(b))] = i
        dps, bdocs = self.cfg.docs_per_shard, self.cfg.block_docs

        qterms = {q[0]: sorted(set(q[1])) for q in queries}
        out: list[tuple[int, int, int, str, int]] = []
        for qid, rank, doc, _score in tk:
            shard, bid = doc // dps, (doc % dps) // bdocs
            for t in qterms[qid]:
                row = by_term.get(t, {}).get((shard, bid))
                if row is None:
                    continue  # term absent from this block (disjunctive hit)
                ids, flat, offs = self._decode_pos_block(tbl, row, t, shard, bid)
                j = int(np.searchsorted(ids, doc))
                if j < ids.size and ids[j] == doc:
                    out.extend(
                        (qid, rank, doc, t, int(p))
                        for p in flat[offs[j]:offs[j + 1]]
                    )
        return out

    def snippet_batch(
        self, queries: list, window: int = 8, allowed_doc_ids=None,
        offsets=None,
    ) -> list[tuple[int, int, int, float, int, str]]:
        """→ [(query_id, rank, doc_id, score, snip_pos, snippet)] — top-k
        with text snippets, result-identical to operators/wand.topk_snippets
        on the same index (pytest-pinned): rank + first-query-term position
        from the positional index, then the ``window``-token slice comes from
        the DOC-STORE REPLICA (plans.build.write_doc_store — opt-in,
        doc-range-partitioned (doc_id, toks)) via ONE shard-pruned,
        doc_id-filtered pyarrow read — never a corpus scan, no Spark job.
        Generation-stamped with the rest of the index: refresh() swaps it."""
        if not self._is_snap:
            return self._snap().snippet_batch(
                queries, window=window, allowed_doc_ids=allowed_doc_ids,
                offsets=offsets)
        if not self.cfg.positions:
            raise ValueError(
                "snippet serving needs a positional index — build with "
                "IndexConfig(positions=True)"
            )
        tk = (self.paged_batch(queries, offsets,
                               allowed_doc_ids=allowed_doc_ids)
              if offsets
              else self.query_batch(queries, allowed_doc_ids=allowed_doc_ids))
        if not tk:
            return []
        best: dict[tuple[int, int], int] = {}
        for qid, _rank, doc, _t, p in self._topk_positions(tk, queries):
            key = (qid, doc)
            if p < best.get(key, 1 << 60):
                best[key] = p
        dps = self.cfg.docs_per_shard
        need = sorted({doc for _q, _r, doc, _s in tk})
        store = self._doc_store_ds()
        filt = self._ds.field("shard").isin(
            sorted({d // dps for d in need})
        ) & self._ds.field("doc_id").isin(need)
        t = store.to_table(columns=["doc_id", "toks"], filter=filt)
        toks_by_doc = dict(zip(t["doc_id"].to_pylist(), t["toks"].to_pylist()))
        out: list[tuple[int, int, int, float, int, str]] = []
        for qid, rank, doc, score in tk:
            p = best[(qid, doc)]  # every ranked doc matched ≥1 query term
            toks = toks_by_doc[doc]
            out.append((qid, rank, doc, score, p,
                        " ".join(toks[p:p + window])))
        return sorted(out)

    def _doc_store_ds(self):
        """Lazy handle on the doc-store replica (loaded per generation —
        refresh() drops it with the rest of the state). Refuses a STALE
        replica: one built before the last index-content mutation (a
        streaming compact, rebuild, resume) would silently serve old token
        rows — fail loudly with the remedy instead. Unstamped (legacy)
        replicas skip the check."""
        if self._replica_handles.get("doc_store") is None:
            from bloqsenjin_spark.plans.build import replica_built_generation

            bg = replica_built_generation(self.index_dir, "doc_store_meta")
            if bg is not None and bg < self.content_generation:
                raise ValueError(
                    f"doc_store replica is STALE (built at generation {bg}, "
                    f"index content at {self.content_generation}) — re-run "
                    "plans.build.write_doc_store after content mutations"
                )
            try:
                self._replica_handles["doc_store"] = self._ds.dataset(
                    f"{self.index_dir}/doc_store", format="parquet",
                    partitioning="hive",
                )
            except FileNotFoundError:
                raise ValueError(
                    "no doc_store table in this index — snippet serving needs "
                    "the opt-in replica (plans.build.write_doc_store)"
                ) from None
        return self._replica_handles["doc_store"]

    def _facet_ds(self, name: str):
        """Lazy handle on a facet replica (plans.build.write_facet_index):
        → (codes dataset, bucket value list). Same staleness contract as
        the doc store — a facet table built before the last content
        mutation refuses loudly with the remedy."""
        key = f"facet_{name}"
        if self._replica_handles.get(key) is None:
            from bloqsenjin_spark.plans.build import replica_built_generation

            bg = replica_built_generation(self.index_dir, f"{key}_meta")
            if bg is not None and bg < self.content_generation:
                raise ValueError(
                    f"facet replica {name!r} is STALE (built at generation "
                    f"{bg}, index content at {self.content_generation}) — "
                    "re-run plans.build.write_facet_index after content "
                    "mutations"
                )
            try:
                fds = self._ds.dataset(f"{self.index_dir}/{key}",
                                       format="parquet")
                dtab = self._ds.dataset(
                    f"{self.index_dir}/{key}_dict", format="parquet"
                ).to_table().to_pydict()
            except FileNotFoundError:
                raise ValueError(
                    f"no facet replica {name!r} in this index — faceted "
                    "serving needs the opt-in replica "
                    "(plans.build.write_facet_index)"
                ) from None
            buckets = [v for _c, v in sorted(zip(dtab["code"],
                                                 dtab["value"]))]
            self._replica_handles[key] = (fds, buckets)
        return self._replica_handles[key]

    def facet_count_batch(
        self, queries: list, facet: str, allowed_doc_ids=None,
    ) -> list[tuple[int, str, int]]:
        """→ [(query_id, facet_value, n_hits)] — faceted hit counts,
        identical to operators/wand.facet_counts on the same index + facet
        relation (pytest-pinned): the match core buckets matched doc ids
        through the facet replica's per-shard uint8 code arrays (ONE
        shard-pruned pyarrow read for the batch's touched shards), so the
        output is bounded by queries × buckets and the match set never
        materializes. Zero buckets omitted; sorted (query_id, value)."""
        from bloqsenjin_spark.functions.scoring import facet_shard_counts

        if not self._is_snap:
            return self._snap().facet_count_batch(
                queries, facet, allowed_doc_ids=allowed_doc_ids)
        fds, buckets = self._facet_ds(facet)
        n_buckets = len(buckets)
        all_terms = sorted(
            {t for q in queries for t in q[1]}
            | {t for q in queries if len(q) > 4 and q[4] for t in q[4]}
        )
        allow_masks = self._allow_masks(allowed_doc_ids)
        totals: dict[int, np.ndarray] = {}
        tbl = self._load_terms(all_terms)
        if tbl["term"]:
            shards = np.asarray(tbl["shard"], dtype=np.int64)
            terms = np.asarray(tbl["term"], dtype=object)
            bids = np.asarray(tbl["block_id"], dtype=np.int64)
            deltas = np.asarray(tbl["doc_deltas"], dtype=object)
            touched = np.unique(shards)
            ct = fds.to_table(
                filter=self._ds.field("shard").isin(
                    [int(s) for s in touched]),
                columns=["shard", "codes"],
            ).to_pydict()
            codes_by_shard = {
                int(s): np.frombuffer(c, dtype=np.uint8)
                for s, c in zip(ct["shard"], ct["codes"])
            }
            missing_arr = np.full(self.cfg.docs_per_shard, n_buckets - 1,
                                  dtype=np.uint8)
            for shard in touched:
                tm, skip = self._excl_mask(int(shard), allow_masks)
                if skip:
                    continue
                m = shards == shard
                per = facet_shard_counts(
                    int(shard), terms[m], bids[m], deltas[m],
                    queries, self.cfg,
                    codes_by_shard.get(int(shard), missing_arr),
                    n_buckets, tomb_mask=tm,
                    decode_cache=_bounded(self._match_block_cache,
                                          terms.size),
                )
                for qid, hist in per.items():
                    acc = totals.get(qid)
                    if acc is None:
                        acc = totals[qid] = np.zeros(n_buckets,
                                                     dtype=np.int64)
                    acc += hist
        out: list[tuple[int, str, int]] = []
        for qid in sorted(totals):
            hist = totals[qid]
            for c in np.flatnonzero(hist):
                out.append((qid, buckets[int(c)], int(hist[c])))
        return out

    @staticmethod
    def _levenshtein(a: str, b: str, cap: int) -> int:
        """Standard Levenshtein distance (same semantics as Spark's and
        DuckDB's ``levenshtein``), with a row-minimum early exit once the
        distance provably exceeds ``cap``."""
        if a == b:
            return 0
        if abs(len(a) - len(b)) > cap:
            return cap + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, start=1):
            cur = [i]
            best = i
            for j, cb in enumerate(b, start=1):
                v = min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                cur.append(v)
                best = min(best, v)
            if best > cap:
                return cap + 1
            prev = cur
        return prev[-1]

    # SymSpell index memory grows ~|term|^d per term; Lucene caps fuzzy at 2
    # edits for the same reason. Larger dists fall back to the full dict scan.
    _SYMSPELL_MAX_DIST = 2

    @staticmethod
    def _deletes(word: str, max_dist: int) -> set[str]:
        """All strings reachable from ``word`` by deleting ≤ max_dist chars
        (including word itself)."""
        out = {word}
        frontier = {word}
        for _ in range(max_dist):
            nxt = {w[:i] + w[i + 1:] for w in frontier for i in range(len(w))}
            nxt -= out
            out |= nxt
            frontier = nxt
        return out

    def _fuzzy_handle(self):
        """→ (dataset, built_max_dist) for the on-disk SymSpell replica
        (plans.build.write_fuzzy_index) — the lazy-stats fuzzy source."""
        if self._replica_handles.get("fuzzy") is None:
            try:
                fds = self._ds.dataset(
                    f"{self.index_dir}/fuzzy_index", format="parquet")
                meta = self._ds.dataset(
                    f"{self.index_dir}/fuzzy_meta", format="parquet"
                ).to_table().to_pydict()
            except FileNotFoundError:
                raise ValueError(
                    "stats_mode='lazy' fuzzy search needs the on-disk "
                    "SymSpell replica — build it with "
                    "plans.build.write_fuzzy_index(spark, index_dir)"
                ) from None
            bg = meta.get("built_generation")
            if bg and int(bg[0]) < self.content_generation:
                raise ValueError(
                    f"fuzzy_index replica is STALE (built at generation "
                    f"{int(bg[0])}, index content at "
                    f"{self.content_generation}) — re-run "
                    "plans.build.write_fuzzy_index after content mutations"
                )
            self._replica_handles["fuzzy"] = (fds, int(meta["max_dist"][0]))
        return self._replica_handles["fuzzy"]

    def _fuzzy_candidates_lazy(self, word: str, max_dist: int) -> "list[str]":
        """Lazy-stats candidate lookup: ONE pruned pyarrow read of the query
        word's ≤max_dist-deletion variant buckets from the variant-sorted
        on-disk table — resident memory O(1) in vocabulary. Buckets built at
        a LARGER distance than queried are still correct (the table is a
        superset of the ≤max_dist buckets; Levenshtein verify trims).
        Distances ABOVE the build distance never reach here — they route to
        the streaming scan (_fuzzy_expansion_scan_lazy)."""
        fds, _built_d = self._fuzzy_handle()
        variants = sorted(self._deletes(word, max_dist))
        tbl = fds.to_table(
            filter=self._ds.field("variant").isin(variants), columns=["term"]
        )
        return sorted(set(tbl["term"].to_pylist()))

    def _fuzzy_prefetch_lazy(self, word_dists) -> dict:
        """Batch form of _fuzzy_candidates_lazy: ONE pruned read of ALL the
        batch's words' deletion-variant buckets, plus ONE stats read warming
        the LRU for the union of candidates — a mixed fuzzy batch costs two
        pyarrow reads total instead of two per word.
        → {(word, max_dist): sorted candidate terms}; over-distance words are
        omitted (routed to refuse/scan by _fuzzy_expansion)."""
        fds, built_d = self._fuzzy_handle()
        var2keys: dict[str, list] = {}
        out: dict = {}
        for w, d in word_dists:
            key = (str(w), int(d))
            if key[1] > built_d or key in out:
                continue
            out[key] = set()
            for v in self._deletes(key[0], key[1]):
                var2keys.setdefault(v, []).append(key)
        if var2keys:
            tbl = fds.to_table(
                filter=self._ds.field("variant").isin(sorted(var2keys)),
                columns=["variant", "term"],
            )
            for v, t in zip(tbl["variant"].to_pylist(),
                            tbl["term"].to_pylist()):
                for key in var2keys[v]:
                    out[key].add(t)
        res = {k: sorted(v) for k, v in out.items()}
        union = sorted(set().union(*res.values())) if res else []
        if union:
            self._stats_for(union)  # one coalesced read fills the LRU
        return res

    def _fuzzy_expansion_scan_lazy(self, word: str, max_dist: int,
                                   max_expansions: int) -> list:
        """Lazy-mode fallback when the query distance exceeds the on-disk
        bucket replica's build distance: ONE STREAMING vocabulary scan
        (record batches — memory O(batch + matches), never the whole
        dictionary, and nothing enters the stats LRU), Levenshtein verify
        per batch, then the shared (dist ASC, df DESC, term ASC) cap."""
        cands = []
        for rb in self._ts_ds.to_batches(columns=["term", "df"]):
            for t, dfv in zip(rb.column("term").to_pylist(),
                              rb.column("df").to_pylist()):
                d = self._levenshtein(t, word, int(max_dist))
                if d <= max_dist:
                    cands.append((d, -int(dfv), t))
        cands.sort()
        return [(t, d) for d, _ndf, t in cands[:max_expansions]]

    def _fuzzy_candidates(self, word: str, max_dist: int) -> "list[str]":
        """Candidate dictionary terms possibly within ``max_dist`` edits of
        ``word``, via a precomputed SymSpell deletion-neighborhood index:
        lev(w, t) ≤ d implies some ≤d-deletion of w equals some ≤d-deletion
        of t, so hashing every term under all its ≤d-deletion variants makes
        expansion O(|w|^d) bucket lookups instead of a full dictionary scan
        (the round-4 verdict's serving-tier scale fix). Candidates still go
        through exact Levenshtein verification — the bucket join is a
        superset, never a filter. Lazy stats mode reads the same buckets
        from the on-disk replica instead of holding them in process."""
        if self.df is None:
            return self._fuzzy_candidates_lazy(word, max_dist)
        if max_dist > self._SYMSPELL_MAX_DIST:
            return list(self.df)  # documented fallback: exact full scan
        idx = self._fuzzy_idx.get(max_dist)
        if idx is None:
            # one pass over the loaded dict replica per (generation, dist);
            # snapshots share the parent's dict so concurrent builders are
            # idempotent and the last assignment wins under the GIL
            idx = {}
            for t in self.df:
                for dv in self._deletes(t, max_dist):
                    idx.setdefault(dv, []).append(t)
            self._fuzzy_idx[max_dist] = idx
        seen: set[str] = set()
        for dv in self._deletes(word, max_dist):
            bucket = idx.get(dv)
            if bucket:
                seen.update(bucket)
        return list(seen)

    def _fuzzy_candidates_checked(self, word: str, max_dist: int) -> "list[str]":
        """UNCAPPED candidate list for cross-field expansion
        (FieldedIndexServer) — the caller ranks/caps on the CROSS-field df
        rule, so it needs raw candidates, not _fuzzy_expansion's per-field
        capped list. Eager: the in-memory SymSpell buckets (full-dict scan
        above the documented dist cap). Lazy: the on-disk bucket replica;
        over-distance REFUSES with the rebuild recipe (the per-field capped
        streaming scan can't serve the cross-field rule, so there is no
        allow_fuzzy_scan route here)."""
        if self.df is not None:
            return self._fuzzy_candidates(word, max_dist)
        _fds, built_d = self._fuzzy_handle()
        if int(max_dist) > built_d:
            raise ValueError(
                f"fuzzy distance {int(max_dist)} exceeds the on-disk "
                f"SymSpell replica's build distance {built_d} — rebuild "
                f"the replica with plans.build.write_fuzzy_index(spark, "
                f"index_dir, max_dist={int(max_dist)})"
            )
        return self._fuzzy_candidates_lazy(word, int(max_dist))

    def fuzzy_topk_batch(
        self, fuzzy_queries: list[tuple[int, str, int, int]],
        max_expansions: int = 50, allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — typo-tolerant top-k,
        rank-identical to operators/wand.fuzzy_bm25_topk on the same index.
        Expansion rule (identical to the Spark path): Levenshtein ≤ max_dist,
        ranked (distance ASC, df DESC, term ASC), capped at
        ``max_expansions`` — but candidates come from the SymSpell deletion
        index (sub-linear in vocabulary) instead of a full dict scan."""
        if len({q[0] for q in fuzzy_queries}) != len(fuzzy_queries):
            raise ValueError("duplicate query_ids in fuzzy_queries")
        if not self._is_snap:
            return self._snap().fuzzy_topk_batch(
                fuzzy_queries, max_expansions=max_expansions,
                allowed_doc_ids=allowed_doc_ids, offsets=offsets,
                must_not=must_not)
        negs = must_not or {}
        pre = (self._fuzzy_prefetch_lazy(
                   [(str(q[1]), int(q[2])) for q in fuzzy_queries])
               if self.df is None else {})
        queries = []
        for qid, word, max_dist, k in fuzzy_queries:
            terms = [
                t for t, _d in self._fuzzy_expansion(
                    str(word), int(max_dist), max_expansions,
                    candidates=pre.get((str(word), int(max_dist))))
            ]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k),
                                tuple(negs.get(int(qid), ()))))
        if not queries:
            return []
        if offsets:
            return self.paged_batch(queries, offsets,
                                    allowed_doc_ids=allowed_doc_ids)
        return self.query_batch(queries, allowed_doc_ids=allowed_doc_ids)

    def _fuzzy_expansion(self, word: str, max_dist: int,
                         max_expansions: int,
                         candidates: "list[str] | None" = None,
                         ) -> list[tuple[str, int]]:
        """One word's (term, distance) expansion list under THE rule
        (Levenshtein ≤ max_dist, distance ASC / df DESC / term ASC, capped)
        — SymSpell candidates + exact verify, shared by the single- and
        multi-word fuzzy entry points. ``candidates``: prefetched bucket
        candidates (_fuzzy_prefetch_lazy) to skip the per-word read."""
        if self.df is None:
            _fds, built_d = self._fuzzy_handle()
            if int(max_dist) > built_d:
                if not self.allow_fuzzy_scan:
                    raise ValueError(
                        f"fuzzy distance {int(max_dist)} exceeds the on-disk "
                        f"SymSpell replica's build distance {built_d} — "
                        f"rebuild the replica with plans.build."
                        f"write_fuzzy_index(spark, index_dir, "
                        f"max_dist={int(max_dist)}), or opt into the "
                        f"O(vocabulary) streaming scan with "
                        f"IndexServer(..., allow_fuzzy_scan=True)"
                    )
                return self._fuzzy_expansion_scan_lazy(
                    str(word), int(max_dist), max_expansions)
        terms = (candidates if candidates is not None
                 else self._fuzzy_candidates(word, int(max_dist)))
        dfs = (
            self.df if self.df is not None
            else {t: v[0] for t, v in self._stats_for(terms).items()}
        )
        cands = []
        for t in terms:  # t not in dfs: replica row for a since-purged term
            d = self._levenshtein(t, word, int(max_dist))
            if d <= max_dist and t in dfs:
                cands.append((d, -dfs[t], t))
        cands.sort()
        return [(t, d) for d, _ndf, t in cands[:max_expansions]]

    def fuzzy_multi_topk_batch(
        self, multi_queries: list[tuple[int, list[str], int, int]],
        max_expansions: int = 50, distance_decay: "float | None" = None,
        allowed_doc_ids=None, offsets=None, must_not=None,
        mode: str = "disjunctive",
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, doc_id, score)] — MULTI-word typo-tolerant
        top-k ((query_id, [words], max_dist, k)), rank-identical to
        operators/wand.fuzzy_multi_bm25_topk on the same index
        (pytest-pinned): per-word expansion under the single-word rule, one
        disjunctive ranking over the union with per-term min-distance, and
        the optional decay ** min_dist boost — the composition rule is the
        SHARED _compose_fuzzy_multi helper, so the tiers can't drift."""
        from bloqsenjin_spark.operators.wand import _compose_fuzzy_multi

        if len({q[0] for q in multi_queries}) != len(multi_queries):
            raise ValueError("duplicate query_ids in multi_queries")
        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(f"unknown query mode {mode!r}")
        if distance_decay is not None and float(distance_decay) < 0:
            raise ValueError(
                "distance_decay must be >= 0 (negative boosts break exact "
                "block-max pruning)"
            )
        if not self._is_snap:
            return self._snap().fuzzy_multi_topk_batch(
                multi_queries, max_expansions=max_expansions,
                distance_decay=distance_decay,
                allowed_doc_ids=allowed_doc_ids, offsets=offsets,
                must_not=must_not, mode=mode)
        negs_map = must_not or {}
        pre = (self._fuzzy_prefetch_lazy(
                   [(str(w), int(q[2])) for q in multi_queries
                    for w in q[1]])
               if self.df is None else {})
        queries = []
        for qid, words, max_dist, k in multi_queries:
            exps = [
                self._fuzzy_expansion(str(w), int(max_dist), max_expansions,
                                      candidates=pre.get((str(w),
                                                          int(max_dist))))
                for w in words
            ]
            q = _compose_fuzzy_multi(exps, int(qid), int(k), distance_decay,
                                     negs=negs_map.get(int(qid), ()),
                                     mode=mode)
            if q is not None:
                queries.append(q)
        if not queries:
            return []
        if offsets:
            return self.paged_batch(queries, offsets,
                                    allowed_doc_ids=allowed_doc_ids)
        return self.query_batch(queries, allowed_doc_ids=allowed_doc_ids)

    def _ann_tables(self):
        """Lazy-load the persisted IVF replica (similarity.write_ivf layout):
        the centroid matrix stays in memory; vectors are read per probe with
        cluster-partition pruning."""
        if self._replica_handles.get("ann") is None:
            ct = self._ds.dataset(
                f"{self.index_dir}/ann_centroids", format="parquet"
            ).to_table().to_pydict()
            order = np.argsort(np.asarray(ct["cluster"], dtype=np.int64))
            cents = np.stack(
                [np.asarray(ct["v"][i], dtype=np.float64) for i in order]
            )
            vds = self._ds.dataset(f"{self.index_dir}/ann_vectors",
                                   format="parquet", partitioning="hive")
            self._replica_handles["ann"] = (cents, vds)
        return self._replica_handles["ann"]

    def ann_batch(
        self, query_ids: list[int], k: int = 5, n_probe: int = 4,
        allowed_vec_ids=None, exclude_tombstoned: bool = False,
    ) -> list[tuple[int, int, int, float]]:
        """→ [(query_id, rank, vec_id, score)] — IVF approximate-nearest-
        neighbor WITHOUT a Spark job: probe each query's n_probe nearest
        centroid cells (in-memory matrix), read only those cells' vectors via
        cluster-partition-pruned pyarrow scans, exact-cosine rerank, top-k
        (score DESC, vec_id ASC; self-matches excluded). Full probe
        (n_probe == n_centroids) is exact ⇒ rank-identical to the brute-force
        path; at equal n_probe it is rank-identical to the Spark
        ann_cosine_ivf (same deterministic centroids) — both pytest-pinned."""
        if not self._is_snap:
            return self._snap().ann_batch(
                query_ids, k=k, n_probe=n_probe,
                allowed_vec_ids=allowed_vec_ids,
                exclude_tombstoned=exclude_tombstoned)
        # filtered ANN: eligibility masks candidates BEFORE top-k (exact
        # within the allowed set — never over-fetch-and-post-filter)
        allow = (
            np.unique(np.fromiter((int(i) for i in allowed_vec_ids),
                                  dtype=np.int64))
            if allowed_vec_ids is not None else None
        )
        cents, vds = self._ann_tables()
        ids = sorted({int(i) for i in query_ids})
        qt = vds.to_table(
            filter=self._ds.field("vec_id").isin(ids), columns=["vec_id", "v"]
        ).to_pydict()
        qv = {
            int(i): np.asarray(v, dtype=np.float64)
            for i, v in zip(qt["vec_id"], qt["v"])
        }
        probes: dict[int, np.ndarray] = {}
        all_cells: set[int] = set()
        for qid in ids:
            q = qv.get(qid)
            if q is None:
                continue  # unknown query vector: no rows (matches Spark path)
            qn = q / (np.linalg.norm(q) + 1e-12)
            top = np.argsort(-(cents @ qn))[:n_probe]
            probes[qid] = top
            all_cells.update(int(c) for c in top)
        if not probes:
            return []
        at = vds.to_table(
            filter=self._ds.field("cluster").isin(sorted(all_cells)),
            columns=["vec_id", "v", "cluster"],
        )
        if at.num_rows == 0:
            return []  # every probed cell empty — nothing to rank
        vid = at.column("vec_id").to_numpy().astype(np.int64, copy=False)
        clus = at.column("cluster").to_numpy().astype(np.int64, copy=False)
        # exclude_tombstoned: couple the TEXT index's delete set into vector
        # search under the caller-asserted vec_id == doc_id mapping — mask
        # via the already-loaded per-shard tombstone bitmaps (the serving
        # twin of plans.deletes.live_doc_ids feeding `allowed=` Spark-side)
        dead = None
        if exclude_tombstoned and self.tomb_masks:
            dps = self.cfg.docs_per_shard
            dead = np.zeros(vid.shape, dtype=bool)
            for sh, tm in self.tomb_masks.items():
                in_s = (vid // dps) == sh
                if in_s.any():
                    dead[in_s] = tm[vid[in_s] - sh * dps]
        # vectorized list<double> → (n, dim) matrix: flatten the Arrow list
        # column once and reshape (vectors are fixed-dim by construction) —
        # the previous per-row np.stack([np.asarray(v) ...]) materialized
        # every vector as a Python list first, and dominated the probe read
        # at large cell sizes (guide §4.2; round-8 verdict perf-weak #1)
        vcol = at.column("v").combine_chunks()
        offs = vcol.offsets.to_numpy()
        widths = np.diff(offs)
        if widths.size and (widths == widths[0]).all():
            mat = np.asarray(vcol.flatten(), dtype=np.float64).reshape(
                len(vcol), int(widths[0]))
        else:  # ragged (never written by write_ivf) — row-wise fallback
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vcol.to_pylist()])
        norms = np.sqrt((mat * mat).sum(axis=1))
        out: list[tuple[int, int, int, float]] = []
        for qid, cells in probes.items():
            sel = np.isin(clus, cells) & (vid != qid)
            if allow is not None:
                sel &= np.isin(vid, allow)
            if dead is not None:
                sel &= ~dead
            if not sel.any():
                continue
            q = qv[qid]
            # same epsilon as the probe normalization: an all-zero query
            # vector yields score 0 everywhere instead of NaN-ordered ranks
            s = (mat[sel] @ q) / (norms[sel] * np.sqrt(q @ q) + 1e-12)
            d = vid[sel]
            order = np.lexsort((d, -s))[:k]
            out.extend(
                (qid, rank, int(d[i]), float(s[i]))
                for rank, i in enumerate(order, start=1)
            )
        return out

    def count_batch(self, queries: list, allowed_doc_ids=None
                    ) -> list[tuple[int, int]]:
        """→ [(query_id, n_hits)] — exact hit counts ('about N results'),
        identical to operators/wand.match_counts on the same index: per-shard
        tallies via the shared counting kernel (functions.scoring.
        count_shard_matches) — no scoring, no ranking, and no global sort
        (round 3 ranked the FULL match set with k=2^30 just to count it)."""
        from bloqsenjin_spark.functions.scoring import count_shard_matches

        if not self._is_snap:
            return self._snap().count_batch(queries,
                                            allowed_doc_ids=allowed_doc_ids)
        all_terms = sorted(
            {t for q in queries for t in q[1]}
            | {t for q in queries if len(q) > 4 and q[4] for t in q[4]}
        )
        allow_masks = self._allow_masks(allowed_doc_ids)
        totals = {int(q[0]): 0 for q in queries}
        tbl = self._load_terms(all_terms)
        if tbl["term"]:
            shards = np.asarray(tbl["shard"], dtype=np.int64)
            terms = np.asarray(tbl["term"], dtype=object)
            bids = np.asarray(tbl["block_id"], dtype=np.int64)
            deltas = np.asarray(tbl["doc_deltas"], dtype=object)
            for shard in np.unique(shards):
                tm, skip = self._excl_mask(int(shard), allow_masks)
                if skip:
                    continue
                m = shards == shard
                per = count_shard_matches(
                    int(shard), terms[m], bids[m], deltas[m],
                    queries, self.cfg, tomb_mask=tm,
                    decode_cache=_bounded(self._match_block_cache,
                                          terms.size),
                )
                for qid, n in per.items():
                    totals[qid] += n
        return sorted(totals.items())


class FieldedIndexServer:
    """Serving tier for MULTI-FIELD ranking: per-field index replicas (one
    IndexServer each — same doc-range sharding, the build contract of
    operators/fielded.build_fielded_index persisted per field) combined at
    query time with the SAME two models as the Spark path:

    * ``query_batch``  — per-field-sum (Σ_f w_f · BM25_field), rank-identical
      to operators/fielded.bm25f_topk (pytest-pinned): composite
      ``field⟂term`` keys through the shared block-max kernel
      (functions.scoring.score_shard_blocks keyed-dls mode).
    * ``merged_batch`` — TRUE BM25F (merged tf before saturation,
      document-level idf), rank-identical to fielded.bm25f_merged_topk:
      the ``doc_stats_dir`` index supplies the document-level idf (its
      term_stats over whole documents — any index built on the unsplit text).

    No Spark job: each field's posting rows come from that server's pyarrow
    pushdown reads (term-LRU shared with its single-field traffic).
    Tombstones are the OR of the fields' masks (one corpus, one delete set —
    they should agree; OR is the safe union). refresh() delegates per field.
    """

    def __init__(self, field_dirs: dict[str, str],
                 cfg: IndexConfig | None = None,
                 doc_stats_dir: str | None = None, **kw):
        if not field_dirs:
            raise ValueError("field_dirs must name at least one field index")
        self.servers = {f: IndexServer(d, cfg, **kw)
                        for f, d in sorted(field_dirs.items())}
        self.fields = sorted(self.servers)
        cfgs = {f: s.cfg for f, s in self.servers.items()}
        first = cfgs[self.fields[0]]
        for f, c in cfgs.items():
            if (c.docs_per_shard, c.block_docs) != (
                    first.docs_per_shard, first.block_docs):
                raise ValueError(
                    "field indexes must share doc-range sharding "
                    f"(got {f}: {c.docs_per_shard}/{c.block_docs} vs "
                    f"{first.docs_per_shard}/{first.block_docs})"
                )
        self.cfg = first
        self._doc_stats = (
            IndexServer(doc_stats_dir, cfg, **kw) if doc_stats_dir else None
        )
        # decoded-block LRU across fielded batches (keys are composite
        # field⟂term, so entries are unique per field replica); dropped
        # whenever any field picks up a new generation
        self._score_block_cache = _BoundedLRU(
            next(iter(self.servers.values())).max_cached_score_blocks)

    _SEP = "\x00"  # same composite-key separator as operators/fielded.py

    def refresh(self, force: bool = False) -> bool:
        out = any([s.refresh(force) for s in self.servers.values()])
        if self._doc_stats is not None:
            out = self._doc_stats.refresh(force) or out
        if out:
            self._score_block_cache.clear()
        return out

    def _cache_for(self, snaps) -> "_BoundedLRU":
        """The decoded-block cache, VALIDATED against this batch's per-field
        generations — a per-field server refreshed behind our back (its own
        auto_refresh, or a direct .refresh() call) invalidates every cached
        decode, so stale blobs can never serve a new generation."""
        gens = tuple(snaps[f].generation for f in self.fields)
        if gens != getattr(self, "_score_cache_gens", None):
            self._score_block_cache.clear()
            self._score_cache_gens = gens
        return self._score_block_cache

    def _validate(self, queries, field_weights):
        if len({int(q[0]) for q in queries}) != len(queries):
            raise ValueError("duplicate query_ids in a fielded batch")
        for q in queries:
            if q[2] not in ("disjunctive", "conjunctive"):
                raise ValueError(f"unknown query mode {q[2]!r}")
            if len(q) > 5 and q[5]:
                bad = {t: w for t, w in q[5].items() if float(w) < 0}
                if bad:
                    raise ValueError(
                        f"negative term boosts break exact pruning: {bad} "
                        f"(query_id={q[0]})"
                    )
        unknown = set(field_weights) - set(self.fields)
        if unknown:
            raise ValueError(
                f"field_weights name unknown fields {sorted(unknown)}; "
                f"indexes have {self.fields}"
            )
        weights = {f: float(field_weights.get(f, 1.0)) for f in self.fields}
        if any(w < 0 for w in weights.values()):
            raise ValueError(f"negative field weights are not rankable: {weights}")
        return weights

    def _field_rows(self, snaps, all_terms):
        """Union of the fields' term-filtered block rows with composite keys
        → (comp_terms, shards, bids, bmax, deltas, tfs) NumPy columns."""
        comp, shards, bids, bmax, deltas, tfs = [], [], [], [], [], []
        for f in self.fields:
            tbl = snaps[f]._load_terms(all_terms)
            n = len(tbl["term"])
            comp.extend(f"{f}{self._SEP}{t}" for t in tbl["term"])
            shards.extend(tbl["shard"])
            bids.extend(tbl["block_id"])
            bmax.extend(tbl["block_max_score"])
            deltas.extend(tbl["doc_deltas"])
            tfs.extend(tbl["tfs"])
            assert len(comp) == len(shards), n  # columns stay aligned
        return (
            np.asarray(comp, dtype=object),
            np.asarray(shards, dtype=np.int64),
            np.asarray(bids, dtype=np.int64),
            np.asarray(bmax, dtype=np.float64),
            np.asarray(deltas, dtype=object),
            np.asarray(tfs, dtype=object),
        )

    def _shard_ctx(self, snaps, shard: int, allow_masks=None):
        """Per-shard keyed dls + combined exclusion mask (field-tombstone OR,
        then allow-set complement — the ACL form shared with the single-field
        tier). → (dls_by_field, mask, skip): skip=True when an allow-set is
        in force and the shard holds no allowed docs."""
        dls_by_field = {
            f: snaps[f].dls.get(shard) for f in self.fields
        }
        tomb = None
        for f in self.fields:
            tm = snaps[f].tomb_masks.get(shard)
            if tm is not None:
                tomb = tm.copy() if tomb is None else (tomb | tm)
        if allow_masks is not None:
            am = allow_masks.get(shard)
            if am is None:
                return dls_by_field, None, True
            tomb = ~am if tomb is None else (~am | tomb)
        return dls_by_field, tomb, False

    def query_batch(
        self, queries: list, field_weights: dict[str, float],
        allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """Per-field-sum fielded top-k ≡ operators/fielded.bm25f_topk.
        ``allowed_doc_ids``: ACL allow-set (per-shard bitmaps, masked before
        top-k with full stats); ``offsets``: deep paging — rank at depth
        offset+k, return the page with GLOBAL ranks."""
        weights = self._validate(queries, field_weights)
        if offsets:
            rows = self.query_batch(_deepen_queries(queries, offsets, 3),
                                    field_weights,
                                    allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, queries, offsets, 3)
        snaps = {f: s._snap() for f, s in self.servers.items()}
        allow_masks = snaps[self.fields[0]]._allow_masks(allowed_doc_ids)
        all_terms = sorted({t for q in queries for t in q[1]})
        # MUST_NOT (5-tuples, plain terms): neg postings must be loaded too
        neg_terms = sorted(
            {t for q in queries if len(q) > 4 and q[4] for t in q[4]}
        )
        scan_terms = sorted(set(all_terms) | set(neg_terms))
        comp, shards, bids, bmax, deltas, tfs = self._field_rows(
            snaps, scan_terms)
        if comp.size == 0:
            return []
        idf_map = {
            f"{f}{self._SEP}{t}": v
            for f in self.fields
            for t, v in snaps[f]._idf_for(all_terms).items()
        }
        avgdls = {f: snaps[f].avgdl for f in self.fields}
        # extended tuples mirror operators/fielded.bm25f_topk: slot 6 =
        # per-plain-term boost multiplier (× field weight — fuzzy decay),
        # slot 7 = per-query group map (word-level conjunctive across fields)
        comp_queries = []
        for q in queries:
            tb = q[5] if len(q) > 5 and q[5] else {}
            gm = q[6] if len(q) > 6 and q[6] else None
            terms_u = sorted(set(q[1]))
            cq = (
                int(q[0]),
                [f"{f}{self._SEP}{t}" for f in self.fields
                 for t in terms_u],
                q[2],
                int(q[3]),
                tuple(f"{f}{self._SEP}{t}" for f in self.fields
                      for t in sorted(set(q[4])))
                if len(q) > 4 and q[4] else (),
                {f"{f}{self._SEP}{t}": weights[f] * float(tb.get(t, 1.0))
                 for f in self.fields for t in terms_u},
            )
            if gm is not None:
                cq = cq + ({
                    f"{f}{self._SEP}{t}": (tuple(gm[t])
                                           if isinstance(
                                               gm[t], (tuple, list, set,
                                                       frozenset))
                                           else (gm[t],))
                    for f in self.fields for t in terms_u
                },)
            comp_queries.append(cq)
        # document-level conjunctive ("every term in SOME field"): composite
        # keys group by their plain term inside the shared kernel
        conj_groups = {
            f"{f}{self._SEP}{t}": t for f in self.fields for t in scan_terms
        }
        q_parts, d_parts, s_parts = [], [], []
        for shard in np.unique(shards):
            m = shards == int(shard)
            dls_by_field, tomb, skip = self._shard_ctx(
                snaps, int(shard), allow_masks)
            if skip:
                continue
            keys = set(comp[m])
            dls_map = {k: dls_by_field[k.split(self._SEP, 1)[0]] for k in keys}
            avgdl_map = {k: avgdls[k.split(self._SEP, 1)[0]] for k in keys}
            oq, od, os_ = score_shard_blocks(
                int(shard), comp[m], bids[m], bmax[m], deltas[m], tfs[m],
                dls_map, comp_queries, idf_map, avgdl_map, self.cfg,
                tomb_mask=tomb, conj_groups=conj_groups,
                decode_cache=_bounded(self._cache_for(snaps), comp.size),
            )
            q_parts.extend(oq)
            d_parts.extend(od)
            s_parts.extend(os_)
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts), queries,
        )

    def routed_batch(
        self, queries: list, allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """PER-TERM field routing ≡ operators/fielded.bm25f_routed_topk
        (rank-identical, pytest-pinned): ``(qid, [(field, term), ...],
        mode, k[, negs[, boosts]])`` — each clause ranks on ITS named
        field's statistics with its own boost; ``negs`` rows are
        (field | None, term), None = any-field exclusion; no profile
        weights (routing replaces the fielded profile). Same keyed kernel
        and shard loop as query_batch, with per-clause composite keys
        instead of the all-fields fan-out."""
        if len({int(q[0]) for q in queries}) != len(queries):
            raise ValueError("duplicate query_ids in a routed batch")
        if offsets:
            rows = self.routed_batch(_deepen_queries(queries, offsets, 3),
                                     allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, queries, offsets, 3)
        snaps = {f: s._snap() for f, s in self.servers.items()}
        allow_masks = snaps[self.fields[0]]._allow_masks(allowed_doc_ids)
        comp_queries = []
        scan_terms: set = set()
        idf_terms: set = set()
        for q in queries:
            qid, clauses, mode, k = int(q[0]), list(q[1]), q[2], int(q[3])
            if mode not in ("disjunctive", "conjunctive"):
                raise ValueError(f"unknown query mode {mode!r}")
            if not clauses:
                raise ValueError(f"query_id={qid}: no (field, term) clauses")
            negs = list(q[4]) if len(q) > 4 and q[4] else []
            boosts = dict(q[5]) if len(q) > 5 and q[5] else {}
            bad_f = ({f for f, _t in clauses}
                     | {f for f, _t in negs if f is not None}
                     | {f for f, _t in boosts if f is not None}) \
                - set(self.fields)
            if bad_f:
                raise ValueError(
                    f"query_id={qid} routes to unknown fields "
                    f"{sorted(bad_f)}; indexes have {self.fields}"
                )
            badw = {c: w for c, w in boosts.items() if float(w) < 0}
            if badw:
                raise ValueError(
                    f"negative clause boosts break exact pruning: {badw} "
                    f"(query_id={qid})"
                )
            keys = sorted({f"{f}{self._SEP}{t}" for f, t in clauses})
            negkeys: set = set()
            for nf, nt in negs:
                if nf is None:
                    negkeys.update(f"{f}{self._SEP}{nt}"
                                   for f in self.fields)
                else:
                    negkeys.add(f"{nf}{self._SEP}{nt}")
            wmap = {f"{f}{self._SEP}{t}": float(w)
                    for (f, t), w in boosts.items()}
            comp_queries.append((qid, keys, mode, k,
                                 tuple(sorted(negkeys)), wmap))
            scan_terms |= {t for _f, t in clauses} | {t for _f, t in negs}
            idf_terms |= {t for _f, t in clauses}
        comp, shards, bids, bmax, deltas, tfs = self._field_rows(
            snaps, sorted(scan_terms))
        if comp.size == 0:
            return []
        idf_map = {
            f"{f}{self._SEP}{t}": v
            for f in self.fields
            for t, v in snaps[f]._idf_for(sorted(idf_terms)).items()
        }
        avgdls = {f: snaps[f].avgdl for f in self.fields}
        q_parts, d_parts, s_parts = [], [], []
        for shard in np.unique(shards):
            m = shards == int(shard)
            dls_by_field, tomb, skip = self._shard_ctx(
                snaps, int(shard), allow_masks)
            if skip:
                continue
            keys = set(comp[m])
            dls_map = {k: dls_by_field[k.split(self._SEP, 1)[0]]
                       for k in keys}
            avgdl_map = {k: avgdls[k.split(self._SEP, 1)[0]] for k in keys}
            oq, od, os_ = score_shard_blocks(
                int(shard), comp[m], bids[m], bmax[m], deltas[m], tfs[m],
                dls_map, comp_queries, idf_map, avgdl_map, self.cfg,
                tomb_mask=tomb,
                decode_cache=_bounded(self._cache_for(snaps), comp.size),
            )
            q_parts.extend(oq)
            d_parts.extend(od)
            s_parts.extend(os_)
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts),
            [(int(q[0]), [], "", int(q[3])) for q in queries],
        )

    def _fuzzy_expansion_cross(self, snaps, word: str, max_dist: int,
                               max_expansions: int) -> list:
        """One word's (term, distance) expansion under the CROSS-FIELD rule
        (operators/fielded.bm25f_fuzzy_topk): candidates = union of the
        fields' SymSpell buckets (each a superset of its vocab's ≤max_dist
        neighborhood), ordering df = Σ_field df — Levenshtein-verified,
        ranked distance ASC / df DESC / term ASC, capped."""
        cand: set[str] = set()
        for f in self.fields:
            cand.update(
                snaps[f]._fuzzy_candidates_checked(str(word), int(max_dist)))
        terms = sorted(cand)
        dfs: dict[str, int] = {}
        for f in self.fields:
            for t, (dfv, _idf) in snaps[f]._stats_for(terms).items():
                dfs[t] = dfs.get(t, 0) + int(dfv)
        out = []
        for t in terms:
            if t not in dfs:  # replica row for a since-purged term
                continue
            d = IndexServer._levenshtein(t, str(word), int(max_dist))
            if d <= int(max_dist):
                out.append((d, -dfs[t], t))
        out.sort()
        return [(t, d) for d, _ndf, t in out[:max_expansions]]

    def fuzzy_topk_batch(
        self, multi_queries: list, field_weights: dict[str, float],
        max_expansions: int = 50, distance_decay: "float | None" = None,
        mode: str = "disjunctive", allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """Typo-tolerant search across weighted fields, rank-identical to
        operators/fielded.bm25f_fuzzy_topk (pytest-pinned):
        ``(query_id, [words], max_dist, k)`` — per-word expansion under the
        cross-field rule (_fuzzy_expansion_cross), composed by the SHARED
        wand._compose_fuzzy_multi rule (union terms, min distance, optional
        decay^dist boosts, word-level conjunctive groups), then ONE fielded
        query_batch whose composite boosts carry w_field · decay^dist."""
        from bloqsenjin_spark.operators.wand import _compose_fuzzy_multi

        if len({q[0] for q in multi_queries}) != len(multi_queries):
            raise ValueError("duplicate query_ids in multi_queries")
        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(f"unknown query mode {mode!r}")
        if distance_decay is not None and float(distance_decay) < 0:
            raise ValueError(
                "distance_decay must be >= 0 (negative boosts break exact "
                "block-max pruning)"
            )
        snaps = {f: s._snap() for f, s in self.servers.items()}
        negs_map = must_not or {}
        queries = []
        for qid, words, max_dist, k in multi_queries:
            exps = [
                self._fuzzy_expansion_cross(snaps, str(w), int(max_dist),
                                            max_expansions)
                for w in words
            ]
            q = _compose_fuzzy_multi(exps, int(qid), int(k), distance_decay,
                                     negs=negs_map.get(int(qid), ()),
                                     mode=mode)
            if q is not None:
                queries.append(q)
        if not queries:
            return []
        return self.query_batch(queries, field_weights,
                                allowed_doc_ids=allowed_doc_ids,
                                offsets=offsets)

    def prefix_topk_batch(
        self, prefix_queries: list, field_weights: dict[str, float],
        max_expansions: int = 100, allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """Prefix search across weighted fields, rank-identical to
        operators/fielded.bm25f_prefix_topk: each prefix expands against
        the union of the fields' dictionaries with df summed (df DESC /
        term ASC, capped), then ranks as ONE disjunctive fielded batch."""
        if len({q[0] for q in prefix_queries}) != len(prefix_queries):
            raise ValueError("duplicate query_ids in prefix_queries")
        snaps = {f: s._snap() for f, s in self.servers.items()}
        negs = must_not or {}
        queries = []
        for qid, prefix, k in prefix_queries:
            dfs: dict[str, int] = {}
            for f in self.fields:
                for t, d in snaps[f]._prefix_candidates(str(prefix)):
                    dfs[t] = dfs.get(t, 0) + int(d)
            cands = sorted(dfs.items(), key=lambda td: (-td[1], td[0]))
            terms = [t for t, _d in cands[:max_expansions]]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k),
                                tuple(negs.get(int(qid), ()))))
        if not queries:
            return []
        return self.query_batch(queries, field_weights,
                                allowed_doc_ids=allowed_doc_ids,
                                offsets=offsets)

    def wildcard_topk_batch(
        self, wc_queries: list, field_weights: dict[str, float],
        max_expansions: int = 100, allowed_doc_ids=None, offsets=None,
        must_not=None,
    ) -> list[tuple[int, int, int, float]]:
        """Wildcard search across weighted fields, rank-identical to
        operators/fielded.bm25f_wildcard_topk: each pattern expands
        against the union of the fields' dictionaries with df summed
        (prefix-pruned + regex per field, leading wildcards refused),
        then ranks as ONE disjunctive fielded batch."""
        if len({q[0] for q in wc_queries}) != len(wc_queries):
            raise ValueError("duplicate query_ids in wc_queries")
        snaps = {f: s._snap() for f, s in self.servers.items()}
        negs = must_not or {}
        queries = []
        for qid, pattern, k in wc_queries:
            dfs: dict[str, int] = {}
            for f in self.fields:
                for t, d in snaps[f]._wildcard_candidates(str(pattern)):
                    dfs[t] = dfs.get(t, 0) + int(d)
            cands = sorted(dfs.items(), key=lambda td: (-td[1], td[0]))
            terms = [t for t, _d in cands[:max_expansions]]
            if terms:
                queries.append((int(qid), terms, "disjunctive", int(k),
                                tuple(negs.get(int(qid), ()))))
        if not queries:
            return []
        return self.query_batch(queries, field_weights,
                                allowed_doc_ids=allowed_doc_ids,
                                offsets=offsets)

    def merged_batch(
        self, queries: list, field_weights: dict[str, float],
        allowed_doc_ids=None, offsets=None,
    ) -> list[tuple[int, int, int, float]]:
        """TRUE merged-tf BM25F ≡ operators/fielded.bm25f_merged_topk
        (requires ``doc_stats_dir`` for the document-level idf). Same
        allow-set / deep-paging contract as query_batch."""
        from bloqsenjin_spark.functions.scoring import score_shard_blocks_bm25f

        if self._doc_stats is None:
            raise ValueError(
                "merged_batch needs doc_stats_dir (an index over the unsplit "
                "documents) for the document-level idf"
            )
        weights = self._validate(queries, field_weights)
        if offsets:
            rows = self.merged_batch(_deepen_queries(queries, offsets, 3),
                                     field_weights,
                                     allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, queries, offsets, 3)
        snaps = {f: s._snap() for f, s in self.servers.items()}
        allow_masks = snaps[self.fields[0]]._allow_masks(allowed_doc_ids)
        all_terms = sorted({t for q in queries for t in q[1]})
        # MUST_NOT (5-tuples, plain terms): neg postings load too; their
        # composite keys carry no field idf (no scoring), exclusion only
        neg_terms = sorted(
            {t for q in queries if len(q) > 4 and q[4] for t in q[4]}
        )
        scan_terms = sorted(set(all_terms) | set(neg_terms))
        comp, shards, bids, bmax, deltas, tfs = self._field_rows(
            snaps, scan_terms)
        if comp.size == 0:
            return []
        # snapshot ONCE: a per-term _snap() inside the comprehension could
        # mix idf values from two index generations (or KeyError) if a
        # concurrent refresh() lands mid-loop
        doc_idf = self._doc_stats._snap()._idf_for(all_terms)
        field_idf = {
            f"{f}{self._SEP}{t}": v
            for f in self.fields
            for t, v in snaps[f]._idf_for(all_terms).items()
        }
        avgdls = {f: snaps[f].avgdl for f in self.fields}
        plain_queries = [
            (int(q[0]), sorted(set(q[1])), q[2], int(q[3]),
             tuple(sorted(set(q[4]))) if len(q) > 4 and q[4] else ())
            for q in queries
        ]
        q_parts, d_parts, s_parts = [], [], []
        for shard in np.unique(shards):
            m = shards == int(shard)
            dls_by_field, tomb, skip = self._shard_ctx(
                snaps, int(shard), allow_masks)
            if skip:
                continue
            keys = set(comp[m])
            dls_map = {k: dls_by_field[k.split(self._SEP, 1)[0]] for k in keys}
            avgdl_map = {k: avgdls[k.split(self._SEP, 1)[0]] for k in keys}
            oq, od, os_ = score_shard_blocks_bm25f(
                int(shard), comp[m], bids[m], bmax[m], deltas[m], tfs[m],
                dls_map, plain_queries, doc_idf, field_idf, avgdl_map,
                weights, self.fields, self._SEP, self.cfg,
                tomb_mask=tomb,
                decode_cache=_bounded(self._cache_for(snaps), comp.size),
            )
            q_parts.extend(oq)
            d_parts.extend(od)
            s_parts.extend(os_)
        if not q_parts:
            return []
        return global_topk(
            np.concatenate(q_parts), np.concatenate(d_parts),
            np.concatenate(s_parts), plain_queries,
        )


    def _field_server(self, field: str) -> IndexServer:
        if field not in self.servers:
            raise ValueError(
                f"unknown field {field!r}; indexes have {self.fields}"
            )
        return self.servers[field]

    def phrase_batch(self, field: str, phrases, allowed_doc_ids=None):
        """Exact phrase matches WITHIN one field ("phrase in title") —
        identical results to operators/fielded.phrase_match_fielded on the
        same per-field indexes (requires positions=True field builds)."""
        return self._field_server(field).phrase_batch(
            phrases, allowed_doc_ids=allowed_doc_ids)

    def near_batch(self, field: str, near_queries, ordered: bool = True,
                   allowed_doc_ids=None):
        """Proximity matches within one field (ordered/unordered window) ≡
        operators/fielded.near_match_fielded."""
        return self._field_server(field).near_batch(
            near_queries, ordered=ordered, allowed_doc_ids=allowed_doc_ids)

    def phrase_topk_batch(self, field: str, phrases, ordered: bool = True,
                          allowed_doc_ids=None, offsets=None):
        """Phrase/proximity-filtered BM25 top-k within one field, ranked
        with the FIELD's own statistics ≡
        operators/fielded.phrase_bm25_topk_fielded (pytest-pinned)."""
        return self._field_server(field).phrase_topk_batch(
            phrases, ordered=ordered, allowed_doc_ids=allowed_doc_ids,
            offsets=offsets)

    def phrase_topk_batch_cross(self, phrases, field_weights,
                                ordered: bool = True, allowed_doc_ids=None,
                                offsets=None):
        """Phrase/proximity ranking ACROSS weighted fields, rank-identical
        to operators/fielded.bm25f_phrase_topk (pytest-pinned): a doc
        matches iff the phrase occurs in AT LEAST one field; score =
        Σ_{matching fields} w_f · phraseBM25_f. Per-field scored hits come
        from each field server's shared phrase core (_phrase_scored_hits,
        UNtruncated — match-bounded), summed per (query, doc) in sorted-
        field order (stable lexsort + reduceat ⇒ the same deterministic
        float addition order as the Spark side's array_sort aggregate)."""
        from bloqsenjin_spark.functions.scoring import global_topk
        from bloqsenjin_spark.operators.wand import _parse_phrases

        weights = {f: float(field_weights.get(f, 1.0)) for f in self.fields}
        unknown = set(field_weights) - set(self.fields)
        if unknown:
            raise ValueError(
                f"field_weights name unknown fields {sorted(unknown)}; "
                f"indexes have {self.fields}"
            )
        if any(w < 0 for w in weights.values()):
            raise ValueError(
                f"negative field weights are not rankable: {weights}")
        if offsets:  # deep paging: rank at depth offset+k, slice the page
            rows = self.phrase_topk_batch_cross(
                _deepen_queries(phrases, offsets, 2), field_weights,
                ordered=ordered, allowed_doc_ids=allowed_doc_ids)
            return _page_slice(rows, phrases, offsets, 2)
        slop_map = {int(q[0]): int(q[3]) if len(q) > 3 else 0
                    for q in phrases}
        if len(slop_map) != len(phrases):
            raise ValueError("duplicate query_ids in a phrase/proximity "
                             "batch")
        parsed = [
            (qid, toks, slop_map[qid])
            for qid, toks in _parse_phrases([(q[0], q[1]) for q in phrases])
        ]
        q_parts, d_parts, s_parts = [], [], []
        for f in self.fields:  # sorted — deterministic cross-field order
            snap = self.servers[f]._snap()
            for qid, hits, score in snap._phrase_scored_hits(
                    parsed, ordered, snap._allow_masks(allowed_doc_ids)):
                q_parts.append(np.full(hits.size, qid, dtype=np.int64))
                d_parts.append(hits)
                s_parts.append(score * weights[f])
        if not q_parts:
            return []
        q = np.concatenate(q_parts)
        d = np.concatenate(d_parts)
        s = np.concatenate(s_parts)
        # sum per (qid, doc): stable lexsort keeps equal keys in field
        # order, reduceat adds left-to-right — deterministic
        order = np.lexsort((d, q))
        q, d, s = q[order], d[order], s[order]
        starts = np.flatnonzero(
            np.r_[True, (q[1:] != q[:-1]) | (d[1:] != d[:-1])])
        return global_topk(
            q[starts], d[starts], np.add.reduceat(s, starts),
            [(int(p[0]), [], "", int(p[2])) for p in phrases],
        )


def merge_topk(partials, queries) -> list[tuple[int, int, int, float]]:
    """Merge slice owners' partial top-k result lists into the global
    ranking — the frontend half of the multi-server deployment (each
    ``IndexServer(shards=...)`` returns its slice's exact top-k; every
    global winner wins its own slice, so re-ranking the union and
    truncating to k is exact). Same tie-break as the kernel:
    score DESC, doc_id ASC."""
    kmap = {int(q[0]): int(q[3]) for q in queries}
    by_q: dict[int, list[tuple[int, float]]] = {}
    for rows in partials:
        for qid, _rank, doc, score in rows:
            by_q.setdefault(int(qid), []).append((int(doc), float(score)))
    out: list[tuple[int, int, int, float]] = []
    for qid in sorted(by_q):
        ranked = sorted(by_q[qid], key=lambda x: (-x[1], x[0]))[: kmap[qid]]
        out.extend((qid, r, d, s) for r, (d, s) in enumerate(ranked, 1))
    return out


def merge_counts(partials) -> list[tuple[int, int]]:
    """Sum slice owners' partial (query_id, n_hits) counts — doc-range
    slices partition the corpus, so counts add exactly."""
    acc: dict[int, int] = {}
    for rows in partials:
        for qid, n in rows:
            acc[int(qid)] = acc.get(int(qid), 0) + int(n)
    return sorted(acc.items())
