"""The block-max top-k scoring kernel — ONE implementation shared by the
distributed path (operators/wand.py cogrouped Arrow UDF) and the low-latency
serving path (operators/serving.py, pyarrow reads, no Spark job). Sharing the
kernel is what makes the two paths rank-identical by construction.

Inputs are plain NumPy/Python structures; see operators/wand.py for the
algorithm notes (exactness of doc-range-aligned block pruning, deterministic
lexicographic-term summation, tie handling).
"""

from __future__ import annotations

import numpy as np

from bloqsenjin_spark.config import IndexConfig
from bloqsenjin_spark.functions import bm25
from bloqsenjin_spark.functions.codec import delta_decode, varint_decode


def _check_boosts(queries: list) -> None:
    """Reject negative per-term boosts: contribution ub = block_max · w is an
    UPPER bound only for w ≥ 0 — a negative weight silently breaks exact
    block-max pruning, so fail loudly at the entry points instead."""
    for q in queries:
        if len(q) > 5 and q[5]:
            bad = {t: w for t, w in q[5].items() if w < 0}
            if bad:
                raise ValueError(
                    f"negative term boosts break exact pruning: {bad} "
                    f"(query_id={q[0]})"
                )


def _block_decoder(shard: int, deltas_col, tfs_col=None,
                   decode_cache: "dict | None" = None):
    """One shard's block decode step, shared by the three kernels →
    ``decode(key, block_id, row, block_base)``: the block's doc ids, or
    (doc_ids, tfs float64) when a ``tfs_col`` is given. Decodes go through
    ``decode_cache`` (cross-call, keyed (key, shard, block_id)) when one is
    passed, else through a call-local memo with the same keys. Cached
    arrays are never mutated by a kernel, so sharing them is safe."""
    cache = {} if decode_cache is None else decode_cache

    def decode(key, bi: int, row: int, block_base: int):
        ck = (key, shard, bi)
        got = cache.get(ck)
        if got is None:
            got = delta_decode(bytes(deltas_col[row]), base=block_base)
            if tfs_col is not None:
                got = (got, varint_decode(bytes(tfs_col[row])).astype(
                    np.float64))
            cache[ck] = got
        return got

    return decode


def score_shard_blocks(
    shard: int,
    terms_col: np.ndarray,
    bids: np.ndarray,
    bmax_col: np.ndarray,
    deltas_col: np.ndarray,
    tfs_col: np.ndarray,
    dls: np.ndarray,
    queries: list[tuple[int, list[str], str, int]],
    idf_map: dict[str, float],
    avgdl: float,
    cfg: IndexConfig,
    tomb_mask: np.ndarray | None = None,
    conj_groups: "dict | None" = None,
    decode_cache: "dict | None" = None,
) -> tuple[list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """Score every query against one shard's (query-term-filtered) block rows.

    ``conj_groups``: optional {term_key: group(s)} map enabling GROUPED
    conjunctive semantics — a conjunctive query matches a doc iff the doc
    matched ≥1 key of EVERY group, instead of every key. Two users:
    fielded document-level conjunctive ("every term in SOME field" —
    groups = plain terms over composite field⟂term keys) and conjunctive
    multi-word fuzzy ("every WORD matches somewhere" — groups = query
    words over expansion terms; a term in several words' expansion sets
    carries a COLLECTION of groups and counts for all of them). Per-query
    override: a 7th query-tuple element supplies that query's own map
    (required when group ids are query-scoped, e.g. word indexes).
    Tracked as a per-group bitmask (≤63 distinct groups per query).
    Ignored for disjunctive queries; None keeps all-keys conjunctive.

    Returns (query_id arrays, doc_id arrays, score arrays) — per-query partial
    top-k, exact under block-max pruning.

    ``tomb_mask``: THIS shard's tombstone bitmap as a shard-local boolean
    array (index = doc_id − shard·docs_per_shard; True = logically deleted)
    — masked out BEFORE top-k selection (LSM delete semantics: scores of
    surviving docs use the stats baked at build time until a purge refreshes
    them). Per-shard bitmaps instead of a global docID array so the caller
    never has to collect or broadcast the full tombstone set.

    ``dls``/``avgdl`` may also be dicts keyed BY TERM: the multi-field path
    (operators/fielded.py) encodes (field, term) into composite term keys
    and supplies that field's doc-length array / avgdl per key — one shared
    kernel for single- and multi-field ranking.

    ``decode_cache``: optional CROSS-CALL mutable mapping keyed
    (term, shard, block_id) → (doc_ids, tfs float64) — the serving tier's
    decoded-block LRU (the BM25 twin of IndexServer._decode_pos_block's
    positional cache; round-9 follow-up — decode was 40-60 % of a warm
    1M-doc batch profile). See _block_decoder. The distributed path passes
    None (task workers are stateless) and keeps a call-local memo.
    """
    dps, bdocs = cfg.docs_per_shard, cfg.block_docs
    k1, b = cfg.k1, cfg.b
    shard_base = shard * dps
    keyed_dls = isinstance(dls, dict)

    def term_dls(t):
        return dls[t] if keyed_dls else dls

    def term_avgdl(t):
        return avgdl[t] if keyed_dls else avgdl

    term_blocks: dict[str, dict[int, int]] = {}
    term_bmax: dict[str, dict[int, float]] = {}
    for i in range(len(terms_col)):
        t = terms_col[i]
        term_blocks.setdefault(t, {})[int(bids[i])] = i
        term_bmax.setdefault(t, {})[int(bids[i])] = float(bmax_col[i])

    block_postings = _block_decoder(shard, deltas_col, tfs_col, decode_cache)

    out_q: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    for q in queries:
        # 4-tuples (qid, terms, mode, k), 5-tuples with MUST_NOT terms
        # (docs containing ANY neg term are excluded before top-k — exclusion
        # is block-local AND complete since a doc's postings, positive and
        # negative terms alike, all live in its one doc-range block), or
        # 6-tuples adding a per-term boost dict {term: weight} — each term's
        # contribution AND its block-max upper bound scale by the weight, so
        # the pruning stays exact under boosting.
        qid, terms, mode, k = q[:4]
        negs = sorted(set(q[4])) if len(q) > 4 and q[4] else ()
        wmap = q[5] if len(q) > 5 and q[5] else None
        present = sorted(t for t in set(terms) if t in term_blocks)
        need = sorted(set(terms))
        if not present:
            continue
        conj = mode == "conjunctive"
        qgroups = (q[6] if len(q) > 6 and q[6] else conj_groups)
        grouped = conj and qgroups is not None
        full_mask = 0
        key_mask: dict = {}
        if grouped:
            def _gset(t):
                g = qgroups[t]
                return (tuple(g) if isinstance(g, (tuple, list, set,
                                                   frozenset)) else (g,))

            gids = sorted({g for t in need for g in _gset(t)})
            if len(gids) > 63:
                raise ValueError(
                    "grouped conjunctive queries cap at 63 distinct groups"
                )
            gidx = {g: i for i, g in enumerate(gids)}
            g_present: dict[int, list] = {}
            for t in present:
                m_ = 0
                for g in _gset(t):
                    m_ |= 1 << gidx[g]
                    g_present.setdefault(gidx[g], []).append(t)
                key_mask[t] = m_
            if len(g_present) != len(gids):
                continue  # some group has no key in this shard ⇒ no match
            full_mask = (1 << len(gids)) - 1
            cand = None
            for keys in g_present.values():
                u: set[int] = set()
                for t in keys:
                    u.update(term_blocks[t])
                cand = u if cand is None else (cand & u)
        elif conj:
            if len(present) != len(need):
                continue
            cand = set.intersection(*[set(term_blocks[t]) for t in present])
        else:
            cand = set()
            for t in present:
                cand.update(term_blocks[t])
        if not cand:
            continue

        def wt(t):
            return float(wmap.get(t, 1.0)) if wmap else 1.0

        ubs = {
            bi: sum(term_bmax[t].get(bi, 0.0) * wt(t) for t in present)
            for bi in cand
        }
        ordered = sorted(cand, key=lambda bi: (-ubs[bi], bi))

        scores_acc: list[np.ndarray] = []
        docs_acc: list[np.ndarray] = []
        n_found = 0
        threshold = -np.inf
        for bi in ordered:
            if n_found >= k and ubs[bi] < threshold - 1e-12:
                break
            block_base = shard_base + bi * bdocs
            acc = np.zeros(bdocs, dtype=np.float64)
            if grouped:
                bits = np.zeros(bdocs, dtype=np.int64)
            matched = np.zeros(bdocs, dtype=np.int32)
            for t in present:  # lexicographic order = deterministic sums
                ri = term_blocks[t].get(bi)
                if ri is None:
                    continue
                ids, tfs = block_postings(t, bi, ri, block_base)
                off = ids - block_base
                contrib = (idf_map[t] * wt(t)) * bm25.tf_component_np(
                    tfs, term_dls(t)[ids - shard_base], term_avgdl(t), k1, b
                )
                acc[off] += contrib
                if grouped:
                    bits[off] |= np.int64(key_mask[t])
                matched[off] += 1
            for nt in negs:  # MUST_NOT: clear candidates holding a neg term
                ri = term_blocks.get(nt, {}).get(bi)
                if ri is not None:
                    nids, _ = block_postings(nt, bi, ri, block_base)
                    matched[nids - block_base] = -(1 << 30)
            if grouped:  # every group hit somewhere, no neg term anywhere
                sel = (bits == full_mask) & (matched > 0)
            else:
                sel = matched == len(need) if conj else matched > 0
            offs = np.flatnonzero(sel)
            if offs.size and tomb_mask is not None:
                offs = offs[~tomb_mask[offs + (block_base - shard_base)]]
            if offs.size == 0:
                continue
            docs_acc.append(offs + block_base)
            scores_acc.append(acc[offs])
            n_found += offs.size
            if n_found >= k:
                allx = np.concatenate(scores_acc)
                threshold = np.partition(allx, allx.size - k)[allx.size - k]
        if not docs_acc:
            continue
        docs = np.concatenate(docs_acc)
        scs = np.concatenate(scores_acc)
        if docs.size > k:
            order = np.lexsort((docs, -scs))[:k]
            docs, scs = docs[order], scs[order]
        out_q.append(np.full(docs.size, qid, dtype=np.int64))
        out_d.append(docs)
        out_s.append(scs)
    return out_q, out_d, out_s


def score_shard_blocks_bm25f(
    shard: int,
    terms_col: np.ndarray,
    bids: np.ndarray,
    bmax_col: np.ndarray,
    deltas_col: np.ndarray,
    tfs_col: np.ndarray,
    dls_map: dict[str, np.ndarray],
    queries: list[tuple[int, list[str], str, int]],
    doc_idf: dict[str, float],
    field_idf: dict[str, float],
    avgdl_map: dict[str, float],
    weight_map: dict[str, float],
    fields: list[str],
    sep: str,
    cfg: IndexConfig,
    tomb_mask: np.ndarray | None = None,
    decode_cache: "dict | None" = None,
) -> tuple[list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """TRUE BM25F (merged-tf) scoring of one shard's composite-key block rows:

        score(d, q) = Σ_t idf_doc(t) · (k1+1)·tf̃ / (tf̃ + k1),
        tf̃ = Σ_f w_f · tf_{f,t,d} / (1 − b + b·dl_{f,d}/avgdl_f)

    i.e. per-field length-normalized tfs are weighted and MERGED BEFORE
    saturation (Zaragoza & Robertson's BM25F), with a document-level idf —
    unlike score_shard_blocks' composite-key mode, which saturates per field
    and sums afterwards (the per-field-sum model).

    Needs NO storage-format change: the stored per-(field,term) block max is
    bm = idf_f · sat(tf̄_max) with sat monotone, so the block's max normalized
    tf is recovered exactly by inverting sat: tf̄_max = k1·m/((k1+1)−m),
    m = bm/idf_f. The merged block bound Σ_t idf_doc(t)·sat(Σ_f w_f·tf̄_max)
    is then an exact upper bound for w ≥ 0 (sat is monotone and each doc's
    tf̃ is ≤ the weighted sum of per-field block maxima), so block-max
    pruning keeps the same exactness guarantee as the single-field kernel.

    ``terms_col`` carries composite ``field⟂term`` keys (``sep`` separator);
    queries carry PLAIN terms. 4-tuples (disjunctive or conjunctive —
    conjunctive is the DOCUMENT-level reading "every term in SOME field",
    Lucene's default) or 5-tuples adding PLAIN MUST_NOT terms (a doc is
    excluded when a neg term occurs in ANY field — block-local and
    complete, a doc's postings all live in its one block); per-term boosts
    remain the per-field-sum path's surface (field weights are this
    model's weighting).
    """
    dps, bdocs = cfg.docs_per_shard, cfg.block_docs
    k1, b = cfg.k1, cfg.b
    shard_base = shard * dps

    # composite key → {block_id: row}, plus recovered per-block max
    # normalized tf (the inverse-sat trick)
    key_blocks: dict[str, dict[int, int]] = {}
    key_tfn_max: dict[str, dict[int, float]] = {}
    for i in range(len(terms_col)):
        key = terms_col[i]
        bi = int(bids[i])
        key_blocks.setdefault(key, {})[bi] = i
        fi = field_idf.get(key)
        if fi is None:
            continue  # MUST_NOT-only rows need no block bound (no scoring)
        m = float(bmax_col[i]) / fi
        key_tfn_max.setdefault(key, {})[bi] = (
            k1 * m / max((k1 + 1.0) - m, 1e-300)
        )

    # same cross-call decode LRU as score_shard_blocks — composite
    # field⟂term keys make entries unique per field replica
    block_postings = _block_decoder(shard, deltas_col, tfs_col, decode_cache)

    def sat(x: np.ndarray) -> np.ndarray:
        return (k1 + 1.0) * x / (x + k1)

    out_q: list[np.ndarray] = []
    out_d: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    for q in queries:
        qid, terms, mode, k = q[:4]
        negs = sorted(set(q[4])) if len(q) > 4 and q[4] else ()
        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(f"unknown query mode {mode!r}")
        conj = mode == "conjunctive"
        # terms with ≥1 field posting row in this shard. Conjunctive is the
        # DOCUMENT-level reading ("every term in SOME field" — Lucene's
        # default): a shard missing any term in every field hosts no match
        # (a doc's postings all live in its one shard).
        avail = sorted(
            t for t in set(terms)
            if any(f"{f}{sep}{t}" in key_blocks for f in fields)
        )
        if not avail or (conj and len(avail) != len(set(terms))):
            continue
        # a term can exist in a field's postings but be absent from the
        # document-level stats when the fields don't partition the document
        # text (the public API accepts arbitrary field exprs): disjunctive
        # treats missing doc-level idf as 0 (the term contributes nothing);
        # CONJUNCTIVE queries containing such a term match NOTHING — the
        # oracle's HAVING count(DISTINCT contrib term) = n_terms can never
        # be met when a term has no doc-stats row, and the kernel mirrors
        # that exactly (when fields partition the text, doc stats cover
        # every field term, so this never binds)
        present = [t for t in avail if t in doc_idf]
        if not present or (conj and len(present) != len(avail)):
            continue
        per_term_blocks = {
            t: {bi for f in fields
                for bi in key_blocks.get(f"{f}{sep}{t}", ())}
            for t in avail
        }
        if conj:
            cand = set.intersection(*per_term_blocks.values())
        else:
            cand = set()
            for t in present:
                cand.update(per_term_blocks[t])
        if not cand:
            continue
        ubs = {
            bi: sum(
                doc_idf[t] * float(sat(np.float64(sum(
                    weight_map[f] * key_tfn_max.get(f"{f}{sep}{t}", {}).get(bi, 0.0)
                    for f in fields
                ))))
                for t in present
            )
            for bi in cand
        }
        ordered = sorted(cand, key=lambda bi: (-ubs[bi], bi))

        scores_acc: list[np.ndarray] = []
        docs_acc: list[np.ndarray] = []
        n_found = 0
        threshold = -np.inf
        for bi in ordered:
            if n_found >= k and ubs[bi] < threshold - 1e-12:
                break
            block_base = shard_base + bi * bdocs
            acc = np.zeros(bdocs, dtype=np.float64)
            matched = (np.ones if conj else np.zeros)(bdocs, dtype=bool)
            # conj live queries have present == avail (guard above), so one
            # loop serves both modes
            for t in present:  # sorted ⇒ deterministic summation
                tfn = np.zeros(bdocs, dtype=np.float64)
                for f in fields:  # sorted by caller = deterministic
                    key = f"{f}{sep}{t}"
                    ri = key_blocks.get(key, {}).get(bi)
                    if ri is None:
                        continue
                    ids, tfs = block_postings(key, bi, ri, block_base)
                    dl = dls_map[key][ids - shard_base]
                    norm = 1.0 - b + b * dl / avgdl_map[key]
                    tfn[ids - block_base] += weight_map[f] * tfs / norm
                hit = tfn > 0.0
                if t in doc_idf and hit.any():
                    acc[hit] += doc_idf[t] * sat(tfn[hit])
                if conj:
                    matched &= hit
                else:
                    matched |= hit
            for nt in negs:  # MUST_NOT: neg term in ANY field kills the doc
                for f in fields:
                    nkey = f"{f}{sep}{nt}"
                    ri = key_blocks.get(nkey, {}).get(bi)
                    if ri is not None:
                        nids, _ = block_postings(nkey, bi, ri, block_base)
                        matched[nids - block_base] = False
            offs = np.flatnonzero(matched)
            if offs.size and tomb_mask is not None:
                offs = offs[~tomb_mask[offs + (block_base - shard_base)]]
            if offs.size == 0:
                continue
            docs_acc.append(offs + block_base)
            scores_acc.append(acc[offs])
            n_found += offs.size
            if n_found >= k:
                allx = np.concatenate(scores_acc)
                threshold = np.partition(allx, allx.size - k)[allx.size - k]
        if not docs_acc:
            continue
        docs = np.concatenate(docs_acc)
        scs = np.concatenate(scores_acc)
        if docs.size > k:
            order = np.lexsort((docs, -scs))[:k]
            docs, scs = docs[order], scs[order]
        out_q.append(np.full(docs.size, qid, dtype=np.int64))
        out_d.append(docs)
        out_s.append(scs)
    return out_q, out_d, out_s


def _iter_shard_matches(
    shard: int,
    terms_col: np.ndarray,
    bids: np.ndarray,
    deltas_col: np.ndarray,
    queries: list,
    cfg: IndexConfig,
    tomb_mask: np.ndarray | None = None,
    decode_cache: "dict | None" = None,
):
    """Yield (query_id, matched_doc_ids) per block for one shard's
    (query-term-filtered) block rows — the match core shared by the
    counting and faceting kernels: identical conjunctive/disjunctive/
    MUST_NOT/tombstone semantics to score_shard_blocks, no scores, no
    top-k state. Reads ONLY doc_deltas. ``decode_cache``: optional
    cross-call (term, shard, block_id) → doc_ids LRU (the match-core twin
    of score_shard_blocks' cache — a SEPARATE mapping, since this core
    caches bare id arrays, not (ids, tfs) tuples)."""
    dps, bdocs = cfg.docs_per_shard, cfg.block_docs
    shard_base = shard * dps

    term_blocks: dict[str, dict[int, int]] = {}
    for i in range(len(terms_col)):
        term_blocks.setdefault(terms_col[i], {})[int(bids[i])] = i

    block_ids = _block_decoder(shard, deltas_col, decode_cache=decode_cache)

    def ids_of(t, bi: int, block_base: int) -> np.ndarray:
        return block_ids(t, bi, term_blocks[t][bi], block_base)

    for q in queries:
        qid, terms, mode, _k = q[:4]
        negs = sorted(set(q[4])) if len(q) > 4 and q[4] else ()
        present = sorted(t for t in set(terms) if t in term_blocks)
        need = sorted(set(terms))
        if not present:
            continue
        conj = mode == "conjunctive"
        if conj and len(present) != len(need):
            continue
        if conj:
            cand = set.intersection(*[set(term_blocks[t]) for t in present])
        else:
            cand = set()
            for t in present:
                cand.update(term_blocks[t])
        for bi in sorted(cand):
            block_base = shard_base + bi * bdocs
            if conj:  # a doc's postings all live in its one block
                ids = ids_of(present[0], bi, block_base)
                for t in present[1:]:
                    if ids.size == 0:
                        break
                    ids = np.intersect1d(ids, ids_of(t, bi, block_base),
                                         assume_unique=True)
            else:
                parts = [
                    ids_of(t, bi, block_base)
                    for t in present if bi in term_blocks[t]
                ]
                ids = np.unique(np.concatenate(parts))
            for nt in negs:
                if ids.size == 0:
                    break
                if bi in term_blocks.get(nt, ()):
                    ids = np.setdiff1d(ids, ids_of(nt, bi, block_base),
                                       assume_unique=True)
            if tomb_mask is not None and ids.size:
                ids = ids[~tomb_mask[ids - shard_base]]
            if ids.size:
                yield int(qid), ids


def count_shard_matches(
    shard: int,
    terms_col: np.ndarray,
    bids: np.ndarray,
    deltas_col: np.ndarray,
    queries: list,
    cfg: IndexConfig,
    tomb_mask: np.ndarray | None = None,
    decode_cache: "dict | None" = None,
) -> dict[int, int]:
    """Exact per-query MATCH COUNTS for one shard's (query-term-filtered)
    block rows — the counting twin of score_shard_blocks (match core:
    _iter_shard_matches), but no per-match output rows. Queries with zero
    matches are simply absent from the returned dict."""
    out: dict[int, int] = {}
    for qid, ids in _iter_shard_matches(
            shard, terms_col, bids, deltas_col, queries, cfg,
            tomb_mask=tomb_mask, decode_cache=decode_cache):
        out[qid] = out.get(qid, 0) + int(ids.size)
    return out


def facet_shard_counts(
    shard: int,
    terms_col: np.ndarray,
    bids: np.ndarray,
    deltas_col: np.ndarray,
    queries: list,
    cfg: IndexConfig,
    facet_codes: np.ndarray,
    n_buckets: int,
    tomb_mask: np.ndarray | None = None,
    decode_cache: "dict | None" = None,
) -> dict[int, np.ndarray]:
    """Per-query FACET histograms for one shard — the faceting twin of
    count_shard_matches (same match core): matched doc ids bucket through
    ``facet_codes`` (the shard's doc-range-aligned code array, one uint
    code per local doc; code n_buckets−1 conventionally = 'missing') into
    an np.bincount per query. Output is bounded by queries × n_buckets
    regardless of match count — the match set never leaves the kernel."""
    base = shard * cfg.docs_per_shard
    out: dict[int, np.ndarray] = {}
    for qid, ids in _iter_shard_matches(
            shard, terms_col, bids, deltas_col, queries, cfg,
            tomb_mask=tomb_mask, decode_cache=decode_cache):
        acc = out.get(qid)
        if acc is None:
            acc = out[qid] = np.zeros(n_buckets, dtype=np.int64)
        acc += np.bincount(facet_codes[ids - base], minlength=n_buckets)
    return out


def phrase_verify_block(
    per_term: dict, toks: list[str], base: int, slop: int = 0
) -> "np.ndarray":
    """Vectorized phrase / ordered-proximity verification for ONE
    doc-range-aligned block.

    ``per_term[t] = (doc_ids, flat_positions, offsets)`` — the decoded
    positional posting list of term t restricted to this block (offsets
    segment flat_positions per doc). Every (doc, position) pair becomes one
    int64 key ``(doc_id - base) << 34 | pos`` (blocks span < 2^34 docs and
    int32 positions < 2^31, so keys are collision-free and ``key + δ`` for
    tiny δ never carries); the query then verifies as a chain of sorted-set
    intersections over ALL docs in the block at once:

        S ← K(t0);  S ← (⋃_{δ=1..slop+1} S + δ) ∩ K(t_i)  per token

    ``slop`` is the max number of intervening positions allowed between
    CONSECUTIVE query tokens (ordered matching); slop=0 is the exact-phrase
    special case — one intersection per token, no union. No per-candidate-doc
    Python loop; the conjunctive doc intersection falls out of the key
    intersection for free. Returns matching doc_ids.
    """
    shift = np.int64(34)

    def keys(t):
        ids, flat, offs = per_term[t]
        local = (np.asarray(ids, dtype=np.int64) - base)
        reps = np.repeat(local, np.diff(offs))
        return (reps << shift) | np.asarray(flat, dtype=np.int64)

    S = keys(toks[0])
    for t in toks[1:]:
        if S.size == 0:
            break
        K = keys(t)
        if slop == 0:
            S = np.intersect1d(S + 1, K, assume_unique=True)
        else:
            S = np.unique(np.concatenate([
                np.intersect1d(S + d, K, assume_unique=True)
                for d in range(1, slop + 2)
            ]))
    if S.size == 0:
        return np.empty(0, dtype=np.int64)
    return base + np.unique(S >> shift)


def near_verify_block_unordered(
    per_term: dict, toks: list[str], base: int, slop: int = 0
) -> "np.ndarray":
    """Vectorized UNORDERED proximity verification for one doc-range-aligned
    block: a doc matches iff all DISTINCT query terms occur within a common
    position window of width W = (len(toks) − 1) · (slop + 1) — i.e. there
    is an anchor position x with every term occurring in [x, x + W]. The
    window derives from the ordered chain's maximum span, so at equal slop
    this is a superset of the ordered match (property-tested): any ordered
    chain p_0 < … < p_{m−1} with gaps ≤ slop+1 fits a width-W window
    anchored at p_0.

    Same int64 ``(doc − base) << 34 | pos`` key trick as
    phrase_verify_block: the anchor can WLOG be the minimum chosen position,
    hence a position of SOME query term, so matching reduces to, for each
    anchor term a: keep anchors A where every other term has a key in
    [A, A + W] — two searchsorteds per (anchor term, other term) pair over
    the whole block at once (W < 2^31 keeps the +W arithmetic inside the
    doc's key range). No per-candidate-doc loop.
    """
    uniq = list(dict.fromkeys(toks))
    W = np.int64((len(toks) - 1) * (slop + 1))
    shift = np.int64(34)

    keys = {}
    for t in uniq:
        ids, flat, offs = per_term[t]
        local = np.asarray(ids, dtype=np.int64) - base
        reps = np.repeat(local, np.diff(offs))
        keys[t] = (reps << shift) | np.asarray(flat, dtype=np.int64)

    matched: list[np.ndarray] = []
    for a in uniq:
        A = keys[a]
        if A.size == 0:
            continue
        ok = np.ones(A.size, dtype=bool)
        for t in uniq:
            if t == a:
                continue
            K = keys[t]
            lo = np.searchsorted(K, A)
            hi = np.searchsorted(K, A + W + 1)
            ok &= hi > lo
            if not ok.any():
                break
        if ok.any():
            matched.append(A[ok] >> shift)
    if not matched:
        return np.empty(0, dtype=np.int64)
    return base + np.unique(np.concatenate(matched))


def global_topk(
    qids: np.ndarray, docs: np.ndarray, scores: np.ndarray,
    queries: list[tuple[int, list[str], str, int]],
) -> list[tuple[int, int, int, float]]:
    """Merge per-shard partials → final ranked rows (score desc, doc asc)."""
    kmap = {q[0]: q[3] for q in queries}
    out: list[tuple[int, int, int, float]] = []
    for qid in np.unique(qids):
        m = qids == qid
        d, s = docs[m], scores[m]
        order = np.lexsort((d, -s))[: kmap[int(qid)]]
        for rank, i in enumerate(order, start=1):
            out.append((int(qid), rank, int(d[i]), float(s[i])))
    return out
