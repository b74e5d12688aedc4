"""Correctness gate: independent answers to compare the engine's with.

``DuckOracle`` is an independent BM25 over the generated corpus in DuckDB,
built with the same SQL generators ``oracle_sql()`` uses, with docIDs
assigned the way the engine assigns them (dense rank of url). Scores are
compared at ``config.SCORE_ROUND_DECIMALS``.

A reference answer is always asked ``EXTRA`` ranks deeper than the answer
it checks (``deeper``), so documents whose scores tie at that precision
across the cut-off can be told from wrong documents: the engine's float
sums may order such a tie either way.
"""

from __future__ import annotations

from bloqsenjin_spark import oracle
from bloqsenjin_spark.config import SCORE_ROUND_DECIMALS

SCORE_TOL = 10.0 ** -SCORE_ROUND_DECIMALS
EXTRA = 20  # reference depth beyond the checked ranks


def by_query(rows) -> dict[int, dict[int, tuple[int, float]]]:
    """(query_id, rank, doc_id, score) rows → {qid: {doc_id: (rank, score)}}."""
    out: dict[int, dict[int, tuple[int, float]]] = {}
    for qid, rank, doc, score in rows:
        out.setdefault(int(qid), {})[int(doc)] = (int(rank), float(score))
    return out


def deeper(queries: list[tuple], k_at: int = 3) -> list[tuple]:
    """The same queries with k (tuple item ``k_at``) raised by EXTRA."""
    return [(*q[:k_at], q[k_at] + EXTRA, *q[k_at + 1:]) for q in queries]


def same_topk(got: dict, want: dict, lo: int, hi: int) -> bool:
    """One query's answers agree. ``got`` {doc: (rank, score)} holds ranks
    lo+1 … hi (fewer when fewer documents match); ``want`` is the reference
    ranking from rank 1 to hi + EXTRA (all of it when shorter). They agree
    when got's ranks are the expected run, its score at each rank is the
    reference's score at that rank, each of its documents has its reference
    score, and every reference document scored strictly inside the page's
    score range is in it. Documents whose scores tie may so swap ranks, also
    across the page's edges."""
    ref = [s for _r, s in sorted(want.values())]  # score at rank r is ref[r-1]
    n = max(0, min(hi, len(ref)) - lo)
    if sorted(r for r, _s in got.values()) != list(range(lo + 1, lo + n + 1)):
        return False
    if n == 0:
        return True
    truncated = len(ref) >= hi + EXTRA
    for doc, (rank, score) in got.items():
        if abs(score - ref[rank - 1]) > SCORE_TOL:
            return False
        if doc in want:
            if abs(score - want[doc][1]) > SCORE_TOL:
                return False
        elif not (truncated and abs(score - ref[-1]) <= SCORE_TOL):
            return False  # a document the full reference ranking lacks
    top, bottom = ref[lo], ref[lo + n - 1]
    return all(doc in got for doc, (_r, s) in want.items()
               if bottom + SCORE_TOL < s < top - SCORE_TOL)


class DuckOracle:
    def __init__(self, corpus_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE documents AS SELECT "
            "(row_number() OVER (ORDER BY url) - 1)::BIGINT AS doc_id, text "
            f"FROM read_parquet('{corpus_dir}/*.parquet')"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def topk(self, queries: list[tuple]) -> dict:
        """Queries as 4-, 5- (MUST_NOT) or 6-tuples (boosts)."""
        full = [
            (q[0], q[1], q[2], q[3],
             tuple(q[4]) if len(q) > 4 and q[4] else (),
             q[5] if len(q) > 5 and q[5] else None)
            for q in queries
        ]
        return by_query(self._rows(oracle.weighted_topk_sql(full)))

    def prefix(self, prefix_queries: list[tuple], max_expansions: int) -> dict:
        return by_query(self._rows(
            oracle.prefix_topk_sql(prefix_queries, max_expansions=max_expansions)))

    def counts(self, queries: list[tuple]) -> dict[int, int]:
        return {int(q): int(n) for q, n in self._rows(oracle.match_counts_sql(queries))}


def mismatched(got: dict, want: dict, pages: dict[int, tuple[int, int]]) -> list[int]:
    """Query ids whose answers differ; ``pages`` maps each query id to the
    (lo, hi) rank range it asked for (see same_topk). A query absent from
    one side has no rows there — an empty answer."""
    return [q for q, (lo, hi) in pages.items()
            if not same_topk(got.get(q, {}), want.get(q, {}), lo, hi)]


def top_pages(queries: list[tuple], k_at: int = 3) -> dict[int, tuple[int, int]]:
    """The (lo, hi) rank range of plain top-k queries: (0, k)."""
    return {q[0]: (0, q[k_at]) for q in queries}
