"""Tests of the benchmark's own code: seeded inputs, the percentile rule, the
correctness gate's comparison and the tracer's self-time arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
from tracing import Span, Tracer, merged_length, self_times  # noqa: E402


# ---- seeded inputs --------------------------------------------------------------

def test_query_inputs_repeat_for_a_seed():
    assert inputs.zipf_stream(7, 500, 50_000) == inputs.zipf_stream(7, 500, 50_000)
    assert inputs.hot_mix(7) == inputs.hot_mix(7)
    assert inputs.rank_queries(7) == inputs.rank_queries(7)
    assert inputs.probe_terms(7, 20) == inputs.probe_terms(7, 20)


def test_other_seed_gives_other_stream():
    assert inputs.zipf_stream(7, 500, 50_000) != inputs.zipf_stream(8, 500, 50_000)
    assert inputs.zipf_stream(7, 50, 50_000) != inputs.zipf_stream(7, 50, 50_000, stream=5)
    assert inputs.hot_mix(7) != inputs.hot_mix(8)
    assert inputs.rank_queries(7) != inputs.rank_queries(8)


def test_stream_is_zipf_skewed_and_well_formed():
    qs = inputs.zipf_stream(3, 2000, 50_000)
    assert [q[0] for q in qs] == list(range(1, 2001))
    assert all(1 <= len(q[1]) <= 3 and q[1] == sorted(set(q[1])) for q in qs)
    assert {q[2] for q in qs} == {"disjunctive", "conjunctive"}
    head = sum(t == "term0000" for q in qs for t in q[1])
    tail = sum(t == "term5000" for q in qs for t in q[1])
    assert head > 50 * max(tail, 1)


@pytest.fixture(scope="module")
def spark():
    from bloqsenjin_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(HERE), os.environ.get("PYTHONPATH", "")])
    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()


def corpus_digest(path: str) -> str:
    """sha256 over the corpus rows in url order — equal digests mean a
    byte-identical corpus, whatever the parquet file layout."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet").to_table(
        columns=["url", "html", "text", "lang"]).sort_by("url")
    h = hashlib.sha256()
    for col in ("url", "html", "text", "lang"):
        for v in tbl.column(col).to_pylist():
            h.update(v if isinstance(v, bytes) else v.encode())
            h.update(b"\0")
    return h.hexdigest()


def test_corpus_repeats_for_a_seed(spark, tmp_path):
    digests = []
    for i, seed in enumerate((11, 11, 12)):
        path = str(tmp_path / f"c{i}")
        inputs.write_corpus(spark, path, 300, 2000, seed)
        digests.append(corpus_digest(path))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


# ---- percentile rule --------------------------------------------------------------

@pytest.mark.parametrize("p,n_ok", [(50, 20), (95, 200), (90, 100)])
def test_no_percentile_without_ten_samples_beyond(p, n_ok):
    assert stats.percentile(list(range(n_ok - 1)), p) is None
    vals = list(range(n_ok))
    v = stats.percentile(vals, p)
    assert v is not None
    assert sum(x > v for x in vals) >= stats.MIN_BEYOND


def test_tail_picks_highest_supported():
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(20)))[0] == 50
    assert stats.tail(list(range(199)))[0] == 50
    p, v = stats.tail(list(range(1000)))
    assert p == 95 and v == 949


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# ---- answer comparison -------------------------------------------------------------

def ranking(*scores):
    """Reference ranking {doc: (rank, score)}: doc d + 100 at rank d + 1."""
    return {100 + i: (i + 1, s) for i, s in enumerate(scores)}


def page(ref, docs, lo=0):
    return {d: (lo + i + 1, ref[d][1]) for i, d in enumerate(docs)}


REF = ranking(9.0, 8.0, 7.0, 7.0, 7.0, 5.0)


def test_same_topk_exact_and_short():
    assert check.same_topk(page(REF, [100, 101, 102]), REF, 0, 3)
    assert check.same_topk(page(REF, [100, 101, 102, 103, 104, 105]), REF, 0, 10)
    assert not check.same_topk(page(REF, [100, 101]), REF, 0, 3)  # one short
    assert check.same_topk({}, {}, 0, 10)  # nothing matches


def test_same_topk_allows_ties_across_the_cut_off():
    assert check.same_topk(page(REF, [100, 101, 104]), REF, 0, 3)
    assert check.same_topk(page(REF, [100, 101, 103, 102]), REF, 0, 4)
    assert check.same_topk(page(REF, [103, 104], lo=2), REF, 2, 4)  # paged


def test_same_topk_rejects_wrong_answers():
    assert not check.same_topk(page(REF, [100, 102, 101]), REF, 0, 3)  # order
    assert not check.same_topk(page(REF, [100, 101, 105]), REF, 0, 3)  # not a tie
    assert not check.same_topk(page(REF, [101, 102, 103]), REF, 0, 3)  # lost the best
    bad_score = page(REF, [100, 101, 102])
    bad_score[102] = (3, 7.1)
    assert not check.same_topk(bad_score, REF, 0, 3)
    unknown = page(REF, [100, 101])
    unknown[999] = (3, 7.0)  # a document the full reference lacks
    assert not check.same_topk(unknown, REF, 0, 3)


def test_same_topk_unknown_tie_past_a_truncated_reference():
    ref = ranking(*([9.0] + [7.0] * (1 + check.EXTRA)))  # ties run past its end
    got = {100: (1, 9.0), 999: (2, 7.0)}
    assert check.same_topk(got, ref, 0, 2)


def test_deeper_raises_k_only():
    q4 = (1, ["a"], "disjunctive", 10)
    q6 = (2, ["a", "b"], "disjunctive", 5, ("c",), {"a": 2.0})
    assert check.deeper([q4, q6]) == [
        (1, ["a"], "disjunctive", 10 + check.EXTRA),
        (2, ["a", "b"], "disjunctive", 5 + check.EXTRA, ("c",), {"a": 2.0})]
    assert check.deeper([(3, "ter", 10)], k_at=2) == [(3, "ter", 10 + check.EXTRA)]


# ---- self time -----------------------------------------------------------------

def test_merged_length_overlaps():
    assert merged_length([]) == 0.0
    assert merged_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert merged_length([(0, 10), (2, 3)]) == 10.0


def test_self_times_on_synthetic_spans():
    spans = [
        Span("op", 0.0, 10.0, -1, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 6.0, 0, 1),  # overlaps a: covered part is 1..6
        Span("c", 2.0, 3.0, 1, 1),  # inside a
        Span("b", 9.0, 12.0, 0, 1),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["c"] == pytest.approx(1.0)
    assert st["b"] == pytest.approx(3.0 + 3.0)


def test_tracer_patches_and_accounts_wall():
    mod = types.SimpleNamespace()

    def leaf(x):
        return x + 1

    def outer(x):
        return mod.leaf(x) * 2

    mod.leaf, mod.outer = leaf, outer
    tr = Tracer(enabled=True)
    tr.patch(mod, "leaf", "leaf", lambda a, kw, out: tr.counts.update(leaf=1))
    tr.patch(mod, "outer", lambda a, kw: f"outer{a[0]}")
    assert mod.leaf is leaf
    tr.resume()
    with tr.operation("req"):
        assert mod.outer(1) == 4
    tr.pause()
    assert mod.leaf is leaf and mod.outer is outer
    assert mod.outer(1) == 4  # paused: nothing recorded
    assert [s.name for s in tr.spans] == ["op.req", "outer1", "leaf"]
    assert [s.parent for s in tr.spans] == [-1, 0, 1]
    assert tr.counts["leaf"] == 1
    st = self_times(tr.spans)
    covered = tr.spans[0].end - tr.spans[0].start
    assert sum(st.values()) == pytest.approx(covered)
    assert tr.wall >= covered


def test_null_tracer_installs_nothing():
    mod = types.SimpleNamespace(f=lambda: 1)
    orig = mod.f
    tr = Tracer(enabled=False)
    tr.patch(mod, "f", "f")
    tr.resume()
    with tr.operation("x"), tr.span("y"):
        mod.f()
    assert mod.f is orig and tr.spans == [] and tr.wall == 0.0
