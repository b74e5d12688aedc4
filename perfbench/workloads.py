"""The three workloads. Each reaches the engine only through its public API.

build_rank        Spark tier: docids → build → store writes, then a closed
                  loop of Spark top-k jobs, one per query and one batch per
                  round.
serve_hot         In-process ``IndexServer``, one client, closed loop, one
                  request at a time over a small repeating mix: the decoded
                  block working set stays inside the server's caches.
serve_zipf_churn  Same server and client over a Zipf stream; every
                  ``CHURN_EVERY`` queries a writer step deletes two docs and
                  refreshes the server, which drops every cache.

Every workload reports the same end-to-end metrics (see ``Result``); the
traced run reports per-layer numbers from ``tracing.Tracer`` spans.
serve_hot runs by hand but is not listed in BENCHMARK.json: between runs on
a shared 4-core box its ~1 ms request latencies spread by 12–35 %
(quartile distance over median), more than any bound the benchmark may set.
"""

from __future__ import annotations

import os
import random
import resource
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from bloqsenjin_spark.config import IndexConfig
from bloqsenjin_spark.functions import scoring
from bloqsenjin_spark.functions.text import extract_text
from bloqsenjin_spark.operators import docids, serving, wand
from bloqsenjin_spark.operators.serving import IndexServer
from bloqsenjin_spark.plans import build, deletes
from bloqsenjin_spark.plans.store import ParquetStore

import check
import inputs
import stats
from tracing import StageMeter, Tracer, self_times

N_DOCS = 6_000
VOCAB = 50_000
# bench.py's layout: 4096-doc shards of 512-doc blocks
CFG = IndexConfig(docs_per_shard=4096, block_docs=512)
CHURN_EVERY = 200  # queries between writer steps on serve_zipf_churn
WRITER_STEPS = 5  # timed writer steps after the loop on the other workloads
SETUP_PASSES = {"build_rank": 3, "serve_hot": 5, "serve_zipf_churn": 15}
GATE_QUERIES = 40  # final-generation answers checked on serve_zipf_churn

LAYERS = {  # span name → per-layer self-time metric
    "docids.assign": "docids.assign_s",
    "build.build_index": "build.build_index_s",
    "store.term_stats_write": "store.term_stats_write_s",
    "store.postings_write": "store.postings_write_s",
    "store.doc_lens_write": "store.doc_lens_write_s",
    "store.checkpoints": "store.checkpoints_s",
    "wand.stats_collect": "wand.stats_collect_s",
    "scoring.kernel": "scoring.kernel_s",
    "scoring.match": "scoring.match_s",
    "scoring.merge": "scoring.merge_s",
    "codec.decode": "codec.decode_s",
    "serving.batch": "serving.self_s",
    "serving.refresh": "serving.refresh_s",
    "deletes.delete": "deletes.delete_s",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    meter: StageMeter | None = None
    corpus_dir: str = ""
    spark_totals: dict = field(default_factory=dict)
    partial: object = None  # last wand_score_partials result (traced runs)

    def resume_trace(self) -> None:
        self.tracer.resume()
        if self.meter is not None:
            self.meter.take()  # drop the stages run while paused

    def pause_trace(self) -> None:
        self.tracer.pause()

    def spark_span(self, prefix: str) -> None:
        """Add the Spark stages since the last call to ``prefix``'s totals."""
        if self.meter is None or not self.tracer.active:
            return
        tot = self.spark_totals.setdefault(prefix, dict.fromkeys(StageMeter.FIELDS, 0.0))
        for k, v in self.meter.take().items():
            tot[k] += v


@dataclass
class Result:
    setup: list = field(default_factory=list)
    builds: list = field(default_factory=list)
    latencies: list = field(default_factory=list)  # seconds per request
    untraced: list = field(default_factory=list)  # same, tracing paused (traced runs)
    busy: float = 0.0  # seconds the client spent in requests
    visible: list = field(default_factory=list)  # seconds per writer step
    batch: list = field(default_factory=list)  # seconds per Spark batch job
    attempted: int = 0
    failed: int = 0
    index_ratio: float = 0.0
    peak_rss_mb: float = 0.0
    notes: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        print(f"# FAILED {what}", file=sys.stderr)


# ---- shared steps ------------------------------------------------------------

def install_patches(ctx: Ctx) -> None:
    """Wrap each layer boundary. Callers look these attributes up at call
    time, so replacing them is enough."""
    tr = ctx.tracer
    c = tr.counts

    def candidates(args, _kw, _out):
        c["candidate_blocks"] += len(args[1])

    def decoded(_args, _kw, _out):
        c["blocks_decoded"] += 1

    def stash(_args, _kw, out):
        ctx.partial = out

    tr.patch(docids, "assign_doc_ids", "docids.assign")
    tr.patch(build, "build_index", "build.build_index")
    tr.patch(ParquetStore, "overwrite_sorted", "store.term_stats_write")
    tr.patch(ParquetStore, "overwrite_shards",
             lambda a, kw: f"store.{kw.get('table', a[2] if len(a) > 2 else '')}_write")
    tr.patch(ParquetStore, "upsert_checkpoints", "store.checkpoints")
    tr.patch(wand, "wand_score_partials", "wand.stats_collect", stash)
    tr.patch(serving, "score_shard_blocks", "scoring.kernel", candidates)
    tr.patch(scoring, "count_shard_matches", "scoring.match", candidates)
    tr.patch(serving, "global_topk", "scoring.merge")
    tr.patch(scoring, "delta_decode", "codec.decode", decoded)
    tr.patch(scoring, "varint_decode", "codec.decode")
    for m in ("query_batch", "paged_batch", "prefix_topk_batch", "count_batch"):
        tr.patch(IndexServer, m, "serving.batch")
    tr.patch(IndexServer, "refresh", "serving.refresh")
    tr.patch(deletes, "delete_docs", "deletes.delete")


def build_index(ctx: Ctx, idx_dir: str) -> float:
    """docids → extract → build_index_resumable into a fresh directory;
    → seconds taken."""
    shutil.rmtree(idx_dir, ignore_errors=True)
    with ctx.tracer.operation("build"):
        t0 = time.perf_counter()
        pages = ctx.spark.read.parquet(ctx.corpus_dir)
        ranked = docids.assign_doc_ids(pages.select("url", "html", "lang"),
                                       num_partitions=2 * ctx.cores,
                                       assume_unique=True)
        docs = ranked.select("doc_id", "url", extract_text("html").alias("text"), "lang")
        build.build_index_resumable(docs, idx_dir, CFG)
        dt = time.perf_counter() - t0
    ctx.spark_span("build")
    return dt


def index_ratio(ctx: Ctx, idx_dir: str) -> float:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    idx_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for t in ("postings", "doc_lens", "term_stats")
        for d, _s, fs in os.walk(os.path.join(idx_dir, t)) for f in fs
        if f.endswith(".parquet")
    )
    text = ds.dataset(ctx.corpus_dir, format="parquet").to_table(columns=["text"])
    text_bytes = pc.sum(pc.binary_length(text.column("text"))).as_py()
    return idx_bytes / text_bytes


def rank_job(ctx: Ctx, idx, queries, tomb_map=None) -> list:
    """One Spark-tier top-k job (bm25_wand_topk), collected. In a traced run
    a partials-only action runs first, so cogroup + kernel time can be told
    from the global window."""
    tr = ctx.tracer
    with tr.operation("rank"):
        ctx.partial = None
        df = wand.bm25_wand_topk(idx.postings, idx.doc_lens, idx.term_stats,
                                 idx.avgdl, queries, CFG, tomb_map=tomb_map)
        if tr.active and ctx.partial is not None:
            with tr.span("wand.partials_probe"):
                ctx.partial.collect()
        with tr.span("wand.action"):
            rows = [tuple(r) for r in df.collect()]
    ctx.spark_span("wand")
    return rows


def request(srv: IndexServer, kind: str, payload):
    if kind == "query":
        return srv.query_batch([payload])
    if kind == "paged":
        return srv.paged_batch(*payload)
    if kind == "prefix":
        return srv.prefix_topk_batch(payload, max_expansions=inputs.PREFIX_EXPANSIONS)
    if kind == "count":
        return srv.count_batch(payload)
    raise ValueError(kind)


def writer_step(ctx: Ctx, srv: IndexServer, idx_dir: str, probe_term: str,
                qid: int, res: Result) -> None:
    """Delete the two best documents of a probe query, refresh, and time
    until the next query no longer returns them. Checks the probe's match
    count dropped by exactly two."""
    probe = (qid, [probe_term], "disjunctive", 10)
    res.attempted += 1
    with ctx.tracer.operation("write"):
        try:
            victims = [r[2] for r in srv.query_batch([probe])[:2]]
            before = dict(srv.count_batch([probe])).get(qid, 0)
            t0 = time.perf_counter()
            deletes.delete_docs(ctx.spark, idx_dir, victims)
            srv.refresh()
            after_rows = srv.query_batch([probe])
            res.visible.append(time.perf_counter() - t0)
            after = dict(srv.count_batch([probe])).get(qid, 0)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc()
            res.fail(f"writer step on {probe_term}")
            return
    seen = {r[2] for r in after_rows}
    if len(victims) != 2 or seen & set(victims) or after != before - 2:
        res.fail(f"writer step on {probe_term}: deleted docs still visible")


def untimed(res: Result, step) -> None:
    """Run ``step(scratch_result)`` as warm-up: only its attempted and
    failed counts join ``res``, not its timings."""
    scratch = Result()
    step(scratch)
    res.attempted += scratch.attempted
    res.failed += scratch.failed


def closing_writes(ctx: Ctx, srv: IndexServer, idx_dir: str, res: Result) -> None:
    """WRITER_STEPS timed writer steps after a workload's loop, behind one
    untimed step: the first delete in a JVM runs cold."""
    first, *probes = inputs.probe_terms(ctx.seed, WRITER_STEPS + 1)
    untimed(res, lambda r: writer_step(ctx, srv, idx_dir, first, 899_999, r))
    for i, t in enumerate(probes):
        writer_step(ctx, srv, idx_dir, t, 900_000 + i, res)


def setup_pass(res: Result, fn):
    t0 = time.perf_counter()
    out = fn()
    res.setup.append(time.perf_counter() - t0)
    return out


def reset_peak_rss() -> None:
    """Restart the kernel's resident-set high-water mark, so the peak read
    at the end of a phase belongs to that phase (Linux /proc interface)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak resident set since the last reset_peak_rss (VmHWM); falls back to
    the process-lifetime peak where /proc is unavailable."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---- build_rank --------------------------------------------------------------

def _open_spark_tier(ctx: Ctx, idx_dir: str):
    """Spark-tier query set-up: read the index and pin postings + doc_lens
    in memory (what a serving cluster keeps resident)."""
    from pyspark.storagelevel import StorageLevel

    with ctx.tracer.operation("open"):
        idx = build.read_index(ctx.spark, idx_dir, CFG)
        idx.postings.persist(StorageLevel.MEMORY_AND_DISK).count()
        idx.doc_lens.persist(StorageLevel.MEMORY_AND_DISK).count()
    return idx


def _release(idx) -> None:
    if idx is not None:
        idx.postings.unpersist()
        idx.doc_lens.unpersist()


def _rank_round(ctx: Ctx, res: Result, queries, idx_dir: str,
                answers: list, idx):
    _release(idx)
    res.builds.append(build_index(ctx, idx_dir))
    idx = None
    for _ in range(SETUP_PASSES["build_rank"]):
        _release(idx)
        idx = setup_pass(res, lambda: _open_spark_tier(ctx, idx_dir))
    # a traced run sends every query twice, untraced and traced, taking
    # turns on which goes first; the medians' difference is the overhead
    tracing = ctx.tracer.enabled
    for i, q in enumerate(queries):
        for traced in ((i % 2 == 0, i % 2 == 1) if tracing else (False,)):
            if traced:
                ctx.resume_trace()
            elif tracing:
                ctx.pause_trace()
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                rows = rank_job(ctx, idx, [q])
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                res.fail(f"rank job {q[0]}")
                continue
            dt = time.perf_counter() - t0
            (res.untraced if tracing and not traced else res.latencies).append(dt)
            res.busy += dt
            answers.append(("one", [q[0]], rows))
    ctx.resume_trace()
    res.attempted += 1
    t0 = time.perf_counter()
    rows = rank_job(ctx, idx, queries)
    res.batch.append(time.perf_counter() - t0)
    answers.append(("batch", [q[0] for q in queries], rows))
    return idx


def build_rank(ctx: Ctx) -> Result:
    res = Result()
    queries = inputs.rank_queries(ctx.seed)
    idx_dir = os.path.join(ctx.work, "index")
    answers: list = []
    idx = None
    reset_peak_rss()
    # rounds until --seconds have passed; at the default size one round
    # already takes longer, so a run measures one round
    deadline = time.perf_counter() + ctx.seconds
    while True:
        idx = _rank_round(ctx, res, queries, idx_dir, answers, idx)
        if time.perf_counter() >= deadline:
            break
    res.peak_rss_mb = peak_rss_mb()
    res.index_ratio = index_ratio(ctx, idx_dir)

    ctx.pause_trace()
    oracle = check.DuckOracle(ctx.corpus_dir)
    want = oracle.topk(check.deeper(queries))
    oracle.close()
    ctx.resume_trace()
    pages = check.top_pages(queries)
    for what, qids, rows in answers:
        got = check.by_query(rows)
        bad = check.mismatched(got, want, {q: pages[q] for q in qids})
        if bad:
            res.fail(f"{what} answers differ from DuckDB for queries {bad}; "
                     f"first: got {got.get(bad[0])} want {want.get(bad[0])}")

    closing_writes(ctx, IndexServer(idx_dir, CFG), idx_dir, res)
    _release(idx)
    return res


# ---- serving workloads ----------------------------------------------------------

def _serve_loop(ctx: Ctx, res: Result, srv, next_request, seconds: float,
                served: list, writer=None) -> None:
    """Closed loop, one client: send the next request when the last one
    returns, until ``seconds`` have passed. ``writer(len(served))`` runs a
    writer step between requests when one is due; its time is not client
    time."""
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        key, kind, payload = next_request()
        res.attempted += 1
        with ctx.tracer.operation("request"):
            t0 = time.perf_counter()
            try:
                ans = request(srv, kind, payload)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                res.fail(f"request {key}")
                continue
            dt = time.perf_counter() - t0
        res.latencies.append(dt)
        res.busy += dt
        served.append((key, ans))
        if writer is not None:
            writer(len(served))


def _serve(ctx: Ctx, name: str, warm, next_request, writer_fn=None):
    """Shared skeleton: build, open the server SETUP_PASSES times (median is
    setup_s), run one untimed writer step when the workload writes, run the
    loop (twice — untraced then traced — in a traced run)."""
    res = Result()
    idx_dir = os.path.join(ctx.work, "index")
    res.builds.append(build_index(ctx, idx_dir))
    res.index_ratio = index_ratio(ctx, idx_dir)

    def open_server():
        with ctx.tracer.operation("open"):
            srv = IndexServer(idx_dir, CFG)
            for kind, payload in warm:
                request(srv, kind, payload)
        return srv

    srv = None
    for _ in range(SETUP_PASSES[name]):
        srv = setup_pass(res, open_server)
    served: list = []
    writer = None
    if writer_fn:
        # the first writer step in a JVM runs cold, so it is not timed
        untimed(res, lambda r: writer_fn(ctx, srv, idx_dir, r)(0))
        writer = writer_fn(ctx, srv, idx_dir, res)
    reset_peak_rss()
    if ctx.tracer.enabled:
        ctx.pause_trace()
        _serve_loop(ctx, res, srv, next_request, ctx.seconds / 2, served, writer)
        res.untraced, res.latencies, res.busy = res.latencies, [], 0.0
        ctx.resume_trace()
        _serve_loop(ctx, res, srv, next_request, ctx.seconds / 2, served, writer)
    else:
        _serve_loop(ctx, res, srv, next_request, ctx.seconds, served, writer)
    res.peak_rss_mb = peak_rss_mb()
    return res, srv, idx_dir, served


def serve_hot(ctx: Ctx) -> Result:
    mix = inputs.hot_mix(ctx.seed)
    rng = random.Random(ctx.seed)
    order: list[int] = []

    def next_request():
        if not order:
            order.extend(rng.sample(range(len(mix)), len(mix)))
        i = order.pop()
        return (i, *mix[i])

    res, srv, idx_dir, served = _serve(ctx, "serve_hot", mix, next_request)

    # every repeat of a request must equal its first answer; the first
    # answers must equal DuckDB's, and the Spark tier's for the plain queries
    first: dict[int, object] = {}
    for key, ans in served:
        if key not in first:
            first[key] = ans
        elif ans != first[key]:
            res.fail(f"mix entry {key} changed answer between repeats")
    repeats = Counter(key for key, _ans in served)

    ctx.pause_trace()
    oracle = check.DuckOracle(ctx.corpus_dir)

    def of_kind(kind):
        return [p for k, p in mix if k == kind]

    # a page (offset, offset + k] is checked against the ranking from rank 1
    paged = [(q, o.get(q[0], 0)) for qs, o in of_kind("paged") for q in qs]
    prefix = [q for qs in of_kind("prefix") for q in qs]
    want = {
        "query": oracle.topk(check.deeper(of_kind("query"))),
        "paged": oracle.topk(check.deeper([(*q[:3], q[3] + off) for q, off in paged])),
        "prefix": oracle.prefix(check.deeper(prefix, k_at=2), inputs.PREFIX_EXPANSIONS),
        "count": oracle.counts([q for qs in of_kind("count") for q in qs]),
    }
    oracle.close()
    ctx.resume_trace()
    pages = {**check.top_pages(of_kind("query")), **check.top_pages(prefix, k_at=2),
             **{q[0]: (off, off + q[3]) for q, off in paged}}
    for i, ans in first.items():
        kind, p = mix[i]
        if kind == "query":
            qs = [p]
        elif kind == "paged":
            qs = p[0]  # (queries, offsets)
        else:
            qs = p
        if kind == "count":
            ok = dict(ans) == {q[0]: want["count"][q[0]] for q in qs}
        else:
            ok = not check.mismatched(check.by_query(ans), want[kind],
                                      {q[0]: pages[q[0]] for q in qs})
        if not ok:
            res.fail(f"mix entry {i} ({kind}) differs from DuckDB", repeats[i])

    # Spark tier must be rank-identical to the server on the same index
    res.attempted += 1
    idx = build.read_index(ctx.spark, idx_dir, CFG)
    plain = [(i, p) for i, (k, p) in enumerate(mix) if k == "query" and i in first]
    rows = check.by_query(rank_job(ctx, idx, check.deeper([p for _i, p in plain])))
    bad = [p[0] for i, p in plain
           if not check.same_topk(check.by_query(first[i]).get(p[0], {}),
                                  rows.get(p[0], {}), 0, p[3])]
    if bad:
        res.fail(f"Spark tier differs from the server for queries {bad}")

    closing_writes(ctx, srv, idx_dir, res)
    return res


def serve_zipf_churn(ctx: Ctx) -> Result:
    stream = iter(inputs.zipf_stream(ctx.seed, 200_000, VOCAB))
    warm = [("query", q) for q in inputs.zipf_stream(ctx.seed, 10, VOCAB,
                                                     qid0=800_000, stream=5)]
    probes = iter(inputs.probe_terms(ctx.seed, 150))
    last_refresh = [0]  # requests served before the latest refresh

    def next_request():
        q = next(stream)
        return q, "query", q

    def writer_fn(ctx, srv, idx_dir, res):
        def writer(n_served):
            if n_served % CHURN_EVERY == 0:
                writer_step(ctx, srv, idx_dir, next(probes), 900_000 + n_served, res)
                last_refresh[0] = n_served
        return writer

    res, srv, idx_dir, served = _serve(ctx, "serve_zipf_churn", warm,
                                       next_request, writer_fn)
    res.notes["writer_steps"] = len(res.visible)

    # the latest answers, re-asked where an earlier generation gave them,
    # against the Spark tier over the same tombstones
    current = {q[0]: ans for q, ans in served[last_refresh[0]:]}
    queries = [q for q, _ans in served[-GATE_QUERIES:]]
    answers = {q[0]: current[q[0]] if q[0] in current else srv.query_batch([q])
               for q in queries}
    res.attempted += 1
    idx = build.read_index(ctx.spark, idx_dir, CFG)
    tomb = deletes.tombstone_bitmap_df(ctx.spark, idx_dir, CFG)
    want = check.by_query(rank_job(ctx, idx, check.deeper(queries), tomb_map=tomb))
    bad = [q[0] for q in queries
           if not check.same_topk(check.by_query(answers[q[0]]).get(q[0], {}),
                                  want.get(q[0], {}), 0, q[3])]
    if bad:
        res.fail(f"final-generation answers differ from the Spark tier for {bad}",
                 len(bad))
    res.notes["gate_queries"] = len(queries)
    return res


WORKLOADS = {
    "build_rank": build_rank,
    "serve_hot": serve_hot,
    "serve_zipf_churn": serve_zipf_churn,
}


def layer_metrics(ctx: Ctx, res: Result) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of a traced run: self times per layer, Spark stage
    totals per span, block counts, the unattributed remainder and the
    tracing overhead."""
    tr = ctx.tracer
    st = self_times(tr.spans)
    out: dict[str, tuple[float, str]] = {}
    attributed = 0.0
    for span_name, metric in LAYERS.items():
        v = st.get(span_name, 0.0)
        out[metric] = (v, "s")
        attributed += v
    probe = st.get("wand.partials_probe", 0.0)
    action = st.get("wand.action", 0.0)
    out["wand.cogroup_kernel_s"] = (probe, "s")
    out["wand.window_s"] = (action - probe, "s")
    out["trace.probe_s"] = (probe, "s")
    attributed += probe + action
    out["trace.wall_s"] = (tr.wall, "s")
    out["trace.unattributed_s"] = (tr.wall - attributed, "s")
    cand = tr.counts["candidate_blocks"]
    dec = tr.counts["blocks_decoded"]
    out["scoring.candidate_blocks"] = (float(cand), "count")
    out["codec.blocks_decoded"] = (float(dec), "count")
    out["scoring.decode_ratio"] = (dec / cand if cand else 0.0, "ratio")
    for prefix in ("build", "wand"):
        tot = ctx.spark_totals.get(prefix, dict.fromkeys(StageMeter.FIELDS, 0.0))
        for k, v in tot.items():
            out[f"{prefix}.{k}"] = (v, "s" if k.endswith("_s") else
                                    ("count" if k == "tasks" else "bytes"))
    if res.untraced and res.latencies:
        out["trace.overhead_ms"] = (
            (stats.median(res.latencies) - stats.median(res.untraced)) * 1e3, "ms")
    else:
        out["trace.overhead_ms"] = (0.0, "ms")
    return out
