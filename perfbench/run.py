"""Repository benchmark: seeded workloads over the engine's public API.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}; the lines before it print every
metric with its unit and sample count, the figures that only one workload
has (marked "printed only"), and the run's context (cores, CPU probe,
source fingerprint).
``--trace 0`` reports the end-to-end metrics with tracing off; ``--trace 1``
reports the per-layer metrics (see tracing.py) and writes the spans under
``.perfbench_work/spans/``; it also measures requests with tracing paused,
to report the tracing overhead. Workloads and metrics are described in
workloads.py and in BENCHMARK.json.

All files go under ``.perfbench_work/`` in the working directory; all but a
traced run's spans are removed at exit. Spark runs in-process at
local[min(4, nproc)].
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "queries_per_s": "1/s",
    "delete_visible_ms": "ms",
    "peak_rss_mb": "MB",
}


def _driver_mem() -> str:
    """A quarter of the box's memory, between 1 and 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def _cpu_probe() -> dict:
    """Short health probe of the box, recorded as context: a pure-Python
    loop rate and a NumPy streaming rate."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    out = {"cpu1_mops": round(2.0 / (time.perf_counter() - t0), 1)}
    a = np.ones(4_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        (a * 1.5 + 2.0).sum()
    out["membw_gbs"] = round(3 * 3 * a.nbytes / (time.perf_counter() - t0) / 1e9, 2)
    return out


def _source_context() -> dict:
    """Commit when run inside a git checkout; always a digest of the engine
    sources, which identifies the code in a plain checkout too."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bloqsenjin_spark")
    for d, _s, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def _start_spark(work: str, cores: int):
    from bloqsenjin_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it to exit
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait(timeout=30)


def _report(name: str, value, unit: str, n: int | str, note: str = "") -> None:
    print(f"{name:<28} {value:>14.6g} {unit:<6} n={n}{('  ' + note) if note else ''}")


def e2e_metrics(res) -> dict:
    """The end-to-end metrics of BENCHMARK.json, plus the workload-specific
    figures that are printed only."""
    import stats

    lat_ms = [x * 1e3 for x in res.latencies]
    tail = stats.tail(lat_ms)
    p50 = stats.percentile(lat_ms, 50)
    if p50 is None or tail is None or not res.visible:
        raise RuntimeError(
            f"too few samples: {len(lat_ms)} requests, {len(res.visible)} writer steps")
    m = {
        "setup_s": (stats.median(res.setup), len(res.setup)),
        "build_s": (stats.median(res.builds), len(res.builds)),
        "index_bytes_per_text_byte": (res.index_ratio, 1),
        "query_p50_ms": (p50, len(lat_ms)),
        "query_tail_ms": (tail[1], len(lat_ms)),
        "queries_per_s": (len(lat_ms) / res.busy, len(lat_ms)),
        "delete_visible_ms": (1e3 * sum(res.visible) / len(res.visible), len(res.visible)),
        "peak_rss_mb": (res.peak_rss_mb, 1),
    }
    extra = {"query_tail_percentile": (tail[0], len(lat_ms))}
    p95 = stats.percentile(lat_ms, 95)
    if p95 is not None:
        extra["query_p95_ms"] = (p95, len(lat_ms))
    vis50 = stats.percentile([v * 1e3 for v in res.visible], 50)
    if vis50 is not None:
        extra["delete_visible_p50_ms"] = (vis50, len(res.visible))
    if res.batch:
        extra["rank_p50_s"] = (p50 / 1e3, len(lat_ms))
        extra["rank_batch_s"] = (stats.median(res.batch), len(res.batch))
    extra["error_ratio"] = (res.failed / res.attempted, res.attempted)
    return m, extra


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bloqsenjin_spark", "__init__.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    sys.path[:0] = [ROOT, HERE]

    import inputs
    import workloads as W
    from tracing import StageMeter, Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
               "spark_cores": cores, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
               "n_docs": W.N_DOCS, "vocab": W.VOCAB, **_source_context(),
               **_cpu_probe()}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        context["spark_start_s"] = round(time.perf_counter() - t0, 3)
        tracer = Tracer(enabled=bool(args.trace))
        ctx = W.Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                    cores=cores, tracer=tracer,
                    corpus_dir=os.path.join(work, "corpus"))
        t0 = time.perf_counter()
        inputs.write_corpus(spark, ctx.corpus_dir, W.N_DOCS, W.VOCAB, args.seed)
        context["corpus_write_s"] = round(time.perf_counter() - t0, 3)
        if args.trace:
            W.install_patches(ctx)
            ctx.meter = StageMeter(spark)
            ctx.resume_trace()
        res = W.WORKLOADS[args.workload](ctx)
        tracer.pause()
        if args.trace:
            # kept after the run, next to (not inside) the removed work dir
            spans = os.path.join(os.path.dirname(work), "spans",
                                 f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            tracer.dump(spans)
            context["spans"] = os.path.relpath(spans)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    context.update({k: round(v, 3) if isinstance(v, float) else v
                    for k, v in res.notes.items()})

    print("# context " + json.dumps(context, sort_keys=True))
    e2e, extra = e2e_metrics(res)
    for name, (v, n) in e2e.items():
        _report(name, v, E2E_UNITS[name], n)
    for name, (v, n) in extra.items():
        _report(name, v, "", n, "(printed only)")
    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in W.layer_metrics(ctx, res).items()}
        for k, m in metrics.items():
            _report(k, m["value"], m["unit"], "-")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _n) in e2e.items()}
    correct = res.failed == 0
    print(f"# correct={correct} attempted={res.attempted} failed={res.failed}")
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
