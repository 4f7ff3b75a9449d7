"""News-sentiment engine benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Workloads (see perfbench/METRICS.md): research_batch, dashboard_rerun,
news_stream, lake_queries. One process, one local Spark session with as
many task slots as the host has cores. Inputs come from ``--seed``.

Untraced runs print every end-to-end metric; traced runs (``--trace 1``)
force each layer call's output before the next call, record spans with
Spark counters, and print the per-layer metrics. Human-readable lines
come first; the last stdout line is one JSON object. The exit code is
non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

# Per-workload input sizes. "full" is the benchmark; "tiny" is for the
# self-test of the command.
SIZES = {
    "full": {
        "research": {"n_articles": 12_000, "n_tickers": 12, "n_days": 300},
        "dashboard": {"n_articles": 8_000, "n_tickers": 10, "n_days": 300},
        "stream": {"rate": 400, "drop_interval_s": 0.1, "settle_s": 2, "batch_articles": 2_000, "backlog_files": 3},
        "lake": {"sf": 0.01},
    },
    "tiny": {
        "research": {"n_articles": 3_000, "n_tickers": 5, "n_days": 120},
        "dashboard": {"n_articles": 3_000, "n_tickers": 5, "n_days": 120},
        "stream": {"rate": 100, "drop_interval_s": 0.1, "settle_s": 1, "batch_articles": 200, "backlog_files": 2},
        "lake": {"sf": 0.002},
    },
}
PREPARE_REPS = 3

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("throughput_per_s", "1/s"),
)

CALLS = (
    "sources.read",
    "pipeline.dedup",
    "functions.sentiment",
    "pipeline.lag_sweep",
    "pipeline.best_configs",
    "pipeline.signals",
    "pipeline.backtest",
    "pipeline.metrics",
)
LAKE_QUERIES = (
    "q3_shipping_priority",
    "pit_lookback_join",
    "signal_generation",
    "doc_minhash_lsh_candidates",
    "doc_tfidf_top_terms",
    "emb_cosine_topk",
)
PER_LAYER = (
    ("sources.read_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("pipeline.dedup_s", "s"),
    ("functions.sentiment_s", "s"),
    ("functions.sentiment_rows_per_s", "1/s"),
    ("pipeline.lag_sweep_s", "s"),
    ("pipeline.lag_sweep.join_rows", "count"),
    ("pipeline.lag_sweep.useful_ratio", "ratio"),
    ("pipeline.best_configs_s", "s"),
    ("pipeline.signals_s", "s"),
    ("pipeline.backtest_s", "s"),
    ("pipeline.metrics_s", "s"),
    ("pipeline.backtest.busy_share", "ratio"),
    ("request.jobs", "count"),
    ("request.stages", "count"),
    ("request.tasks", "count"),
    *((f"{c}.jobs", "count") for c in CALLS),
    *((f"{c}.shuffle_write_bytes", "bytes") for c in CALLS),
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.rows_per_batch", "count"),
    ("streaming.data_batch_ratio", "ratio"),
    ("streaming.dedup.state_rows", "count"),
    ("streaming.dedup.state_bytes", "bytes"),
    ("streaming.dedup.kept_ratio", "ratio"),
    ("streaming.backlog_files", "count"),
    ("streaming.drain.trigger_s", "s"),
    ("plans.relational_s", "s"),
    ("plans.timeseries_s", "s"),
    ("plans.domain_s", "s"),
    ("operators.dedup_s", "s"),
    ("operators.text_s", "s"),
    ("operators.similarity_s", "s"),
    *((f"lake.{q}.jobs", "count") for q in LAKE_QUERIES),
    ("trace.overhead_s", "s"),
)
WORKLOADS = ("research_batch", "dashboard_rerun", "news_stream", "lake_queries")


@dataclass
class Result:
    p50: float
    tail: float
    tail_label: str
    count: int


class Ctx:
    """What a workload gets: the session, seed, sizes, tracers and the
    sinks for checks and per-layer numbers."""

    def __init__(self, spark, seed: int, size: dict, work: str, trace: bool):
        import numpy as np

        from trace import Tracer

        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.size = size
        self.work = work
        self.trace = trace
        self.tracer = Tracer(spark, enabled=trace)
        self.silent = Tracer(spark, enabled=False)
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    def check(self, workload: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"# CHECK FAILED {workload}: {p}", file=sys.stderr)


def make_workload(name: str, ctx: Ctx):
    if name == "research_batch":
        from batch import ResearchBatch

        return ResearchBatch(ctx)
    if name == "dashboard_rerun":
        from batch import DashboardRerun

        return DashboardRerun(ctx)
    if name == "news_stream":
        from stream import NewsStream

        return NewsStream(ctx)
    from lake import LakeQueries

    return LakeQueries(ctx)


def closed_loop(wl, ctx: Ctx, seconds: float) -> tuple[list[float], list[float]]:
    """Ops back to back while the next one, judged by the last, still
    fits in the window; always at least one. A traced run alternates
    untraced and traced ops and runs at least one of each, so tracing
    overhead is measured in-run."""
    clock = harness.Clock(seconds)
    plain, traced = [], []
    last, i = 0.0, 0
    while i == 0 or clock.remaining() >= last or (ctx.trace and i < 2):
        on = ctx.trace and i % 2 == 1
        ctx.attempted += 1
        t = time.perf_counter()
        try:
            (traced if on else plain).append(wl.op(i, traced=on))
        except Exception:  # one failed op is counted, the loop goes on
            ctx.failed += 1
            traceback.print_exc(file=sys.stderr)
        last = time.perf_counter() - t
        i += 1
    return plain, traced


def span_medians(tracer, names) -> dict[str, float]:
    """Median duration per op of each named span (spans of one op summed)."""
    out = {}
    for name in names:
        per_op: dict[str, float] = {}
        for sp in tracer.named(name):
            per_op[sp.request] = per_op.get(sp.request, 0.0) + sp.seconds
        if per_op:
            out[name] = harness.median(list(per_op.values()))
    return out


def counter_medians(spans, key: str) -> float:
    return harness.median([s.counters.get(key, 0) for s in spans]) if spans else 0


def layer_metrics(wl, ctx: Ctx, plain: list[float], traced: list[float]) -> dict[str, float]:
    tr, cpus = ctx.tracer, harness.host_cpus()
    out = dict.fromkeys((n for n, _ in PER_LAYER), 0)
    times = span_medians(tr, [*CALLS, "plans.relational", "plans.timeseries", "plans.domain",
                              "operators.dedup", "operators.text", "operators.similarity"])
    for name, secs in times.items():
        out[f"{name}_s"] = secs
    for call in CALLS:
        spans = tr.named(call)
        out[f"{call}.jobs"] = counter_medians(spans, "jobs")
        out[f"{call}.shuffle_write_bytes"] = counter_medians(spans, "shuffle_write_bytes")
    out["sources.input_bytes"] = counter_medians(tr.named("sources.read"), "input_bytes")
    bt = tr.named("pipeline.backtest")
    if bt:
        out["pipeline.backtest.busy_share"] = harness.median(
            [s.counters["executor_run_ms"] / 1000.0 / (s.seconds * cpus) for s in bt]
        )
    if "functions.sentiment" in times and getattr(wl, "scored_rows", 0):
        out["functions.sentiment_rows_per_s"] = wl.scored_rows / times["functions.sentiment"]
    for q in LAKE_QUERIES:
        out[f"lake.{q}.jobs"] = counter_medians(tr.named(f"lake.{q}"), "jobs")
    for key in ("jobs", "stages", "tasks"):
        reqs = getattr(wl, "request_counters", [])
        if reqs:
            out[f"request.{key}"] = harness.median([c[key] for c in reqs])
    if plain and traced:
        out["trace.overhead_s"] = harness.median(traced) - harness.median(plain)
    out.update({k: v for k, v in ctx.layer.items() if k in out})
    return out


def run_workload(name: str, spark, args, session_s: float, size: dict, work: str):
    ctx = Ctx(spark, args.seed, size, work, bool(args.trace))
    wl = make_workload(name, ctx)
    prep = []
    for _ in range(PREPARE_REPS):
        t = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warmup()
    warm_s = time.perf_counter() - t
    setup_s = session_s + harness.median(prep) + warm_s

    if hasattr(wl, "measure"):
        ctx.attempted += 1
        wl.measure(harness.Clock(args.seconds), traced=ctx.trace)
        samples, plain, traced = wl.latencies, [], []
    else:
        plain, traced = closed_loop(wl, ctx, args.seconds)
        samples = plain or traced
    if not samples:
        raise RuntimeError(f"{name}: no operation completed")
    tail, label = harness.tail(samples)
    res = Result(harness.median(samples), tail, label, len(samples))
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": res.p50,
        "latency_tail_s": res.tail,
        "throughput_per_s": wl.throughput(res),
    }
    jvm_mb, workers_mb, workers = harness.peak_rss_mb(harness.jvm_pid(spark))
    named = wl.report(res)
    named["peak_rss_mb"] = (
        jvm_mb + workers_mb,
        "MB",
        f"driver JVM {jvm_mb:.0f} + {workers} Python worker processes {workers_mb:.0f}; not bounded",
    )
    named["failed_share"] = (ctx.failed / max(1, ctx.attempted), "ratio")
    lines = [
        f"workload {name}: {wl.loop}; {res.count} samples, tail = {label}",
        f"  setup: session {session_s:.3f} s, inputs+writes median of {PREPARE_REPS} "
        f"{harness.median(prep):.3f} s, warm-up {warm_s:.3f} s",
    ]
    if plain or traced:
        ops = ", ".join(f"{x:.3f}" for x in plain) + (" | traced " + ", ".join(f"{x:.3f}" for x in traced) if traced else "")
        lines.append(f"  op latencies: {ops} s")
    for key, val in named.items():
        extra = f" ({val[2]})" if len(val) > 2 else ""
        lines.append(f"  {key} = {val[0]:.6g} {val[1]}{extra}")
    layers = layer_metrics(wl, ctx, plain, traced) if ctx.trace else {}
    return ctx, e2e, layers, lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)) or not os.path.isfile(
        os.path.join(harness.ROOT, "tests", "oracle_compare.py")
    ):
        print(f"perfbench: {harness.PACKAGE}/ and tests/ must sit beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)

    work = harness.reset_dir(harness.WORK)
    harness.configure_launcher(work)
    load_start = harness.load_average()
    t = time.perf_counter()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    try:
        for name in names:
            results[name] = run_workload(name, spark, args, session_s, SIZES[args.size], work)
            session_s = 0.0  # later workloads share the started session
    finally:
        tracers = [r[0].tracer for r in results.values()]
        harness.stop_session(spark)
    load_end = harness.load_average()
    for name, tracer in zip(results, tracers):
        if tracer.enabled:
            tracer.dump(os.path.join(work, f"spans-{name}-seed{args.seed}.jsonl"))

    print(f"host: {harness.host_cpus()} cores, load average {load_start} at start, {load_end} at end")
    attempted = failed = 0
    metrics = {}
    for name, (ctx, e2e, layers, lines) in results.items():
        print("\n".join(lines))
        attempted += ctx.attempted
        failed += ctx.failed
        chosen = layers if args.trace else e2e
        units = dict(PER_LAYER if args.trace else END_TO_END)
        for key, value in chosen.items():
            full = key if len(names) == 1 else f"{name}.{key}"
            metrics[full] = {"value": float(value), "unit": units[key]}
            print(f"  {full} = {float(value):.6g} {units[key]}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
