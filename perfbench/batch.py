"""The two batch workloads over the news → sentiment → signals →
backtest pipeline.

``research_batch`` runs the whole research job from raw parquet;
``dashboard_rerun`` replays the dashboard's "Run Backtest" button over
pre-scored reference-scale inputs, one analyst at a time.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import pipeline as P

import inputs
from harness import dir_bytes, reset_dir
from trace import counted, join_output_rows

EXIT_REASONS = {"stop_loss", "take_profit", "hold_period", "end_of_backtest"}


class Materializer:
    """In a traced op, persist and count each layer call's output before
    the next call, so a span times the layer's work rather than plan
    building. Untraced ops pass frames through untouched."""

    def __init__(self, on: bool):
        self.on = on

    def __call__(self, df):
        if self.on:
            df.persist()
            df.count()
        return df


def report_digest(row) -> str:
    """Digest of the metrics row, floats rounded to 9 significant digits."""
    parts = []
    for k, v in sorted(row.asDict().items()):
        if isinstance(v, float):
            v = "nan" if math.isnan(v) else f"{v:.9g}"
        parts.append(f"{k}={v}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


def backtest_chain(tr, force, prices, scored, sweep, params: dict):
    """best_configs → generate_signals → run_backtest → backtest_metrics."""
    with tr.span("pipeline.best_configs"):
        best = force(P.best_configs(sweep))
    with tr.span("pipeline.signals"):
        signals = force(
            P.generate_signals(
                prices,
                scored,
                best,
                sentiment_threshold=params["sentiment_threshold"],
                min_news_count=params["min_news_count"],
            )
        )
    with tr.span("pipeline.backtest"):
        trades, equity = P.run_backtest(
            signals,
            prices,
            stop_loss_pct=params["stop_loss_pct"],
            take_profit_pct=params["take_profit_pct"],
        )
        trades, equity = force(trades), force(equity)
    with tr.span("pipeline.metrics"):
        row = P.backtest_metrics(trades, equity).collect()[0]
    return trades, equity, row


def check_scored(scored) -> list[str]:
    """Sentiment within [-1, 1] and exactly one row per article_url."""
    r = scored.agg(
        F.min("sentiment").alias("lo"),
        F.max("sentiment").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("article_url").alias("urls"),
        F.count("sentiment").alias("scored"),
    ).first()
    problems = []
    if r.n == 0 or r.scored != r.n:
        problems.append(f"{r.n - r.scored} of {r.n} articles unscored")
    elif not -1.0 <= r.lo <= r.hi <= 1.0:
        problems.append(f"sentiment outside [-1, 1]: [{r.lo}, {r.hi}]")
    if r.urls != r.n:
        problems.append(f"{r.n} rows for {r.urls} article_urls")
    return problems


def check_accounting(trades, equity, row) -> list[str]:
    """Final equity = initial + Σpnl + the end-of-backtest force-close
    friction, and the metrics row agrees with the trade log."""
    t = trades.toPandas()
    e = equity.toPandas().sort_values("date")
    problems = []
    if len(t) == 0:
        return ["backtest made no trades"]
    if not set(t["exit_reason"]) <= EXIT_REASONS:
        problems.append(f"unknown exit reasons {set(t['exit_reason']) - EXIT_REASONS}")
    if (e["cash"] < -1e-6).any():
        problems.append("cash went negative")
    bt = P.backtest
    end = t[t["exit_reason"] == "end_of_backtest"]
    friction = (
        end["shares"] * end["exit_price"] * (1.0 / (1.0 - bt.SLIPPAGE) - (1.0 - bt.TRANSACTION_COST))
    ).sum()
    final = float(e["equity"].iloc[-1])
    expect = bt.INITIAL_CAPITAL + float(t["pnl"].sum()) + float(friction)
    if not math.isclose(final, expect, rel_tol=1e-9):
        problems.append(f"final equity {final} != initial + pnl + friction {expect}")
    if row.num_trades != len(t) or not math.isclose(row.final_equity, final, rel_tol=1e-12):
        problems.append("metrics row disagrees with the trade log")
    return problems


class ResearchBatch:
    """Raw news + prices parquet through the full research job."""

    name = "research_batch"
    loop = "closed loop, one client, back-to-back jobs"
    params = {
        "sentiment_threshold": 0.4,
        "min_news_count": 7,
        "stop_loss_pct": 0.05,
        "take_profit_pct": 0.20,
    }

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = ctx.size["research"]
        self.dir = os.path.join(ctx.work, "research")
        self.digest = None
        self.scored_rows = 0
        self.request_counters: list[dict] = []

    def prepare(self) -> None:
        news, prices = inputs.news_and_prices(self.ctx.seed, **self.size)
        reset_dir(self.dir)
        pq.write_table(news, os.path.join(self.dir, "news.parquet"))
        pq.write_table(prices, os.path.join(self.dir, "prices.parquet"))

    def warmup(self) -> None:
        self.op(-1, traced=False)

    def op(self, i: int, traced: bool) -> float:
        ctx = self.ctx
        spark, force = ctx.spark, Materializer(traced)
        tr = ctx.tracer if traced else ctx.silent
        t0 = time.perf_counter()
        with tr.span("research", request=f"research-{i}"):
            with tr.span("sources.read"):
                news = force(spark.read.parquet(os.path.join(self.dir, "news.parquet")))
                prices = force(spark.read.parquet(os.path.join(self.dir, "prices.parquet")))
            with tr.span("pipeline.dedup"):
                deduped = force(P.dedup_articles_keep_last(news))
            with tr.span("functions.sentiment"):
                # Scored news feeds both the sweep and the signals: the
                # job's one explicit persist, traced or not.
                scored = P.add_sentiment(deduped).persist()
                force(scored)
            with tr.span("pipeline.lag_sweep") as sweep_span:
                sweep = force(P.lag_sweep(prices, scored))
            trades, equity, row = backtest_chain(tr, force, prices, scored, sweep, self.params)
        latency = time.perf_counter() - t0
        self.verify(i, scored, trades, equity, row)
        if traced:
            self.scored_rows = scored.count()
            layer = ctx.layer
            layer["pipeline.lag_sweep.join_rows"] = join_output_rows(spark, sweep_span.group)
            layer["pipeline.lag_sweep.useful_ratio"] = self.useful_ratio(prices, scored)
            self.rerun_counts(i, prices, scored, sweep)
        spark.catalog.clearCache()
        return latency

    def verify(self, i, scored, trades, equity, row) -> None:
        digest = report_digest(row)
        if self.digest is None:
            self.digest = digest
            self.ctx.check(self.name, check_scored(scored) + check_accounting(trades, equity, row))
        else:
            self.ctx.check(
                self.name, [] if digest == self.digest else [f"job {i}: report differs from job 0"]
            )

    def useful_ratio(self, prices, scored) -> float:
        """Share of the sweep's config grid rows that pass its min-news
        gate: the sweep re-run with no minimum-observation filter sums
        exactly those rows."""
        lbs, lds = P.features.DEFAULT_LOOKBACKS, P.features.DEFAULT_LEADS
        useful = P.lag_sweep(prices, scored, min_obs=0).agg(F.sum("n_observations")).first()[0]
        return (useful or 0) / (prices.count() * len(lbs) * len(lds))

    def rerun_counts(self, i, prices, scored, sweep) -> None:
        """Jobs, stages and tasks of one dashboard "Run Backtest" request
        (the ``dashboard_rerun`` request path) over this job's scored
        news, prices and sweep, written as parquet once per run."""
        root = os.path.join(self.dir, "dashboard")
        if not os.path.isdir(root):
            write_dashboard_inputs(root, scored, prices, sweep)
        with counted(self.ctx.spark, f"rerun-{i}") as jobs:
            dashboard_request(self.ctx, root, PRESETS[0], traced=False, request=f"rerun-{i}")
        self.request_counters.append(jobs)

    def report(self, res) -> dict:
        return {
            "research_s": (res.p50, "s"),
            "research_tail_s": (res.tail, "s", res.tail_label),
            "research_articles_per_s": (self.throughput(res), "1/s"),
        }

    def throughput(self, res) -> float:
        """Raw articles through the whole job per second, at the median."""
        return self.size["n_articles"] / res.p50


# Dashboard presets: sentiment threshold, minimum news count, stop-loss,
# take-profit, as an analyst would pick them in the backtest form.
PRESETS = (
    {"sentiment_threshold": 0.2, "min_news_count": 3, "stop_loss_pct": 0.05, "take_profit_pct": 0.20},
    {"sentiment_threshold": 0.3, "min_news_count": 5, "stop_loss_pct": 0.03, "take_profit_pct": 0.10},
    {"sentiment_threshold": 0.1, "min_news_count": 3, "stop_loss_pct": 0.08, "take_profit_pct": 0.30},
    {"sentiment_threshold": 0.4, "min_news_count": 7, "stop_loss_pct": 0.05, "take_profit_pct": 0.15},
)


def dashboard_paths(root: str) -> list[str]:
    return [os.path.join(root, n) for n in ("scored", "prices", "sweep")]


def write_dashboard_inputs(root: str, scored, prices, sweep) -> None:
    """The dashboard's inputs as the research job leaves them: scored
    news, prices and the lag sweep, as parquet."""
    for df, path in zip((scored, prices, sweep), dashboard_paths(root)):
        df.write.mode("overwrite").parquet(path)


def dashboard_request(ctx, root: str, params: dict, traced: bool, request: str):
    """One "Run Backtest" request: read the dashboard's parquet inputs,
    then best_configs → generate_signals → run_backtest →
    backtest_metrics. Returns the latency and the request's outputs."""
    spark, force = ctx.spark, Materializer(traced)
    tr = ctx.tracer if traced else ctx.silent
    t0 = time.perf_counter()
    with tr.span("request", request=request):
        with tr.span("sources.read"):
            scored, prices, sweep = (force(spark.read.parquet(p)) for p in dashboard_paths(root))
        trades, equity, row = backtest_chain(tr, force, prices, scored, sweep, params)
    return time.perf_counter() - t0, trades, equity, row


class DashboardRerun:
    """Closed loop of "Run Backtest" requests from one analyst."""

    name = "dashboard_rerun"
    loop = "closed loop, one analyst, next request after the previous returns"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = ctx.size["dashboard"]
        self.dir = os.path.join(ctx.work, "dashboard")
        self.digests: dict[int, str] = {}
        self.request_counters: list[dict] = []

    def prepare(self) -> None:
        news, prices = inputs.news_and_prices(self.ctx.seed + 1, **self.size)
        raw = reset_dir(os.path.join(self.dir, "raw"))
        pq.write_table(news, os.path.join(raw, "news.parquet"))
        pq.write_table(prices, os.path.join(raw, "prices.parquet"))

    def write_scored_inputs(self) -> None:
        spark, raw = self.ctx.spark, os.path.join(self.dir, "raw")
        news = spark.read.parquet(os.path.join(raw, "news.parquet"))
        prices = spark.read.parquet(os.path.join(raw, "prices.parquet"))
        scored = P.add_sentiment(P.dedup_articles_keep_last(news)).persist()
        write_dashboard_inputs(self.dir, scored, prices, P.lag_sweep(prices, scored))
        self.ctx.check(self.name, check_scored(scored))
        scored.unpersist()

    def warmup(self) -> None:
        self.write_scored_inputs()
        self.request(-1, 0, traced=False)

    def op(self, i: int, traced: bool) -> float:
        preset = int(self.ctx.rng.integers(len(PRESETS)))
        return self.request(i, preset, traced)

    def request(self, i: int, preset: int, traced: bool) -> float:
        ctx = self.ctx
        # A traced run's untraced requests carry the request.* counts.
        count = ctx.trace and not traced and i >= 0
        with counted(ctx.spark, f"request-{i}") if count else nullcontext({}) as jobs:
            latency, trades, equity, row = dashboard_request(
                ctx, self.dir, PRESETS[preset], traced, request=f"request-{i}"
            )
        if count:
            self.request_counters.append(jobs)
        digest = report_digest(row)
        if preset not in self.digests:
            self.digests[preset] = digest
            ctx.check(self.name, check_accounting(trades, equity, row))
        else:
            ctx.check(
                self.name,
                [] if digest == self.digests[preset] else [f"request {i}: preset {preset} report changed"],
            )
        ctx.spark.catalog.clearCache()
        return latency

    def report(self, res) -> dict:
        return {
            "request_p50_s": (res.p50, "s"),
            "request_tail_s": (res.tail, "s", res.tail_label),
            "requests_per_s": (self.throughput(res), "1/s"),
            "input_bytes": (sum(dir_bytes(p) for p in dashboard_paths(self.dir)), "bytes"),
        }

    def throughput(self, res) -> float:
        """One analyst's request rate at the median latency."""
        return 1.0 / res.p50
