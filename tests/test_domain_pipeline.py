"""Domain-pipeline tests (SURVEY §5.2 item 2): fixture data through
news→sentiment→sweep→signals→backtest, checked against an independent
pandas re-implementation of the reference's documented formulas."""

from __future__ import annotations

import datetime
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from streamprocessing_kafka_finlight_news_dashboard_spark import pipeline as P
from streamprocessing_kafka_finlight_news_dashboard_spark.pipeline import fixtures as FX


@pytest.fixture(scope="module")
def domain(spark):
    prices = FX.make_prices(spark, n_days=250, tickers=FX.TICKERS[:5]).cache()
    news = FX.make_news(spark, n_articles=3000, span_days=380, tickers=FX.TICKERS[:5])
    scored = P.add_sentiment(P.dedup_articles_keep_last(news)).cache()
    return prices, scored


def test_dedup_keeps_one_row_per_url(spark, domain):
    _, scored = domain
    dup = scored.groupBy("article_url").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_sentiment_bounds_and_signal(spark, domain):
    _, scored = domain
    row = scored.agg(
        F.min("sentiment").alias("lo"), F.max("sentiment").alias("hi")
    ).first()
    assert -1.0 <= row.lo <= row.hi <= 1.0
    # clearly-positive wording must outscore clearly-negative
    pos = scored.filter(F.col("title").contains("bullish")).agg(F.avg("sentiment")).first()[0]
    neg = scored.filter(F.col("title").contains("lawsuit")).agg(F.avg("sentiment")).first()[0]
    assert pos > 0 > neg


def test_sentiment_features_match_pandas_loop(spark, domain):
    """Exact parity with the reference's aggregate_sentiment loop
    (half-open [date-h, date), min-count gate) on one ticker."""
    prices, scored = domain
    tk = FX.TICKERS[0]
    lookback_h, min_count = 24, 3
    got = (
        P.sentiment_features(prices, scored, lookback_h, min_count)
        .filter(F.col("ticker") == tk)
        .toPandas()
        .sort_values("date")
        .reset_index(drop=True)
    )
    news_pd = scored.filter(F.col("ticker_queried") == tk).select(
        "published_utc", "sentiment"
    ).toPandas()
    price_pd = prices.filter(F.col("ticker") == tk).select("date", "close").toPandas()
    expect = []
    for d in sorted(price_pd["date"]):
        w = news_pd[
            (news_pd["published_utc"] >= d - pd.Timedelta(hours=lookback_h))
            & (news_pd["published_utc"] < d)
        ]
        if len(w) >= min_count:
            expect.append((d, w["sentiment"].mean(), len(w)))
    assert len(got) == len(expect), f"{len(got)} vs {len(expect)} gated rows"
    for (d, s, c), row in zip(expect, got.itertuples()):
        assert row.date == d
        assert row.news_count == c
        assert math.isclose(row.avg_sentiment, s, rel_tol=1e-9)


def test_lag_sweep_single_pass_matches_direct_corr(spark, domain):
    """One cell of the 5x4 grid must equal a directly-computed
    pandas correlation of (lookback sentiment, forward return)."""
    prices, scored = domain
    sweep = P.lag_sweep(prices, scored, min_news=3, min_obs=10).cache()
    cell = sweep.filter(
        (F.col("ticker") == FX.TICKERS[1])
        & (F.col("lookback_hours") == 24)
        & (F.col("lead_days") == 2)
    ).first()
    if cell is None:
        pytest.skip("cell below min_obs in fixture draw")
    feats = P.sentiment_features(prices, scored, 24, 3).filter(
        F.col("ticker") == FX.TICKERS[1]
    )
    fwd = P.forward_returns(prices, 2).filter(F.col("ticker") == FX.TICKERS[1])
    pdf = (
        feats.join(fwd.select("date", "forward_return"), "date")
        .select("avg_sentiment", "forward_return")
        .toPandas()
        .dropna()
    )
    assert cell.n_observations == len(pdf)
    assert math.isclose(
        cell.correlation, pdf["avg_sentiment"].corr(pdf["forward_return"]), rel_tol=1e-6
    )
    # p-value sanity: in (0, 1], small when |corr| large & n decent
    assert 0 <= cell.p_value <= 1


def test_best_config_deterministic_tiebreak(spark, domain):
    prices, scored = domain
    sweep = P.lag_sweep(prices, scored, min_news=3, min_obs=10)
    best = P.best_configs(sweep).toPandas()
    assert best["ticker"].is_unique
    full = sweep.toPandas()
    for row in best.itertuples():
        t_rows = full[full["ticker"] == row.ticker]
        assert math.isclose(
            abs(row.correlation), t_rows["correlation"].abs().max(), rel_tol=1e-12
        )


def test_signals_ladder_and_schema(spark, domain):
    prices, scored = domain
    sweep = P.lag_sweep(prices, scored, min_news=3, min_obs=10)
    best = P.best_configs(sweep)
    sig = P.generate_signals(
        prices, scored, best, sentiment_threshold=0.2, min_news_count=3, min_correlation=0.05
    ).cache()
    assert sig.count() > 0
    assert set(sig.columns) == {
        "date", "ticker", "signal", "sentiment", "news_count", "close_price",
        "lookback_hours", "lead_days", "correlation", "signal_type",
    }
    bad = sig.filter(
        (
            (F.col("signal_type") == "direct")
            & (F.col("sentiment") > 0.2)
            & (F.col("signal") != "BUY")
        )
        | (
            (F.col("signal_type") == "inverse")
            & (F.col("sentiment") > 0.2)
            & (F.col("signal") != "SELL")
        )
        | ((F.col("sentiment").between(-0.2, 0.2)) & (F.col("signal") != "HOLD"))
    ).count()
    assert bad == 0


def test_backtest_accounting_invariants(spark, domain):
    """Trade log must reconcile with the equity curve: final equity =
    initial + Σ pnl (all positions force-closed at end), cash never
    negative, exits within the enum, metrics internally consistent."""
    prices, scored = domain
    sweep = P.lag_sweep(prices, scored, min_news=3, min_obs=10)
    best = P.best_configs(sweep)
    sig = P.generate_signals(
        prices, scored, best, sentiment_threshold=0.2, min_news_count=3, min_correlation=0.05
    )
    trades, equity = P.run_backtest(
        sig, prices, hold_period_hours=240, stop_loss_pct=0.05, take_profit_pct=0.20
    )
    t = trades.toPandas()
    e = equity.toPandas().sort_values("date")
    assert len(t) > 0, "fixture produced no trades"
    assert (e["cash"] >= -1e-6).all()
    assert set(t["exit_reason"]).issubset(
        {"stop_loss", "take_profit", "hold_period", "end_of_backtest"}
    )
    # Reference semantics (07_backtest.py:237-262): the final equity row
    # is marked-to-market BEFORE the end-of-backtest force-close, so it
    # exceeds initial + Σpnl by exactly the force-close friction
    # (slippage + fees on the positions still open at the close).
    final_equity = e["equity"].iloc[-1]
    end_trades = t[t["exit_reason"] == "end_of_backtest"]
    slip, fee = P.backtest.SLIPPAGE, P.backtest.TRANSACTION_COST
    friction = (
        end_trades["shares"] * end_trades["exit_price"] * (1.0 / (1.0 - slip) - (1.0 - fee))
    ).sum()
    assert math.isclose(
        final_equity, P.backtest.INITIAL_CAPITAL + t["pnl"].sum() + friction, rel_tol=1e-9
    ), "trade log + force-close friction does not reconcile with final equity"
    # The final row must still show the positions that were open at the
    # close (the force-close happens after the mark).
    if len(end_trades):
        assert e["num_positions"].iloc[-1] == len(end_trades)

    m = P.backtest_metrics(trades, equity).first()
    assert m.num_trades == len(t)
    assert m.num_wins == (t["pnl"] > 0).sum()
    assert math.isclose(m.final_equity, final_equity, rel_tol=1e-12)
    # Sharpe: reference formula on population-std daily returns
    dr = e["equity"].pct_change().dropna().to_numpy()
    ann_ret = (1 + dr.mean()) ** 252 - 1
    ann_vol = dr.std(ddof=0) * np.sqrt(252)
    if ann_vol > 0:
        assert math.isclose(m.sharpe_ratio, ann_ret / ann_vol, rel_tol=1e-9)
    assert m.max_drawdown <= 0
    assert m.max_drawdown_start <= m.max_drawdown_end


@pytest.mark.parametrize("hold_hours", [240, 24])
def test_backtest_metrics_golden_replica(spark, domain, hold_hours):
    """Golden parity for the FULL 34-metric block (r12 verdict item 4):
    ``backtest_metrics`` vs an independently-coded pandas/numpy replica
    of the reference's published metric definitions
    (scripts/07_backtest.py:266-418), metric by metric, on the fixture
    backtest. Pins every ddof/annualization choice SURVEY §7.3 calls
    out: np.std default ddof=0 (population) for daily AND downside
    volatility, 252-day annualization for return/vol/Sharpe/Sortino,
    Calmar over |max_drawdown|, compound (not linear) annual return.

    Parameterized over TWO published parameter sets (r13 verdict item
    5): the long-hold fixture config (240 h) and the reference's
    conservative published variant
    (trades/HOLDING_PERIOD_24/backtest_summary_20260206_201756.json:
    HOLD_PERIOD_HOURS=24, stop/take unchanged at 0.05/0.20 per
    config/stock_universe.py:26-28) — a hold-period threading bug
    (hours→days conversion, early exits mislabeled) shifts every
    downstream metric and only the second config catches it.

    Deliberate deviations from the reference (all documented here, none
    value-changing on any deterministic input):

    | metric              | reference                          | engine                         | why |
    |---------------------|------------------------------------|--------------------------------|-----|
    | streak ordering     | position-dict close order in a day | (exit_date, ticker) sort       | dict order is an implementation accident; the engine (and this replica) fix a deterministic tie-break |
    | win_rate @ 0 trades | if-guard → 0                       | /greatest(n,1) → 0             | algebraically identical |
    | profit_factor guard | num_losses > 0                     | gross_loss != 0                | pnl<0 for every counted loss ⇒ equivalent |
    | date metrics        | strftime strings                   | native date/timestamp columns  | presentation-layer formatting only |
    """
    prices, scored = domain
    sweep = P.lag_sweep(prices, scored, min_news=3, min_obs=10)
    best = P.best_configs(sweep)
    sig = P.generate_signals(
        prices, scored, best, sentiment_threshold=0.2, min_news_count=3, min_correlation=0.05
    )
    trades, equity = P.run_backtest(
        sig, prices, hold_period_hours=hold_hours, stop_loss_pct=0.05, take_profit_pct=0.20
    )
    t = trades.toPandas()
    eq = equity.toPandas().sort_values("date").reset_index(drop=True)
    assert len(t) > 3, "fixture must produce a non-trivial trade log"
    if hold_hours == 24:
        # the short hold must actually bind (hold_period exits at
        # ~1 day), or the parameterization degenerates into 240 h
        hp = t.loc[t["exit_reason"] == "hold_period", "days_held"]
        assert len(hp) and hp.min() <= 4, "24 h hold never bound"
    cap = P.backtest.INITIAL_CAPITAL

    # ---- independent replica of the published definitions ----
    g: dict[str, object] = {
        "start_date": eq["date"].iloc[0],
        "end_date": eq["date"].iloc[-1],
        "trading_days": len(eq),
        "initial_capital": cap,
        "final_equity": eq["equity"].iloc[-1],
    }
    g["total_return"] = g["final_equity"] / cap - 1
    g["total_return_pct"] = g["total_return"] * 100
    w_mask, l_mask = t["pnl"] > 0, t["pnl"] < 0
    n = len(t)
    g["num_trades"], g["num_wins"], g["num_losses"] = n, int(w_mask.sum()), int(l_mask.sum())
    g["win_rate"] = g["num_wins"] / n * 100 if n else 0.0
    g["avg_win"] = t.loc[w_mask, "pnl"].mean() if w_mask.any() else 0.0
    g["avg_loss"] = t.loc[l_mask, "pnl"].mean() if l_mask.any() else 0.0
    g["avg_win_pct"] = t.loc[w_mask, "pnl_pct"].mean() if w_mask.any() else 0.0
    g["avg_loss_pct"] = t.loc[l_mask, "pnl_pct"].mean() if l_mask.any() else 0.0
    g["largest_win"], g["largest_loss"] = t["pnl"].max(), t["pnl"].min()
    g["largest_win_pct"], g["largest_loss_pct"] = t["pnl_pct"].max(), t["pnl_pct"].min()
    g["profit_factor"] = (
        abs(t.loc[w_mask, "pnl"].sum() / t.loc[l_mask, "pnl"].sum()) if l_mask.any() else 0.0
    )
    g["expectancy"] = t["pnl"].mean()
    g["avg_days_held"] = t["days_held"].mean()
    tt = t.sort_values(["exit_date", "ticker"]).reset_index(drop=True)
    flags = tt["pnl"] > 0
    runs = (flags != flags.shift()).cumsum()
    wr = tt[flags].groupby(runs[flags]).size()
    lr = tt[~flags].groupby(runs[~flags]).size()
    g["max_win_streak"] = int(wr.max()) if len(wr) else 0
    g["max_loss_streak"] = int(lr.max()) if len(lr) else 0
    peak = eq["equity"].cummax()
    dd = eq["equity"] / peak - 1
    g["max_drawdown"] = dd.min()
    g["max_drawdown_pct"] = g["max_drawdown"] * 100
    trough = dd.idxmin()
    g["max_drawdown_end"] = eq["date"].iloc[trough]
    dd_peak = peak.iloc[: trough + 1].max()
    g["max_drawdown_start"] = eq["date"].iloc[int(eq.index[eq["equity"] == dd_peak][0])]
    g["max_drawdown_duration_days"] = (
        pd.Timestamp(g["max_drawdown_end"]) - pd.Timestamp(g["max_drawdown_start"])
    ).days
    dr = eq["equity"].pct_change().dropna().to_numpy()
    g["avg_daily_return"] = dr.mean()
    g["daily_volatility"] = dr.std()  # np.std default ddof=0
    g["annual_return"] = (1 + g["avg_daily_return"]) ** 252 - 1
    g["annual_volatility"] = g["daily_volatility"] * np.sqrt(252)
    g["sharpe_ratio"] = (
        g["annual_return"] / g["annual_volatility"] if g["annual_volatility"] > 0 else 0.0
    )
    downside = dr[dr < 0]
    down_vol = (downside.std() if len(downside) else 0.0) * np.sqrt(252)
    g["sortino_ratio"] = g["annual_return"] / down_vol if down_vol > 0 else 0.0
    g["calmar_ratio"] = (
        g["annual_return"] / abs(g["max_drawdown"]) if g["max_drawdown"] != 0 else 0.0
    )

    # ---- engine row: every metric name present, every value equal ----
    row = P.backtest_metrics(trades, equity).first()
    got = row.asDict()
    assert set(g) == set(got), (
        f"metric-name drift: only-engine={set(got) - set(g)}, "
        f"only-replica={set(g) - set(got)}"
    )
    for name, want in g.items():
        have = got[name]
        if name in ("start_date", "end_date", "max_drawdown_start", "max_drawdown_end"):
            assert pd.Timestamp(have) == pd.Timestamp(want), name
        elif isinstance(want, (int, np.integer)):
            assert int(have) == int(want), f"{name}: engine={have} replica={want}"
        else:
            assert math.isclose(float(have), float(want), rel_tol=1e-9, abs_tol=1e-12), (
                f"{name}: engine={have} replica={want}"
            )


#: ``backtest_metrics``' public schema: names, order, Spark types and
#: nullability. Readers of the report select its columns by name and
#: type, so any change here is an API change.
_REPORT_DDL = (
    "start_date timestamp, end_date timestamp, trading_days bigint NOT NULL, "
    "initial_capital double NOT NULL, final_equity double, total_return double, "
    "total_return_pct double, num_trades bigint NOT NULL, num_wins bigint, "
    "num_losses bigint, win_rate double, avg_win double NOT NULL, "
    "avg_loss double NOT NULL, avg_win_pct double NOT NULL, avg_loss_pct double NOT NULL, "
    "largest_win double, largest_loss double, largest_win_pct double, "
    "largest_loss_pct double, profit_factor double, expectancy double, "
    "avg_days_held double, max_win_streak bigint NOT NULL, max_loss_streak bigint NOT NULL, "
    "max_drawdown double, max_drawdown_pct double, max_drawdown_start timestamp, "
    "max_drawdown_end timestamp, max_drawdown_duration_days int, avg_daily_return double, "
    "daily_volatility double, annual_return double, annual_volatility double, "
    "sharpe_ratio double, sortino_ratio double, calmar_ratio double"
)


@pytest.fixture(scope="module")
def persisted_backtest(spark, domain):
    """The fixture backtest's trade log and equity curve, persisted and
    counted so that later actions only read them."""
    prices, scored = domain
    best = P.best_configs(P.lag_sweep(prices, scored, min_news=3, min_obs=10))
    sig = P.generate_signals(
        prices, scored, best, sentiment_threshold=0.2, min_news_count=3, min_correlation=0.05
    )
    trades, equity = P.run_backtest(sig, prices, hold_period_hours=240)
    for df in (trades, equity):
        df.persist()
        df.count()
    yield trades, equity
    trades.unpersist()
    equity.unpersist()


def test_backtest_metrics_schema_pinned(spark, persisted_backtest):
    assert P.backtest_metrics(*persisted_backtest).schema == StructType.fromDDL(_REPORT_DDL)


def test_backtest_metrics_job_budget(spark, persisted_backtest):
    """Over persisted inputs the report costs one collect per input and
    nothing for the one-row result: at most 2 Spark jobs (a relational
    plan pays one job per aggregate branch, 13 here)."""
    sc = spark.sparkContext
    group = "backtest-metrics-job-budget"
    sc.setJobGroup(group, group)
    try:
        P.backtest_metrics(*persisted_backtest).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_backtest_without_trades(spark, domain):
    """Signals without a BUY row: an empty typed trade log, a flat
    equity curve, and a report row with zero counts and null extremes."""
    prices, _ = domain
    sig = prices.select(
        "ticker",
        "date",
        F.lit("HOLD").alias("signal"),
        F.lit(0.0).alias("sentiment"),
        F.lit(5).cast("long").alias("news_count"),
        F.lit(24).alias("lookback_hours"),
        F.lit(1).alias("lead_days"),
    )
    trades, equity = P.run_backtest(sig, prices)
    assert trades.count() == 0
    e = equity.toPandas()
    cap = P.backtest.INITIAL_CAPITAL
    assert len(e) == prices.select("date").distinct().count()
    assert (e["equity"] == cap).all() and (e["num_positions"] == 0).all()

    m = P.backtest_metrics(trades, equity).first()
    assert (m.num_trades, m.num_wins, m.num_losses) == (0, 0, 0)
    assert m.win_rate == m.profit_factor == m.avg_win == m.avg_loss == 0.0
    assert m.max_win_streak == m.max_loss_streak == 0
    assert m.final_equity == cap and m.total_return == 0.0
    assert m.trading_days == len(e)
    for name in (
        "largest_win", "largest_loss", "largest_win_pct", "largest_loss_pct",
        "expectancy", "avg_days_held",
    ):
        assert m[name] is None, name
    assert m.max_drawdown == 0.0 and m.max_drawdown_duration_days == 0
    assert m.sharpe_ratio == m.sortino_ratio == m.calmar_ratio == 0.0


def test_forward_returns_skip_zero_valued_purchase_days(spark, tmp_path):
    """A purchase day whose values average 0 has no forward return
    (NULL, as the DuckDB oracle's division gives); under ANSI a bare
    division by it fails the whole query."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import domain as D

    day = [datetime.datetime(2024, 1, d) for d in (2, 3, 4, 5)]
    purchases = [(day[0], 10.0), (day[1], 0.0), (day[2], 12.0), (day[3], 15.0)]
    clicks = [(d - datetime.timedelta(hours=2), 40.0) for d in day]
    rows = [(ts, "purchase", v) for ts, v in purchases] + [(ts, "click", v) for ts, v in clicks]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": [r[1] for r in rows],
                "value": [r[2] for r in rows],
                "props": ["{}"] * len(rows),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    feats = D._features(spark, str(tmp_path)).orderBy("day").collect()
    assert [r.fwd_ret_1 for r in feats] == [-1.0, None, 0.25, None]
    per_day = D._sweep_per_day(spark, str(tmp_path)).orderBy("day").collect()
    assert [(r.fwd_1, r.fwd_2) for r in per_day] == [
        (-1.0, 0.2), (None, None), (0.25, None), (None, None)
    ]


#: The reference's PUBLISHED conservative-variant backtest summary
#: (trades/HOLDING_PERIOD_24/backtest_summary_20260206_201756.json,
#: HOLD_PERIOD_HOURS=24) — vendored values so the repo stays
#: standalone. These are real published outputs, not fixtures.
_PUBLISHED_HOLD24 = {
    "trading_days": 522,
    "initial_capital": 100000.0,
    "final_equity": 98537.03031454378,
    "total_return": -0.014629696854562169,
    "total_return_pct": -1.4629696854562169,
    "num_trades": 24,
    "num_wins": 12,
    "num_losses": 12,
    "win_rate": 50.0,
    "avg_win": 313.60784831590627,
    "avg_loss": -435.5219887705921,
    "profit_factor": 0.7200735127086703,
    "expectancy": -60.95707022734291,
    "max_drawdown": -0.026764126077025274,
    "max_drawdown_pct": -2.6764126077025274,
    "avg_daily_return": -2.720598121445706e-05,
    "daily_volatility": 0.0010330630131695842,
    "annual_return": -0.00683255177576636,
    "annual_volatility": 0.016399366929034584,
    "sharpe_ratio": -0.416635093618738,
    "sortino_ratio": -0.19341600205498136,
    "calmar_ratio": -0.2552876845708601,
}


def test_published_hold24_summary_identities():
    """The engine's metric FORMULAS, replayed against the reference's
    published HOLD=24 run (r13 verdict item 5): every relationship the
    34-metric block encodes must hold on the published numbers to
    near-machine precision — win-rate/profit-factor/expectancy
    identities, compound annualization, Sharpe/Calmar quotients,
    percent scalings, and sign coherence. A formula divergence (linear
    instead of compound annual return, wrong win-rate denominator,
    Calmar over signed instead of |drawdown|) fails here against REAL
    published output even when the synthetic-fixture replica happens
    not to exercise it."""
    p = _PUBLISHED_HOLD24
    ic = lambda a, b: math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    assert p["num_wins"] + p["num_losses"] == p["num_trades"]
    assert ic(p["win_rate"], p["num_wins"] / p["num_trades"] * 100)
    assert ic(p["total_return"], p["final_equity"] / p["initial_capital"] - 1)
    assert ic(p["total_return_pct"], p["total_return"] * 100)
    assert ic(p["max_drawdown_pct"], p["max_drawdown"] * 100)
    # profit factor = |gross win / gross loss| via the avg components
    assert ic(
        p["profit_factor"],
        abs(p["num_wins"] * p["avg_win"] / (p["num_losses"] * p["avg_loss"])),
    )
    # expectancy = mean pnl = win-rate-weighted mix of avg win/loss
    w = p["num_wins"] / p["num_trades"]
    assert ic(p["expectancy"], w * p["avg_win"] + (1 - w) * p["avg_loss"])
    # compound 252-day annualization, exactly as backtest_metrics does
    assert ic(p["annual_return"], (1 + p["avg_daily_return"]) ** 252 - 1)
    assert ic(p["annual_volatility"], p["daily_volatility"] * math.sqrt(252))
    assert ic(p["sharpe_ratio"], p["annual_return"] / p["annual_volatility"])
    assert ic(p["calmar_ratio"], p["annual_return"] / abs(p["max_drawdown"]))
    # sortino needs the (unpublished) downside series; pin the sign and
    # |sortino| >= |sharpe| impossible here (downside vol <= total vol
    # need not hold) — sign coherence is the checkable part
    assert (p["sortino_ratio"] < 0) == (p["annual_return"] < 0)


def test_domain_pipeline_stage_handoffs(spark):
    """Composed flagship #6 reconciliation (r11 verdict item 1): the
    stage handoffs of the ONE-plan composition must agree with the
    separately-verified standalone entries.

    1. grid rows = per-day feature rows × |config grid| (the unpivot
       loses nothing);
    2. users whose best config is the standalone signal_generation
       config (24 h, 1 row) reproduce signal_generation's rows for
       those users EXACTLY — same gates, same thresholds, same corr;
    3. the backtest tail's trades reconcile with the signal table:
       entries only on BUY days of the composed signals, accounting
       identity pnl = proceeds − cost, one open position at a time.
    """
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import domain as D
    from tests.conftest import SF_SMOKE

    frames = D.domain_stage_frames(spark, SF_SMOKE)
    n_per_day = frames["features_per_day"].count()
    n_grid = frames["config_grid"].count()
    n_configs = len(D._SWEEP_LOOKBACKS) * len(D._SWEEP_LEADS)
    assert n_grid == n_per_day * n_configs, "unpivot dropped or fabricated rows"

    # best-config table: one row per user, config from the swept grid
    best = frames["best_configs"].toPandas()
    assert best["user_id"].is_unique
    assert set(best["lookback_hours"]).issubset(set(D._SWEEP_LOOKBACKS))
    assert set(best["lead_days"]).issubset(set(D._SWEEP_LEADS))

    composed = frames["signals"].toPandas()
    standalone = D.signal_generation(spark, SF_SMOKE).toPandas()
    match_users = set(
        best.loc[
            (best["lookback_hours"] == 24) & (best["lead_days"] == 1), "user_id"
        ]
    )
    assert match_users, "fixture draw left no (24,1)-best users; widen the grid"
    cols = [
        "user_id", "day", "close_value", "lookback_avg", "lookback_n",
        "correlation", "signal_type", "signal",
    ]
    got = (
        composed.loc[composed["user_id"].isin(match_users), cols]
        .sort_values(["user_id", "day"]).reset_index(drop=True)
    )
    want = (
        standalone.loc[standalone["user_id"].isin(match_users), cols]
        .sort_values(["user_id", "day"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # backtest tail: entries only on composed-BUY days, accounting identity
    trades = frames["trades"].toPandas()
    if len(trades):
        buy_days = set(
            map(tuple, composed.loc[composed["signal"] == "BUY", ["user_id", "day"]].itertuples(index=False))
        )
        assert set(map(tuple, trades[["user_id", "entry_day"]].itertuples(index=False))) <= buy_days
        slip, fee = 0.0005, 0.001
        for t in trades.itertuples():
            proceeds = t.shares * t.exit_price * (1 - fee)
            cost = t.shares * t.entry_price
            assert math.isclose(t.pnl, proceeds - cost, rel_tol=1e-9)
            assert math.isclose(t.pnl_pct, proceeds / cost - 1, rel_tol=1e-9)
        # one position at a time per user: intervals never overlap
        for _, grp in trades.groupby("user_id"):
            g = grp.sort_values("entry_day")
            assert (g["exit_day"].shift().dropna() <= g["entry_day"].iloc[1:]).all()

    # metrics stage reconciles with the trade log
    m = frames["metrics"].toPandas().set_index("user_id")
    for uid, grp in trades.groupby("user_id"):
        assert m.loc[uid, "n_trades"] == len(grp)
        assert math.isclose(m.loc[uid, "total_pnl"], round(grp["pnl"].sum(), 6), abs_tol=1e-6)

    # realized equity curve: terminal value per user = initial + total pnl
    eq = D.domain_pipeline_equity(spark, SF_SMOKE).toPandas()
    if len(trades):
        last_eq = eq.sort_values("day").groupby("user_id")["equity"].last()
        for uid, grp in trades.groupby("user_id"):
            assert math.isclose(
                last_eq[uid], D._INITIAL_CAPITAL + grp["pnl"].sum(), abs_tol=1e-5
            )
        # monotone day spine per user, one row per exit day
        assert eq.groupby(["user_id", "day"]).size().max() == 1


def test_bucketed_simulation_equals_per_user_grouping(spark):
    """The bucketed portfolio simulation (one applyInPandas group per
    hash bucket of users, r12) must produce EXACTLY the trade log of
    the one-group-per-user form — bucketing is a pure group-overhead
    optimization, never a semantics change."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import domain as D
    from tests.conftest import SF_SMOKE

    signals = D.signal_generation(spark, SF_SMOKE).select(
        "user_id", "day", "close_value", "signal"
    )
    bucketed = D._simulate_trades(signals).toPandas()
    per_user = (
        signals.groupBy("user_id")
        .applyInPandas(
            lambda pdf: pd.DataFrame(
                D._simulate_user_rows(pdf), columns=D._TRADE_COLUMNS
            ),
            D._TRADE_SCHEMA,
        )
        .toPandas()
    )
    key = ["user_id", "entry_day"]
    pd.testing.assert_frame_equal(
        bucketed.sort_values(key).reset_index(drop=True),
        per_user.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


def test_domain_pipeline_grid_matches_standalone_features(spark):
    """The composed per-day frame at the standalone config (24 h) must
    equal the standalone _features frame (lookback avg/count and the
    1-row forward return) — the conditional aggregate at max-lookback
    join width computes exactly the single-width join's numbers."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import domain as D
    from tests.conftest import SF_SMOKE

    per_day = D._sweep_per_day(spark, SF_SMOKE).toPandas()
    feats = D._features(spark, SF_SMOKE).toPandas()
    got = (
        per_day[["user_id", "day", "close_value", "avg_24", "cnt_24", "fwd_1"]]
        .rename(columns={"avg_24": "lookback_avg", "cnt_24": "lookback_n", "fwd_1": "fwd_ret_1"})
        .sort_values(["user_id", "day"]).reset_index(drop=True)
    )
    want = (
        feats[["user_id", "day", "close_value", "lookback_avg", "lookback_n", "fwd_ret_1"]]
        .sort_values(["user_id", "day"]).reset_index(drop=True)
    )
    # standalone fwd_ret_1 is unrounded in _features? both round(…, 6) — exact
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_buy_hold_benchmark_aligns_with_strategy(spark):
    """The buy-and-hold benchmark curve (reference
    scripts/08_visualize_equity.py:24-66) must line up with the
    strategy it benchmarks: one curve per BUY-signal entity, every
    curve covering the SAME global day spine, starting at exactly the
    initial capital once the first price exists, and covering every
    strategy trade date — otherwise strategy-vs-benchmark comparison
    plots would silently misalign."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.domain import _INITIAL_CAPITAL
    from tests.conftest import SF_SMOKE

    bh = CATALOG["portfolio_buy_hold_equity"].builder(spark, SF_SMOKE).toPandas()
    sig = CATALOG["signal_generation"].builder(spark, SF_SMOKE).toPandas()
    trades = CATALOG["portfolio_backtest_trades"].builder(spark, SF_SMOKE).toPandas()
    assert len(bh) > 0, "benchmark produced no curve"

    buy_users = set(sig.loc[sig["signal"] == "BUY", "user_id"])
    assert set(bh["user_id"]) == buy_users

    # every entity's curve covers the same global day spine
    spines = bh.groupby("user_id")["day"].apply(frozenset)
    assert len(set(spines)) == 1, "benchmark curves disagree on dates"
    spine = set(spines.iloc[0])

    # strategy trades (for benchmark entities) happen on spine dates
    bt = trades[trades["user_id"].isin(buy_users)]
    assert set(bt["entry_day"]) <= spine
    assert set(bt["exit_day"]) <= spine

    # every curve starts at exactly the initial capital (pre-price
    # fallback, or first-price day where shares × start_price =
    # capital) and stays positive
    assert (bh["bh_equity"] > 0).all()
    for _, grp in bh.groupby("user_id"):
        assert grp.sort_values("day")["bh_equity"].iloc[0] == _INITIAL_CAPITAL
