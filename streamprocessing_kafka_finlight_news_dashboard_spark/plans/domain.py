"""Reference-domain semantics (signals, lag sweep, backtest) mapped
onto the driver's ``events`` table so the oracle can check them.

Role mapping: user_id ≈ ticker, daily avg 'purchase' value ≈ close
price, 'click' activity in a lookback window ≈ news sentiment. The
operators are EXACTLY the reference's (SURVEY §2): point-in-time
lookback aggregate (J1), forward trading-row return (J2/W2), per-entity
correlation with min-obs gate (A7/P9), threshold+sign CASE signal (P7),
and the sequential portfolio simulation (T8/F5) as applyInPandas.

The full news/prices-shaped domain pipeline (VADER sentiment, the
5×4 lag-config sweep, 34-metric report) lives in pipeline/ and is
exercised by pytest fixtures; these catalog entries prove the same
plan shapes against the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import query
from streamprocessing_kafka_finlight_news_dashboard_spark.plans.timeseries import daily_user_values
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

_THR_HI = 30.0
_THR_LO = 20.0
# Gates sized to the driver's events density (~13 purchase days and
# ~1-3 lookback clicks per user-day at sf0.01) so the signal table is
# non-degenerate at every scale factor.
_MIN_OBS = 2
_MIN_LOOKBACK_N = 1


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, day) rows: lookback click stats + close + forward return.

    One equi+range hash join (user_id) + two windows — the reference's
    triple-nested Python loop (scripts/05_lag_analysis.py:45-109)
    collapsed into a single declarative plan.
    """
    e = load_table(spark, sf_dir, "events")
    prices = daily_user_values(e, "purchase").withColumnRenamed("avg_value", "close_value")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), "ts", "value", "event_id"
    )
    joined = prices.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("day") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("ts") < F.col("day")),
        "left",
    )
    feats = joined.groupBy("user_id", "day", "close_value").agg(
        F.round(F.try_divide(F.sum(F.col("value").cast("decimal(20,8)")).cast("double"), F.count(F.col("value"))), 6).alias("lookback_avg"),
        F.count("event_id").alias("lookback_n"),
    )
    w = W.partitionBy("user_id").orderBy("day")
    return feats.withColumn(
        "fwd_ret_1",
        # try_divide: a zero-valued purchase day has no forward return
        # (NULL, as DuckDB's division gives) instead of failing under ANSI.
        F.round(F.try_divide(F.lead("close_value").over(w), F.col("close_value")) - 1, 6),
    )


# Shared CTE block: the full signal table (prices → lookback feats →
# forward return → per-user corr gate → CASE ladder). Reused verbatim
# by the signal_generation oracle and the buy-and-hold benchmark's
# BUY-universe selection so the two stay definitionally in lockstep.
_SIGNALS_CTES = f"""
        prices AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(20,8))) AS DOUBLE) / count(value), 6) AS close_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, date_trunc('day', ts)
        ), feats AS (
            SELECT p.user_id, p.day, p.close_value,
                   round(CAST(sum(CAST(c.value AS DECIMAL(20,8))) AS DOUBLE) / count(c.value), 6) AS lookback_avg,
                   count(c.event_id)      AS lookback_n
            FROM prices p
            LEFT JOIN events c
              ON c.user_id = p.user_id AND c.event_type = 'click'
             AND c.ts >= p.day - INTERVAL 24 HOUR AND c.ts < p.day
            GROUP BY p.user_id, p.day, p.close_value
        ), with_fwd AS (
            SELECT *,
                   round(lead(close_value) OVER (PARTITION BY user_id ORDER BY day)
                         / close_value - 1, 6) AS fwd_ret_1
            FROM feats
        ), corrs AS (
            SELECT user_id,
                   round(corr(lookback_avg, fwd_ret_1), 6) AS correlation,
                   count(*) FILTER (WHERE lookback_avg IS NOT NULL
                                      AND fwd_ret_1 IS NOT NULL) AS n_obs
            FROM with_fwd
            WHERE lookback_n >= {_MIN_LOOKBACK_N}
            GROUP BY user_id
        ), signals AS (
            SELECT f.user_id, f.day, f.close_value, f.lookback_avg, f.lookback_n,
                   c.correlation,
                   CASE WHEN c.correlation >= 0 THEN 'direct' ELSE 'inverse' END AS signal_type,
                   CASE
                       WHEN f.lookback_avg > {_THR_HI}
                            THEN CASE WHEN c.correlation >= 0 THEN 'BUY' ELSE 'SELL' END
                       WHEN f.lookback_avg < {_THR_LO}
                            THEN CASE WHEN c.correlation >= 0 THEN 'SELL' ELSE 'BUY' END
                       ELSE 'HOLD'
                   END AS signal
            FROM with_fwd f
            JOIN corrs c ON c.user_id = f.user_id
            WHERE c.n_obs >= {_MIN_OBS}
              AND abs(c.correlation) >= 0.05
              AND f.lookback_n >= {_MIN_LOOKBACK_N}
              AND f.lookback_avg IS NOT NULL
        )
"""


@query(
    "signal_generation",
    oracle=f"""
        WITH {_SIGNALS_CTES}
        SELECT user_id, day, close_value, lookback_avg, lookback_n,
               correlation, signal_type, signal
        FROM signals
    """,
    survey_ops="P7,A7,P9,J1,J2,W2 (reference scripts/06_strategy_signals.py:114-132)",
    doc="BUY/SELL/HOLD signal generation: lookback feature vs "
    "thresholds, direction flipped when the per-entity correlation is "
    "negative — the reference's CASE ladder "
    "(scripts/06_strategy_signals.py:114-132) with its |corr| and "
    "min-observation gates (scripts/06_strategy_signals.py:27, "
    "05_lag_analysis.py:22-23).",
)
def signal_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _features(spark, sf_dir)
    gated = feats.filter(F.col("lookback_n") >= _MIN_LOOKBACK_N)
    corrs = gated.groupBy("user_id").agg(
        F.round(F.corr("lookback_avg", "fwd_ret_1"), 6).alias("correlation"),
        F.count(
            F.when(
                F.col("lookback_avg").isNotNull() & F.col("fwd_ret_1").isNotNull(), 1
            )
        ).alias("n_obs"),
    )
    sig_dir, signal = _signal_ladder()
    return (
        gated.join(corrs, "user_id")
        .filter(
            (F.col("n_obs") >= _MIN_OBS)
            & (F.abs(F.col("correlation")) >= 0.05)
            & F.col("lookback_avg").isNotNull()
        )
        .select(
            "user_id",
            "day",
            "close_value",
            "lookback_avg",
            "lookback_n",
            "correlation",
            sig_dir.alias("signal_type"),
            signal.alias("signal"),
        )
    )


# Backtest constants — the reference's (scripts/07_backtest.py:26-35),
# money scaled down to the events value range.
_INITIAL_CAPITAL = 100_000.0
_POSITION_SIZE = 0.8
_TRANSACTION_COST = 0.001
_SLIPPAGE = 0.0005
_STOP_LOSS = 0.05
_TAKE_PROFIT = 0.20
_MAX_HOLD_DAYS = 5

_TRADE_SCHEMA = (
    "user_id long, entry_day timestamp, exit_day timestamp, "
    "entry_price double, exit_price double, shares double, "
    "pnl double, pnl_pct double, exit_reason string, days_held long"
)


_TRADE_COLUMNS = [
    "user_id", "entry_day", "exit_day", "entry_price", "exit_price",
    "shares", "pnl", "pnl_pct", "exit_reason", "days_held",
]

#: bucket count for the bucketed simulation: with one applyInPandas
#: group PER USER the per-group Arrow/pandas setup (~2.5 ms) dominates
#: at scale (measured 160 s for 64 k users at the 50× smoke — the
#: Python loop itself is ~µs/row). Bucketing users with a hash keeps
#: the per-user sequential semantics (the loop below still runs per
#: user) while cutting group count to a constant ≫ cluster
#: parallelism; a 1000-executor deployment would raise it with the
#: cluster.
_SIM_BUCKETS = 256


def _simulate_user_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Sequential long-only portfolio for ONE user's day-ordered rows —
    the reference's Portfolio state machine (scripts/07_backtest.py:
    37-164): open on BUY (one position at a time), exit on stop-loss /
    take-profit / max-hold / end-of-data, slippage on both sides, fees
    on notional. Returns trade tuples (see _TRADE_COLUMNS)."""
    pdf = pdf.sort_values("day").reset_index(drop=True)
    trades = []
    cash = _INITIAL_CAPITAL
    pos = None  # (entry_day, entry_price, shares)
    for row in pdf.itertuples():
        price = row.close_value
        if pos is not None:
            entry_day, entry_price, shares = pos
            held = (row.day - entry_day).days
            ret = price / entry_price - 1
            reason = None
            if ret <= -_STOP_LOSS:
                reason = "stop_loss"
            elif ret >= _TAKE_PROFIT:
                reason = "take_profit"
            elif held >= _MAX_HOLD_DAYS:
                reason = "hold_period"
            if reason is not None:
                exit_price = price * (1 - _SLIPPAGE)
                proceeds = shares * exit_price * (1 - _TRANSACTION_COST)
                cost = shares * entry_price
                trades.append(
                    (
                        row.user_id, entry_day, row.day, entry_price, exit_price,
                        shares, proceeds - cost, proceeds / cost - 1, reason, held,
                    )
                )
                cash += proceeds
                pos = None
        if pos is None and row.signal == "BUY":
            entry_price = price * (1 + _SLIPPAGE)
            budget = cash * _POSITION_SIZE
            shares = budget / (entry_price * (1 + _TRANSACTION_COST))
            if shares > 0:
                cash -= shares * entry_price * (1 + _TRANSACTION_COST)
                pos = (row.day, entry_price, shares)
    if pos is not None and len(pdf):
        last = pdf.iloc[-1]
        entry_day, entry_price, shares = pos
        exit_price = last.close_value * (1 - _SLIPPAGE)
        proceeds = shares * exit_price * (1 - _TRANSACTION_COST)
        cost = shares * entry_price
        trades.append(
            (
                last.user_id, entry_day, last.day, entry_price, exit_price, shares,
                proceeds - cost, proceeds / cost - 1, "end_of_backtest",
                (last.day - entry_day).days,
            )
        )
    return trades


def _simulate_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Bucketed form: one applyInPandas group holds MANY users (hash
    bucket); the sequential state machine still runs strictly per user
    inside. Trade tuples accumulate into ONE frame per bucket, so the
    per-group Arrow/pandas setup cost is paid per bucket, not per user."""
    trades: list[tuple] = []
    for _, grp in pdf.groupby("user_id", sort=False):
        trades.extend(_simulate_user_rows(grp))
    return pd.DataFrame(trades, columns=_TRADE_COLUMNS)


def _simulate_trades(signals: DataFrame) -> DataFrame:
    """signals (user_id, day, close_value, signal) → per-user trade log
    via the bucketed simulation."""
    return (
        signals.withColumn(
            "_bkt", F.pmod(F.xxhash64(F.col("user_id")), F.lit(_SIM_BUCKETS))
        )
        .groupBy("_bkt")
        .applyInPandas(_simulate_bucket, _TRADE_SCHEMA)
    )


@query(
    "portfolio_backtest_trades",
    oracle=None,  # sequential state machine — not SQL-expressible (T8)
    survey_ops="T8,F5 (reference scripts/07_backtest.py:37-264)",
    doc="Per-user sequential portfolio simulation via applyInPandas "
    "over day-ordered signals. The reference runs ONE global portfolio "
    "(single Python loop); the scalable reframing is per-entity "
    "portfolios — parallel across hash buckets of users, strictly "
    "sequential within each user, state bounded to one user's rows. "
    "Bucketing (r12) pays the per-group Arrow setup once per bucket "
    "instead of once per user (measured 64k tiny groups costing "
    "~2.5 ms each at the 50× smoke).",
)
def portfolio_backtest_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    signals = signal_generation(spark, sf_dir).select(
        "user_id", "day", "close_value", "signal"
    )
    return _simulate_trades(signals)


@query(
    "backtest_summary_metrics",
    oracle=None,  # downstream of the non-SQL backtest
    survey_ops="A9,A14,A6 (reference scripts/07_backtest.py:266-418)",
    doc="Trade-log metrics block: win rate, profit factor, expectancy, "
    "avg/largest win/loss — one wide conditional aggregate per user "
    "instead of the reference's dict-of-scalars loop.",
)
def backtest_summary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared wide-agg block (defined with the composed flagship below,
    # which reuses it as its metrics stage)
    return _trade_metrics(portfolio_backtest_trades(spark, sf_dir))


@query(
    "portfolio_buy_hold_equity",
    oracle=f"""
        WITH {_SIGNALS_CTES}
        , buyers AS (
            SELECT DISTINCT user_id FROM signals WHERE signal = 'BUY'
        ), spine AS (
            SELECT DISTINCT day FROM prices
        ), panel AS (
            SELECT b.user_id, s.day, p.close_value
            FROM buyers b CROSS JOIN spine s
            LEFT JOIN prices p ON p.user_id = b.user_id AND p.day = s.day
        ), filled AS (
            SELECT user_id, day,
                   last_value(close_value IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS close_ff,
                   first_value(close_value IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   ) AS start_price
            FROM panel
        )
        SELECT user_id, day,
               CASE WHEN close_ff IS NULL THEN {_INITIAL_CAPITAL}
                    ELSE round({_INITIAL_CAPITAL} / start_price * close_ff, 6)
               END AS bh_equity
        FROM filled
    """,
    survey_ops="J5,W8,A10 (reference scripts/08_visualize_equity.py:24-66 — "
    "buy-and-hold benchmark equity via as-of last-known price)",
    doc="Buy-and-hold benchmark equity curve per BUY-signal entity — the "
    "reference's comparison portfolio (scripts/08_visualize_equity.py:"
    "24-66): full initial capital buys at the entity's first available "
    "close (shares = capital / start_price), then each spine date is "
    "marked to the LAST KNOWN close ≤ that date (the as-of forward-fill "
    "operator); dates before the first price carry the initial capital, "
    "exactly the reference's fallback. Composes the W8 forward-fill "
    "window with the signal universe over the shared global day spine.",
)
def portfolio_buy_hold_equity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    prices = daily_user_values(e, "purchase").withColumnRenamed(
        "avg_value", "close_value"
    )
    buyers = (
        signal_generation(spark, sf_dir)
        .filter(F.col("signal") == "BUY")
        .select("user_id")
        .distinct()
    )
    spine = prices.select("day").distinct()
    # buyers × spine is bounded (BUY entities × trading days), both
    # sides tiny relative to events — broadcast the day spine.
    panel = buyers.crossJoin(F.broadcast(spine)).join(
        prices, ["user_id", "day"], "left"
    )
    w_ff = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_full = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    filled = panel.select(
        "user_id",
        "day",
        F.last("close_value", ignorenulls=True).over(w_ff).alias("close_ff"),
        F.first("close_value", ignorenulls=True).over(w_full).alias("start_price"),
    )
    return filled.select(
        "user_id",
        "day",
        F.when(F.col("close_ff").isNull(), F.lit(_INITIAL_CAPITAL))
        .otherwise(
            F.round(F.lit(_INITIAL_CAPITAL) / F.col("start_price") * F.col("close_ff"), 6)
        )
        .alias("bh_equity"),
    )


# ---------------------------------------------------------------------------
# Domain flagship #6: the reference's END-TO-END batch pipeline as ONE
# composed plan (r11 verdict item 1). The reference chains scripts
# 03→07 (README.md:296-301): sentiment → lookback features → 5×4 lag
# sweep → best config per ticker → signals at that config → backtest →
# metrics. Each stage exists here as a separately-verified catalog
# entry; this entry composes them over the SAME events mapping the
# standalone entries use (user≈ticker, daily purchase avg≈close, click
# value in the lookback window≈article sentiment) so the whole chain
# through signals sits under ONE chained-CTE DuckDB oracle, and the
# stateful backtest tail rides the verified signal table (rows-only,
# T8). Stage handoffs are pinned by pytest reconciliation
# (tests/test_domain_pipeline.py): grid rows = per-day rows × |configs|,
# and users whose best config is the standalone entry's (24 h, 1 row)
# produce EXACTLY signal_generation's rows.
# ---------------------------------------------------------------------------

#: the composed sweep's config grid — deliberately INCLUDES the
#: standalone signal_generation config (24 h lookback, 1-row lead) so
#: the composition is reconcilable against it row-for-row.
_SWEEP_LOOKBACKS = (6, 12, 24)
_SWEEP_LEADS = (1, 2)


def _sweep_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, day) grain with one (avg, count) column PAIR per lookback
    and one forward-return column per lead — the whole 3×2 sweep fed by
    ONE range join at max(lookbacks) (the reference re-scans the news
    table once per config — scripts/05_lag_analysis.py:161-208; here the
    expensive article-grain join runs once and per-lookback membership
    is a conditional aggregate over the article's age)."""
    e = load_table(spark, sf_dir, "events")
    prices = daily_user_values(e, "purchase").withColumnRenamed(
        "avg_value", "close_value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), "ts", "value", "event_id"
    )
    max_lb = max(_SWEEP_LOOKBACKS)
    joined = prices.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("day") - F.expr(f"INTERVAL {max_lb} HOURS"))
        & (F.col("ts") < F.col("day")),
        "left",
    )
    in_lb = {
        lb: F.col("ts") >= F.col("day") - F.expr(f"INTERVAL {lb} HOURS")
        for lb in _SWEEP_LOOKBACKS
    }
    per_day = joined.groupBy("user_id", "day", "close_value").agg(
        *[
            F.round(
                F.try_divide(
                    F.sum(
                        F.when(in_lb[lb], F.col("value").cast("decimal(20,8)"))
                    ).cast("double"),
                    F.count(F.when(in_lb[lb], F.col("value"))),
                ),
                6,
            ).alias(f"avg_{lb}")
            for lb in _SWEEP_LOOKBACKS
        ],
        *[
            F.count(F.when(in_lb[lb], F.col("event_id"))).alias(f"cnt_{lb}")
            for lb in _SWEEP_LOOKBACKS
        ],
    )
    w = W.partitionBy("user_id").orderBy("day")
    for ld in _SWEEP_LEADS:
        per_day = per_day.withColumn(
            f"fwd_{ld}",
            F.round(F.try_divide(F.lead("close_value", ld).over(w), F.col("close_value")) - 1, 6),
        )
    return per_day


def _sweep_grid(per_day: DataFrame) -> DataFrame:
    """Unpivot the per-day column pairs into (config, value) rows —
    the 3×2 fan-out happens AFTER aggregation to (user, day) grain, so
    it multiplies a daily-bar-sized table, never the event-grain join."""
    lb_stack = ", ".join(f"{lb}, avg_{lb}, cnt_{lb}" for lb in _SWEEP_LOOKBACKS)
    ld_stack = ", ".join(f"{ld}, fwd_{ld}" for ld in _SWEEP_LEADS)
    return per_day.selectExpr(
        "user_id",
        "day",
        "close_value",
        f"stack({len(_SWEEP_LOOKBACKS)}, {lb_stack})"
        " AS (lookback_hours, lookback_avg, lookback_n)",
        *[f"fwd_{ld}" for ld in _SWEEP_LEADS],
    ).selectExpr(
        "user_id",
        "day",
        "close_value",
        "lookback_hours",
        "lookback_avg",
        "lookback_n",
        f"stack({len(_SWEEP_LEADS)}, {ld_stack}) AS (lead_days, fwd_ret)",
    )


def _sweep_correlations(grid: DataFrame) -> DataFrame:
    """corr + pair count per (user, config); degenerate cells dropped
    on BOTH engines' terms (Spark reports a zero-variance corr as NaN,
    DuckDB as NULL — gate out both so the rank below never compares a
    non-number)."""
    return (
        grid.groupBy("user_id", "lookback_hours", "lead_days")
        .agg(
            F.round(F.corr("lookback_avg", "fwd_ret"), 6).alias("correlation"),
            F.count(
                F.when(
                    F.col("lookback_avg").isNotNull() & F.col("fwd_ret").isNotNull(),
                    1,
                )
            ).alias("n_obs"),
        )
        .filter(
            (F.col("n_obs") >= _MIN_OBS)
            & F.col("correlation").isNotNull()
            & ~F.isnan("correlation")
        )
    )


def _sweep_best(sweep: DataFrame) -> DataFrame:
    """Top-1 config per user by |corr| (A13) — ranked on the ROUNDED
    correlation (the column already is) so Spark and the oracle can
    never disagree on a sub-1e-6 tie, with the reference's grid-order
    tie-break (lookback asc, lead asc — scripts/05_lag_analysis.py:
    177-198 keeps the first config seen)."""
    w_best = W.partitionBy("user_id").orderBy(
        F.desc(F.abs(F.col("correlation"))), F.asc("lookback_hours"), F.asc("lead_days")
    )
    return (
        sweep.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _signal_ladder() -> tuple:
    """(signal_type, signal) Column pair over `correlation` /
    `lookback_avg` input columns — the reference's CASE ladder
    (scripts/06_strategy_signals.py:114-132) with direction flipped
    under a negative correlation. ONE definition shared by
    signal_generation, the composed flagship and the streaming signal
    gate so the three can never drift."""
    sig_dir = F.when(F.col("correlation") >= 0, "direct").otherwise("inverse")
    buy_if = F.when(F.col("correlation") >= 0, "BUY").otherwise("SELL")
    sell_if = F.when(F.col("correlation") >= 0, "SELL").otherwise("BUY")
    signal = (
        F.when(F.col("lookback_avg") > _THR_HI, buy_if)
        .when(F.col("lookback_avg") < _THR_LO, sell_if)
        .otherwise("HOLD")
    )
    return sig_dir, signal


#: emission gates shared by the batch composition and the streaming
#: signal gate (|corr| significance, min lookback support, non-null
#: feature) — one definition, same reason as _signal_ladder.
def _signal_gates():
    return (
        (F.abs(F.col("correlation")) >= 0.05)
        & (F.col("lookback_n") >= _MIN_LOOKBACK_N)
        & F.col("lookback_avg").isNotNull()
    )


_SIGNAL_OUTPUT_COLS = [
    "user_id", "day", "close_value", "lookback_hours", "lead_days",
    "lookback_avg", "lookback_n", "correlation", "n_obs",
]


def _sweep_features(per_day: DataFrame) -> DataFrame:
    """(user, day, close, lookback_hours, lookback_avg, lookback_n)
    rows — the lead-free half of the config grid, and exactly the
    daily-bar feature shape the STREAMING signal gate consumes (its
    live producer is the windowed-agg streaming ops; this batch form
    exists so drain-parity tests feed the gate the composed pipeline's
    own features)."""
    lb_stack = ", ".join(f"{lb}, avg_{lb}, cnt_{lb}" for lb in _SWEEP_LOOKBACKS)
    return per_day.selectExpr(
        "user_id",
        "day",
        "close_value",
        f"stack({len(_SWEEP_LOOKBACKS)}, {lb_stack})"
        " AS (lookback_hours, lookback_avg, lookback_n)",
    )


def _compose_signals(grid: DataFrame, best: DataFrame) -> DataFrame:
    """CASE-ladder signals at each user's best config — the SAME gates
    and thresholds as the standalone signal_generation entry, applied
    to the grid rows the best-config join selects."""
    sig_dir, signal = _signal_ladder()
    return (
        grid.join(best, ["user_id", "lookback_hours", "lead_days"])
        .filter(_signal_gates())
        .select(
            *_SIGNAL_OUTPUT_COLS,
            sig_dir.alias("signal_type"),
            signal.alias("signal"),
        )
    )


def _trade_metrics(trades: DataFrame) -> DataFrame:
    """The reference's 34-metric report reduced to its per-entity trade
    block (scripts/07_backtest.py:266-418) — one wide conditional
    aggregate, shared by backtest_summary_metrics and the composed
    flagship's metrics stage."""
    win = F.col("pnl") > 0
    return trades.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.round(F.avg(win.cast("double")), 6).alias("win_rate"),
        F.round(F.sum("pnl"), 6).alias("total_pnl"),
        F.round(F.avg(F.when(win, F.col("pnl"))), 6).alias("avg_win"),
        F.round(F.avg(F.when(~win, F.col("pnl"))), 6).alias("avg_loss"),
        F.round(F.max("pnl"), 6).alias("largest_win"),
        F.round(F.min("pnl"), 6).alias("largest_loss"),
        # try_divide: all-winner users have zero gross loss — NULL is
        # the conventional "undefined profit factor" answer.
        F.round(
            F.try_divide(
                F.sum(F.when(win, F.col("pnl")).otherwise(0.0)),
                F.abs(F.sum(F.when(~win, F.col("pnl")).otherwise(0.0))),
            ),
            6,
        ).alias("profit_factor"),
        F.round(F.avg("days_held"), 6).alias("avg_days_held"),
    )


def domain_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Stage-frame dict for the composed domain pipeline (same contract
    as curation_stage_frames: each stage exactly once, insertion order =
    dataflow order, last oracle-able entry is the flagship's output) —
    the 50× scale-smoke consumer. per_day is checkpointed ONCE because
    the grid feeds two consumers (the sweep aggregate and the best-config
    join back) — without it the event-grain range join would execute
    twice (aliased-branch double-execution)."""
    per_day = _sweep_per_day(spark, sf_dir).localCheckpoint(eager=False)
    grid = _sweep_grid(per_day)
    sweep = _sweep_correlations(grid)
    best = _sweep_best(sweep)
    signals = _compose_signals(grid, best)
    # trades has two consumers (the returned frame and the metrics agg)
    # and its subtree is the expensive Python state machine — checkpoint
    # so the simulation runs once, not once per consumer
    trades = _simulate_trades(
        signals.select("user_id", "day", "close_value", "signal")
    ).localCheckpoint(eager=False)
    metrics = _trade_metrics(trades)
    return {
        "features_per_day": per_day,
        "config_grid": grid,
        "lag_sweep": sweep,
        "best_configs": best,
        "signals": signals,
        "trades": trades,
        "metrics": metrics,
    }


def _sweep_ctes() -> str:
    """Chained-CTE DuckDB twin of the composed pipeline through
    signals, generated from the SAME config-grid constants as the Spark
    builders so the two can never drift."""
    lb_cols = ",\n                   ".join(
        f"round(CAST(sum(CASE WHEN c.ts >= p.day - INTERVAL {lb} HOUR"
        f" THEN CAST(c.value AS DECIMAL(20,8)) END) AS DOUBLE)"
        f" / count(CASE WHEN c.ts >= p.day - INTERVAL {lb} HOUR THEN c.value END),"
        f" 6) AS avg_{lb},\n                   "
        f"count(CASE WHEN c.ts >= p.day - INTERVAL {lb} HOUR"
        f" THEN c.event_id END) AS cnt_{lb}"
        for lb in _SWEEP_LOOKBACKS
    )
    fwd_cols = ",\n                   ".join(
        f"round(lead(close_value, {ld}) OVER "
        f"(PARTITION BY user_id ORDER BY day) / close_value - 1, 6) AS fwd_{ld}"
        for ld in _SWEEP_LEADS
    )
    lb_values = ",".join(f"({lb})" for lb in _SWEEP_LOOKBACKS)
    ld_values = ",".join(f"({ld})" for ld in _SWEEP_LEADS)
    avg_case = " ".join(
        f"WHEN {lb} THEN avg_{lb}" for lb in _SWEEP_LOOKBACKS
    )
    cnt_case = " ".join(
        f"WHEN {lb} THEN cnt_{lb}" for lb in _SWEEP_LOOKBACKS
    )
    fwd_case = " ".join(f"WHEN {ld} THEN fwd_{ld}" for ld in _SWEEP_LEADS)
    return f"""
        prices AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   round(CAST(sum(CAST(value AS DECIMAL(20,8))) AS DOUBLE) / count(value), 6) AS close_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, date_trunc('day', ts)
        ), per_day AS (
            SELECT p.user_id, p.day, p.close_value,
                   {lb_cols}
            FROM prices p
            LEFT JOIN events c
              ON c.user_id = p.user_id AND c.event_type = 'click'
             AND c.ts >= p.day - INTERVAL {max(_SWEEP_LOOKBACKS)} HOUR AND c.ts < p.day
            GROUP BY p.user_id, p.day, p.close_value
        ), with_fwd AS (
            SELECT *,
                   {fwd_cols}
            FROM per_day
        ), grid AS (
            SELECT f.user_id, f.day, f.close_value, g.lookback_hours, d.lead_days,
                   CASE g.lookback_hours {avg_case} END AS lookback_avg,
                   CASE g.lookback_hours {cnt_case} END AS lookback_n,
                   CASE d.lead_days {fwd_case} END AS fwd_ret
            FROM with_fwd f
            CROSS JOIN (VALUES {lb_values}) AS g(lookback_hours)
            CROSS JOIN (VALUES {ld_values}) AS d(lead_days)
        ), sweep AS (
            SELECT user_id, lookback_hours, lead_days,
                   round(corr(lookback_avg, fwd_ret), 6) AS correlation,
                   count(CASE WHEN lookback_avg IS NOT NULL
                               AND fwd_ret IS NOT NULL THEN 1 END) AS n_obs
            FROM grid
            GROUP BY user_id, lookback_hours, lead_days
        ), gated AS (
            SELECT * FROM sweep
            WHERE n_obs >= {_MIN_OBS} AND correlation IS NOT NULL
              AND NOT isnan(correlation)
        ), best AS (
            SELECT user_id, lookback_hours, lead_days, correlation, n_obs
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY abs(correlation) DESC, lookback_hours, lead_days
                ) AS rn
                FROM gated
            )
            WHERE rn = 1
        ), composed_signals AS (
            SELECT g.user_id, g.day, g.close_value, g.lookback_hours, g.lead_days,
                   g.lookback_avg, g.lookback_n, b.correlation, b.n_obs,
                   CASE WHEN b.correlation >= 0 THEN 'direct' ELSE 'inverse' END AS signal_type,
                   CASE
                       WHEN g.lookback_avg > {_THR_HI}
                            THEN CASE WHEN b.correlation >= 0 THEN 'BUY' ELSE 'SELL' END
                       WHEN g.lookback_avg < {_THR_LO}
                            THEN CASE WHEN b.correlation >= 0 THEN 'SELL' ELSE 'BUY' END
                       ELSE 'HOLD'
                   END AS signal
            FROM grid g
            JOIN best b
              ON b.user_id = g.user_id
             AND b.lookback_hours = g.lookback_hours
             AND b.lead_days = g.lead_days
            WHERE abs(b.correlation) >= 0.05
              AND g.lookback_n >= {_MIN_LOOKBACK_N}
              AND g.lookback_avg IS NOT NULL
        )
"""


@query(
    "domain_pipeline",
    oracle=f"""
        WITH {_sweep_ctes()}
        SELECT user_id, day, close_value, lookback_hours, lead_days,
               lookback_avg, lookback_n, correlation, n_obs,
               signal_type, signal
        FROM composed_signals
    """,
    survey_ops="J1,J2,W2,A6,A7,A13,P7,P9 composed (reference scripts/03→07"
    " chained, README.md:296-301)",
    doc="Domain flagship #6: the reference's end-to-end batch pipeline "
    "as ONE composed plan through signals — lookback features at every "
    "sweep lookback from ONE range join (the reference re-scans news "
    "per config), forward returns per lead, corr per (user, config), "
    "best config per user by |corr| with the reference's grid-order "
    "tie-break, then the CASE-ladder signals AT each user's best "
    "config. The stateful backtest tail rides this table as "
    "domain_pipeline_backtest (rows-only, T8). Every stage is the "
    "semantics of an already-verified standalone entry; reconciliation "
    "pytests pin the handoffs (grid rows = per-day rows × |configs|; "
    "best-config (24,1) users reproduce signal_generation exactly).",
)
def domain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = domain_stage_frames(spark, sf_dir)
    return frames["signals"]


@query(
    "domain_pipeline_backtest",
    oracle=None,  # sequential portfolio state machine — not SQL-expressible (T8)
    survey_ops="T8,F5 composed (reference scripts/07_backtest.py:37-264 "
    "fed by the composed signal table)",
    doc="The composed pipeline's stateful tail: per-user sequential "
    "portfolio simulation (applyInPandas, parallel across users, "
    "sequential within) over domain_pipeline's best-config signals — "
    "the last leg of the reference's scripts/03→07 chain. Accounting "
    "invariants + handoff reconciliation are pytest-pinned "
    "(tests/test_domain_pipeline.py).",
)
def domain_pipeline_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = domain_stage_frames(spark, sf_dir)
    return frames["trades"]


@query(
    "domain_pipeline_equity",
    oracle=None,  # downstream of the non-SQL backtest tail
    survey_ops="W5,A9 composed (reference scripts/08_visualize_equity.py "
    "strategy curve over the scripts/07 trade ledger)",
    doc="Realized strategy equity curve per entity from the composed "
    "pipeline's trade log: initial capital + running sum of realized "
    "pnl over exit days (one groupBy to day grain, one cumulative "
    "window per user) — the strategy half of the reference's "
    "strategy-vs-benchmark plot whose benchmark half is "
    "portfolio_buy_hold_equity. Terminal value per user reconciles "
    "with _trade_metrics.total_pnl (pytest).",
)
def domain_pipeline_equity(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = domain_stage_frames(spark, sf_dir)
    day_pnl = (
        frames["trades"]
        .groupBy("user_id", F.col("exit_day").alias("day"))
        .agg(F.sum("pnl").alias("day_pnl"))
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return day_pnl.select(
        "user_id",
        "day",
        F.round(F.lit(_INITIAL_CAPITAL) + F.sum("day_pnl").over(w), 6).alias(
            "equity"
        ),
    )
