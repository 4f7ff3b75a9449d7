"""Portfolio backtest: sequential simulation + driver-side metrics report.

The simulation itself (reference scripts/07_backtest.py:37-264) is a
single global portfolio whose every decision depends on prior state
(cash, open positions, MAX_POSITIONS cap) — inherently serial, so it
lives in ONE ``applyInPandas`` over the date-ordered signal×price
panel (SURVEY T8/F5: "a UDF by nature, not a plan node").

The ~34-metric report runs on the driver in one numpy pass. Its inputs
are bounded: the equity curve has one row per trading day (bounded by
the calendar) and the trade log a few closes per day (bounded by
``MAX_POSITIONS``). Over a few hundred rows, the fixed cost of each
Spark job dominates; a relational plan pays it once per branch
(aggregates, streaks, drawdown, its start date, risk: 13 jobs per
report), while collecting the two inputs costs 2. Per-entity metrics
that grow with the number of entities stay relational
(plans/domain.py::backtest_summary_metrics).

Semantics faithfully reproduced from the reference (studied, not
copied): slippage ±0.05% on fills, 0.1% fees both sides
(07_backtest.py:71-73,101-106), position size 80% of CURRENT cash,
exits stop-loss → take-profit → hold-period checked in that order
BEFORE new entries each day, days_held incremented daily including
non-trading days for the ticker, end-of-backtest force close, daily
equity = cash + Σ shares×close, Sharpe/Sortino on population-std
daily returns annualized ×√252 (07_backtest.py:337-361; np.std
ddof=0 — SURVEY §7.3 flags the ddof trap).
"""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

INITIAL_CAPITAL = 100_000.0
POSITION_SIZE = 0.8
MAX_POSITIONS = 10
TRANSACTION_COST = 0.001
SLIPPAGE = 0.0005

_SIM_SCHEMA = (
    "row_type string, date timestamp, equity double, cash double, num_positions int, "
    "ticker string, entry_date timestamp, exit_date timestamp, entry_price double, "
    "exit_price double, shares double, pnl double, pnl_pct double, exit_reason string, "
    "sentiment double, news_count long, lookback_hours int, lead_days int, days_held int"
)
# pandas dtypes of the simulation's output, column for column with
# _SIM_SCHEMA: a run without trades still hands Arrow typed (all-null)
# trade columns instead of float NaN.
_SIM_DTYPES = {
    "row_type": "object",
    "date": "datetime64[ns]",
    "equity": "float64",
    "cash": "float64",
    "num_positions": "Int32",
    "ticker": "object",
    "entry_date": "datetime64[ns]",
    "exit_date": "datetime64[ns]",
    "entry_price": "float64",
    "exit_price": "float64",
    "shares": "float64",
    "pnl": "float64",
    "pnl_pct": "float64",
    "exit_reason": "object",
    "sentiment": "float64",
    "news_count": "Int64",
    "lookback_hours": "Int32",
    "lead_days": "Int32",
    "days_held": "Int32",
}

_T, _L, _I, _D = TimestampType(), LongType(), IntegerType(), DoubleType()
#: The metrics report's columns: (name, type, nullable).
_METRICS_SCHEMA = StructType(
    [
        StructField(name, dtype, nullable)
        for name, dtype, nullable in (
            ("start_date", _T, True),
            ("end_date", _T, True),
            ("trading_days", _L, False),
            ("initial_capital", _D, False),
            ("final_equity", _D, True),
            ("total_return", _D, True),
            ("total_return_pct", _D, True),
            ("num_trades", _L, False),
            ("num_wins", _L, True),
            ("num_losses", _L, True),
            ("win_rate", _D, True),
            ("avg_win", _D, False),
            ("avg_loss", _D, False),
            ("avg_win_pct", _D, False),
            ("avg_loss_pct", _D, False),
            ("largest_win", _D, True),
            ("largest_loss", _D, True),
            ("largest_win_pct", _D, True),
            ("largest_loss_pct", _D, True),
            ("profit_factor", _D, True),
            ("expectancy", _D, True),
            ("avg_days_held", _D, True),
            ("max_win_streak", _L, False),
            ("max_loss_streak", _L, False),
            ("max_drawdown", _D, True),
            ("max_drawdown_pct", _D, True),
            ("max_drawdown_start", _T, True),
            ("max_drawdown_end", _T, True),
            ("max_drawdown_duration_days", _I, True),
            ("avg_daily_return", _D, True),
            ("daily_volatility", _D, True),
            ("annual_return", _D, True),
            ("annual_volatility", _D, True),
            ("sharpe_ratio", _D, True),
            ("sortino_ratio", _D, True),
            ("calmar_ratio", _D, True),
        )
    ]
)


def _simulate(pdf: pd.DataFrame, hold_period_days: float, stop_loss: float, take_profit: float) -> pd.DataFrame:
    """One pass over the full panel: rows = (date, ticker, close,
    signal?, sentiment?, ...) sorted by date. Emits trade rows and
    daily equity rows tagged by row_type."""
    out_trades: list[dict] = []
    out_equity: list[dict] = []
    cash = INITIAL_CAPITAL
    positions: dict[str, dict] = {}

    def close_position(tkr: str, price: float, date, reason: str) -> None:
        nonlocal cash
        pos = positions.pop(tkr)
        exit_price = price * (1 - SLIPPAGE)
        proceeds = pos["shares"] * exit_price * (1 - TRANSACTION_COST)
        cost_basis = pos["shares"] * pos["entry_price"] * (1 + TRANSACTION_COST)
        out_trades.append(
            {
                "row_type": "trade",
                "ticker": tkr,
                "entry_date": pos["entry_date"],
                "exit_date": date,
                "entry_price": pos["entry_price"],
                "exit_price": exit_price,
                "shares": pos["shares"],
                "pnl": proceeds - cost_basis,
                "pnl_pct": (exit_price / pos["entry_price"] - 1) * 100,
                "exit_reason": reason,
                "sentiment": pos["sentiment"],
                "news_count": pos["news_count"],
                "lookback_hours": pos["lookback_hours"],
                "lead_days": pos["lead_days"],
                "days_held": pos["days_held"],
            }
        )
        cash += proceeds

    pdf = pdf.sort_values(["date", "ticker"])
    dates = pdf["date"].unique()
    by_date = dict(tuple(pdf.groupby("date")))
    last_date = dates[-1] if len(dates) else None
    for date in dates:
        day = by_date[date]
        day_close = dict(zip(day["ticker"], day["close"]))
        # 1. update positions: age, then exit checks in reference order
        for tkr in list(positions):
            pos = positions[tkr]
            pos["days_held"] += 1
            if tkr not in day_close or pd.isna(day_close[tkr]):
                continue
            ret = day_close[tkr] / pos["entry_price"] - 1
            if ret <= -stop_loss:
                close_position(tkr, day_close[tkr], date, "stop_loss")
            elif ret >= take_profit:
                close_position(tkr, day_close[tkr], date, "take_profit")
            elif pos["days_held"] >= hold_period_days:
                close_position(tkr, day_close[tkr], date, "hold_period")
        # 2. open on BUY signals (long-only, one position per ticker)
        buys = day[(day["signal"] == "BUY")]
        for row in buys.itertuples():
            tkr = row.ticker
            if tkr in positions or len(positions) >= MAX_POSITIONS:
                continue
            if pd.isna(row.close):
                continue
            entry_price = row.close * (1 + SLIPPAGE)
            shares = (cash * POSITION_SIZE) / entry_price
            total_cost = shares * entry_price * (1 + TRANSACTION_COST)
            if total_cost > cash or shares <= 0:
                continue
            cash -= total_cost
            positions[tkr] = {
                "shares": shares,
                "entry_price": entry_price,
                "entry_date": date,
                "sentiment": row.sentiment,
                "news_count": row.news_count,
                "lookback_hours": row.lookback_hours,
                "lead_days": row.lead_days,
                "days_held": 0,
            }
        # 3. mark equity BEFORE any end-of-backtest force-close: the
        # reference records the last day's equity inside the loop
        # (07_backtest.py:237-241) and force-closes only after it
        # (07_backtest.py:262), so the final equity row is
        # marked-to-market at the close — it does NOT reflect the
        # force-close's slippage/fees, and num_positions stays > 0.
        pos_value = sum(
            p["shares"] * day_close[t]
            for t, p in positions.items()
            if t in day_close and not pd.isna(day_close[t])
        )
        out_equity.append(
            {
                "row_type": "equity",
                "date": date,
                "equity": cash + pos_value,
                "cash": cash,
                "num_positions": len(positions),
            }
        )
        # 4. force-close everything on the final day (post-loop in the
        # reference; emitted as trades with exit_reason end_of_backtest)
        if date == last_date:
            for tkr in list(positions):
                if tkr in day_close and not pd.isna(day_close[tkr]):
                    close_position(tkr, day_close[tkr], date, "end_of_backtest")

    return pd.DataFrame(out_equity + out_trades, columns=list(_SIM_DTYPES)).astype(_SIM_DTYPES)


def run_backtest(
    signals: DataFrame,
    prices: DataFrame,
    hold_period_hours: float = 2400,
    stop_loss_pct: float = 0.05,
    take_profit_pct: float = 0.20,
) -> tuple[DataFrame, DataFrame]:
    """Returns (trade_log, daily_equity) per FIXTURES.md §5-6.

    The panel is prices LEFT JOIN signals on (ticker, date) — the
    distributed part; the serial simulation runs in one applyInPandas
    group. The scalable per-entity variant (independent portfolios,
    parallel across entities) is ``plans.domain.portfolio_backtest_trades``.
    """
    panel = (
        prices.select("ticker", "date", "close")
        .join(
            signals.select(
                "ticker", "date", "signal", "sentiment", "news_count",
                "lookback_hours", "lead_days",
            ),
            ["ticker", "date"],
            "left",
        )
        .withColumn("_g", F.lit(1))
    )
    hold_days = hold_period_hours / 24.0

    def sim(pdf: pd.DataFrame) -> pd.DataFrame:
        return _simulate(pdf, hold_days, stop_loss_pct, take_profit_pct)

    result = panel.groupBy("_g").applyInPandas(sim, _SIM_SCHEMA).cache()
    trades = result.filter(F.col("row_type") == "trade").select(
        "ticker", "entry_date", "exit_date", "entry_price", "exit_price", "shares",
        "pnl", "pnl_pct", "exit_reason", "sentiment", "news_count",
        "lookback_hours", "lead_days", "days_held",
    )
    equity = result.filter(F.col("row_type") == "equity").select(
        "date", "equity", "cash", "num_positions"
    )
    return trades, equity


def equity_analytics(equity: DataFrame) -> DataFrame:
    """peak / drawdown / daily return columns (W1, W3, W4).

    Unpartitioned windows BY DESIGN: the input is the single-portfolio
    daily equity CURVE (one row per trading day — bounded by the
    calendar; the reference runs exactly one global portfolio,
    scripts/07_backtest.py). Per-entity variants that must scale with
    data volume partition on the entity key instead
    (plans/timeseries.py::events_running_drawdown)."""
    w = W.orderBy("date")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return equity.select(
        "date",
        "equity",
        "cash",
        "num_positions",
        F.max("equity").over(wrun).alias("peak"),
        (F.col("equity") / F.max("equity").over(wrun) - 1).alias("drawdown"),
        (F.col("equity") / F.lag("equity").over(w) - 1).alias("daily_return"),
    )


def backtest_metrics(trades: DataFrame, equity: DataFrame) -> DataFrame:
    """The reference's full metrics block (scripts/07_backtest.py:266-418)
    in one driver pass: the trade log and the equity curve are each
    collected once and reduced with numpy. Returns a single-row
    DataFrame with the fixed schema ``_METRICS_SCHEMA``.

    Edge cases follow the reference's guards: with no trades the
    counts, win rate, profit factor and streaks are 0, the ``avg_*``
    metrics 0.0, and ``largest_*``/``expectancy``/``avg_days_held``
    null; risk ratios whose denominator is zero or missing are 0.0."""
    t = (
        trades.select("exit_date", "ticker", "pnl", "pnl_pct", "days_held")
        .toPandas()
        .sort_values(["exit_date", "ticker"], kind="stable")
    )
    e = equity.select("date", "equity").toPandas().sort_values("date", kind="stable")
    row = {
        "initial_capital": INITIAL_CAPITAL,
        **_trade_metrics(t),
        **_equity_metrics(e["date"].tolist(), e["equity"].to_numpy(float)),
    }
    table = pa.table({f.name: [row[f.name]] for f in _METRICS_SCHEMA.fields})
    # An Arrow table becomes a LocalRelation: collecting the report
    # launches no Spark job.
    return trades.sparkSession.createDataFrame(table, _METRICS_SCHEMA)


def _mean(x: np.ndarray) -> float | None:
    return float(x.mean()) if len(x) else None


def _std_pop(x: np.ndarray) -> float | None:
    """Population std (np.std ddof=0, as the reference), None when empty."""
    return float(x.std()) if len(x) else None


def _ratio_or_zero(num: float | None, den: float | None) -> float:
    return num / den if den else 0.0


def _trade_metrics(t: pd.DataFrame) -> dict:
    """Win/loss counts and averages, extremes, profit factor and
    streaks over the trade log sorted by (exit_date, ticker)."""
    pnl = t["pnl"].to_numpy(float)
    pct = t["pnl_pct"].to_numpy(float)
    win, loss = pnl > 0, pnl < 0
    n, wins = len(pnl), int(win.sum())
    streaks = {True: 0, False: 0}
    for is_win, run in itertools.groupby(win.tolist()):
        streaks[is_win] = max(streaks[is_win], sum(1 for _ in run))
    return {
        "num_trades": n,
        "num_wins": wins,
        "num_losses": int(loss.sum()),
        "win_rate": wins / max(n, 1) * 100,
        "avg_win": _mean(pnl[win]) or 0.0,
        "avg_loss": _mean(pnl[loss]) or 0.0,
        "avg_win_pct": _mean(pct[win]) or 0.0,
        "avg_loss_pct": _mean(pct[loss]) or 0.0,
        "largest_win": float(pnl.max()) if n else None,
        "largest_loss": float(pnl.min()) if n else None,
        "largest_win_pct": float(pct.max()) if n else None,
        "largest_loss_pct": float(pct.min()) if n else None,
        "profit_factor": abs(_ratio_or_zero(float(pnl[win].sum()), float(pnl[loss].sum()))),
        "expectancy": _mean(pnl),
        "avg_days_held": _mean(t["days_held"].to_numpy(float)),
        "max_win_streak": streaks[True],
        "max_loss_streak": streaks[False],
    }


def _equity_metrics(dates: list, equity: np.ndarray) -> dict:
    """Return and risk metrics over the date-sorted daily equity curve;
    daily returns skip the first day, as the reference's
    pct_change().dropna()."""
    returns = equity[1:] / equity[:-1] - 1
    avg, vol, down_std = _mean(returns), _std_pop(returns), _std_pop(returns[returns < 0])
    annual_return = None if avg is None else (1 + avg) ** 252 - 1
    annual_vol = None if vol is None else vol * math.sqrt(252)
    downside_vol = None if down_std is None else down_std * math.sqrt(252)
    final = float(equity[-1]) if dates else None
    total_return = None if final is None else final / INITIAL_CAPITAL - 1
    drawdown = _drawdown(dates, equity)
    return {
        "start_date": dates[0] if dates else None,
        "end_date": dates[-1] if dates else None,
        "trading_days": len(dates),
        "final_equity": final,
        "total_return": total_return,
        "total_return_pct": None if total_return is None else total_return * 100,
        **drawdown,
        "avg_daily_return": avg,
        "daily_volatility": vol,
        "annual_return": annual_return,
        "annual_volatility": annual_vol,
        "sharpe_ratio": _ratio_or_zero(annual_return, annual_vol),
        "sortino_ratio": _ratio_or_zero(annual_return, downside_vol),
        "calmar_ratio": _ratio_or_zero(annual_return, abs(drawdown["max_drawdown"] or 0.0)),
    }


def _drawdown(dates: list, equity: np.ndarray) -> dict:
    """The deepest drawdown: its trough is the first day at the deepest
    point, and it starts on the first day equity reached the peak that
    preceded the trough."""
    if not dates:
        return dict.fromkeys(
            (
                "max_drawdown",
                "max_drawdown_pct",
                "max_drawdown_start",
                "max_drawdown_end",
                "max_drawdown_duration_days",
            )
        )
    peak = np.maximum.accumulate(equity)
    drawdown = equity / peak - 1
    trough = int(drawdown.argmin())
    start = int(np.flatnonzero(equity == peak[trough])[0])
    depth = float(drawdown[trough])
    return {
        "max_drawdown": depth,
        "max_drawdown_pct": depth * 100,
        "max_drawdown_start": dates[start],
        "max_drawdown_end": dates[trough],
        "max_drawdown_duration_days": (dates[trough].normalize() - dates[start].normalize()).days,
    }
