"""Seeded input generators for the benchmark workloads.

Everything is vectorised numpy and written with pyarrow, so set-up cost
stays small next to the work measured. The same seed always yields the
same rows.

- ``news_and_prices``: raw articles in the package's ``NEWS_SCHEMA``
  shape and weekday OHLCV bars in ``PRICES_SCHEMA`` shape. Unlike the
  test fixtures, article mood leans on the ticker's next-day return
  (directly for most tickers, inversely for some), so the lag sweep
  finds correlated configs and the strategy trades, as it would on
  the market data the pipeline is built for.
- ``stream_articles``: ``NEWS_STREAM_SCHEMA`` rows as JSON lines.
- ``lake_tables``: the ten catalog tables (TPC-H-ish star schema plus
  events, documents and embeddings) with the column types and value
  domains of the catalog's reference data.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

POSITIVE = (
    "strong gain as profit beats estimates",
    "record growth and bullish upgrade",
    "shares rally on excellent demand",
    "analysts praise great quarter",
)
NEGATIVE = (
    "terrible loss after lawsuit and downgrade",
    "weak results crash the stock",
    "shares plunge on fraud probe",
    "bad quarter with painful layoffs",
)
NEUTRAL = (
    "quarterly report released on schedule",
    "company holds annual meeting",
    "board names new director",
    "shares trade flat ahead of filing",
)
POOLS = (NEGATIVE, NEUTRAL, POSITIVE)  # indexed by mood + 1

_UTC = pa.timestamp("us", tz="UTC")
NEWS_ARROW = pa.schema(
    [
        ("id", pa.string()),
        (
            "publisher",
            pa.struct(
                [
                    ("name", pa.string()),
                    ("homepage_url", pa.string()),
                    ("logo_url", pa.string()),
                    ("favicon_url", pa.string()),
                ]
            ),
        ),
        ("title", pa.string()),
        ("author", pa.string()),
        ("published_utc", _UTC),
        ("article_url", pa.string()),
        ("tickers", pa.list_(pa.string())),
        ("description", pa.string()),
        ("keywords", pa.list_(pa.string())),
        ("ticker_queried", pa.string()),
    ]
)
PRICES_ARROW = pa.schema(
    [
        ("date", _UTC),
        ("ticker", pa.string()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
    ]
)


def _phrases(rng: np.random.Generator, moods: np.ndarray) -> np.ndarray:
    pick = rng.integers(0, 4, size=len(moods))
    table = np.array(POOLS, dtype=object)
    return table[moods + 1, pick]


def news_and_prices(
    seed: int, n_articles: int, n_tickers: int, n_days: int
) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng(seed)
    tickers = np.array([f"TK{i:03d}" for i in range(n_tickers)], dtype=object)
    days = pd.bdate_range("2023-01-02", periods=n_days, tz="UTC")

    rets = rng.normal(0.0004, 0.015, size=(n_tickers, n_days))
    close = (100.0 * (1 + 0.1 * rng.random(n_tickers)))[:, None] * np.cumprod(1 + rets, axis=1)
    fwd = np.zeros_like(close)
    fwd[:, :-1] = close[:, 1:] / close[:, :-1] - 1
    spread = np.abs(rng.normal(0, 0.01, size=close.shape)) * close
    prices = pa.table(
        {
            "date": pa.array(np.tile(days.values, n_tickers), _UTC),
            "ticker": np.repeat(tickers, n_days),
            "open": (close * (1 + rng.normal(0, 0.003, size=close.shape))).ravel(),
            "high": (close + spread).ravel(),
            "low": np.maximum(0.5, close - spread).ravel(),
            "close": close.ravel(),
            "volume": rng.integers(1_000_000, 50_000_000, size=close.size).astype(float),
        },
        schema=PRICES_ARROW,
    )

    # Articles: bursty per ticker (half land on a tenth of the days),
    # published in the 24 h before the trading day they inform.
    tk = rng.integers(0, n_tickers, size=n_articles)
    hot = rng.integers(0, n_days, size=(n_tickers, max(1, n_days // 10)))
    uniform_day = rng.integers(0, n_days, size=n_articles)
    hot_day = hot[tk, rng.integers(0, hot.shape[1], size=n_articles)]
    day = np.where(rng.random(n_articles) < 0.5, uniform_day, hot_day)
    published = days.values[day] - (rng.integers(1, 86_400, size=n_articles) * 10**6).astype(
        "timedelta64[us]"
    )
    # Mood: informed articles follow the next-day return, in the
    # ticker's direction (+1 for 70 % of tickers, -1 for 20 %, none
    # for the rest); the others draw 45/30/25 positive/negative/neutral.
    direction = rng.choice([1, -1, 0], p=[0.7, 0.2, 0.1], size=n_tickers)
    informed = np.sign(fwd[tk, day]).astype(int) * direction[tk]
    noise = rng.choice([1, -1, 0], p=[0.45, 0.30, 0.25], size=n_articles)
    mood = np.where(rng.random(n_articles) < 0.6, informed, noise)

    tk_name = tickers[tk]
    title = tk_name + " " + _phrases(rng, mood)
    title[rng.random(n_articles) < 0.03] = None
    desc = "Details on " + tk_name + ": " + _phrases(rng, mood)
    desc[rng.random(n_articles) < 0.25] = None
    idx = np.arange(n_articles)
    url_of = idx.copy()
    dup = (rng.random(n_articles) < 0.02) & (idx > 10)
    url_of[dup] = (rng.random(int(dup.sum())) * idx[dup]).astype(int)
    lower = np.char.lower(tk_name.astype(str)).astype(object)
    urls = "https://news.example.com/" + lower[url_of] + "/" + url_of.astype(str).astype(object)
    second = tickers[rng.integers(0, n_tickers, size=n_articles)]
    has_second = rng.random(n_articles) < 0.3
    wire = rng.integers(0, 5, size=n_articles)
    news = pa.table(
        {
            "id": ("art-" + idx.astype(str).astype(object)),
            "publisher": [
                {"name": f"Wire {w}", "homepage_url": "https://w.example.com",
                 "logo_url": None, "favicon_url": None}
                for w in wire
            ],
            "title": title,
            "author": "author-" + rng.integers(0, 40, size=n_articles).astype(str).astype(object),
            "published_utc": pa.array(published, _UTC),
            "article_url": urls,
            "tickers": [[a, b] if h else [a] for a, b, h in zip(tk_name, second, has_second)],
            "description": desc,
            "keywords": [["markets", x] for x in lower],
            "ticker_queried": tk_name,
        },
        schema=NEWS_ARROW,
    )
    return news, prices


def _stream_article(i: int, stamp: str) -> dict:
    """Content is a function of the id alone, so a re-sent id carries
    exactly the same article."""
    h = (i * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    mood = 1 if h % 100 < 45 else (-1 if h % 100 < 75 else 0)
    pool = POOLS[mood + 1]
    return {
        "id": f"news-{i}",
        "title": f"TK{i % 50:03d} {pool[(h >> 8) % 4]}",
        "summary": None if (h >> 16) % 4 == 0 else f"Details: {pool[(h >> 20) % 4]}",
        "publish_date": stamp,
        "source": f"wire-{i % 5}",
        "created_at": stamp,
    }


def stream_articles(
    rng: np.random.Generator, first_id: int, n: int, publish_ts: float, dup_frac: float
) -> list[dict]:
    """``n`` NEWS_STREAM_SCHEMA rows for new ids ``first_id``..; a
    ``dup_frac`` share instead re-send an id from this drop or the one
    before (the reference producer's re-poll duplicates)."""
    ids = np.arange(first_id, first_id + n)
    redo = rng.random(n) < dup_frac
    lo = max(0, first_id - n)
    ids[redo] = lo + (rng.random(int(redo.sum())) * (ids[redo] - lo)).astype(int)
    stamp = pd.Timestamp(publish_ts, unit="s", tz="UTC").isoformat()
    return [_stream_article(int(i), stamp) for i in ids]


def write_json_drop(rows: list[dict], directory: str, name: str) -> None:
    """Write one drop atomically: a dot-file the file source ignores,
    renamed into place once complete."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(directory, f"{name}.json"))


# --- lake tables -----------------------------------------------------

_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")


def _day_range(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def lake_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(20, int(15_000 * sf))
    n_docs, n_vecs = max(200, int(50_000 * sf)), max(200, int(50_000 * sf))

    def names(prefix, n):
        return np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9)).astype(object)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pa.table(
        {"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    )
    t["customer"] = pa.table(
        {"c_custkey": np.arange(n_cust, dtype=np.int64),
         "c_name": names("Customer#", n_cust),
         "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
         "c_acctbal": money(-999, 9999, n_cust),
         "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}
    )
    t["supplier"] = pa.table(
        {"s_suppkey": np.arange(n_supp, dtype=np.int64),
         "s_name": names("Supplier#", n_supp),
         "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
         "s_acctbal": money(-999, 9999, n_supp)}
    )
    retail = np.round(900 + 0.1 * np.arange(n_part), 2)
    t["part"] = pa.table(
        {"p_partkey": np.arange(n_part, dtype=np.int64),
         "p_name": np.char.add(np.char.add(rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part)).astype(object),
         "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
         "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
         "p_size": rng.integers(1, 51, n_part).astype(np.int32),
         "p_retailprice": retail}
    )
    t["orders"] = pa.table(
        {"o_orderkey": np.arange(n_ord, dtype=np.int64),
         "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
         "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
         "o_totalprice": money(1000, 500_000, n_ord),
         "o_orderdate": _day_range(rng, "1995-01-01", "2001-08-01", n_ord),
         "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}
    )
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table(
        {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
         "l_partkey": partkey,
         "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
         "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
         "l_quantity": qty,
         "l_extendedprice": np.round(qty * retail[partkey], 2),
         "l_discount": rng.integers(0, 11, n_line) / 100.0,
         "l_tax": rng.integers(0, 9, n_line) / 100.0,
         "l_returnflag": rng.choice(["A", "N", "R"], n_line),
         "l_linestatus": rng.choice(["F", "O"], n_line),
         "l_shipdate": _day_range(rng, "1995-01-02", "2001-11-04", n_line)}
    )
    # Event values start at 0.01, as in the catalog's reference tables:
    # plans/domain.py divides by a user-day's purchase value, and a zero
    # fails the query under ANSI mode (a known open defect).
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    t["events"] = pa.table(
        {"event_id": np.arange(n_events, dtype=np.int64),
         "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
         "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
         "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
         "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
         "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}").astype(object)}
    )
    # Documents: random words over a small vocabulary, with a few exact
    # duplicates, near-duplicates (two words changed) and one empty text.
    lens = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS, dtype=object)
    toks = [list(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in rng.choice(np.arange(1, n_docs), size=max(2, n_docs // 20), replace=False):
        src = toks[int(rng.integers(0, i))]
        near = list(src)
        if rng.random() < 0.5:
            for j in rng.integers(0, len(near), 2):
                near[j] = words[rng.integers(0, len(words))]
        toks[i] = near
    toks[int(rng.integers(0, n_docs))] = []
    text = np.array([" ".join(x) for x in toks], dtype=object)
    t["documents"] = pa.table(
        {"doc_id": np.arange(n_docs, dtype=np.int64),
         "text": text,
         "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
         "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).astype(object),
         "n_chars": np.array([len(x) for x in text], dtype=np.int64)}
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vecs, 64)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {"vec_id": np.arange(n_vecs, dtype=np.int64),
         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
         "label": labels.astype(np.int32)}
    )
    return t


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
