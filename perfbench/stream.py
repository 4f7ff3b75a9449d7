"""The live news stream workload.

A generator thread writes ``NEWS_STREAM_SCHEMA`` JSON drops on a fixed
open-loop schedule while ``dedup_stream`` → ``enrich_news_stream`` →
``write_stream_parquet`` runs with a processing-time trigger and a
checkpoint. An article's latency runs from its drop's scheduled write
time to the commit of the micro-batch that read the drop. A second
phase drains a pre-written backlog of micro-batch-sized files.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time

import numpy as np
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import pipeline as P
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.pipeline import (
    NEWS_STREAM_SCHEMA,
    dedup_stream,
    write_stream_parquet,
)
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming.stateful import enrich_news_stream

import inputs
from harness import median, reset_dir

DUP_FRAC = 0.05


def news_query(spark, src: str, out: str, ckpt: str, trigger_seconds: int | None, files_per_trigger=None):
    reader = spark.readStream.schema(NEWS_STREAM_SCHEMA)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = dedup_stream(
        reader.json(src), id_cols=("id",), event_time_col="publish_date", watermark="1 hour"
    )
    return write_stream_parquet(enrich_news_stream(stream), out, ckpt, trigger_seconds=trigger_seconds)


def _numbered(directory: str) -> list[tuple[int, str]]:
    names = os.listdir(directory) if os.path.isdir(directory) else []
    return sorted((int(n), os.path.join(directory, n)) for n in names if n.isdigit())


def batch_commit_times(ckpt: str) -> dict[str, float]:
    """Drop file name → wall time the micro-batch that read it
    committed. The file source numbers its own log entries; the query's
    offsets log says which source entry each micro-batch read up to
    (the two numberings drift apart, because a watermarked stateful
    query also runs no-data batches). Commit time is the mtime of the
    batch's commit marker."""
    committed: dict[int, float] = {}  # source log id → commit time
    done = 0
    for batch, path in _numbered(os.path.join(ckpt, "offsets")):
        marker = os.path.join(ckpt, "commits", str(batch))
        if not os.path.exists(marker):
            break
        with open(path) as fh:
            reach = json.loads(fh.read().splitlines()[2])["logOffset"]
        for log_id in range(done, reach + 1):
            committed[log_id] = os.path.getmtime(marker)
        done = max(done, reach + 1)
    out = {}
    # Every tenth source log entry is compacted into "<id>.compact",
    # which repeats all earlier entries; each line carries its own id.
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry["batchId"] in committed:
                    out[os.path.basename(entry["path"])] = committed[entry["batchId"]]
    return out


def progress_stats(progress: list[dict]) -> dict[str, float]:
    """Medians over the micro-batches that read data; no-data batches
    (run to advance the watermark and evict dedup state) only count
    towards ``data_batch_ratio``."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return {}

    def dur(p, *keys):
        d = p.get("durationMs") or {}
        return sum(d.get(k, 0) for k in keys) / 1000.0

    state = [op for p in batches for op in (p.get("stateOperators") or [])][-1:]
    return {
        "streaming.trigger_s": median([dur(p, "triggerExecution") for p in batches]),
        "streaming.add_batch_s": median([dur(p, "addBatch") for p in batches]),
        "streaming.commit_s": median([dur(p, "walCommit", "commitOffsets") for p in batches]),
        "streaming.planning_s": median([dur(p, "queryPlanning") for p in batches]),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in batches]),
        "streaming.data_batch_ratio": len(batches) / len(progress),
        "streaming.dedup.state_rows": state[0].get("numRowsTotal", 0) if state else 0,
        "streaming.dedup.state_bytes": state[0].get("memoryUsedBytes", 0) if state else 0,
        "streaming.input_rows": sum(p["numInputRows"] for p in batches),
        "streaming.busy_s": sum(dur(p, "triggerExecution") for p in batches),
    }


class Feed:
    """Open-loop generator thread: one drop of ``rate * interval``
    articles every ``interval`` seconds until stopped, however far
    behind the stream falls.

    Processing-time triggers fire on wall-clock multiples of their
    interval, so drops are scheduled at a fixed offset from whole
    seconds (half a drop interval): runs do not differ by where the
    drops happen to land in the trigger cycle."""

    def __init__(self, directory: str, seed: int, rate: float, interval: float):
        self.directory = directory
        self.rng = np.random.default_rng(seed)
        self.interval = interval
        self.per_drop = int(rate * interval)
        self.due: dict[str, tuple[float, int]] = {}  # drop file → (due epoch time, rows)
        self.ids: set[str] = set()
        self.lateness: list[float] = []
        self._stop = threading.Event()
        # daemon: a run that dies between start() and stop() still exits
        self._thread = threading.Thread(target=self._run, name="news-generator", daemon=True)
        self._epoch = time.time() - time.perf_counter()
        self._k = 0

    def drop(self, at: float) -> None:
        """Write the next drop, due at ``at`` (perf_counter time)."""
        k = self._k
        rows = inputs.stream_articles(self.rng, k * self.per_drop, self.per_drop, at + self._epoch, DUP_FRAC)
        inputs.write_json_drop(rows, self.directory, f"drop-{k:05d}")
        self.lateness.append(time.perf_counter() - at)
        self.due[f"drop-{k:05d}.json"] = (at + self._epoch, len(rows))
        self.ids.update(r["id"] for r in rows)
        self._k += 1

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _run(self) -> None:
        t0 = math.ceil(time.time() + 0.5) + self.interval / 2 - self._epoch
        k = 0
        while not self._stop.wait(max(0.0, t0 + k * self.interval - time.perf_counter())):
            self.drop(t0 + k * self.interval)
            k += 1


class NewsStream:
    name = "news_stream"

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = ctx.size["stream"]
        self.loop = (
            f"open loop, {self.size['rate']} articles/s in drops every "
            f"{self.size['drop_interval_s']} s, 1 s processing-time trigger"
        )
        self.dir = os.path.join(ctx.work, "stream")
        self.latencies: list[float] = []
        self.drain_rate = 0.0
        self.drain_s = 0.0
        self.live_rows = 0

    def sub(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def prepare(self) -> None:
        """Pre-write the backlog: ``backlog_files`` drops of
        ``batch_articles`` each, one micro-batch apiece when drained."""
        rng = np.random.default_rng(self.ctx.seed)
        backlog = reset_dir(self.sub("backlog"))
        n = self.size["batch_articles"]
        for k in range(self.size["backlog_files"]):
            rows = inputs.stream_articles(rng, 10_000_000 + k * n, n, 1_700_000_000.0 + k, DUP_FRAC)
            inputs.write_json_drop(rows, backlog, f"backlog-{k:05d}")

    def warmup(self) -> None:
        """Start the live query on one drop, wait for that cold first
        batch to commit, then start the feed and let the query settle
        for ``settle_s``; none of this is measured."""
        live, out, ckpt = (reset_dir(self.sub(n)) for n in ("live", "live-out", "live-ckpt"))
        self.feed = Feed(live, self.ctx.seed + 7, self.size["rate"], self.size["drop_interval_s"])
        self.feed.drop(time.perf_counter())
        self.query = news_query(self.ctx.spark, live, out, ckpt, trigger_seconds=1)
        limit = time.perf_counter() + 120
        while not os.path.exists(os.path.join(ckpt, "commits", "0")):
            if time.perf_counter() > limit:
                raise RuntimeError("first live batch did not commit in 120 s")
            time.sleep(0.1)
        self.feed.start()
        time.sleep(self.size["settle_s"])

    def measure(self, clock, traced: bool) -> None:
        """The live phase for the run's seconds, then the backlog drain."""
        spark, size, feed, q = self.ctx.spark, self.size, self.feed, self.query
        measured_from = time.time()
        try:
            time.sleep(max(0.0, clock.remaining()))
        finally:
            feed.stop()
        ckpt = self.sub("live-ckpt")
        limit = time.perf_counter() + 30  # bounded, so a stalled query still ends
        while not set(feed.due) <= set(batch_commit_times(ckpt)) and time.perf_counter() < limit:
            time.sleep(0.1)
        q.stop()
        commits = batch_commit_times(ckpt)
        for name, (at, n) in feed.due.items():
            if at >= measured_from and name in commits:
                self.latencies.extend([commits[name] - at] * n)
        missing = [n for n in feed.due if n not in commits]
        live_stats = progress_stats(q.recentProgress)
        self.ctx.check(
            self.name,
            ([f"{len(missing)} drops never committed"] if missing else [])
            + self.check_live(self.sub("live-out"), feed.ids),
        )

        drain_out, drain_ckpt = reset_dir(self.sub("drain-out")), reset_dir(self.sub("drain-ckpt"))
        t1 = time.perf_counter()
        dq = news_query(spark, self.sub("backlog"), drain_out, drain_ckpt, None, files_per_trigger=1)
        if not dq.awaitTermination(120):
            dq.stop()
            raise RuntimeError("backlog drain did not finish in 120 s")
        self.drain_s = time.perf_counter() - t1
        # Drain rate over the micro-batches themselves (one per backlog
        # file), leaving out the query's start-up.
        drain_stats = progress_stats(dq.recentProgress)
        self.drain_rate = drain_stats["streaming.input_rows"] / drain_stats["streaming.busy_s"]
        self.ctx.check(self.name, self.check_drain(drain_out))

        if traced:
            layer = self.ctx.layer
            layer.update(live_stats)
            layer["streaming.dedup.kept_ratio"] = self.live_rows / max(1, live_stats.get("streaming.input_rows", 0))
            layer["streaming.backlog_files"] = size["backlog_files"]
            layer["streaming.drain.trigger_s"] = drain_stats["streaming.trigger_s"]
            self.score_per_batch()

    def check_live(self, out: str, written_ids: set[str]) -> list[str]:
        got = self.ctx.spark.read.parquet(out)
        r = got.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("ids"),
            F.min("sentiment").alias("lo"),
            F.max("sentiment").alias("hi"),
        ).first()
        self.live_rows = r.n
        problems = []
        if r.n != r.ids:
            problems.append(f"live output holds {r.n - r.ids} duplicate ids")
        if r.ids != len(written_ids):
            problems.append(f"live output has {r.ids} ids, {len(written_ids)} written")
        if r.n and not -1.0 <= r.lo <= r.hi <= 1.0:
            problems.append("live sentiment outside [-1, 1]")
        return problems

    def backlog_batch(self):
        """Batch twin of the stream: the deduplicated backlog through
        the batch path's ``add_sentiment``."""
        spark = self.ctx.spark
        raw = spark.read.schema(NEWS_STREAM_SCHEMA).json(self.sub("backlog"))
        return P.add_sentiment(raw.dropDuplicates(["id"]).withColumnRenamed("summary", "description"))

    def check_drain(self, out: str) -> list[str]:
        spark = self.ctx.spark
        got = spark.read.parquet(out).select("id", "sentiment")
        want = self.backlog_batch().select("id", "sentiment")
        extra, lost = got.exceptAll(want).count(), want.exceptAll(got).count()
        if extra or lost:
            return [f"drained output differs from batch scoring: {extra} extra, {lost} missing rows"]
        return []

    def score_per_batch(self) -> None:
        """Sentiment scoring cost at the stream's batch size: each
        backlog drop scored on its own through the same UDF."""
        spark = self.ctx.spark
        times, rows = [], 0
        for path in sorted(glob.glob(os.path.join(self.sub("backlog"), "*.json"))):
            df = spark.read.schema(NEWS_STREAM_SCHEMA).json(path).withColumnRenamed("summary", "description")
            scored = P.add_sentiment(df).select("sentiment")
            t = time.perf_counter()
            scored.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
            rows += df.count()
        layer = self.ctx.layer
        layer["functions.sentiment_s"] = median(times)
        layer["functions.sentiment_rows_per_s"] = rows / sum(times)

    def report(self, res) -> dict:
        lateness = sorted(self.feed.lateness)
        return {
            "stream_latency_p50_s": (res.p50, "s"),
            "stream_latency_tail_s": (res.tail, "s", res.tail_label),
            "stream_articles_per_s": (self.drain_rate, "1/s"),
            "backlog_drain_s": (self.drain_s, "s", "wall time, query start to end"),
            "generator_late_p50_s": (median(lateness), "s"),
            "generator_late_max_s": (lateness[-1], "s"),
        }

    def throughput(self, res) -> float:
        return self.drain_rate
