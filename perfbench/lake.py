"""The lake-query workload: one client running a seeded order of
catalog queries over generated lake tables, back to back.

Each query is hash-compared once per run against its DuckDB oracle
(``tests/oracle_compare.py``) or, where the catalog has no oracle,
checked for a non-empty result; every later execution must reproduce
the checked result's digest.
"""

from __future__ import annotations

import hashlib
import os
import time

from streamprocessing_kafka_finlight_news_dashboard_spark.plans.catalog import CATALOG
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

import inputs
from harness import median, reset_dir
from tests.oracle_compare import canonical_rows, compare, duckdb_conn

# query → (layer group it measures, tables it scans)
MIX = {
    "q3_shipping_priority": ("plans.relational", ("customer", "orders", "lineitem")),
    "pit_lookback_join": ("plans.timeseries", ("events",)),
    "signal_generation": ("plans.domain", ("events",)),
    "doc_minhash_lsh_candidates": ("operators.dedup", ("documents",)),
    "doc_tfidf_top_terms": ("operators.text", ("documents",)),
    "emb_cosine_topk": ("operators.similarity", ("embeddings",)),
}
GROUPS = sorted({g for g, _ in MIX.values()})


def digest(pdf) -> str:
    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


class LakeQueries:
    name = "lake_queries"
    loop = "closed loop, one client, seeded query order, next query after the previous returns"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = ctx.size["lake"]["sf"]
        self.dir = os.path.join(ctx.work, "lake")
        self.digests: dict[str, str] = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in MIX}

    def prepare(self) -> None:
        reset_dir(self.dir)
        inputs.write_tables(inputs.lake_tables(self.ctx.seed, self.sf), self.dir)

    def order(self) -> list[str]:
        names = list(MIX)
        return [names[i] for i in self.ctx.rng.permutation(len(names))]

    def warmup(self) -> None:
        """One pass that also runs the output checks: the oracle compare
        (or the rows-only check) for each query, once per run."""
        con = duckdb_conn(self.dir)
        try:
            for name in self.order():
                pdf = CATALOG[name].builder(self.ctx.spark, self.dir).toPandas()
                self.digests[name] = digest(pdf)
                oracle = CATALOG[name].oracle
                if oracle is None:
                    problems = [] if len(pdf) else [f"{name}: empty result"]
                else:
                    problems = [f"{name}: {p}" for p in compare(_Frame(pdf), con.execute(oracle).df())]
                    if not len(pdf):
                        problems.append(f"{name}: empty result")
                self.ctx.check(self.name, problems)
        finally:
            con.close()

    def op(self, i: int, traced: bool) -> float:
        """One pass over the mix in a fresh seeded order."""
        ctx = self.ctx
        tr = ctx.tracer if traced else ctx.silent
        total = 0.0
        if traced:
            self.scan_tables(tr, i)
        for name in self.order():
            group = MIX[name][0]
            t0 = time.perf_counter()
            with tr.span(group, request=f"pass-{i}"), tr.span(f"lake.{name}"):
                pdf = CATALOG[name].builder(ctx.spark, self.dir).toPandas()
            dt = time.perf_counter() - t0
            total += dt
            self.query_s[name].append(dt)
            ctx.check(self.name, [] if digest(pdf) == self.digests[name] else [f"{name}: result changed"])
        return total

    def scan_tables(self, tr, i: int) -> None:
        """Traced passes first scan every table the mix reads, in full,
        through ``load_table`` (persisted and counted, as in the batch
        workloads' traced read spans)."""
        used = sorted({t for _, tables in MIX.values() for t in tables})
        with tr.span("sources.read", request=f"pass-{i}"):
            for t in used:
                df = load_table(self.ctx.spark, self.dir, t).persist()
                df.count()
                df.unpersist()

    def report(self, res) -> dict:
        per_query = {q: median(v) for q, v in self.query_s.items() if v}
        return {
            "lake_mix_s": (res.p50, "s"),
            "lake_mix_tail_s": (res.tail, "s", res.tail_label),
            "lake_queries_per_s": (self.throughput(res), "1/s"),
            **{f"lake.{q}_s": (v, "s") for q, v in per_query.items()},
        }

    def throughput(self, res) -> float:
        """Queries per second over a median pass."""
        return len(MIX) / res.p50


class _Frame:
    """Adapter giving an already-collected pandas result the
    ``toPandas`` method ``oracle_compare.compare`` calls."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf

