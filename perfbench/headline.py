"""``headline``: the 16 ``bench.HEADLINE`` queries over generated tables.

Read-only scans plus the Catalyst/Arrow operators of ``operators.dedup``,
``operators.similarity``, ``operators.text`` and ``plans.relational``; no
crawl layer runs. As in ``bench.py`` each query is timed cold-cache
inside a warm JVM: ``scratch.release()`` and ``clearCache()`` run between
queries, and a warm-up pass that collects every query, four at a time
and partly on the thread that times them, has compiled every operator
family first.

A timed execution collects the query's rows (``toPandas()``), so every
output column is computed, and its rows are compared with the query's
DuckDB ``oracle_sql()`` result the way ``tools/check_correctness.py``
compares them.
"""

from __future__ import annotations

import os
import queue
import re
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
from bench import HEADLINE
from tbbid_scrapy_spark.operators import scratch
from tbbid_scrapy_spark.operators.dedup import (
    minhash_lsh_candidates,
    shingle_candidates,
    shingle_hash_sets,
    simhash_rotated_band_candidates,
    simhash_shingle,
)
from tools.check_correctness import TABLES, compare

from perfbench import stats, tables
from perfbench.trace import engine_totals

SF = 0.01
WARM_THREADS = 4
PYTHON_NODE = re.compile(r"\b(?:ArrowEvalPython|BatchEvalPython|\w+InPandas|\w+InArrow)\b")
EXCHANGE = re.compile(r"(?<!Reused)Exchange ")


def plan_shape(df) -> tuple[int, int]:
    """(Exchange nodes, Python/Arrow nodes) of the plan Spark executes."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(EXCHANGE.findall(plan)), len(PYTHON_NODE.findall(plan))


class Headline:
    name = "headline"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.queries = entry.queries()

    def make_inputs(self) -> None:
        """The tables and the oracle's result of every query (no Spark)."""
        tables.generate(self.data_dir, SF, self.seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{t}.parquet')"
            )
        oracles = entry.oracle_sql()
        self.oracle = {q: con.execute(oracles[q]).df() for q in HEADLINE}
        con.close()

    def load(self, spark) -> None:
        self.spark = spark

    def _release(self) -> None:
        scratch.release()
        self.spark.catalog.clearCache()

    def warm_up(self, ops) -> None:
        """Collects every query as ``iterate`` does, from ``WARM_THREADS``
        threads: this one, which runs the timed passes, and helpers. A
        ``count()`` would leave operators uncompiled (Catalyst prunes the
        unused columns and the final sort); one query at a time would
        leave most cores idle while the driver plans; and a warm-up on
        other threads only leaves the first pass on this one 20-30% slower
        than the ones after it."""
        pending: queue.SimpleQueue = queue.SimpleQueue()
        for q in HEADLINE:
            pending.put(q)

        def drain() -> None:
            while True:
                try:
                    q = pending.get_nowait()
                except queue.Empty:
                    return
                ops.step(lambda: self.queries[q](self.spark, self.data_dir).toPandas(), q)

        with ThreadPoolExecutor(WARM_THREADS - 1) as pool:
            helpers = [pool.submit(drain) for _ in range(WARM_THREADS - 1)]
            drain()
            for h in helpers:
                h.result()
        self._release()

    def iterate(self, tracer, ops) -> dict | None:
        times: dict[str, float] = {}
        t0 = time.time()
        ok = True
        for q in HEADLINE:
            with tracer.span(q, "headline", eager=True):
                s = time.monotonic()
                rows = ops.step(
                    lambda q=q: self.queries[q](self.spark, self.data_dir).toPandas(), q
                )
                times[q] = time.monotonic() - s
            self._release()
            if rows is None:
                ok = False
                continue
            problems = compare(q, rows, self.oracle[q])
            ok &= ops.check(not problems, f"{q} vs oracle: {'; '.join(problems)}")
        return {"t0": t0, "t1": time.time(), "q_s": times} if ok else None

    @staticmethod
    def _per_query(obs: list[dict]) -> dict[str, float]:
        return {q: stats.median([o["q_s"][q] for o in obs]) for q in HEADLINE}

    @staticmethod
    def end_to_end(obs: list[dict]) -> dict[str, float]:
        per_q = Headline._per_query(obs)
        total = stats.median([sum(o["q_s"].values()) for o in obs])
        return {
            "items_per_s": len(HEADLINE) / total,
            "step_s": stats.geomean(list(per_q.values())),
            "total_s": total,
        }

    @staticmethod
    def named(obs: list[dict]) -> dict[str, tuple[float, str]]:
        e = Headline.end_to_end(obs)
        return {
            "headline_total_s": (e["total_s"], "s"),
            "headline_geomean_s": (e["step_s"], "s"),
        }

    def instrument(self, tracer) -> None:
        """Each query is one call into the operator layers; the spans are
        taken around it in ``iterate``."""

    def layers(self, obs: list[dict], tracer, stages: list[dict], jobs: list[dict]) -> dict:
        out: dict[str, float] = {}
        for q, s in self._per_query(obs).items():
            out[f"headline.{q}_s"] = s
            exchanges, python_nodes = plan_shape(self.queries[q](self.spark, self.data_dir))
            out[f"headline.{q}.exchanges"] = exchanges
            out[f"headline.{q}.python_nodes"] = python_nodes
            self._release()
        docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet")
        verified = len(self.oracle["ngram_jaccard"])
        candidates = {
            "ngram": shingle_candidates(docs, n=3).count(),
            "minhash": minhash_lsh_candidates(docs, n=3, num_hashes=32, bands=8).count(),
            "simhash": simhash_rotated_band_candidates(
                simhash_shingle(docs, 3, sets_=shingle_hash_sets(docs, 3)), max_hamming=20
            ).count(),
        }
        self._release()
        for k, c in candidates.items():
            out[f"dedup.{k}_candidates"] = c
            out[f"dedup.{k}_precision"] = verified / c if c else 0.0
        out["dedup.verified_pairs"] = verified
        out.update(engine_totals(stages, jobs))
        return out
