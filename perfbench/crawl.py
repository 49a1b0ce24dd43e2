"""``crawl``: multi-wave fixture crawl with a checkpoint, then a fresh
engine resuming the finished checkpoint.

The site is ``bench.bench_frontier``'s kind (``sitegen.build_site`` with
four listing pages, politeness lifted, hybrid seen-set, the same bloom
spec), with ``PROJECTS_PER_LISTING`` projects per listing and the seed
from the command line. Set-up crawls the first ``WARM_WAVES`` waves
into a checkpoint and resumes it once; that compiles every operator
family a wave, a commit and a resume use. Each measured iteration copies
that checkpoint, continues the crawl with ``run(resume=True)`` up to
``MAX_WAVES`` (the same wave, ~700 URLs, every iteration), checks fetch
order and seen set against ``simulate_crawl``, and then times a fresh
engine's ``resume()`` of the result. The timed wave is the first one of
hundreds of URLs in the JVM, so the JIT is still warming up: it runs
~25% slower than later waves, the same in every run. Warming up with one
more wave would remove that but costs ~10 s per run, more than the
benchmark's time budget allows.

Waves this narrow are dominated by per-wave fixed cost: driver plan
construction, scheduling of ~12 stages, and commit I/O (every wave
writes deltas, a snapshot and a manifest).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.operators import frontier as fops
from tbbid_scrapy_spark.operators.bloom import BloomSpec
from tbbid_scrapy_spark.plans import crawl as crawl_plan
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tbbid_scrapy_spark.sources import sink

from perfbench import stats
from perfbench.trace import engine_totals, stage_interval, task_s_by_layer

SITE_SCHEMA = T.StructType(
    list(schemas.DOCUMENTS.fields) + [T.StructField("fail_first", T.IntegerType(), False)]
)
LISTING_PAGES = 4
PROJECTS_PER_LISTING = 1000
WARM_WAVES = 1
MAX_WAVES = 2
BUDGET = 10**6  # politeness lifted: engine throughput, not the 2 s/host clock


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _counts(st) -> tuple[int, ...]:
    return (
        st.wave, st.next_seq, st.fetch_log.count(), st.seen.count(),
        st.pending.count(), st.extracted.count(),
    )


class Crawl:
    name = "crawl"

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.warm_ck = os.path.join(work_dir, "crawl-warm")
        self._iterations = 0

    def make_inputs(self) -> None:
        """The site and the simulator's reference crawl (no Spark)."""
        self.site = sitegen.build_site(
            n_listing_pages=LISTING_PAGES,
            projects_per_listing=PROJECTS_PER_LISTING,
            seed=self.seed,
        )
        # an Arrow table reaches the JVM faster than a list of rows
        self.site_table = pa.Table.from_pylist(
            [dict(zip(SITE_SCHEMA.names, r)) for r in sitegen.site_to_rows(self.site)],
            schema=to_arrow_schema(SITE_SCHEMA),
        )
        self.politeness_rows = sitegen.default_politeness(BUDGET, BUDGET)
        self.sim = simulate_crawl(
            self.site, sitegen.default_seeds(), self.politeness_rows,
            sitegen.default_robots(), max_waves=MAX_WAVES,
        )

    def load(self, spark) -> None:
        self.spark = spark
        self.site_df = spark.createDataFrame(self.site_table, SITE_SCHEMA).cache()
        self.site_df.count()
        self.politeness = spark.createDataFrame(self.politeness_rows, schemas.POLITENESS)
        self.robots = spark.createDataFrame(sitegen.default_robots(), schemas.ROBOTS)
        self.spec = BloomSpec.for_capacity(expected_n=10_000_000, fp_rate=0.01, n_shards=64)

    def _engine(self, checkpoint_dir: str, max_waves: int) -> CrawlEngine:
        return CrawlEngine(
            self.spark, self.site_df, sitegen.default_seeds(), self.politeness,
            self.robots,
            CrawlConfig(max_waves=max_waves, seen_mode="hybrid",
                        bloom_spec=self.spec, checkpoint_dir=checkpoint_dir),
        )

    def warm_up(self, ops) -> None:
        """Crawls the first waves into the checkpoint every iteration
        starts from, then resumes it once."""
        ops.step(lambda: self._engine(self.warm_ck, WARM_WAVES).run(), "warm-up crawl")
        ops.step(lambda: _counts(self._engine(self.warm_ck, WARM_WAVES).resume()),
                 "warm-up resume")

    def iterate(self, tracer, ops) -> dict | None:
        self._iterations += 1
        ck = os.path.join(self.work_dir, f"crawl-{self._iterations}")
        shutil.copytree(self.warm_ck, ck)
        os.sync()  # the copy's writeback must not land in the timed commit
        with tracer.span("run", "plans.crawl", eager=True):
            t0 = time.time()
            st = ops.step(lambda: self._engine(ck, MAX_WAVES).run(resume=True), "crawl")
            t1 = time.time()
        if st is None:
            return None
        order = [(r.wave, r.url_norm) for r in st.fetch_log.orderBy("wave", "fetch_pos").collect()]
        seen = {r.url_norm for r in st.seen.collect()}
        ok = ops.check(order == self.sim.fetch_log, "crawl fetch order vs simulate_crawl")
        ok &= ops.check(seen == self.sim.seen, "crawl seen set vs simulate_crawl")
        finished = _counts(st)
        bitsets = [r.bitset for r in st.shards.select("bitset").collect()] if tracer.enabled else []

        with tracer.span("resume", "sources.sink", eager=True):
            r0 = time.monotonic()
            resumed = ops.step(lambda: _counts(self._engine(ck, MAX_WAVES).resume()), "resume")
            resume_s = time.monotonic() - r0
        if resumed is None:
            return None
        ok &= ops.check(resumed == finished, "resumed state counts vs finished state")
        if not ok:
            return None
        return {
            "t0": t0, "t1": t1, "run_s": t1 - t0, "resume_s": resume_s,
            "waves": len(st.metrics),
            "urls_fetched": sum(m["urls_fetched"] for m in st.metrics),
            "urls_new": sum(m["urls_new"] for m in st.metrics),
            "wave_s": [m["wall_ms"] / 1000.0 for m in st.metrics],
            "bytes_written": _du(ck) - _du(self.warm_ck),
            "seen": finished[3],
            "bits_set": sum(int(np.unpackbits(np.frombuffer(b, np.uint8)).sum()) for b in bitsets),
            "bits": sum(len(b) * 8 for b in bitsets),
        }

    @staticmethod
    def end_to_end(obs: list[dict]) -> dict[str, float]:
        return {
            "items_per_s": stats.median([o["urls_fetched"] / o["run_s"] for o in obs]),
            "step_s": stats.median([w for o in obs for w in o["wave_s"]]),
            "total_s": stats.median([o["run_s"] + o["resume_s"] for o in obs]),
        }

    @staticmethod
    def named(obs: list[dict]) -> dict[str, tuple[float, str]]:
        e = Crawl.end_to_end(obs)
        return {
            "crawl_urls_per_s": (e["items_per_s"], "1/s"),
            "crawl_wave_p50_s": (e["step_s"], "s"),
            "resume_s": (stats.median([o["resume_s"] for o in obs]), "s"),
        }

    def instrument(self, tracer) -> None:
        """Spans around the engine's calls into each layer."""
        tracer.wrap(crawl_plan, "dense_index", "plans.seq", eager=True)
        tracer.wrap(crawl_plan, "with_url_norm", "functions.urls", eager=False)
        tracer.wrap(fops, "politeness_rank", "operators.frontier", eager=False)
        tracer.wrap(fops, "apply_robots_joined", "operators.frontier", eager=False)
        tracer.wrap(crawl_plan, "bloom_test_insert", "operators.bloom", eager=False)
        tracer.wrap(sink.SnapshotTable, "write_version", "sources.sink", eager=True)
        tracer.wrap(sink.DeltaTable, "write_part", "sources.sink", eager=True)
        tracer.wrap(sink.Catalog, "commit", "sources.sink.manifest", eager=True)

    def layers(self, obs: list[dict], tracer, stages: list[dict], jobs: list[dict]) -> dict:
        n = len(obs)
        waves = sum(o["waves"] for o in obs)

        def in_runs(t: float) -> bool:
            return any(o["t0"] <= t <= o["t1"] for o in obs)

        run_stages = [s for s in stages if in_runs(stage_interval(s)[0])]
        run_jobs = [j for j in jobs if in_runs(j["submissionTime"] / 1000.0)]
        intervals = [stage_interval(s) for s in stages]
        gap = sum(stats.driver_gap(intervals, o["t0"], o["t1"]) for o in obs)
        task_s = task_s_by_layer(tracer, run_stages, "plans.crawl")
        dense_n, dense_s = tracer.total("plans.seq", "dense_index")
        writes, write_s = tracer.total("sources.sink", "write_version")
        parts, part_s = tracer.total("sources.sink", "write_part")
        return {
            "crawl.waves": waves / n,
            "crawl.urls_fetched": sum(o["urls_fetched"] for o in obs) / n,
            "crawl.urls_new": sum(o["urls_new"] for o in obs) / n,
            "crawl.jobs_per_wave": len(run_jobs) / waves,
            "crawl.stages_per_wave": len(run_stages) / waves,
            "crawl.task_s_per_wave": sum(s["executorRunTime"] for s in run_stages) / 1000.0 / waves,
            "crawl.driver_gap_s_per_wave": gap / waves,
            "seq.dense_index_calls": dense_n / n,
            "seq.dense_index_s": dense_s / n,
            "seq.dense_index_task_s": task_s.get("plans.seq", 0.0) / n,
            "urls.build_s": tracer.total("functions.urls")[1] / n,
            "frontier.rank_build_s": tracer.total("operators.frontier", "politeness_rank")[1] / n,
            "frontier.robots_build_s": tracer.total("operators.frontier", "apply_robots_joined")[1] / n,
            "bloom.build_s": tracer.total("operators.bloom")[1] / n,
            "bloom.seen_urls": sum(o["seen"] for o in obs) / n,
            "bloom.fill_ratio": sum(o["bits_set"] for o in obs) / sum(o["bits"] for o in obs),
            "sink.writes": (writes + parts) / n,
            "sink.write_s": (write_s + part_s) / n,
            "sink.write_task_s": task_s.get("sources.sink", 0.0) / n,
            "sink.manifest_s": tracer.total("sources.sink.manifest")[1] / n,
            "sink.bytes_written": sum(o["bytes_written"] for o in obs) / n,
            "sink.resume_load_s": tracer.total("sources.sink", "resume")[1] / n,
            **engine_totals(stages, jobs),
        }
