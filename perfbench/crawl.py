"""The two crawl workloads and the pieces the benchmark wraps around the
engine's public seams: a miss-injecting fetcher, a timed checkpoint store,
and the episode runner (fresh state → init_from_seeds → N × step()).

The engine is driven exactly as a user drives it: ``CrawlEngine(...)``,
``init_from_seeds``, ``step`` and its returned ``phase_sec``. Nothing in
the engine is patched.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
import traceback
from dataclasses import dataclass, field, replace

from measure import CpuWindow

# A fixed slice of the URL space that never fetches: md5(url)'s first 16
# bits mod 1000 below MISS_PER_MILLE. Computable identically in Spark (for
# the wrapper) and in Python (for the replay check).
MISS_PER_MILLE = 30


@dataclass(frozen=True)
class Workload:
    name: str
    n_urls: int  # size of the virtual web (corpus/templates URL universe)
    n_seeds: int  # seed URLs, picked from the universe by --seed
    budget: int  # per-host admissions per iteration
    steps: int  # step() calls per episode after init_from_seeds
    miss_per_mille: int = 0
    # CrawlEngine constructor arguments. These thresholds are workload
    # inputs: they decide which engine arms run inside the timed steps.
    engine_kwargs: dict = field(default_factory=dict)
    # A small one-step episode runs before timing so codegen, the Python
    # daemon and every code path the timed steps use are warm; warm_kwargs
    # override engine_kwargs so that one step reaches every arm.
    warm_urls: int = 5_000
    warm_seeds: int = 250
    warm_kwargs: dict = field(default_factory=dict)

    def warm(self) -> Workload:
        return replace(self, n_urls=self.warm_urls, n_seeds=self.warm_seeds,
                       steps=1, engine_kwargs={**self.engine_kwargs,
                                               **self.warm_kwargs})


WORKLOADS = {
    # Page-work regime: stock engine defaults, so every scale gate
    # (LSM frontier, bloom, shard pruning) stays shut and most of a step
    # is the fused fetch+extract pass.
    "crawl_fetch": Workload(
        name="crawl_fetch", n_urls=100_000, n_seeds=5_000, budget=20, steps=2,
    ),
    # State regime: pending frontier far larger than each step's
    # admissions (budget 1), every scale gate at 0 and compaction every 2
    # steps, so the LSM log, bloom merge and rebuild, shard-pruned
    # anti-join, both compactions and retry->fail all run in the timed
    # steps; ~3% of URLs are permanent misses. The fullest bloom shard
    # holds ~3.0-3.2k items after step 1 and ~4.1-4.2k after step 2 on
    # every seed tried, so a 3584-item sizing merges at step 1 and
    # rebuilds at step 2.
    "crawl_state": Workload(
        name="crawl_state", n_urls=200_000, n_seeds=15_000, budget=1, steps=2,
        miss_per_mille=MISS_PER_MILLE,
        engine_kwargs=dict(
            compact_seen_every=2, compact_frontier_every=2,
            shard_prune_min_seen=0, bloom_min_seen=0, lsm_min_frontier=0,
            bloom_expected_per_shard=3584, max_retries=2,
        ),
        warm_kwargs=dict(compact_seen_every=1, compact_frontier_every=1,
                         bloom_expected_per_shard=16, max_retries=1),
    ),
}


def seed_indices(seed: int, n_urls: int, n_seeds: int) -> list[int]:
    """n_seeds distinct URL indices drawn uniformly by seed."""
    return random.Random(seed).sample(range(n_urls), n_seeds)


def seed_urls(seed: int, wl: Workload) -> list[str]:
    from dmp_crawler_spark.corpus import templates

    return [templates.url_for(i, wl.n_urls)
            for i in seed_indices(seed, wl.n_urls, wl.n_seeds)]


def in_miss_slice(url: str, per_mille: int) -> bool:
    return int(hashlib.md5(url.encode()).hexdigest()[:4], 16) % 1000 < per_mille


class MissInjectingFetcher:
    """Wraps a fused fetcher so a fixed URL-hash slice always misses: the
    slice is removed from the admitted rows before the inner
    fetch_extract, so those URLs yield no page, result or link rows and
    take the engine's retry -> fail arm. (Filtering after the fetch would
    also drop link rows that the map-side combine attributed to a missed
    source page, losing URLs that other pages link to.)"""

    def __init__(self, inner, per_mille: int):
        self.inner = inner
        self.per_mille = per_mille
        self.links_normalized = inner.links_normalized

    def miss_col(self):
        from pyspark.sql import functions as F

        h = F.conv(F.substring(F.md5("url"), 1, 4), 16, 10).cast("int")
        return F.pmod(h, F.lit(1000)) < self.per_mille

    def fetch_extract(self, admitted):
        return self.inner.fetch_extract(admitted.filter(~self.miss_col()))


class TimedCheckpointStore:
    """Delegates to the engine's default store and times each commit()
    (the frontier.statelog layer) through the checkpoint_store= seam."""

    def __init__(self, inner):
        self.inner = inner
        self.commits: list[tuple[float, float]] = []  # (start, end) epoch s

    def last(self):
        return self.inner.last()

    def commit(self, ck: dict) -> None:
        t0 = time.time()
        self.inner.commit(ck)
        self.commits.append((t0, time.time()))


@dataclass
class StepRecord:
    k: int
    start: float  # epoch seconds at the step() call
    wall_s: float
    metrics: dict
    pending_before: int
    cpu_busy_s: float
    spark: dict | None = None
    stages: list | None = None


@dataclass
class Episode:
    state_dir: str
    seeds: list[str]
    engine: object
    store: TimedCheckpointStore
    init_s: float = 0.0
    init_start: float = 0.0
    init_cpu_s: float = 0.0
    init_spark: dict | None = None
    steps: list[StepRecord] = field(default_factory=list)
    error: str | None = None

    @property
    def first_commit_s(self) -> float:
        return self.init_s + self.steps[0].wall_s

    @property
    def ops(self) -> int:
        """Operations attempted: init_from_seeds, each completed step()
        and the call that raised, if one did."""
        return 1 + len(self.steps) + (1 if self.error and self.init_s else 0)


def make_engine(spark, wl: Workload, state_dir: str):
    from dmp_crawler_spark.corpus import generator
    from dmp_crawler_spark.frontier import statelog
    from dmp_crawler_spark.frontier.scheduler import CrawlEngine

    fetcher = generator.GeneratorFetcher(spark, wl.n_urls)
    if wl.miss_per_mille:
        fetcher = MissInjectingFetcher(fetcher, wl.miss_per_mille)
    store = TimedCheckpointStore(statelog.JsonCheckpointStore(state_dir))
    eng = CrawlEngine(
        spark, state_dir, fetcher, generator.generate_site_rules(spark),
        per_host_budget=wl.budget, n_bloom_shards=16, checkpoint_store=store,
        **wl.engine_kwargs,
    )
    return eng, store


def run_episode(spark, wl: Workload, state_dir: str, seeds: list[str],
                stats=None) -> Episode:
    """Fresh state, init_from_seeds, then wl.steps step() calls. Each
    call is timed from call to return (checkpoint commit included). A
    raised error ends the episode and is recorded, not propagated."""
    eng, store = make_engine(spark, wl, state_dir)
    ep = Episode(state_dir=state_dir, seeds=seeds, engine=eng, store=store)
    seeds_df = spark.createDataFrame([(u, "") for u in seeds],
                                     "seed string, site string")
    if stats is not None:
        stats.mark()
    try:
        cpu = CpuWindow()
        cpu.start()
        ep.init_start = time.time()
        t0 = time.perf_counter()
        eng.init_from_seeds(seeds_df)
        ep.init_s = time.perf_counter() - t0
        cpu.stop()
        ep.init_cpu_s = cpu.busy_s
        if stats is not None:
            ep.init_spark, _ = stats.delta()
        for k in range(1, wl.steps + 1):
            pending = store.last()["metrics"]["frontier_size"]
            cpu = CpuWindow()
            cpu.start()
            start = time.time()
            t0 = time.perf_counter()
            m = eng.step()
            wall = time.perf_counter() - t0
            cpu.stop()
            rec = StepRecord(k=k, start=start, wall_s=wall, metrics=m,
                             pending_before=pending, cpu_busy_s=cpu.busy_s)
            if stats is not None:
                rec.spark, rec.stages = stats.delta()
            ep.steps.append(rec)
            if m.get("done"):
                break
    except Exception as e:  # a failed operation is counted, not fatal
        traceback.print_exc()
        ep.error = f"{type(e).__name__}: {e}"
    return ep


def state_dirs(state_dir: str) -> dict[str, list[str]]:
    """Resume state vs landed output, by top-level dir of the state root."""
    return {
        "state": [os.path.join(state_dir, d)
                  for d in ("frontier", "seen", "bloom", "checkpoints")],
        "landed": [os.path.join(state_dir, d)
                   for d in ("combined", "crawled", "results")],
    }
