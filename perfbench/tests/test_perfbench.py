"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import crawl
import measure
import run
from dmp_crawler_spark.frontier import statelog
from dmp_crawler_spark.frontier.scheduler import FRONTIER_COLS


@pytest.fixture(scope="module")
def spark():
    measure.reset_work()
    s = measure.start_spark()
    yield s
    measure.stop_spark(s)


def _bytes(n: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    return int(n[:-1]) * units[n[-1].lower()]


# ------------------------------------------------------------ declarations
def _fake_episode(tmp_path) -> crawl.Episode:
    sd = str(tmp_path / "ep")
    for d in ("frontier", "seen", "bloom", "checkpoints", "combined", "crawled"):
        os.makedirs(os.path.join(sd, d))
        with open(os.path.join(sd, d, "part"), "wb") as f:
            f.write(b"x" * 100)
    for k in (1, 2):
        ldir = os.path.join(sd, "combined", f"iter={k:06d}", "kind=link")
        os.makedirs(ldir)
        pq.write_table(pa.table({"out_url": ["u"] * 30}),
                       os.path.join(ldir, "part.parquet"))
    store = crawl.TimedCheckpointStore(statelog.MemoryCheckpointStore())
    for k in range(3):
        store.commit({"iter": k, "seen_total": 50})
    stage = {name: 1.0 for name, _, _ in measure.STAGE_FIELDS}
    steps = []
    for k in (1, 2):
        stage_k = dict(stage, done_at=1000.0 * k + 0.5)
        steps.append(crawl.StepRecord(
            k=k, start=1000.0 * k, wall_s=2.0, pending_before=40,
            cpu_busy_s=4.0,
            metrics={"admitted": 10, "fetched": 9, "new_urls": 20,
                     "frontier_size": 45,
                     "phase_sec": {"admit": 0.2, "fetch_extract_results": 1.0}},
            spark={"spark.jobs": 3.0, "spark.stages": 3.0,
                   **{n: 1.0 for n, _, _ in measure.STAGE_FIELDS}},
            stages=[stage_k],
        ))
    return crawl.Episode(state_dir=sd, seeds=[], engine=None, store=store,
                         init_s=1.0, init_cpu_s=2.0, steps=steps)


def test_emitted_metric_names_are_declared(tmp_path):
    ep = _fake_episode(tmp_path)
    e2e = run.e2e_metrics([ep], setup_s=30.0)
    assert set(e2e) == set(run.declared_metrics(trace=False))
    probe_us = {"page_build.us": 1.0, "parse.us": 1.0, "link_scan.us": 1.0,
                "extract.us": 1.0, "normalize.us_per_link": 0.1}
    landed = [{"retried_rows": 1, "failed_rows": 0}] * 2
    layers = run.layer_metrics([ep], landed, probe_us, overhead_frac=0.01)
    assert set(layers) == set(run.declared_metrics(trace=True))
    assert all(v != 0 for v in e2e.values())


def test_benchmark_json_contract():
    with open(os.path.join(measure.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(crawl.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


# ------------------------------------------------------------ miss wrapper
def test_seed_indices_distinct_and_repeatable():
    a = crawl.seed_indices(7, 100_000, 5_000)
    assert a == crawl.seed_indices(7, 100_000, 5_000)
    assert len(set(a)) == len(a)
    assert a != crawl.seed_indices(8, 100_000, 5_000)


def test_miss_wrapper_drops_exactly_its_slice(spark):
    from dmp_crawler_spark.corpus import generator, templates

    n = 400
    rows = [(templates.url_for(i, n), templates.host_for(i, n), 0, 0, 0, 1.0, 0)
            for i in range(120)]
    admitted = spark.createDataFrame(
        rows, "url string, host string, host_hash long, depth int, "
              "discovery_iter int, score double, retry_count int",
    ).select(*FRONTIER_COLS)
    per_mille = 300  # wide slice so a small sample holds both sides
    wrapper = crawl.MissInjectingFetcher(generator.GeneratorFetcher(spark, n),
                                         per_mille)
    urls = [r[0] for r in rows]
    in_slice = {u for u in urls if crawl.in_miss_slice(u, per_mille)}
    assert 0 < len(in_slice) < len(urls)
    spark_slice = {r["url"] for r in
                   admitted.filter(wrapper.miss_col()).select("url").collect()}
    assert spark_slice == in_slice
    out = wrapper.fetch_extract(admitted)
    pages = {r["url"] for r in out.filter("kind = 'page'").select("url").collect()}
    assert pages == set(urls) - in_slice
    srcs = {r["url"] for r in out.select("url").distinct().collect()}
    assert not srcs & in_slice


# ------------------------------------------------------------ invariants
RULES = [r"https?://[^/]+/article/\d+\.html"]


def _crawled():
    return [
        {"url": "http://h1.example.com/article/1.html", "host": "h1.example.com",
         "depth": 0, "crawl_iter": 1},
        {"url": "http://h1.example.com/article/2.html", "host": "h1.example.com",
         "depth": 1, "crawl_iter": 2},
        {"url": "http://h2.example.com/article/3.html", "host": "h2.example.com",
         "depth": 1, "crawl_iter": 2},
    ]


def test_row_checks_pass_on_clean_rows():
    assert checks.check_rows(_crawled(), budget=1, rules=RULES) == []


def test_row_checks_flag_duplicate_crawl():
    rows = _crawled() + [dict(_crawled()[0], crawl_iter=2, host="h9")]
    bad = checks.check_rows(rows, budget=5, rules=RULES)
    assert any("crawled twice" in b for b in bad)


def test_row_checks_flag_budget_and_rule_gate():
    rows = _crawled() + [{"url": "http://h1.example.com/x/9.html",
                          "host": "h1.example.com", "depth": 2, "crawl_iter": 2}]
    bad = checks.check_rows(rows, budget=1, rules=RULES)
    assert any("budget" in b for b in bad)
    assert any("site rule" in b for b in bad)


def test_accounting_flags_frontier_leak():
    step = {"k": 1, "admitted": 10, "fetched": 8, "new_urls": 30,
            "frontier_size": 121, "crawled_rows": 8, "failed_rows": 1,
            "retried_rows": 1}
    assert checks.check_accounting([step], [100, 121]) == []
    assert checks.check_accounting([step], [100, 122])
    assert checks.check_accounting([dict(step, failed_rows=0)], [100, 121])


# ------------------------------------------------------------ resources
def test_memory_plan_fits_the_box(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == measure.JVM_HEAP
    local_dir = conf.get("spark.local.dir")
    assert local_dir.startswith(measure.WORK) and "/dev/shm" not in local_dir
    total = (_bytes(measure.JVM_HEAP)
             + measure.SLOTS * measure.PYTHON_WORKER_BYTES
             + measure.WORK_CAP_BYTES)
    assert total <= 15 * 10**9
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    assert total <= mem_kb * 1024
