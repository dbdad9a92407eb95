"""Output checks for a finished crawl episode, run outside the timed region.

The crawl's landed state is read back with pyarrow (no Spark jobs) except
for the pending-frontier views, which go through the engine's own
``frontier_df``. Each check returns a list of violation strings; an empty
list means the check passed. ``check_rows`` holds the pure-Python
invariants so they can be tested against planted violations.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import pyarrow.dataset as ds

from crawl import in_miss_slice


def _read(path: str, columns: list[str], hive: bool = True,
          where=None) -> list[dict]:
    if not os.path.exists(path):
        return []
    return ds.dataset(path, format="parquet",
                      partitioning="hive" if hive else None).to_table(
        columns=columns, filter=where).to_pylist()


def check_rows(crawled: list[dict], budget: int, rules: list[str]) -> list[str]:
    """Invariants over crawled rows {url, host, depth, crawl_iter}: no URL
    crawled twice, ≤ budget rows per (host, iteration), and every depth>0
    URL passes a site rule (the shouldVisit gate)."""
    bad = []
    dup = [u for u, n in Counter(r["url"] for r in crawled).items() if n > 1]
    if dup:
        bad.append(f"crawled twice: {len(dup)} urls, e.g. {dup[0]}")
    per_host = Counter((r["host"], r["crawl_iter"]) for r in crawled)
    over = [k for k, n in per_host.items() if n > budget]
    if over:
        bad.append(f"host budget {budget} exceeded at {over[0]}")
    compiled = [re.compile(rx) for rx in rules]
    ungated = [r["url"] for r in crawled
               if r["depth"] > 0 and not any(rx.search(r["url"]) for rx in compiled)]
    if ungated:
        bad.append(f"depth>0 url matches no site rule: {ungated[0]}")
    return bad


def check_accounting(steps: list[dict], counted_frontier: list[int]) -> list[str]:
    """Per step k: fetched + failed + retried = admitted, and frontier
    conservation F_k = F_{k-1} - admitted_k + new_k + retried_k, where
    F is the pending frontier counted from the committed view.
    steps: {k, admitted, fetched, new_urls, frontier_size, crawled_rows,
    failed_rows, retried_rows}; counted_frontier[k] for k = 0..len(steps)."""
    bad = []
    for s in steps:
        k = s["k"]
        if s["crawled_rows"] != s["fetched"]:
            bad.append(f"iter {k}: {s['crawled_rows']} crawled rows != fetched {s['fetched']}")
        if s["fetched"] + s["failed_rows"] + s["retried_rows"] != s["admitted"]:
            bad.append(f"iter {k}: fetched+failed+retried != admitted {s['admitted']}")
        want = (counted_frontier[k - 1] - s["admitted"] + s["new_urls"]
                + s["retried_rows"])
        if counted_frontier[k] != want or counted_frontier[k] != s["frontier_size"]:
            bad.append(f"iter {k}: frontier {counted_frontier[k]} != {want} "
                       f"(reported {s['frontier_size']})")
    return bad


def _canon(rows) -> list:
    return sorted(
        (r["rowkey"], r["family"],
         tuple(sorted((r["cols"] or {}).items())))
        for r in rows
    )


def check_results_sample(state_dir: str, crawled_urls: list[str], n_urls: int,
                         seed: int, n_sample: int = 24) -> list[str]:
    """A seeded sample of crawled URLs: their landed result rows must equal
    oracle.extract on the page rebuilt from the URL index."""
    from dmp_crawler_spark.corpus import templates
    from dmp_crawler_spark.extractors import oracle

    urls = random.Random(seed).sample(sorted(crawled_urls),
                                      min(n_sample, len(crawled_urls)))
    got: dict[str, list] = {u: [] for u in urls}
    rows = _read(os.path.join(state_dir, "combined"),
                 ["url", "rowkey", "family", "cols"],
                 where=(ds.field("kind") == "result") & ds.field("url").isin(urls))
    for r in rows:
        r["cols"] = dict(r["cols"] or [])
        got[r["url"]].append(r)
    bad = []
    for u in urls:
        idx = int(u.rsplit("/", 1)[-1].replace(".html", ""))
        expect = oracle.extract(u, templates.build_page(idx, n_urls)["html_str"])
        if _canon(got[u]) != _canon(expect):
            bad.append(f"result rows differ from oracle.extract for {u}")
    return bad


def replay(wl, seeds: list[str], rules: list[tuple[str, float]], n_steps: int):
    """The single-process reference crawl (frontier/simulator.py) under
    the same seeds, budgets and miss slice."""
    from dmp_crawler_spark.frontier.simulator import FrontierSimulator

    sim = FrontierSimulator(
        wl.n_urls, rules, per_host_budget=wl.budget,
        max_retries=wl.engine_kwargs.get("max_retries", 3),
    )
    if wl.miss_per_mille:
        sim.corpus_urls = {u: i for u, i in sim.corpus_urls.items()
                           if not in_miss_slice(u, wl.miss_per_mille)}
    sim.init_from_seeds(seeds)
    counts = [sim.step() for _ in range(n_steps)]
    return sim, counts


def check_episode(spark, wl, ep, seed: int) -> tuple[list[str], dict]:
    """All output checks for one episode. Returns (violations, per-step
    landed counts used by the per-layer report)."""
    sd = ep.state_dir
    bad: list[str] = []
    crawled = _read(os.path.join(sd, "crawled"),
                    ["url", "host", "depth", "crawl_iter"])
    failed = _read(os.path.join(sd, "failed"), ["url", "iter"], hive=False)
    rule_rows = [(r["url_regex"], float(r["score"]))
                 for r in ep.engine.site_rules.select("url_regex", "score").collect()]
    bad += check_rows(crawled, wl.budget, [rx for rx, _ in rule_rows])

    landed = []
    for rec in ep.steps:
        k = rec.k
        m = rec.metrics
        log_add = os.path.join(sd, "frontier", f"log_v{k:06d}", "kind=add")
        retried = sum(1 for r in _read(log_add, ["retry_count"])
                      if r["retry_count"] > 0)
        landed.append({
            "k": k, "admitted": m["admitted"], "fetched": m.get("fetched", 0),
            "new_urls": m.get("new_urls", 0),
            "frontier_size": m.get("frontier_size", 0),
            "crawled_rows": sum(1 for r in crawled if r["crawl_iter"] == k),
            "failed_rows": sum(1 for r in failed if r["iter"] == k),
            "retried_rows": retried,
        })
    frontier_counts = [ep.engine.frontier_df(k).count()
                       for k in range(len(ep.steps) + 1)]
    bad += check_accounting(landed, frontier_counts)
    bad += check_results_sample(sd, [r["url"] for r in crawled], wl.n_urls, seed)

    sim, counts = replay(wl, ep.seeds, rule_rows, len(ep.steps))
    for rec, c in zip(ep.steps, counts):
        got = {key: rec.metrics.get(key) for key in
               ("admitted", "fetched", "new_urls", "frontier_size")}
        want = {key: c[key] for key in got}
        if got != want:
            bad.append(f"iter {rec.k} counts {got} != reference replay {want}")
    if {(r["crawl_iter"], r["url"]) for r in crawled} != set(sim.state.visit_order):
        bad.append("crawled (iter, url) set differs from reference replay")
    if sorted(r["url"] for r in failed) != sorted(sim.state.failed):
        bad.append("failed url set differs from reference replay")
    if wl.miss_per_mille:
        leaked = [r["url"] for r in crawled
                  if in_miss_slice(r["url"], wl.miss_per_mille)]
        if leaked:
            bad.append(f"miss-slice url was fetched: {leaked[0]}")
        stray = [r["url"] for r in failed
                 if not in_miss_slice(r["url"], wl.miss_per_mille)]
        if stray:
            bad.append(f"failed url outside the miss slice: {stray[0]}")
    return bad, {"landed": landed}
