"""Crawl-engine benchmark: one workload per process, closed loop, one caller.

    python3 perfbench/run.py --workload crawl_fetch --seed 1 --seconds 20 --trace 0

Starts one local[4] SparkSession, runs a small warm-up episode, then times
fresh-state crawl episodes (init_from_seeds + a fixed number of step()
calls) until the next episode would overrun --seconds (at least one runs).
Outputs are checked after the timed region against the engine's
invariants and a single-process reference replay. The last stdout line is
the result JSON; the line before it is a report with per-step figures,
sample counts and the CPU steal share.

--trace 0 reports the end-to-end metrics. --trace 1 is a separate run that
records spans, Spark status-store and /proc/stat deltas per step and per
phase, probes the extractor sub-layers, reports the per-layer metrics and
writes the spans to perfbench/_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.dataset as ds

import checks
import measure
import probe
from crawl import WORKLOADS, run_episode, seed_urls, state_dirs

PHASES = {  # CrawlEngine.step phase_sec key -> per-layer metric prefix
    "admit": "admit",
    "fetch_extract_results": "fetch_extract",
    "crawled_write": "crawled_write",
    "failed_write": "failed_write",
    "frontier_write": "frontier_write",
    "seen_write": "seen_write",
    "frontier_compact": "frontier_compact",
    "seen_compact": "seen_compact",
    "bloom_rebuild": "bloom_rebuild",
    "bloom_merge": "bloom_merge",
    "metrics_counts": "metrics_counts",
}


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode:
    end_to_end for untraced runs, per_layer for traced ones."""
    with open(os.path.join(measure.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _parquet_rows(path: str) -> int:
    if not os.path.exists(path):
        return 0
    return ds.dataset(path, format="parquet").count_rows()


def wall_figures(episodes) -> dict:
    """User-visible wall-clock figures: admitted URLs per second of step()
    time, median step() time (checkpoint commit included), and
    init_from_seeds + first step() on fresh state. On a shared 4-vCPU VM
    their run-to-run spread under co-tenant CPU steal (IQR/median up to
    ~0.3 over ten runs) exceeds the largest bound a gated metric may have,
    so they are reported (report line; trace.* per-layer metrics), not
    gated."""
    steps = [s for ep in episodes for s in ep.steps]
    return {
        "crawl_urls_per_s": sum(s.metrics["admitted"] for s in steps)
        / sum(s.wall_s for s in steps),
        "iter_s_p50": statistics.median(s.wall_s for s in steps),
        "first_commit_s": statistics.median(ep.first_commit_s for ep in episodes),
    }


def e2e_metrics(episodes, setup_s: float) -> dict:
    """Gated metrics: set-up time, busy CPU seconds of the timed episodes
    (init_from_seeds and every step(), JVM and Python workers alike) per
    1000 admitted URLs, and bytes of resume state and landed output."""
    steps = [s for ep in episodes for s in ep.steps]
    admitted = sum(s.metrics["admitted"] for s in steps)
    cpu_s = sum(ep.init_cpu_s for ep in episodes) + sum(s.cpu_busy_s for s in steps)
    state_per_url, landed_per_page = [], []
    for ep in episodes:
        dirs = state_dirs(ep.state_dir)
        seen = ep.store.last()["seen_total"]
        fetched = sum(s.metrics["fetched"] for s in ep.steps)
        state_per_url.append(sum(map(measure.dir_bytes, dirs["state"])) / seen)
        landed_per_page.append(sum(map(measure.dir_bytes, dirs["landed"])) / fetched)
    return {
        "setup_s": setup_s,
        "cpu_s_per_kurl": cpu_s / (admitted / 1000.0),
        "state_bytes_per_url": statistics.median(state_per_url),
        "landed_bytes_per_page": statistics.median(landed_per_page),
    }


def layer_metrics(episodes, landed, probe_us: dict, overhead_frac: float) -> dict:
    """Per-layer figures as means per timed step (phases that run only on
    some steps count 0 on the others), plus ratios over all steps.
    trace.* are the wall figures as measured with tracing on (compare with
    an untraced run's report line for the tracing overhead), and
    trace.overhead_frac is the share of the timed region spent harvesting."""
    steps = [s for ep in episodes for s in ep.steps]
    n = float(len(steps))
    out: dict[str, float] = {f"trace.{k}": v for k, v in wall_figures(episodes).items()}
    out["trace.overhead_frac"] = overhead_frac
    for key, name in PHASES.items():
        out[f"{name}.s"] = sum(s.metrics["phase_sec"].get(key, 0.0) for s in steps) / n
    commits = [c for ep in episodes for c in ep.store.commits[1:]]  # [0] = init
    out["commit.s"] = sum(e - b for b, e in commits) / n
    adm = sum(s.metrics["admitted"] for s in steps)
    pending = sum(s.pending_before for s in steps)
    fetched = sum(s.metrics["fetched"] for s in steps)
    out["admit.rows"] = adm / n
    out["admit.pending_rows"] = pending / n
    out["admit.frac"] = adm / pending
    out["fetch_extract.s_per_kurl"] = out["fetch_extract.s"] * n / (adm / 1000.0)

    spill_bytes = link_rows = 0
    for ep in episodes:
        for s in ep.steps:
            cdir = os.path.join(ep.state_dir, "combined", f"iter={s.k:06d}")
            spill_bytes += measure.dir_bytes(cdir)
            link_rows += _parquet_rows(os.path.join(cdir, "kind=link"))
    out["spill.bytes_per_page"] = spill_bytes / fetched
    out["spill.link_rows_per_page"] = link_rows / fetched
    out["link.new_frac"] = sum(s.metrics["new_urls"] for s in steps) / link_rows
    out["retry.rows"] = sum(r["retried_rows"] for r in landed) / n
    out["failed.rows"] = sum(r["failed_rows"] for r in landed) / n

    for name in steps[0].spark:
        out[name] = sum(s.spark[name] for s in steps) / n
    # task slot time of the stages that completed inside the fetch_extract
    # phase, per fetched page; what the single-process probe does not
    # account for is the Arrow/serialization/scheduling boundary
    slot_s = sum(_stage_sum(s.stages, *_phase_window(s, "fetch_extract_results"))
                 ["spark.run_s"] for s in steps)
    out["fetch_extract.slot_us_per_page"] = 1e6 * slot_s / fetched
    out.update({k: v for k, v in probe_us.items() if k != "normalize.us_per_link"})
    out["normalize.us"] = probe_us["normalize.us_per_link"] * out["spill.link_rows_per_page"]
    body = sum(out[k] for k in ("page_build.us", "parse.us", "extract.us",
                                "link_scan.us", "normalize.us"))
    out["boundary.us_per_page"] = out["fetch_extract.slot_us_per_page"] - body
    return out


def _phase_window(step, phase: str) -> tuple[float, float]:
    """Epoch-second window of one phase, rebuilt in order from phase_sec
    starting at the step() call."""
    t = step.start
    for key, sec in step.metrics["phase_sec"].items():
        if key == phase:
            return t, t + sec
        t += sec
    return t, t


def _stage_sum(stages: list[dict], t0: float, t1: float) -> dict:
    """Status-store counters of the stages that completed in [t0, t1)."""
    inside = [st for st in stages
              if st["done_at"] is not None and t0 <= st["done_at"] < t1]
    out = {name: sum(st[name] for st in inside)
           for name, _, _ in measure.STAGE_FIELDS}
    out["spark.stages"] = len(inside)
    return out


def add_spans(tracer, sampler, ep, label: str) -> None:
    """Spans of one episode: init_from_seeds, each step() with its phases
    (rebuilt in order from phase_sec) and checkpoint commits as children."""
    end = ep.steps[-1].start + ep.steps[-1].wall_s
    root = tracer.add(label, ep.init_start, end)
    t1 = ep.init_start + ep.init_s
    tracer.add("init_from_seeds", ep.init_start, t1, root,
               cpu_busy_s=sampler.busy_s(ep.init_start, t1), **ep.init_spark)
    commits = ep.store.commits  # [0] is init's, [k] is step k's
    tracer.add("commit", *commits[0], root)
    for s in ep.steps:
        counts = {k: v for k, v in s.metrics.items() if k != "phase_sec"}
        sid = tracer.add(f"step[{s.k}]", s.start, s.start + s.wall_s, root,
                         cpu_busy_s=s.cpu_busy_s, **s.spark, **counts)
        t = s.start
        for key, sec in s.metrics["phase_sec"].items():
            tracer.add(key, t, t + sec, sid, cpu_busy_s=sampler.busy_s(t, t + sec),
                       **_stage_sum(s.stages, t, t + sec))
            t += sec
        tracer.add("commit", *commits[s.k], sid)


def time_episodes(spark, wl, seeds: list[str], seconds: float, stats):
    """Fresh-state episodes until the next one would overrun the window
    (at least one runs)."""
    cpu = measure.CpuWindow()
    cpu.start()
    t_start = time.perf_counter()
    episodes = []
    while True:
        t0 = time.perf_counter()
        ep = run_episode(spark, wl, os.path.join(measure.WORK, f"ep{len(episodes)}"),
                         seeds, stats)
        episodes.append(ep)
        now = time.perf_counter()
        if ep.error or (now - t_start) + (now - t0) > seconds:
            break
    cpu.stop()
    return episodes, time.perf_counter() - t_start, cpu.steal_pct


def check_all(spark, wl, episodes, seed: int):
    """Output checks of every episode, plus exact repeat of per-step counts
    across episodes. Returns (failed ops, violations, landed counts)."""
    failed = 0
    violations: list[str] = []
    landed = []
    for ep in episodes:
        bad = [f"raised: {ep.error}"] if ep.error else []
        if not ep.error:
            try:
                more, info = checks.check_episode(spark, wl, ep, seed)
                bad += more
                landed += info["landed"]
            except Exception as e:  # a check that cannot run has failed
                bad.append(f"check raised {type(e).__name__}: {e}")
        if bad:
            failed += ep.ops
            violations += bad
    counts = [[{k: s.metrics[k] for k in ("admitted", "fetched", "new_urls",
                                         "frontier_size")} for s in ep.steps]
              for ep in episodes]
    if any(c != counts[0] for c in counts[1:]):
        violations.append("per-step counts differ between episodes of one seed")
        failed = sum(ep.ops for ep in episodes)
    return failed, violations, landed


def run_crawl(spark, wl, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    warm = wl.warm()
    wep = run_episode(spark, warm, os.path.join(measure.WORK, "warm"),
                      seed_urls(seed, warm))
    if wep.error:
        raise RuntimeError(f"warm-up episode failed: {wep.error}")
    seeds = seed_urls(seed, wl)
    stats = measure.SparkStats(spark) if trace else None
    sampler = measure.CpuSampler() if trace else None
    setup_s = measure.process_age_s()

    if sampler:
        sampler.start()
    episodes, timed_s, steal_pct = time_episodes(spark, wl, seeds, seconds, stats)
    if sampler:
        sampler.stop()

    rss_mb = measure.jvm_peak_rss_mb(measure.jvm_pid(spark))
    work_bytes = measure.dir_bytes(measure.WORK)
    attempted = sum(ep.ops for ep in episodes)
    failed, violations, landed = check_all(spark, wl, episodes, seed)
    if work_bytes > measure.WORK_CAP_BYTES:
        violations.append(f"work dir {work_bytes} B over cap {measure.WORK_CAP_BYTES}")
        failed = attempted
    complete = all(ep.steps and not ep.error for ep in episodes)
    ok = complete and not violations
    report = {
        "workload": wl.name, "seed": seed, "trace": trace,
        "episodes": len(episodes), "steps": sum(len(ep.steps) for ep in episodes),
        "timed_s": timed_s, "steal_pct": steal_pct, "jvm_peak_rss_mb": rss_mb,
        "wall": wall_figures(episodes) if complete else None,
        "work_bytes": work_bytes, "violations": violations,
        "per_step": [
            {"k": s.k, "wall_s": s.wall_s, "cpu_busy_s": s.cpu_busy_s, **s.metrics}
            for ep in episodes for s in ep.steps
        ],
    }
    metrics: dict[str, float] = {}
    if complete and trace:
        t0 = time.time()
        probe_us = probe.probe(wl.n_urls, seed)
        metrics = layer_metrics(episodes, landed, probe_us, stats.cost_s / timed_s)
        tracer = measure.Tracer()
        for j, ep in enumerate(episodes):
            add_spans(tracer, sampler, ep, f"episode[{j}]")
        tracer.add("extractor_probe", t0, time.time(), None, **probe_us)
        os.makedirs(measure.OUT, exist_ok=True)
        path = os.path.join(measure.OUT, f"trace_{wl.name}_seed{seed}.json")
        tracer.write(path)
        report["trace_file"] = os.path.relpath(path, measure.ROOT)
    elif complete:
        metrics = e2e_metrics(episodes, setup_s)
    units = declared_metrics(trace)
    if complete and set(metrics) != set(units):
        raise RuntimeError(f"emitted metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }, report


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(measure.ROOT, "dmp_crawler_spark")):
        print("perfbench: dmp_crawler_spark not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, measure.ROOT)
    measure.reset_work()
    spark = measure.start_spark()
    try:
        result, report = run_crawl(spark, WORKLOADS[args.workload], args.seed,
                                   args.seconds, bool(args.trace))
    finally:
        measure.stop_spark(spark)
        shutil.rmtree(measure.WORK, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
