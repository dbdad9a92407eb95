"""Extractor sub-layer probe: the fused fetch worker's per-page body,
timed single-process on a seeded page sample from a workload's URL space.

Mirrors GeneratorFetcher.fetch_extract's per-page sequence: build the page
(templates.build_page, which parses once via htmlmini for its text), scan
hrefs and resolve them (py_resolve_link) into the min-depth link dict, run
oracle.extract (a parse-memo hit, as in the worker), and normalize each
unique link once (py_normalize_url). The parse inside build_page is timed
separately on a cold memo so page_build.us is the template work alone.
"""

from __future__ import annotations

import random
import re
import time


def probe(n_urls: int, seed: int, n_pages: int = 300) -> dict:
    """Mean µs per page for each sub-layer, plus µs per unique link for
    normalization (the worker normalizes per unique link, not per page)."""
    from dmp_crawler_spark.corpus import templates
    from dmp_crawler_spark.extractors import htmlmini, oracle
    from dmp_crawler_spark.extractors.udfs import _HREF_RE
    from dmp_crawler_spark.frontier.urlnorm import py_normalize_url, py_resolve_link

    href_re = re.compile(_HREF_RE)
    idxs = random.Random(seed).sample(range(n_urls), n_pages)
    build = parse = scan = extract = 0.0
    links: dict[str, tuple] = {}
    clock = time.perf_counter
    for idx in idxs:
        t0 = clock()
        page = templates.build_page(idx, n_urls)
        t1 = clock()
        html = page["html_str"]
        src = page["url"]
        if page["archetype"] != "json_api":  # build_page parsed it for text
            htmlmini.parse_with_text("<p></p>")  # evict the parse memo
            t2 = clock()
            htmlmini.parse_with_text(html)
            parse_s = clock() - t2
        else:
            parse_s = 0.0
        t3 = clock()
        for m in href_re.finditer(html):
            key = py_resolve_link(src, m.group(1))
            prev = links.get(key)
            if prev is None or 0 < prev[1]:
                links[key] = (src, 0)
        t4 = clock()
        oracle.extract(src, html)
        t5 = clock()
        build += (t1 - t0) - parse_s
        parse += parse_s
        scan += t4 - t3
        extract += t5 - t4
    t0 = clock()
    for raw in links:
        py_normalize_url(raw)
    norm = clock() - t0
    n = float(n_pages)
    return {
        "page_build.us": 1e6 * build / n,
        "parse.us": 1e6 * parse / n,
        "link_scan.us": 1e6 * scan / n,
        "extract.us": 1e6 * extract / n,
        "normalize.us_per_link": 1e6 * norm / max(1, len(links)),
    }
