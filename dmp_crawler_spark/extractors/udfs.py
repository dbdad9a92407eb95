"""Vectorized extraction stage: Arrow-batched mapInPandas over the html column.

This is the Spark rewrite of the reference's per-site `visit()` dispatch
(e.g. …/crawler/auto/Crawler4Autohome.java:125-141): classification by URL
regex happens JVM-side; the HTML field extraction — inherently a parse, the
one thing Catalyst can't express — runs in Arrow batches through the shared
oracle functions (extractors/oracle.py), so the pandas-UDF output is
byte-identical to the oracle by construction.

Output model mirrors the reference's 3-level HBase map
(…/crawler/BaseCrawler.java:28-55): (rowkey, family, cols map<string,string>).

Link discovery (HtmlParseData.getOutgoingUrls + addSeed, e.g.
…/crawler/auto/Crawler4BitAuto.java:357,564) becomes a UDTF-style
mapInPandas producing (src_url, out_url, anchor) rows — data, not control
flow — implemented with pandas' vectorized str.extractall (no per-row loop).

The crawl loop uses neither stage directly: every fetcher goes through
`fetch_extract`, which runs the same extraction and link scan inside the
fetch worker, so html is parsed where it is fetched.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dmp_crawler_spark.extractors import oracle

EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("rowkey", T.StringType(), True),
    T.StructField("family", T.StringType(), True),
    T.StructField("cols", T.MapType(T.StringType(), T.StringType()), True),
])

LINKS_SCHEMA = T.StructType([
    T.StructField("src_url", T.StringType(), False),
    T.StructField("out_url", T.StringType(), False),
    T.StructField("anchor", T.StringType(), True),
])

_HREF_RE = r'<a\s[^>]*href="([^"#]+)"[^>]*>(.*?)</a>'


def _decode(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        # GBK fallback mirrors common/AjaxClient.java:110,127 decode path
        try:
            return bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            return bytes(html).decode("gbk", errors="replace")
    return str(html)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {"url": [], "rowkey": [], "family": [], "cols": []}
        for url, html in zip(pdf["url"].values, pdf["html"].values):
            for row in oracle.extract(url, _decode(html)):
                out["url"].append(url)
                out["rowkey"].append(row["rowkey"])
                out["family"].append(row["family"])
                out["cols"].append(row["cols"])
        yield pd.DataFrame(out, columns=["url", "rowkey", "family", "cols"])


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) -> (url, rowkey, family, cols).

    Column-prunes to (url, html) before the Python stage so the Arrow
    transfer carries only what the parse needs.
    """
    return pages.select("url", "html").mapInPandas(_extract_batches, EXTRACT_SCHEMA)


def _links_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        html = pdf["html"].map(_decode)
        hits = html.str.extractall(_HREF_RE)  # vectorized, not per-row Python
        if hits.empty:
            yield pd.DataFrame({"src_url": [], "out_url": [], "anchor": []}).astype(str)
            continue
        src = pdf["url"].iloc[hits.index.get_level_values(0)].reset_index(drop=True)
        yield pd.DataFrame({
            "src_url": src,
            "out_url": hits[0].reset_index(drop=True),
            "anchor": hits[1].reset_index(drop=True),
        })


def discover_links(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) -> exploded (src_url, out_url, anchor) rows."""
    return pages.select("url", "html").mapInPandas(_links_batches, LINKS_SCHEMA)


# the per-row fields the fused worker adds after the fetcher's meta
# columns; kind is 'page' | 'result' | 'link'
FETCH_EXTRACT_FIELDS = [
    T.StructField("kind", T.StringType(), False),
    T.StructField("rowkey", T.StringType(), True),
    T.StructField("family", T.StringType(), True),
    T.StructField("cols", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("out_url", T.StringType(), True),
    T.StructField("anchor", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
]


def fetch_extract(rows: DataFrame, meta: T.StructType, page_source) -> DataFrame:
    """The one fetcher contract: fused fetch+extract in a single Python
    pass per URL, producing kind='page' (meta + lang/text), kind='result'
    (extracted fields) and kind='link' (discovered edges, resolved AND
    normalized, min parent depth) rows. `rows` carries the `meta` columns
    plus whatever `page_source(row) -> (html_str, lang, text)` reads; a
    URL the fetcher has no page for must simply be absent from `rows` (it
    then yields no page row and takes the engine's retry -> fail arm).
    The html is consumed inside the worker and never crosses the Arrow
    boundary. This is the production shape of crawler4j's visit():
    download and parse in the same worker
    (…/main/CrawlerManager.java:102-108)."""
    import re as _re

    # same flags as the pandas str.extractall path (no DOTALL) so the
    # fused pass and discover_links find identical link sets
    href_re = _re.compile(_HREF_RE)
    meta_fields = meta.fieldNames()
    extra = [f.name for f in FETCH_EXTRACT_FIELDS]
    out_schema = T.StructType(meta.fields + FETCH_EXTRACT_FIELDS)

    def gen(batches):
        from dmp_crawler_spark.frontier.urlnorm import (
            py_normalize_url,
            py_resolve_link,
        )

        # link rows dominate the output volume (~40×/page): carry only
        # (url=src, out_url, depth) and pre-combine duplicate edges
        # map-side — the Python analog of a partial aggregate before
        # the shuffle. The combine keys on the RESOLVED absolute URL
        # (py_resolve_link ≡ urljoin, parity-tested in
        # tests/test_frontier.py): keying on the raw href would merge
        # directory-relative hrefs from different source directories
        # and silently drop a discoverable URL (ADVICE r01). The
        # window is the whole PARTITION, not one Arrow batch: at the
        # default 256-row batches a per-batch dict only spans 256
        # pages and popular cross-page links survive ~7× (measured
        # 800k vs 560k link rows/iteration at bench scale). Bounded:
        # past _LINK_FLUSH entries the dict is flushed as a partial
        # frame, so executor memory never scales with partition size
        # (500k entries ≈ 100 MB of Python dict — sized for the
        # spark.executor.pyspark.memory defaults, not for this box).
        _LINK_FLUSH = 500_000
        link_min_depth: dict[str, tuple] = {}

        def links_frame():
            # normalize ONCE PER UNIQUE link at flush time (downstream
            # takes out_url as final), re-combining keys that
            # normalization collapses
            norm_min: dict[str, tuple] = {}
            for raw, (src, d) in link_min_depth.items():
                key = py_normalize_url(raw)
                prev = norm_min.get(key)
                if prev is None or d < prev[1]:
                    norm_min[key] = (src, d)
            n_links = len(norm_min)
            link_cols: dict[str, list] = {
                c: [None] * n_links for c in meta_fields + extra
            }
            link_cols["out_url"] = list(norm_min.keys())
            link_cols["url"] = [s for s, _ in norm_min.values()]
            link_cols["depth"] = [d for _, d in norm_min.values()]
            link_cols["kind"] = ["link"] * n_links
            return pd.DataFrame(link_cols, columns=meta_fields + extra)

        for pdf in batches:
            out: dict[str, list] = {c: [] for c in meta_fields + extra}

            def emit(row, kind, rowkey=None, family=None, cols=None,
                     out_url=None, anchor=None, lang=None, text=None):
                for c in meta_fields:
                    out[c].append(row[c])
                out["kind"].append(kind)
                out["rowkey"].append(rowkey)
                out["family"].append(family)
                out["cols"].append(cols)
                out["out_url"].append(out_url)
                out["anchor"].append(anchor)
                out["lang"].append(lang)
                out["text"].append(text)

            for row in pdf.to_dict("records"):
                html, lang, text = page_source(row)
                # kind='page' rows are the pages-table landing (north
                # star: fetched pages land in an Iceberg table with a
                # boilerplate-stripped text column); html bytes are
                # elided from the log only for sandbox disk budget.
                emit(row, "page", lang=lang, text=text)
                d = row["depth"]
                src = row["url"]
                for m in href_re.finditer(html):
                    key = py_resolve_link(src, m.group(1))
                    prev = link_min_depth.get(key)
                    if prev is None or d < prev[1]:
                        link_min_depth[key] = (src, d)
                for r in oracle.extract(src, html):
                    emit(row, "result", rowkey=r["rowkey"],
                         family=r["family"], cols=r["cols"])

            # page/result rows are yielded per batch (bounded memory);
            # link rows accumulate across the partition and land as
            # their own frame(s) below
            yield pd.DataFrame(out, columns=meta_fields + extra)
            if len(link_min_depth) >= _LINK_FLUSH:
                yield links_frame()
                link_min_depth.clear()

        if link_min_depth:
            yield links_frame()

    # The admitted set is tiny in bytes (urls + meta), so AQE coalesces
    # it to 1-2 partitions — which would serialize the expensive Python
    # stage. Repartition to full width first: a few-MB shuffle buys a
    # cluster-wide fetch stage (production sizes the fetch stage by URL
    # count, not byte size).
    width = rows.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(width, "url").mapInPandas(gen, out_schema)


def classify_pages(pages: DataFrame) -> DataFrame:
    """F2 URL-class dispatch, JVM-side (regex gate before the Python stage),
    mirroring shouldVisit (…/crawler/auto/Crawler4Autohome.java:97-141)."""
    return pages.withColumn(
        "page_class", F.regexp_extract("url", r"https?://[^/]+/([a-z_]+)/", 1)
    )
