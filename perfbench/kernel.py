"""Kernel layer (``crawl_spark.functions``) timed in-process, no Spark.

The sample is the first ``SAMPLE_PAGES`` pages of the crawl fixture the
workload seed generates, and the hrefs extracted from them. Each function
is timed over the whole sample ``REPEATS`` times and the median pass is
reported as a rate.
"""

from __future__ import annotations

import statistics
import time

SAMPLE_PAGES = 300
REPEATS = 5


def _median_pass_s(fn) -> float:
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def kernel_metrics(pages) -> dict:
    """``pages``: a pandas frame with ``url`` and ``html`` columns."""
    from crawl_spark.functions.htmldom import extract_links, parse_html, sel_text
    from crawl_spark.functions.urlnorm import canonicalize

    sample = pages.head(SAMPLE_PAGES)
    htmls = list(sample["html"])
    urls = list(sample["url"])
    roots = [parse_html(h) for h in htmls]
    hrefs = [link for root, u in zip(roots, urls) for link in extract_links(root, u, "a")]
    n = len(htmls)
    return {
        "functions.parse_html.pages_per_s": n
        / _median_pass_s(lambda: [parse_html(h) for h in htmls]),
        "functions.sel_text.pages_per_s": n
        / _median_pass_s(lambda: [sel_text(r, "body") for r in roots]),
        "functions.extract_links.pages_per_s": n
        / _median_pass_s(lambda: [extract_links(r, u, "a") for r, u in zip(roots, urls)]),
        "functions.canonicalize.urls_per_s": len(hrefs)
        / _median_pass_s(lambda: [canonicalize(h) for h in hrefs]),
    }
