"""The extraction and link-canonicalisation kernels timed in-process, one
Python thread, no Spark: the per-page work the extraction pandas UDF does."""

from __future__ import annotations

import time

from neocrawler_spark import synth
from neocrawler_spark.functions import canon, css
from neocrawler_spark.functions.extract import extract_links, process_document
from neocrawler_spark.rules import load_rules

MIN_S = 0.5  # repeat each kernel over its page set until this much time


def _rate(fn, items) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(*it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= MIN_S:
            return n / dt


def kernel_rates(params: dict) -> dict[str, float]:
    rules = {r["key"].rsplit(":", 1)[-1]: r for r in load_rules(synth.gen_rules(params))
             if r["domain"] == synth.domain_of(0)}
    host = synth.host_of(0)
    details = [(f"http://{host}/weixin_{i}.html?id={i}", synth.render_detail(0, i)[0],
                rules["detail"], None) for i in range(200)]
    lists = [(f"http://{host}/t_0_{p}.html", synth.render_list(0, 0, p, params)[0],
              rules["list"], None) for p in range(params["lists_per_cat"])]
    id_param = rules["detail"].get("id_parameter")
    raw = [(url, extract_links(css.parse_html(html), rule["drill_rules"]))
           for url, html, rule, _ in lists]
    n_links = sum(len(links) for _, links in raw)

    def wash_and_canon(url, links):
        for link in canon.wash_links(url, links):
            canon.canonicalize(link, id_param)

    return {
        "extract.detail_pages_per_s": _rate(process_document, details),
        "extract.list_pages_per_s": _rate(process_document, lists),
        "canon.links_per_s": _rate(wash_and_canon, raw) * n_links / len(raw),
    }
