#!/usr/bin/env python
"""Scaling diagnosis probe: run the crawl at one parallelism level on a
mid-size corpus and print FULL per-round metrics (incl. phase_s) so the
non-scaling phases are visible.

Usage: python scripts/scaling_probe.py <cores> [--size small|mid|big]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

SIZES = {
    # ~11k pages
    "small": dict(n_domains=4, cats=6, lists_per_cat=8,
                  details_per_list=30, hot_details_per_list=120),
    # ~180k pages (old scaling corpus)
    "mid": dict(n_domains=4, cats=8, lists_per_cat=16,
                details_per_list=350, hot_details_per_list=1400,
                seed_all_lists=True),
    # ~1.1M pages
    "big": dict(n_domains=4, cats=8, lists_per_cat=32,
                details_per_list=700, hot_details_per_list=2800,
                seed_all_lists=True),
}
SETTINGS = {"schedule_quantity_limitation": 6_000_000, "buckets": 64}


def main():
    cores = int(sys.argv[1])
    size = "mid"
    if "--size" in sys.argv:
        size = sys.argv[sys.argv.index("--size") + 1]
    from neocrawler_spark import synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.session import get_spark
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds

    extra = {}
    if "--eventlog" in sys.argv:
        evdir = sys.argv[sys.argv.index("--eventlog") + 1]
        import os
        os.makedirs(evdir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir}
    spark = get_spark("probe", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=extra)
    params = synth.site_params(**SIZES[size])
    wh = tempfile.mkdtemp(prefix="ncs_probe_")
    try:
        corpus_dir = f"{wh}/pages_corpus"
        t0 = time.time()
        synth.gen_pages_df(spark, params).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)
        n_pages = pages.count()
        gen_s = time.time() - t0
        ctx = CrawlContext(spark, Catalog(wh), load_rules(synth.gen_rules(params)),
                           pages, synth.gen_robots_df(spark, params),
                           settings=dict(SETTINGS))
        t0 = time.time()
        metrics = run_rounds(ctx, 3)
        wall = time.time() - t0
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    processed = sum(m["fetched"] + m["failed"] for m in metrics)
    print("PROBE " + json.dumps({
        "cores": cores, "size": size, "n_pages": n_pages, "gen_s": round(gen_s, 1),
        "wall_s": round(wall, 2), "urls_per_sec": round(processed / wall, 1),
        "rounds": [
            {"round": m["round"], "fetched": m["fetched"],
             "wall_s": round(m["wall_s"], 2), "phase_s": m.get("phase_s"),
             "commit_s": m.get("commit_s")}
            for m in metrics
        ],
    }, indent=1))


if __name__ == "__main__":
    main()
