#!/usr/bin/env python
"""Phase-level profile of the scaling crawl job at one parallelism level.

Usage: python scripts/profile_round.py <cores> [rounds] [scale]
  scale: pages multiplier knob — details_per_list (default 50; hot = 4x).
Prints per-round phase_s + commit_s + codegen_compiles JSON lines (the data
bench.py discards).
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else None
    det = int(sys.argv[3]) if len(sys.argv) > 3 else 50

    from bench import SCALING_PARAMS, SCALING_ROUNDS, SCALING_SETTINGS
    SCALING_PARAMS = dict(SCALING_PARAMS, details_per_list=det,
                          hot_details_per_list=det * 4)
    from neocrawler_spark import synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.session import get_spark
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds

    rounds = rounds or SCALING_ROUNDS
    extra = {}
    if os.environ.get("PROF_EVLOG"):
        os.makedirs(os.environ["PROF_EVLOG"], exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": os.environ["PROF_EVLOG"]}
    spark = get_spark("profile", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=extra)
    params = synth.site_params(**SCALING_PARAMS)
    wh = tempfile.mkdtemp(prefix="ncs_prof_")
    try:
        corpus_dir = f"{wh}/pages_corpus"
        synth.gen_pages_df(spark, params).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)
        ctx = CrawlContext(
            spark, Catalog(wh), load_rules(synth.gen_rules(params)), pages,
            synth.gen_robots_df(spark, params), settings=dict(SCALING_SETTINGS),
        )
        print(f"CORPUS ready cores={cores}", flush=True)
        t0 = time.time()
        metrics = []
        for _ in range(rounds):
            metrics.extend(run_rounds(ctx, 1))
            m = metrics[-1]
            print("ROUND " + json.dumps({
                "round": m["round"], "fetched": m["fetched"], "failed": m["failed"],
                "wall_s": round(m["wall_s"], 2),
                "phase_s": m.get("phase_s"), "commit_s": m.get("commit_s"),
                "codegen_compiles": m.get("codegen_compiles"),
            }), flush=True)
        wall = time.time() - t0
    finally:
        shutil.rmtree(wh, ignore_errors=True)

    total = sum(m["fetched"] + m["failed"] for m in metrics)
    print("TOTAL " + json.dumps({
        "cores": cores, "urls": total, "wall_s": round(wall, 2),
        "urls_per_sec": round(total / wall, 2),
    }), flush=True)


if __name__ == "__main__":
    main()
