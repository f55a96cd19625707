"""Driver contract for the spark-graft builder (PySpark target).

queries() = every SURVEY.md §2 operator re-expressed over the driver's
testdata tables + the training-data ops (dedup/similarity/text), each paired
with a DuckDB oracle in oracle_sql(). The crawl engine itself (frontier,
url_state seen-set join, quota scheduler, politeness, extraction) runs over
its own catalog — covered by `crawl_round_smoke` (deterministic golden-VALUES
oracle over a 3-round crawl summary) and exhaustively by
tests/test_e2e_crawl.py.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from neocrawler_spark.functions import text as text_ops
from neocrawler_spark.operators import analytics, crawl_gate, dedup, similarity

_ALL = {
    **analytics.QUERIES,
    **crawl_gate.QUERIES,
    **dedup.QUERIES,
    **similarity.QUERIES,
    **text_ops.QUERIES,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the weighted-fair quota scheduler (the reference's core
    scheduling operator, scheduler/index.js:210/250-254, as a distributed
    window — SURVEY.md §2.4) on sf0.001."""
    return analytics.q_weighted_fair_quota(spark, "/root/testdata/sf0.001")


def _crawl_round_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full crawl rounds (seed → politeness → fetch-join → validate →
    extract pUDF → discovery → state merge) on the deterministic synthetic
    site graph (home → list → detail), summarized per (round, status) with a
    seq-sum ordering fingerprint. The crawl is input-independent and
    rerun-deterministic (tests/test_e2e_crawl.py::test_rerun_determinism), so
    the oracle is the GOLDEN expected summary as literal VALUES — any drift
    in scheduling order, politeness, validation, or discovery breaks the
    hash. Full per-url assertions live in tests/test_e2e_crawl.py and
    tests/test_oracle_parity.py (sequential reference-semantics oracle)."""
    from neocrawler_spark import schema, synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds
    from pyspark.sql import functions as F

    params = synth.site_params(n_domains=1, cats=1, lists_per_cat=1, details_per_list=2,
                               hot_details_per_list=2)
    # one detail page is missing from the corpus: its fetch fails and retries,
    # pinning the retry/failure path in the golden alongside the happy path
    pages = synth.gen_pages_df(spark, params).where(
        ~F.col("url").endswith("weixin_1.html?id=1")
    )
    cat = Catalog(tempfile.mkdtemp(prefix="ncs_smoke_"))
    ctx = CrawlContext(
        spark, cat, load_rules(synth.gen_rules(params)), pages,
        synth.gen_robots_df(spark, params),
        settings={"buckets": 4},
    )
    run_rounds(ctx, 3)
    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    summary = (
        flog.groupBy("round", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("seq").alias("seq_sum"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
    )
    # collect the handful of summary rows eagerly so the throwaway catalog
    # can be deleted before returning (the result no longer references it)
    rows = summary.collect()
    shutil.rmtree(cat.root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "round int, status string, n long, seq_sum long, "
        "min_url string, max_url string",
    )


# Golden expected summary (see _crawl_round_smoke docstring). Regenerate with
# `python scripts/smoke_golden.py` after any intentional semantics change.
SQL_CRAWL_ROUND_SMOKE = """
SELECT CAST(r AS INTEGER) AS round, status, CAST(n AS BIGINT) AS n,
       CAST(seq_sum AS BIGINT) AS seq_sum, min_url, max_url
FROM (VALUES
  (1, 'fetched', 2, 2207613190146,
   'http://www1.site0.test/',
   'http://www1.site0.test/t_0_0.html'),
  (2, 'failed', 1, 2203586658306,
   'http://www1.site0.test/weixin_1.html?id=1',
   'http://www1.site0.test/weixin_1.html?id=1'),
  (2, 'fetched', 2, 4415763251202,
   'http://www1.site0.test/fenlei_0.html',
   'http://www1.site0.test/weixin_0.html?id=0')
) AS t(r, status, n, seq_sum, min_url, max_url)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: fn for name, (fn, _sql) in _ALL.items()}
    out["crawl_round_smoke"] = _crawl_round_smoke
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: sql for name, (_fn, sql) in _ALL.items() if sql}
    out["crawl_round_smoke"] = SQL_CRAWL_ROUND_SMOKE
    return out
