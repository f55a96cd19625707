"""`crawl`: three crawl rounds over a bucketed synthetic corpus, in a closed
loop (one client, the round driver, starts a round only after the previous
one committed):

  discover  the home pages and every list page (seeded by pagination macros)
            are fetched and discover every detail page: nearly all
            discovered URLs are new (seen.new_share about 1).
  wave      the detail wave: extraction carries the round.
  recrawl   one schedule interval later the branch pages are due again; they
            are re-fetched and re-discover the same links, all of them in
            url_state already (seen.new_share about 0).

`discover` and `recrawl` fetch and discover nearly the same pages and links
and differ in the share already seen, so a seen-set change that helps one
and costs the other shows on the pair. Rounds are driven one at a time
through plans.round.load_state and run_round.
"""

from __future__ import annotations

import random
import statistics
import time

from neocrawler_spark import synth
from neocrawler_spark.plans.round import CrawlContext, load_state, run_round
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.bucketed import write_bucketed_pages
from neocrawler_spark.sources.tables import Catalog

import check
import proc
import spans

KINDS = ("discover", "wave", "recrawl")
DETAILS_PER_LIST = 32  # hot domain: 4x; the seed moves it by up to 1
SITE = dict(n_domains=4, cats=4, lists_per_cat=8, seed_all_lists=True, save_pages=False)
SETTINGS = {
    "schedule_quantity_limitation": 2_000_000,
    "buckets": 8,
    "bloom_keys_per_bucket": 50_000,
    # the round clock advances an hour per round: home, category and list
    # rules (30-60 min windows) are due again in round 3, details (1 day) not
    "schedule_interval": 3600,
}
CORPUS_BUCKETS = 8


def site_params(seed: int) -> dict:
    k = DETAILS_PER_LIST + random.Random(seed).randint(-1, 1)
    return synth.site_params(**SITE, details_per_list=k, hot_details_per_list=4 * k)


class CrawlWorkload:
    def __init__(self, h, seed: int):
        self.h, self.seed = h, seed
        self.params = site_params(seed)
        self.n_units = 0

    def setup(self) -> dict:
        h, spark = self.h, self.h.spark
        t0 = time.perf_counter()
        self.pages = write_bucketed_pages(
            spark, synth.gen_pages_df(spark, self.params), f"{h.work}/corpus",
            name="perfbench_pages", n_buckets=CORPUS_BUCKETS)
        self.rules = load_rules(synth.gen_rules(self.params))
        self.robots = synth.gen_robots_df(spark, self.params)
        corpus_s = time.perf_counter() - t0
        # warm-up: the first round once, on a throwaway catalog
        t0 = time.perf_counter()
        cat = Catalog(f"{h.work}/warmup")
        run_round(self._ctx(cat), load_state(cat))
        warmup_s = time.perf_counter() - t0
        self.warm_fp = check.crawl_fingerprints(cat, max_round=1)
        return {"setup.corpus_s": corpus_s, "setup.warmup_s": warmup_s}

    def _ctx(self, cat) -> CrawlContext:
        return CrawlContext(self.h.spark, cat, self.rules, self.pages, self.robots,
                            settings=dict(SETTINGS))

    def unit(self, tracer: spans.Tracer | None) -> dict:
        """One measured crawl on a fresh catalog; its output check is the
        returned `check`, run outside the timed part."""
        self.n_units += 1
        root = f"{self.h.work}/crawl-{self.n_units}"
        cat = spans.TracedCatalog(root, tracer) if tracer else Catalog(root)
        ctx = self._ctx(cat)
        rounds, raised = [], None
        t0 = time.perf_counter()
        with spans.maybe(tracer, "run", unit=self.n_units):
            for kind in KINDS:
                before = 0
                if tracer and cat.exists("url_state"):
                    with tracer.own_work():
                        before = cat.manifest("url_state")["total_rows"]
                with spans.maybe(tracer, "run_round", kind=kind) as rsp:
                    try:
                        with spans.maybe(tracer, "load_state"):
                            state = load_state(cat)
                        t1, c1 = time.perf_counter(), proc.tree_cpu_s()
                        run_round(ctx, state)
                        wall = time.perf_counter() - t1
                        cpu = proc.tree_cpu_s() - c1
                    except Exception as e:  # counted as a failed round, not retried
                        raised = f"{kind}: {type(e).__name__}: {e}"
                if raised:
                    rounds.append({"kind": kind, "failed_op": True})
                    break
                m = cat.last_completed_round()["metrics"]["round_metrics"]
                r = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "fetched": m["fetched"],
                     "failed": m["failed"], "phase_s": m["phase_s"], "failed_op": False}
                if tracer:
                    with tracer.own_work():
                        spans.add_phase_spans(tracer, rsp, m["phase_s"])
                        cand = sum(n for rno, name, n in cat.stage_rows_seen
                                   if rno == m["round"] and name == "pe")
                        new = cat.manifest("url_state")["total_rows"] - before
                    r["new_share"] = new / cand if cand else 0.0
                rounds.append(r)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "rounds": rounds, "catalog": cat,
                "check": lambda: [raised] if raised else self._check(cat, rounds)}

    def _check(self, cat, rounds: list[dict]) -> list[str]:
        """Problems with the crawl's output; a bad crawl fails all its rounds."""
        problems = []
        fp = check.crawl_fingerprints(cat)
        self.last_fp = fp
        if check.crawl_fingerprints(cat, max_round=1) != self.warm_fp:
            problems.append("round 1 differs from the warm-up round")
        gold = check.golden("crawl", self.seed)
        if gold is not None and gold != fp:
            problems.append(f"fingerprints differ from the golden: {sorted(k for k in fp if fp[k] != gold.get(k))}")
        checked, bad = check.body_mismatches(cat, synth.render_detail)
        if checked == 0 or bad:
            problems.append(f"extracted body text: {bad} of {checked} detail pages differ")
        if problems:
            for r in rounds:
                r["failed_op"] = True
        return problems


def end_to_end(units: list[dict]) -> dict:
    """The end-to-end metrics, in CPU seconds of the benchmark's process
    tree, and the same figures in wall seconds (per-layer `wall.*`)."""
    rounds = [r for u in units for r in u["rounds"] if not r["failed_op"]]
    urls = sum(r["fetched"] + r["failed"] for r in rounds)
    out = {}
    for key, prefix in (("cpu_s", "cpu_"), ("wall_s", "wall.")):
        per_round = [r[key] for r in rounds] or [float("nan")]
        out.update({
            f"{prefix}urls_per_s": urls / sum(u[key] for u in units),
            f"{prefix}unit_s": statistics.median(u[key] for u in units),
            f"{prefix}round_s_p50": statistics.median(per_round),
            f"{prefix}round_s_max": max(per_round),
        })
    return out


def per_layer(units: list[dict], tracer: spans.Tracer) -> dict:
    n = len(units)
    out: dict[str, float] = {}

    def add(name, v):
        out[name] = out.get(name, 0.0) + v / n

    for u in units:
        for r in u["rounds"]:
            if r["failed_op"]:
                continue
            add(f"round.{r['kind']}_s", r["wall_s"])
            add(f"seen.new_share.{r['kind']}", r["new_share"])
            for key, phase in spans.PHASES.items():
                add(f"round.phase.{phase}_s", r["phase_s"].get(key, 0.0))
                add(f"round.{r['kind']}.phase.{phase}_s", r["phase_s"].get(key, 0.0))
        for _, name, rows in u["catalog"].stage_rows_seen:
            add(f"tables.stage_rows.{name}", rows)
    for s in tracer.spans:
        if not s["name"].startswith("tables."):
            continue
        dur = s["end"] - s["start"]
        if s["name"] == "tables.stage":
            add("tables.stage_s", dur)
            add("tables.stage_calls", 1)
        elif s["name"] == "tables.commit_round":
            add("tables.commit_round_s", dur)
        else:
            table = s["attrs"]["table"]
            add(f"tables.commit_s.{'crawled' if table.startswith('crawled') else table}", dur)
    return out
