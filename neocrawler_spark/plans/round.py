"""One crawl round as ONE DataFrame job (SURVEY.md §3.1-3.2 restructured).

The reference's scheduling round + spider loop cross a network boundary on
every Redis op (per-URL hgetall×2 + hmset + rpush); here the whole round is
columnar:

  frontier ⋈ url_state → admission predicate → quota window (deterministic
  carry) → politeness top-k per host → fetch = batch ⋈ pages → validation →
  extraction pUDF → (links: explode → seen-set join (exact bucketed left join
  against url_state) → discovery predicate → frontier append) ∥ (content →
  crawled) ∥ (state merge) ∥ (metrics agg)

Determinism contract (north_rule: "matching the reference's crawl ordering
and URL-seen set under the same seed list + politeness budget"):
* round clock = ``base_ts + round_no*schedule_interval`` — never now();
* total order = (round, rule-rate desc, seeds-before-pops, pop order), pinned
  into ``seq``; every window orders by the unique seq → bit-stable reruns;
* the reference's event-loop-timing-dependent interleavings are pinned to
  "discovery observes all of this round's fetch outcomes" (SURVEY.md §7) —
  realized by overlaying this round's schedule/crawl events on url_state
  before the discovery predicate.

In-round retries: the reference re-emits a failed urlinfo immediately
(spider.js:350-372 → 'new_url_queue'); with a deterministic corpus standing
in for the network every retry has the same outcome, so the retry loop
collapses to its fixpoint — ``download_retry+1`` 'crawling' record pushes
then 'crawled_failure' — inside the same round.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schema
from ..functions import canon
from ..functions.extract import extract_udf
from ..operators.scheduler import (
    consume_quota,
    per_host_budget,
    quota_cts,
    robots_allowed,
    scheduler_admit,
)
from ..rules import (
    detect_key_udf,
    detect_link,
    quota_with_carry,
    rules_by_domain,
    rules_by_key,
)
from ..sources.tables import Catalog

# seq = round * 2^40 + rule_rank * 2^32 + pop_offset  (unique total order)
ROUND_STRIDE = 1 << 40
RANK_STRIDE = 1 << 32
POP_OFFSET = 1 << 28  # seeds (offset 0) sort before quota pops within a rule
DISC_RANK = 255  # discovery appends sort after all scheduled entries
SEED_ISIN_LIMIT = 100_000  # most seed hashes probed as an isin literal (A2)

DEFAULT_SETTINGS = {
    # reference defaults: /root/reference/instance/example/settings.json:8-19
    "schedule_quantity_limitation": 200,
    "schedule_interval": 60,
    "download_retry": 3,
    "keep_link_relation": True,
    "save_content": True,
    "buckets": 64,
    "default_host_budget": 1 << 30,
    "politeness_salts": 16,
}

def EMPTY_ARR():  # must be lazy: Column construction needs an active session
    return F.array().cast("array<string>")


# rule-attribute columns available to _with_rule_cols (name → literal builder)
_RULE_COL_BUILDERS = {
    "rate": lambda ctx, r: F.lit(float(r["rate"])),
    "interval_s": lambda ctx, r: F.lit(int(r["schedule_interval"])).cast("int"),
    "keywords": lambda ctx, r: (
        F.array(*[F.lit(k) for k in kw]).cast("array<string>")
        if (kw := (r.get("validation_keywords") or [])) else
        F.array().cast("array<string>")
    ),
    "is_binary": lambda ctx, r: F.lit(r["format"] == "binary"),
    "rule_type": lambda ctx, r: F.lit(r["type"]),
    "rule_rank": lambda ctx, r: F.lit(ctx.rank[r["key"]]).cast("int"),
    "encoding": lambda ctx, r: F.lit(r.get("encoding")).cast("string"),
}


def _with_rule_cols(df: DataFrame, ctx: "CrawlContext", cols: list[str]) -> DataFrame:
    """Attach rule-config columns keyed on rule_key as ONE literal-map lookup
    instead of a broadcast join (guide §2.4/§2.6 job-count floor): rules are
    driver-known config (dozens), and every broadcast join against them costs
    a SEPARATE sequential job per action (build + collect + relation) — the
    event log showed 4-5 such sub-second jobs per round whose latency, not
    compute, was the cost. try_element_at on a missing key yields NULL,
    exactly the old left join, on every Spark version and with ANSI mode on
    (element_at raises there). A real cluster keeps the same shape: the map
    literal ships inside the task binary like any broadcast, minus the build
    job.
    The map Column is built ONCE per context and reused across all sites and
    rounds: Column construction is py4j-call-bounded, and rebuilding the
    full literal at every site was measured at 3.4 s per 4-round crawl."""
    if not ctx.rules:
        out = df
        for c in cols:
            t = {"rate": "double", "interval_s": "int", "is_binary": "boolean",
                 "rule_rank": "int", "keywords": "array<string>"}.get(c, "string")
            out = out.withColumn(c, F.lit(None).cast(t))
        return out
    looked = F.try_element_at(ctx.rules_map_col(tuple(cols)), F.col("rule_key"))
    out = df.withColumn("_rl", looked)
    for c in cols:
        out = out.withColumn(c, F.col(f"_rl.{c}"))
    return out.drop("_rl")


class CircuitBreakerTripped(RuntimeError):
    """Round-level failure breaker (reference analog: the spider halts the
    process on cumulative extract/download failures, extractor.js:416-423 and
    downloader.js:250). Here the halt lands at the round boundary AFTER the
    round record commits — the completed round stays durable and resume
    restarts cleanly once the operator clears the fault."""


@dataclass
class SpiderExtend:
    """Instance extension bundle — the spider_extend.js module object
    (spider/index.js:69-77 loads {download, extract, pipeline} middlewares
    from the instance dir). Pass via settings={"spider_extend": ...}; hooks
    set directly on CrawlContext win over the bundle's."""

    download_hook: "object" = None
    extract_hook: "object" = None
    pipeline_hook: "object" = None
    alert_hook: "object" = None


@dataclass
class CrawlContext:
    spark: SparkSession
    catalog: Catalog
    rules: list[dict]  # normalized, active (rules.load_rules)
    pages: DataFrame
    robots: DataFrame | None = None
    settings: dict = field(default_factory=dict)
    base_ts: int = 1767312000000  # 2026-01-02T00:00:00Z
    # spider_extend hook surface (reference: spider/index.js:69-77 loads
    # instance spider_extend.js and chains its {download, extract, pipeline}
    # middlewares; README.md:566-646 documents user pipelines).
    # * extract_hook(df) -> df: applied to the post-extraction frame (columns
    #   incl. the `ex` struct) BEFORE discovery/sinks — the DataFrame analog
    #   of an extract middleware rewriting extracted_info (e.g. the wiki
    #   instance's link rewrite, instance/wiki/spider_extend.js:92).
    # * pipeline_hook(crawled_df, catalog, round_no) -> df | None: replaces
    #   or augments content persistence (spider/pipeline.js middleware); a
    #   None return means the hook did its own sink — the default `crawled`
    #   commit is skipped (an empty snapshot is committed to keep round
    #   records consistent).
    # * download_hook(batch_df, pages_df) -> fetched_df: replaces the default
    #   corpus fetch join (spider/downloader.js download middleware — e.g. an
    #   instance swapping HTTP for an API or cache). Must return the batch
    #   columns plus `html binary` (null html = fetch miss, like the default
    #   left join).
    # * alert_hook(round_no, round_metrics) -> None: observer called after
    #   every committed round with the driver-side metrics dict — the
    #   lib/mail.js alert / monitoring-callback analog. Runs BEFORE the
    #   circuit breaker so a tripped round still alerts.
    extract_hook: "object" = None
    pipeline_hook: "object" = None
    download_hook: "object" = None
    alert_hook: "object" = None

    def __post_init__(self):
        self.settings = {**DEFAULT_SETTINGS, **self.settings}
        ext = self.settings.pop("spider_extend", None)
        if ext is not None:  # assembly init (spider/index.js:69-77)
            for h in ("download_hook", "extract_hook", "pipeline_hook",
                      "alert_hook"):
                if getattr(self, h) is None:
                    setattr(self, h, getattr(ext, h, None))
        self.by_key = rules_by_key(self.rules)
        self.by_domain = rules_by_domain(self.rules)
        ranked = sorted(self.rules, key=lambda r: -r["rate"])
        self.rank = {r["key"]: i for i, r in enumerate(ranked)}
        self.total_rates = sum(r["rate"] for r in self.rules)
        self.lifo = {r["key"] for r in self.rules if r["schedule_rule"] == "LIFO"}

    def rules_map_col(self, cols: tuple[str, ...]):
        """Literal map rule_key → struct(cols) for _with_rule_cols, built
        lazily once per context PER column subset (needs an active session)
        and reused across rounds — Column objects are immutable and
        session-scoped. Per-subset (not one all-column map): the lookup
        materializes the struct per row before field extraction, so a site
        that needs one int must not pay for keyword-array literals."""
        if getattr(self, "_rules_maps", None) is None:
            self._rules_maps = {}
        if cols not in self._rules_maps:
            entries = []
            for r in self.rules:
                entries.append(F.lit(r["key"]))
                entries.append(F.struct(*[
                    _RULE_COL_BUILDERS[c](self, r).alias(c) for c in cols
                ]))
            self._rules_maps[cols] = F.create_map(*entries)
        return self._rules_maps[cols]

    def rules_df(self) -> DataFrame:
        rows = [
            (
                r["key"], float(r["rate"]), int(r["schedule_interval"]),
                r.get("validation_keywords") or [], r["format"] == "binary",
                r["type"], self.rank[r["key"]], r.get("encoding"),
            )
            for r in self.rules
        ]
        # one-slice frame (schema.local_df): each of this frame's ~4
        # per-round broadcast builds was otherwise a cores-wide task launch
        # (measured: 32-task 0-CPU stages dominating the per-round floor)
        return schema.local_df(
            self.spark, rows,
            "rule_key string, rate double, interval_s int, keywords array<string>, "
            "is_binary boolean, rule_type string, rule_rank int, encoding string",
        )


def load_state(cat: Catalog) -> dict:
    rec = cat.last_completed_round()
    if rec is None:
        return {"round": 0, "first_schedule": {}}
    cat.restore_round(rec)  # crash-resume: discard any partial later round
    return rec["metrics"]["state"]


def _ev(events: list[str]):
    return F.array(*[F.lit(e) for e in events])


def _ring3(col):
    """records.slice(-3) — keep the last ≤3 entries (scheduler/index.js:434)."""
    return F.when(F.size(col) <= 3, col).otherwise(F.slice(col, -3, 3))


def run_round(ctx: CrawlContext, state: dict | None = None) -> dict:
    """Adaptive-width wrapper: the round body retunes
    spark.sql.shuffle.partitions per phase from manifest/footer row counts
    and plans with AQE off — restore both afterwards so
    co-resident analytic queries keep the session defaults."""
    spark = ctx.spark
    saved = {k: spark.conf.get(k) for k in
             ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    try:
        return _run_round_body(ctx, state)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _run_round_body(ctx: CrawlContext, state: dict | None = None) -> dict:
    import time as _time
    _t = {"start": _time.time()}
    def _mark(name):
        _t[name] = _time.time()
    spark, cat, st = ctx.spark, ctx.catalog, ctx.settings
    compiles0 = _codegen_compiles(spark)
    if state is None:
        state = load_state(cat)
    round_no = state["round"] + 1
    round_ts = ctx.base_ts + round_no * st["schedule_interval"] * 1000
    buckets = st["buckets"]
    seq_base = round_no * ROUND_STRIDE

    url_state = cat.read(spark, "url_state", schema.URL_STATE)
    frontier = cat.read(spark, "frontier", schema.FRONTIER)
    # Stale-trace repair on pop (checkURL, scheduler/index.js:350-370): when
    # the rule set changed between rounds, frontier entries whose rule_key no
    # longer exists are re-matched against the live rules (pUDF over the
    # stale slice only) instead of dropping. Still-unmatched entries are
    # dropped wholesale at this round's frontier rewrite (they are filtered
    # out of the frontier read and never re-written) — the batch analog of
    # the reference's lpop-then-drop. GATED on the rule-set
    # signature recorded in round state: the common path (config unchanged
    # since the frontier was written) pays nothing — no union, no pUDF.
    known_keys = sorted(ctx.by_key.keys())
    rules_sig = hashlib.md5("|".join(known_keys).encode()).hexdigest()
    seen_sigs = set(state.get("rules_sigs") or [])
    if seen_sigs - {rules_sig}:  # frontier may hold keys from other rule sets
        stale = frontier.where(~F.col("rule_key").isin(known_keys))
        frontier = frontier.where(F.col("rule_key").isin(known_keys)).unionByName(
            stale.withColumn("rule_key", detect_key_udf(ctx.by_domain)(F.col("url")))
            .where(F.col("rule_key").isNotNull())
        )
    # Transform-on-pop re-canonicalization (checkURL's transformLink,
    # scheduler/index.js:349-354): when a rule's id_parameter changed between
    # rounds, its frontier entries are re-canonicalized under the CURRENT
    # rule before admission; url_hash + bucket follow the new form. The
    # reference then consults url_info under the NEW hash — entries whose
    # transformed form is unknown are consumed unscheduled ('not exists in
    # urlinfo' → callback(false)), entries collapsing onto one form merge via
    # the first-occurrence admission window below. GATED on per-rule
    # id_parameter signatures in round state: unchanged config pays nothing.
    id_sigs = {
        k: hashlib.md5(
            json.dumps(ctx.by_key[k].get("id_parameter") or []).encode()
        ).hexdigest()
        for k in known_keys
    }
    prev_id_sigs = state.get("id_sigs") or {}
    changed_keys = [
        k for k in known_keys
        if k in prev_id_sigs and prev_id_sigs[k] != id_sigs[k]
    ]
    if changed_keys:
        id_map = {k: ctx.by_key[k].get("id_parameter") for k in changed_keys}
        sl = (
            frontier.where(F.col("rule_key").isin(changed_keys))
            .withColumn("url", canon.canonicalize_udf(id_map)(F.col("url"), F.col("rule_key")))
            .drop("url_hash", "bucket")
        )
        sl = canon.with_url_identity(sl, buckets=st["buckets"])
        keep = frontier.where(~F.col("rule_key").isin(changed_keys))
        frontier = keep.unionByName(sl.select(*keep.columns))
    scheduled = cat.read(spark, "scheduled", schema.SCHEDULED)
    rules_df = ctx.rules_df()

    man = cat.manifest("scheduled")
    backlog = man["total_rows"] if man else 0  # llen from manifest, no job
    balance = max(0, st["schedule_quantity_limitation"] - backlog)
    man_us = cat.manifest("url_state")
    _state_rows = man_us["total_rows"] if man_us else 0
    man_fr = cat.manifest("frontier")
    _frontier_rows = man_fr["total_rows"] if man_fr else 0

    # ---------------- adaptive physical width (manifest-driven)
    # Every action's input size is driver-known BEFORE it runs (snapshot
    # manifests + stage parquet footers), so the ENGINE sets the shuffle
    # width per phase instead of paying a cores-wide task launch for every
    # tiny stage: a converged round's maintenance stages run 1-4 tasks while
    # wave stages fan to 2x cores. This is what keeps the per-round floor
    # from GROWING with the cluster (r4 scaling: a 1.6k-row gated stage
    # spent more wall at local[16] than at local[4] purely on task launch +
    # py4j latency; at 1000 executors a 16k-task empty stage would be worse).
    # AQE is OFF inside the round: the round's partitioning is deterministic
    # by construction — md5-uniform url_hash keys, salted politeness, bucketed prefix sums,
    # manifest-known sizes — so runtime re-planning has no information
    # advantage, and its per-exchange materialization barriers are a
    # measured ~2x job-count overhead per round (127 vs 59 driver jobs).
    # Analytic queries outside run_round keep AQE on (session default).
    _dpar = spark.sparkContext.defaultParallelism

    def _set_width(rows: int, floor: int = 1, cap: int | None = None):
        p = max(1, floor, min(cap or 2 * _dpar, (rows + 49_999) // 50_000))
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    # Staging policy: every cut point is ALWAYS materialized. (Measured
    # alternative: inlining the cheap JVM chain for small rounds removes the
    # parquet size stats at the cut, the planner loses the "batch side is
    # tiny" signal for the fetch join, and the 2GB corpus side gets shuffled
    # — a round-1 wave went 43s → 121s. The stats at the cut are worth the
    # stage-write job.)

    # ---------------- A1: seed reschedule (scheduler/index.js:163-198)
    first_sched = dict(state.get("first_schedule", {}))
    seed_rows = []
    for r in ctx.rules:
        if round_ts - first_sched.get(r["key"], 0) >= r["schedule_interval"] * 1000:
            order = 0
            for s in r["seed"]:
                for link in canon.expand_seed(s):
                    tr = detect_link(link, ctx.by_domain)  # trace on create (:454)
                    if tr is None:
                        continue  # no rule match → not pushed (:474-477)
                    seed_rows.append(
                        (canon.md5_hex(link), link, tr["key"], canon.url_host(link), order)
                    )
                    order += 1
            if r["seed"]:
                first_sched[r["key"]] = round_ts
    # one-slice frame: seed lists are config-sized; a defaultParallelism-
    # sliced frame costs a cores-wide launch per broadcast build (see rules_df)
    seeds_df = schema.local_df(
        spark, seed_rows,
        "url_hash string, url string, rule_key string, host string, ord long",
    )

    # ---------------- A2: quota admission (frontier ⋈ url_state)
    # equi hash join on url_hash; both sides bucketed identically, so a real
    # catalog makes this storage-partitioned (shuffle-free); here AQE decides.
    fr = (
        _with_rule_cols(
            frontier.join(
                url_state.select("url_hash", "status", "last", "version"),
                "url_hash", "left",
            ),
            ctx, ["interval_s", "rule_rank"],
        )
        .withColumn(
            "admit_pre",
            # missing url_info → popped but not counted (checkURL:347)
            F.col("status").isNotNull() & scheduler_admit(round_ts, F.col("interval_s")),
        )
    )
    # Sequential-pop fidelity: once a URL is scheduled this round (by a seed
    # push or an earlier duplicate frontier entry), later pops of the same
    # URL see status='schedule' (60-min window) and are rejected
    # (checkURL:381-388). Pre-round state can't see that, so: (a) frontier
    # entries for this round's seed URLs never admit; (b) only the FIRST
    # occurrence of a url_hash in global pop order admits.
    pop_order_global = F.when(
        F.col("rule_key").isin(*ctx.lifo) if ctx.lifo else F.lit(False), -F.col("seq")
    ).otherwise(F.col("seq"))
    w_dup = Window.partitionBy("url_hash").orderBy("rule_rank", pop_order_global)
    # seed url_hashes are driver-known (seed_rows was built in Python above):
    # probe them as an isin literal (InSet past 10 values) instead of a
    # broadcast join — one fewer broadcast-build job in the fr2 plan. Guarded
    # to config-sized lists; a pathological seed file keeps the join.
    seed_hashes = sorted({r[0] for r in seed_rows})
    if len(seed_hashes) <= SEED_ISIN_LIMIT:
        not_seed_url = (~F.col("url_hash").isin(seed_hashes)
                        if seed_hashes else F.lit(True))
        fr = fr.withColumn("dup_rn", F.row_number().over(w_dup)).withColumn(
            "admit",
            F.col("admit_pre") & not_seed_url & (F.col("dup_rn") == 1),
        ).drop("dup_rn", "admit_pre")
    else:
        fr = (
            fr.join(
                F.broadcast(seeds_df.select("url_hash").distinct()
                            .withColumn("is_seed_url", F.lit(True))),
                "url_hash", "left",
            )
            .withColumn("dup_rn", F.row_number().over(w_dup))
            .withColumn(
                "admit",
                F.col("admit_pre") & F.col("is_seed_url").isNull() & (F.col("dup_rn") == 1),
            )
            .drop("is_seed_url", "dup_rn", "admit_pre")
        )
    # The quota aggregate below and the consumption window both read `fr`;
    # Catalyst has no common-subtree reuse, so the frontier⋈state subtree
    # appears TWICE inside the fr2 job. That is deliberate: the aggregate
    # branch is column-pruned to (rule_key, admit inputs) with a map-side
    # combine, so its re-evaluation is cheaper than a dedicated fr_admit
    # materialization job (+~5 AQE sub-jobs of driver latency per round —
    # measured; the old staged variant is one `stg("fr_admit", fr)` away).
    avail_df = fr.groupBy("rule_key").agg(
        F.sum(F.col("admit").cast("long")).alias("available")
    )
    avg_rate = (balance / ctx.total_rates) if ctx.total_rates else 0.0
    ct_df = quota_cts(avail_df, rules_df, avg_rate)
    # fr2 feeds the scheduled queue AND the frontier rewrite (two actions).
    # Partitioned by `popped` WITHOUT reshuffle (boolean col, upstream quota
    # window already partitioned the data): the frontier commit then ADOPTS
    # the popped=false files driver-side (commit_files hardlink + manifest)
    # instead of re-writing the surviving frontier through a second Spark job
    # — at wave scale that job re-wrote the whole remaining frontier.
    fr2_plan = consume_quota(fr, ct_df, ctx.lifo)
    if _frontier_rows == 0:
        # empty frontier (manifest-known, no job): the quota machinery would
        # still run ~7 AQE sub-jobs over zero rows at ~2s of pure driver
        # latency each (r3 event-log measurement) — stage an empty frame
        # with the identical schema instead
        fr2 = cat.stage(spark, round_no, "fr2",
                        schema.local_df(spark, [], fr2_plan.schema),
                        partition_by=["popped"], shuffle=False)
    else:
        _set_width(_frontier_rows + len(seed_rows))
        fr2 = cat.stage(spark, round_no, "fr2", fr2_plan,
                        partition_by=["popped"], shuffle=False)

    # ---------------- A3: assemble the scheduled queue (rpush order pinned)
    sched_seeds = seeds_df.withColumn(
        "seq",
        F.lit(seq_base)
        + _rank_expr(ctx) * F.lit(RANK_STRIDE)
        + F.row_number().over(Window.partitionBy("rule_key").orderBy("ord", "url")),
    ).withColumn("is_seed", F.lit(True)).drop("ord")
    # sched_rank was computed inside the fr2 stage's quota window (same sort)
    sched_quota = (
        fr2.where("sched")
        .withColumn(
            "seq_new",
            F.lit(seq_base)
            + F.col("rule_rank").cast("long") * F.lit(RANK_STRIDE)
            + F.lit(POP_OFFSET)
            + F.col("sched_rank"),
        )
        .select("url_hash", "url", "rule_key", "host",
                F.col("seq_new").alias("seq"), F.lit(False).alias("is_seed"))
    )
    hydrate = url_state.select(
        "url_hash", F.col("referer").alias("h_referer"),
        F.col("drill_relation").alias("h_relation"), F.col("version").alias("h_version"),
    )
    # new_sched is NOT staged on its own (r2 ran a dedicated write job per
    # round): it rides INTO the gated stage below tagged is_new, and every
    # post-gate consumer (upd_sched, mid-round overlay, seed_new) reads it
    # back as gated.where(is_new) — one materialization covers both frames.
    # The hydrate join and quota-pop projection evaluate exactly once, inside
    # the gated write, reading the already-staged fr2 parquet.
    new_sched_plan = (
        sched_seeds.unionByName(sched_quota)
        .join(hydrate, "url_hash", "left")  # spider.js:221-241 hydration
        .select(
            "url_hash", "url", "rule_key", "host", "seq",
            F.lit(0).alias("retry"),
            F.coalesce("h_referer", F.lit("")).alias("referer"),
            F.col("h_relation").alias("drill_relation"),
            # seeds: version = schedule_version (reSchedule:182); pops keep
            # the stored version (checkURL passes version=false :396)
            F.when(F.col("is_seed"), F.lit(round_ts)).otherwise(F.col("h_version"))
            .alias("version"),
            "is_seed",
        )
    )
    queue = scheduled.withColumn("is_seed", F.lit(False)).withColumn(
        "is_new", F.lit(False)
    ).unionByName(new_sched_plan.withColumn("is_new", F.lit(True)))

    # ---------------- B1: politeness gate (north_rule; no reference analog)
    # ONE staged frame carries the whole gate outcome (allowed + in_budget +
    # fetch offset): batch / denied / leftover are filters over it — the old
    # separate denied/batch stage writes + leftover anti-join were 2 extra
    # jobs per round of pure floor (r1 scaling verdict).
    robots = (ctx.robots if ctx.robots is not None
              else schema.local_df(spark, [], schema.ROBOTS))
    q = queue.join(F.broadcast(robots), "host", "left").withColumn(
        "max_fetches_per_round",
        F.coalesce("max_fetches_per_round", F.lit(st["default_host_budget"])),
    )
    allowed_col = robots_allowed(F.col("url"), F.col("host"), F.col("disallow"))
    _set_width(backlog + min(balance, _frontier_rows) + len(seed_rows))
    # qa staged ONCE (guide §2.4/§1.5): the gated write's four union branches
    # (per_host_budget's ungated/survivors/over + the robots-denied branch)
    # each re-evaluated the queue ⋈ robots ⋈ hydrate subtree — the event log
    # showed the robots broadcast BUILT four times per round (4 sequential
    # sub-jobs) plus four map passes over the wave. Branches now filter a
    # parquet scan with footer-known stats; the seeds-window exchange the
    # planner already reused stays reused.
    qa = cat.stage(spark, round_no, "qa", q.withColumn("allowed", allowed_col))
    surv = per_host_budget(qa.where("allowed"), ["seq"], salts=st["politeness_salts"])
    # disp partitions the stage into the three consumer row-sets; no reshuffle
    # (3-value col — clustering would collapse the wave write to 3 tasks).
    # Downstream filters become partition PRUNING, and the leftover set is
    # committed to `scheduled` by ADOPTING its partition files driver-side —
    # the old leftover write was a whole extra Spark job per round.
    gated = cat.stage(
        spark, round_no, "gated",
        surv.unionByName(
            qa.where(~F.col("allowed"))
            .withColumn("host_rank", F.lit(None).cast("int"))
            .withColumn("in_budget", F.lit(False))
        )
        .withColumn(
            "fetch_offset_ms",
            F.when(
                F.col("in_budget"),
                ((F.col("host_rank") - 1)
                 * F.coalesce(F.col("crawl_delay_s"), F.lit(0.0)) * 1000).cast("long"),
            ),
        )
        .drop("disallow", "crawl_delay_s", "max_fetches_per_round")
        .withColumn(
            "disp",
            F.when(~F.col("allowed"), F.lit("denied"))
            .when(F.col("in_budget"), F.lit("batch"))
            .otherwise(F.lit("left")),
        ),
        partition_by=["disp"], shuffle=False,
    )
    batch = gated.where("disp = 'batch'").drop("allowed", "in_budget", "disp")
    denied = gated.where("disp = 'denied'").select("url_hash", "url", "rule_key", "host", "seq")
    new_sched = gated.where("is_new").select(
        "url_hash", "url", "rule_key", "host", "seq", "retry", "referer",
        "drill_relation", "version", "is_seed",
    )
    _mark("batch_done")

    # ---------------- B2: fetch = batch ⋈ pages (the corpus-as-network join)
    # Join strategy is BATCH-SIZE-ADAPTIVE (driver-sized from manifests):
    # * small batches broadcast (INNER join): the corpus is a pure streaming
    #   scan probed by a hash table of the quota-bounded batch — the html
    #   payload never enters a shuffle, and the broadcast is cheap.
    # * large waves use a SHUFFLE_HASH join instead: a broadcast's
    #   driver-side collect + hash-relation build is SINGLE-THREADED O(batch)
    #   — measured as the dominant per-round floor term at the 1.2M-URL
    #   scaling wave (~50 s/round core-count-independent; r3). The shuffle
    #   moves that cost into the parallel slope: html rows shuffle once,
    #   hash-partitioned — and SHUFFLE_HASH (not SMJ) avoids sorting them.
    #   With a BUCKETED corpus (sources/bucketed.py: pass the bucketBy(url)
    #   table as ctx.pages) even that shuffle disappears: the bucketed scan
    #   reports hashpartitioning(url, n_buckets), so only the slim batch
    #   side exchanges and html never moves — the storage-partitioned join
    #   (tests/test_bucketed_join.py pins the plan; Iceberg analog at prod).
    # include the scheduled backlog in the estimate: the fetch wave is
    # queue = scheduled ∪ new_sched, so a backlog-dominated round
    # (balance≈0) is still a large wave (r2 ADVICE)
    approx_batch = min(balance, _frontier_rows) + len(seed_rows) + backlog
    small_batch = approx_batch < st.get("fetch_broadcast_limit", 100_000)
    if ctx.download_hook is not None:
        fetched = ctx.download_hook(batch, ctx.pages)
    elif small_batch:
        fetched = ctx.pages.select("url", "html").join(F.broadcast(batch), "url", "inner")
    else:
        fetched = ctx.pages.select("url", "html").join(
            batch.hint("SHUFFLE_HASH"), "url", "inner"
        )
    fv = (
        _with_rule_cols(fetched, ctx,
                        ["encoding", "is_binary", "keywords", "rule_type"])
        # validation reads content decoded per the RULE's encoding (the
        # reference validates post-iconv text, extractor.js:392-414); pages
        # whose rule declares none decode as utf-8 here — malformed bytes
        # become U+FFFD (legacy codingErrorAction, set in session.py), and
        # the extraction pUDF re-decodes from raw bytes via the charset
        # sniff for the byte-exact path
        .withColumn("content", F.expr("decode(html, coalesce(encoding, 'utf-8'))"))
        .withColumn(
            "valid",
            F.col("html").isNotNull()
            & (F.length("content")
               >= F.when(F.col("is_binary"), F.lit(20)).otherwise(F.lit(500)))
            & F.forall(F.coalesce(F.col("keywords"), EMPTY_ARR()),
                       lambda k: F.col("content").contains(k)),
        )
    )

    # ---------------- B3: extraction (validation → big pUDF, JVM-side gate)
    # ONE pass over the fetch join covers both outcomes: the pUDF sees html
    # only for valid rows (when(valid, html) → None otherwise, handled as
    # empty result), so invalid/missing rows ride along for free and the
    # 805MB-scan corpus join runs exactly once per round.
    #
    # Parallelism for the pUDF: small batches are light in BYTES but heavy in
    # per-row cost, so AQE/scan-split sizing under-parallelizes them — an
    # explicitly-numbered repartition (~300 pages/task, driver-sized from
    # manifests) fixes that, and its shuffle is tiny. LARGE waves must NOT
    # repartition: that would push the multi-GB html column through a
    # shuffle; they instead ride the corpus scan's file splits, which are
    # plentiful exactly when the wave is large (spark.sql.files.
    # maxPartitionBytes=64m in session.py keeps scan splits ≈ 2×cores for
    # multi-GB corpora).
    # ~100 pages/task, floored at the core count once there's at least one
    # page per core: hub-heavy rounds (few pages, hundreds of links each)
    # must still fan out across all cores — r3 measured the old 300/task
    # sizing capping a 1589-hub round at 7 tasks at any core count. Rounded
    # UP to a multiple of the core count: 21 tasks on 16 cores is a 1.3-wave
    # straggler tail; 32 is two clean waves.
    dpar = spark.sparkContext.defaultParallelism
    par = max(1, min(dpar * 2,
                     max(approx_batch // 100 + 1,
                         dpar if approx_batch >= dpar else 1)))
    if par > dpar:
        par = dpar * ((par + dpar - 1) // dpar)
    fv_par = fv.repartition(par, F.col("url_hash")) if approx_batch < 50_000 else fv
    save_page_keys = [r["key"] for r in ctx.rules
                      if r.get("save_page") or r["format"] == "binary"]
    slim_cols = [
        "url_hash", "url", "rule_key", "host", "seq", "retry", "referer",
        "drill_relation", "version", "rule_type", "is_binary",
    ]
    exres_plan = (
        fv_par
        .withColumn(
            "ex",
            extract_udf(ctx.by_key, ctx.by_domain, st["keep_link_relation"])(
                F.col("url"), F.when(F.col("valid"), F.col("html")),
                F.col("rule_key"), F.col("drill_relation")
            ),
        )
        .select(
            *slim_cols, "valid",
            F.col("html").isNull().alias("missing"),
            (F.when(F.col("valid") & F.col("rule_key").isin(save_page_keys), F.col("html"))
             if save_page_keys else F.lit(None).cast("binary")).alias("page_content"),
            "ex",
        )
    )
    # batch emptiness is footer-known from the gated stage: a converged round
    # (nothing to fetch) must not pay the corpus-scan fetch join
    batch_rows = cat.stage_rows(round_no, "gated", disp="batch")
    if batch_rows == 0 and ctx.download_hook is None:
        exres = cat.stage(spark, round_no, "exres",
                          schema.local_df(spark, [], exres_plan.schema))
    else:
        # extraction is per-row-expensive python: keep at least a full wave
        # of tasks whenever there is at least one page per core (the
        # explicit small-batch repartition above already handles hub-heavy
        # tiny rounds; this floor covers the SHUFFLE_HASH width)
        _set_width(batch_rows, floor=min(_dpar, batch_rows))
        exres = cat.stage(spark, round_no, "exres", exres_plan)
    # Fetch misses (batch rows with no corpus page) are absent from the
    # inner fetch join — recover them against the STAGED result so the
    # anti-join's build side is bounded by the batch, never the corpus.
    # (download_hook may return left-join semantics with null-html rows;
    # those already sit in exres as missing and the anti-join adds nothing.)
    # anti-join build side bounded by the batch, never the corpus; broadcast
    # only below the same threshold as the fetch join (the driver-side hash
    # build is O(batch) single-threaded — slim shuffle otherwise)
    _exres_keys = exres.select("url_hash")
    missing_rows = _with_rule_cols(
        batch.join(F.broadcast(_exres_keys) if small_batch else _exres_keys,
                   "url_hash", "left_anti"),
        ctx, ["rule_type", "is_binary"],
    ).select(*slim_cols, F.lit(True).alias("missing"))
    # ex reads the STAGED parquet directly (valid rows only — misses are
    # never valid, so they need not ride along); `failed` is slim-column.
    # Round 2 unioned missing_rows INTO exres with a null ex struct, and the
    # union defeated nested-schema pruning: every consumer — including the
    # fetch_log commit that needs only size(ex.lacks) — decoded the FULL ex
    # struct (all extracted fields + arranged links) off parquet, measured
    # 725 task-CPU-seconds per wave round in the flog write alone.
    ex = exres.where("valid")
    if ctx.extract_hook is not None:
        ex = ctx.extract_hook(ex)
    failed = (
        exres.where(~F.col("valid")).select(*slim_cols, "missing")
        .unionByName(missing_rows)
    )
    _mark("ex_done")

    # ---------------- B4: discovery (pipeline.save_links:66-222)
    links = (
        ex.select(
            F.col("url").alias("referer_url"),
            F.col("seq").alias("parent_seq"),
            F.col("version").alias("parent_version"),
            F.col("ex.drill_relation").alias("parent_relation"),
            F.posexplode_outer("ex.arranged").alias("pos", "lk"),
        )
        .where(F.col("lk").isNotNull())
        .select(
            "referer_url", "parent_seq", "parent_version", "parent_relation", "pos",
            F.expr("substring(lk.lib, 8)").alias("rule_key"),  # strip 'urllib:'
            F.col("lk.link").alias("url"),
        )
    )
    cand = (
        canon.with_url_identity(links, buckets=buckets)
        .withColumn("host", canon.host_udf(F.col("url")))
        # first-occurrence-wins cross-page dedup, pinned to (pop order, page pos)
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("url_hash").orderBy("parent_seq", "pos")))
        .where("rn = 1").drop("rn")
    )

    # The seen-set IS this exact left join against url_state (the reference's
    # per-link hgetall, pipeline.js:119-125): a candidate is new iff neither
    # url_state nor this round's overlay knows it. The url_state side is
    # pruned by bucket co-location and the runtime join filter session.py
    # enables; a persistent filter in front would need deletes to follow
    # url_state eviction, and this crawl never evicts.
    mid_upd = _mid_round_overlay(new_sched, ex, failed, denied, round_ts)
    # discovery volume is not footer-known until the pe stage lands; size it
    # from the fetched batch with a links-per-page allowance (64), floored so
    # a hub-heavy round still spans the cores. Width stays in effect for the
    # updates stage below (same discovery-sized data).
    _set_width(batch_rows * 64,
               floor=min(_dpar, (batch_rows + 49) // 50))
    pe = cat.stage(
        spark, round_no, "pe",
        cand.join(
            url_state.select(
                "url_hash", F.col("status").alias("s_status"),
                F.col("last").alias("s_last"), F.col("version").alias("s_version"),
            ),
            "url_hash", "left",
        )
        .join(mid_upd, "url_hash", "left")
        .withColumn("e_status", F.coalesce("m_status", "s_status"))
        .withColumn("e_last", F.coalesce("m_last", "s_last"))
        .withColumn("e_version", F.coalesce("m_version", "s_version"))
        .drop("m_status", "m_last", "m_version", "s_status", "s_last", "s_version")
        .transform(lambda d: _with_rule_cols(d, ctx, ["interval_s"]))
        .withColumn("d_new", F.col("e_status").isNull())
        .withColumn(
            "d_requeue",
            F.col("e_status").isNotNull()
            & _discovery_admit_eff(round_ts),
        ),
    )
    _mark("pe_done")

    # Discovery seq is ARITHMETIC, not a per-rule row_number over every
    # discovered link (r3: that window sorted the hot rule's whole discovery
    # wave — 60% of a 1.5M-link round — in ONE task, a core-count-independent
    # floor). Ordering (parent pop order, then link position on the page) is
    # preserved by ranking only the DISTINCT PARENT PAGES per rule (hub
    # pages: orders of magnitude fewer than links) and composing
    # seq = base + parent_rank·2^14 + pos. pos is capped at 2^14-1 (a page
    # with >16384 admitted links would tie beyond that — far above any real
    # page); parent_rank < 2^18 per rule per round keeps the composite
    # inside the rank-255 stride.
    adm = pe.where(F.col("d_new") | F.col("d_requeue"))
    parent_rank = (
        adm.select("rule_key", "parent_seq").distinct()
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.partitionBy("rule_key").orderBy("parent_seq")) - 1,
        )
    )
    frontier_append = (
        adm.join(parent_rank, ["rule_key", "parent_seq"])
        .withColumn(
            "seq",
            F.lit(seq_base) + F.lit(DISC_RANK * RANK_STRIDE)
            + F.col("_prank") * F.lit(1 << 14)
            + F.least(F.col("pos"), F.lit((1 << 14) - 1)),
        )
        .select("url_hash", "url", "rule_key", "host", "seq",
                F.lit(round_ts).alias("discovered_ts"), "bucket")
    )

    # ---------------- C: url_state MERGE (touched buckets only)
    attempts = st["download_retry"] + 1
    upd_sched = new_sched.groupBy("url_hash").agg(
        F.flatten(F.collect_list(_ev(["schedule"]))).alias("sched_events"),
        F.max("version").alias("version_set"),
        F.max("is_seed").alias("was_seed"),
    )
    upd_crawl = (
        ex.select("url_hash", _ev(["crawling", "crawled_finish"]).alias("crawl_events"))
        .unionByName(
            failed.select(
                "url_hash",
                _ring3(F.concat(F.array_repeat(F.lit("crawling"), attempts),
                                _ev(["crawled_failure"]))).alias("crawl_events"),
            )
        )
        .unionByName(denied.select("url_hash", _ev(["crawled_failure"]).alias("crawl_events")))
        .groupBy("url_hash")
        .agg(F.flatten(F.collect_list("crawl_events")).alias("crawl_events"))
    )
    upd_disc = pe.where(~F.col("d_new")).select(
        "url_hash",
        F.col("d_requeue").alias("hit_override"),
        F.col("parent_version").alias("version_cand"),
    )
    disc_new = pe.where("d_new").select(
        "url_hash", "url", "rule_key",
        F.col("referer_url").alias("n_referer"),
        F.lit("hit").alias("n_status"),
        F.col("parent_version").alias("n_version"),
        (F.coalesce("parent_relation", F.lit("*")) if st["keep_link_relation"]
         else F.lit(None).cast("string")).alias("n_relation"),
        "bucket",
    )
    seed_new = (
        new_sched.where("is_seed")
        .join(url_state.select("url_hash"), "url_hash", "left_anti")
        .select(
            "url_hash", "url", "rule_key",
            F.lit("").alias("n_referer"), F.lit("schedule").alias("n_status"),
            F.col("version").alias("n_version"),
            F.lit(None).cast("string").alias("n_relation"),
        )
        .withColumn("bucket", canon.bucket_of_hash(buckets))
    )
    # all_new stays UNSTAGED (r1 had a dedicated stage job): it derives from
    # already-staged pe/new_sched, and its only consumer is the updates stage
    # below (joined in)
    all_new = disc_new.unionByName(seed_new).dropDuplicates(["url_hash"])

    updates = (
        upd_sched.join(upd_crawl, "url_hash", "full")
        .join(upd_disc, "url_hash", "full")
        .join(all_new.withColumnRenamed("url", "n_url")
                     .withColumnRenamed("rule_key", "n_rule_key")
                     .withColumnRenamed("bucket", "n_bucket"),
              "url_hash", "full")
        .withColumn(
            "events",
            F.concat(F.coalesce("sched_events", EMPTY_ARR()),
                     F.coalesce("crawl_events", EMPTY_ARR())),
        )
        # creation is not a records push: a just-created 'schedule' row drops
        # its own schedule event (updateLinkState create path :453-478 writes
        # records=[] — only LATER transitions get pushed)
        .withColumn(
            "events",
            F.when(F.col("n_status") == "schedule",
                   F.slice(F.col("events"), 2, 2_000_000_000))
            .otherwise(F.col("events")),
        )
        .withColumn("u_bucket", F.coalesce("n_bucket", canon.bucket_of_hash(buckets)))
    )
    # partitioned by u_bucket so the touched-bucket set reads off the stage's
    # directory names — a driver-side listdir instead of a distinct().collect()
    # job per round
    updates = cat.stage(spark, round_no, "updates", updates,
                        partition_by=["u_bucket"])
    touched_buckets = sorted({int(p["u_bucket"]) for p in
                              cat.stage_partition_values(round_no, "updates")})
    _mark("updates_done")
    merged = (
        url_state.where(
            F.col("bucket").isin(touched_buckets) if touched_buckets else F.lit(False)
        )
        .alias("s")
        .join(updates.alias("u"), "url_hash", "full")
        .select(
            "url_hash",
            F.coalesce("s.url", "u.n_url").alias("url"),
            F.coalesce("s.rule_key", "u.n_rule_key").alias("rule_key"),
            F.coalesce("s.referer", "u.n_referer").alias("referer"),
            F.when(F.coalesce("u.hit_override", F.lit(False)), F.lit("hit"))
            .otherwise(F.coalesce(F.try_element_at("u.events", F.lit(-1)), "u.n_status", "s.status"))
            .alias("status"),
            F.when(F.col("u.n_status").isNotNull(),
                   _ring3(F.coalesce("u.events", EMPTY_ARR())))
            .otherwise(_ring3(
                F.concat(F.coalesce("s.records", EMPTY_ARR()),
                         F.coalesce("u.events", EMPTY_ARR()))))
            .alias("records"),
            F.when(
                (F.size(F.coalesce("u.events", EMPTY_ARR())) > 0)
                | F.col("u.n_status").isNotNull(),
                F.lit(round_ts),
            ).otherwise(F.col("s.last")).alias("last"),
            F.coalesce("s.create", F.lit(round_ts)).alias("create"),
            _merge_version().alias("version"),
            F.coalesce("s.drill_relation", "u.n_relation").alias("drill_relation"),
            F.coalesce("s.bucket", "u.u_bucket").alias("bucket"),
        )
    )

    # ---------------- D: sinks + commits
    crawled = ex.where(F.col("rule_type") == "node").select(
        "url_hash", "url", "rule_key", "referer",
        F.lit(round_ts).alias("fetched_ts"), F.lit(round_no).alias("round"),
        F.col("page_content").alias("content"),
        F.col("ex.extracted").alias("extracted"),
        F.col("ex.children").alias("extracted_children"),
        F.col("ex.drill_relation").alias("drill_relation"),
    ) if st["save_content"] else schema.local_df(spark, [], schema.CRAWLED)
    if ctx.pipeline_hook is not None:
        crawled = ctx.pipeline_hook(crawled, cat, round_no)
        if crawled is None:  # hook did its own sink; keep round records consistent
            crawled = schema.local_df(spark, [], schema.CRAWLED)
    # $category routing (pipeline.js:275: extracted_data['$category'] redirects
    # the HBase table). Category values are rule config, not data — derived
    # from ctx.rules with no job; rows with a declared category land in
    # crawled_{category}, everything else in the base table.
    # node rules only: branch pages never reach the crawled sink, so their
    # declared categories would only add always-empty commit jobs
    categories = sorted({
        c for r in ctx.rules if r["type"] == "node"
        for c in [(r.get("extract_rule") or {}).get("category")] if c
    })
    cat_col = F.try_element_at(F.col("extracted"), F.lit("$category"))
    # With categories configured, ALL crawled tables commit from ONE write:
    # the content frame is staged partitioned by routed category (no
    # reshuffle) and each table adopts its partition's files driver-side —
    # r2 ran one append job per category table per round.
    cat_snaps: dict[str, int] = {}
    # footer-known emptiness (no jobs): a round with no extraction output
    # and no denials appends NOTHING to the content/log tables — skip those
    # Spark writes entirely (empty-delta snapshots via commit_files([]))
    ex_rows = cat.stage_rows(round_no, "exres")
    denied_rows = cat.stage_rows(round_no, "gated", disp="denied")
    flog_empty = ex_rows == 0 and batch_rows == 0 and denied_rows == 0

    def _commit_crawled():
        if ex_rows == 0 and ctx.pipeline_hook is None:
            for c in categories:
                cat_snaps[f"crawled_{c}"] = cat.commit_files(
                    f"crawled_{c}", [], mode="append", round_no=round_no)
            return cat.commit_files("crawled", [], mode="append", round_no=round_no)
        if not categories:
            return cat.commit("crawled", crawled, mode="append", round_no=round_no)
        routed = F.when(cat_col.isin(categories), cat_col).otherwise(F.lit("__base__"))
        cat.stage(spark, round_no, "crawled_out",
                  crawled.withColumn("p_cat", routed),
                  partition_by=["p_cat"], shuffle=False)
        for c in categories:
            cat_snaps[f"crawled_{c}"] = cat.commit_files(
                f"crawled_{c}",
                cat.stage_partition_files(round_no, "crawled_out", p_cat=c),
                mode="append", round_no=round_no,
            )
        return cat.commit_files(
            "crawled",
            cat.stage_partition_files(round_no, "crawled_out", p_cat="__base__"),
            mode="append", round_no=round_no,
        )

    flog = (
        ex.select(
            F.lit(round_no).alias("round"), "seq", "url_hash", "url", "host",
            F.lit("fetched").alias("status"),
            F.when(F.size("ex.lacks") > 0, F.lit("data_lack")).alias("reason"),
            F.lit(round_ts).alias("ts"),
        )
        .unionByName(
            failed.select(
                F.lit(round_no).alias("round"), "seq", "url_hash", "url", "host",
                F.lit("failed").alias("status"),
                F.when(F.col("missing"), "missing")
                .otherwise("invalid_content").alias("reason"),
                F.lit(round_ts).alias("ts"),
            )
        )
        .unionByName(
            denied.select(
                F.lit(round_no).alias("round"), "seq", "url_hash", "url", "host",
                F.lit("robots_denied").alias("status"),
                F.lit("robots").alias("reason"), F.lit(round_ts).alias("ts"),
            )
        )
    )
    # flog derives only from staged parquet (exres/denied) — the fetch_log
    # commit re-reads a few slim columns, no persist.
    # The metrics rollup (count per domain×status) and the round's
    # fetched/failed/denied counters are NOT separate jobs (r2 ran a groupBy
    # job + a write + an Observation): the fetch_log commit below writes
    # partitioned by (p_status, p_domain), so every count is the row total
    # of its partition's parquet footers — already scanned into the
    # manifest. The metrics table commit collapses to a driver-side pyarrow
    # write of O(domains×statuses) rows (_commit_metrics_from_flog after the
    # commit pool). p_* are COPIES (hive strips partition cols from the
    # physical files; readers use the manifest's explicit file list, which
    # does no partition discovery).
    flog_partitioned = (
        flog
        .withColumn("p_status", F.col("status"))
        .withColumn("p_domain", F.coalesce(_domain_expr(), F.lit("")))
    )

    frontier_cols = [f.name for f in schema.FRONTIER.fields]

    def _commit_frontier():
        # surviving (unpopped) frontier rows: ADOPT the fr2 stage's
        # popped=false partition files into the snapshot (driver-side
        # hardlink + footer scan — the extra working columns in those files
        # are invisible through the FRONTIER-schema read), then APPEND this
        # round's discoveries as the only Spark write — skipped outright
        # when the pe stage is footer-known empty (no discovery).
        snap = cat.commit_files(
            "frontier",
            cat.stage_partition_files(round_no, "fr2", popped="false"),
            round_no=round_no,
        )
        if cat.stage_rows(round_no, "pe") == 0:
            return snap
        return cat.commit(
            "frontier", frontier_append.select(*frontier_cols),
            mode="append", round_no=round_no,
        )
    # Commits run SEQUENTIALLY by default: measured at local[32], 7 concurrent
    # py4j write jobs stall each other 8-20x (driver/scheduler contention —
    # round-2 commits 47-119s concurrent vs 10s sequential; each write alone
    # is <3s). Each write is already wide, so concurrency buys nothing here;
    # a real multi-executor cluster can flip concurrent_commits=True.
    # Atomicity is unchanged: the round record below is still the only commit
    # point readers trust for resume.
    from concurrent.futures import ThreadPoolExecutor

    commit_plan = {
        "frontier": _commit_frontier,
        # leftover = the gated stage's disp=left partition, adopted as-is
        # (driver-side, no job; SCHEDULED-schema read projects the extra cols)
        "scheduled": lambda: cat.commit_files(
            "scheduled", cat.stage_partition_files(round_no, "gated", disp="left"),
            round_no=round_no,
        ),
        # no touched buckets (footer-known) → carry the parent snapshot
        # forward with a driver-side empty-delta commit, no Spark job
        "url_state": lambda: (
            cat.commit_files("url_state", [], mode="append", round_no=round_no)
            if not touched_buckets else
            cat.commit(
                "url_state", merged.withColumn("pbucket", F.col("bucket")),
                mode="overwrite-partitions", round_no=round_no, partition_by=["pbucket"],
                replaced_partitions={"pbucket": touched_buckets},
                # split hot buckets across files only once buckets are big
                # enough for writer parallelism to matter — at small state
                # the extra files just cost footer scans (measured
                # +1-2s/commit)
                split_col="url_hash",
                files_per_partition=4 if _state_rows > 2_000_000 else 1,
            )
        ),
        "crawled": _commit_crawled,
        "fetch_log": lambda: (
            cat.commit_files("fetch_log", [], mode="append", round_no=round_no)
            if flog_empty else
            cat.commit(
                "fetch_log", flog_partitioned, mode="append", round_no=round_no,
                partition_by=["p_status", "p_domain"],
                # status×domain is ~8 values — without the salt a WAVE's
                # flog repartition collapses to 8 writer tasks at ANY core
                # count (measured 1.8x 4→16); footer-derived metrics sum rows
                # across a partition's files. Small rounds skip the salt —
                # there the extra files are pure footer-scan overhead.
                split_col="url_hash",
                files_per_partition=(
                    max(4, spark.sparkContext.defaultParallelism // 4)
                    if batch_rows > 100_000 else 1
                ),
            )
        ),
    }
    _mark("pre_commit")

    def _timed(fn):
        t0 = _time.time()
        s = fn()
        return s, round(_time.time() - t0, 2)

    # one width for the whole commit pool (conf is session-shared; concurrent
    # commit threads must not race it): dominated by the url_state MERGE
    # (state rows + this round's updates) and the fetch_log wave append.
    # Capped at ONE wave of cores: with concurrent_commits, 5 jobs x 2-cores
    # width queue ~10x cores tasks at once — the same driver/scheduler
    # contention measured for concurrent commits at local[32].
    # FLOORED at the touched-bucket count (guide §2.5 — data-derived, not
    # core-derived): the 50k-rows/task width model undersizes the url_state
    # merge, whose rows carry records/events arrays — measured: a 48k-row
    # round-4 merge at width 1 ran ONE 3.75s task writing all 16 bucket
    # dirs; width 16 puts each bucket's merge+write in its own task.
    _set_width(_state_rows + cat.stage_rows(round_no, "updates") + batch_rows,
               floor=min(_dpar, max(1, len(touched_buckets))), cap=_dpar)
    # Default width 2 (guide §2.6): enough overlap that one commit's driver-
    # side tail (footer scans, manifest writes) back-fills with the next
    # commit's compute, without re-creating the r2 regression (6-7 concurrent
    # py4j write jobs stalling each other 8-20x at local[32]).
    # concurrent_commits=True keeps the all-parallel pool for real clusters.
    n_workers = max(1, len(commit_plan) if st.get("concurrent_commits", False)
                    else min(len(commit_plan), int(st.get("commit_workers", 2))))
    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        futures = {name: pool.submit(_timed, fn) for name, fn in commit_plan.items()}
        res = {name: fut.result() for name, fut in futures.items()}
    snaps = {name: r[0] for name, r in res.items()}
    snaps.update(cat_snaps)  # category tables committed inside _commit_crawled
    commit_s = {name: r[1] for name, r in res.items()}
    # metrics = footer rollup of the fetch_log commit just made — no Spark job
    snaps["metrics"], status_counts = _commit_metrics_from_flog(cat, round_no, round_ts)
    _mark("commits_done")

    round_metrics = {
        "round": round_no,
        "round_ts": round_ts,
        "fetched": status_counts.get("fetched", 0),
        "failed": status_counts.get("failed", 0),
        "denied": status_counts.get("robots_denied", 0),
        "scheduled_backlog": backlog,
        "balance": balance,
        "commit_s": commit_s,
        # Janino compiles while this round ran, counted for the whole session
        # (a concurrent query's compiles land here too); 0 once every plan
        # shape of the round is in the generated-code cache (session.py)
        "codegen_compiles": (None if compiles0 is None
                             else _codegen_compiles(spark) - compiles0),
    }
    new_state = {
        "round": round_no,
        "first_schedule": first_sched,
        # the committed frontier now holds ONLY entries written under the
        # current rule set (repair ran this round if it was needed), so the
        # signature history collapses to the live one
        "rules_sigs": [rules_sig],
        # per-rule id_parameter signatures: next round re-canonicalizes the
        # frontier slice of any rule whose signature changed (transformLink)
        "id_sigs": id_sigs,
    }
    _mark("record_built")
    keys = list(_t.keys())
    round_metrics["phase_s"] = {
        keys[i]: round(_t[keys[i]] - _t[keys[i - 1]], 2) for i in range(1, len(keys))
    }
    cat.commit_round(round_no, snaps, {"state": new_state, "round_metrics": round_metrics})
    # this round's stages are dead once the round record is committed (resume
    # replays from committed snapshots, never from stages); sweep the
    # previous round's too in case an earlier run crashed mid-round
    cat.drop_stages(round_no)
    if round_no > 1:
        cat.drop_stages(round_no - 1)
    if ctx.alert_hook is not None:
        ctx.alert_hook(round_no, round_metrics)
    breaker = st.get("failure_breaker")
    if breaker is not None:
        n_bad = round_metrics["failed"] + round_metrics["denied"]
        if n_bad >= breaker:
            raise CircuitBreakerTripped(
                f"round {round_no}: {n_bad} failures >= breaker {breaker}"
            )
    return new_state


def _codegen_compiles(spark: SparkSession) -> int | None:
    """Janino compiles so far in the session's JVM (Spark's CodegenMetrics
    counts one per generated-code cache miss); None without a JVM gateway."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def _rank_expr(ctx: CrawlContext):
    if not ctx.rank:
        return F.lit(0).cast("long")
    return F.coalesce(
        *[F.when(F.col("rule_key") == k, F.lit(v)) for k, v in ctx.rank.items()],
        F.lit(DISC_RANK),
    ).cast("long")


def _mid_round_overlay(new_sched, ex, failed, denied, round_ts: int):
    """This round's schedule/crawl events as an overlay keyed by url_hash —
    the pinned 'discovery observes fetch outcomes' ordering. Round-sized
    (small), never state-sized."""
    return (
        new_sched.select("url_hash", F.lit("schedule").alias("m_status"),
                         F.lit(round_ts).alias("m_last"), F.col("version"))
        .unionByName(ex.select("url_hash", F.lit("crawled_finish").alias("m_status"),
                               F.lit(round_ts).alias("m_last"), "version"))
        .unionByName(failed.select("url_hash", F.lit("crawled_failure").alias("m_status"),
                                   F.lit(round_ts).alias("m_last"), "version"))
        .unionByName(denied.select("url_hash", F.lit("crawled_failure").alias("m_status"),
                                   F.lit(round_ts).alias("m_last"),
                                   F.lit(None).cast("long").alias("version")))
        .groupBy("url_hash")
        .agg(
            F.max_by("m_status",
                     F.when(F.col("m_status") == "schedule", 0).otherwise(1)).alias("m_status"),
            F.max("m_last").alias("m_last"),
            F.max("version").alias("m_version"),
        )
    )


def _discovery_admit_eff(round_ts_ms: int):
    """discovery_admit over the effective (e_*) state columns."""
    from ..operators.scheduler import TEN_MIN_MS, TWO_DAYS_MS

    real_interval = (
        F.when(F.col("e_status").isin("crawling", "schedule"), F.lit(TEN_MIN_MS))
        .when(F.col("e_status") == "hit", F.lit(TWO_DAYS_MS))
        .otherwise(F.col("interval_s").cast("long") * 1000)
    )
    window_ok = (F.lit(round_ts_ms) - F.coalesce(F.col("e_last"), F.lit(0))) >= real_interval
    return (F.col("e_status") == "crawled_failure") | window_ok


def _merge_version():
    """version precedence: seed set (schedule_version) → discovery bump (only
    upward, pipeline.js:159-166) → stored/creation."""
    base = F.coalesce(F.col("u.version_set"), F.col("s.version"), F.col("u.n_version"))
    return F.when(
        F.col("u.version_cand").isNotNull()
        & (base.isNull() | (F.col("u.version_cand") > base)),
        F.col("u.version_cand"),
    ).otherwise(base)


def _commit_metrics_from_flog(cat: Catalog, round_no: int, round_ts: int
                              ) -> tuple[int, dict[str, int]]:
    """Round metrics (count per domain×status, the reference's
    count:{yyyymmdd} {metric}:{domain} counters) derived ENTIRELY from the
    fetch_log commit's manifest: the write was partitioned by (p_status,
    p_domain), so each partition's row total — already footer-scanned into
    the manifest — IS the metric value. Appends the O(domains×statuses)-row
    result via the catalog's driver-side pyarrow path: zero Spark jobs where
    round 2 ran a full groupBy job + write + an Observation per round.
    Returns (metrics snapshot, per-status totals) — the totals also feed the
    round record's fetched/failed/denied counters."""
    import os as _os
    from urllib.parse import unquote

    man = cat.manifest("fetch_log")
    snap_tok = f"snap-{man['snapshot']:012d}"
    agg: dict[tuple, int] = {}
    for f in man["files"]:
        parts = f["path"].split(_os.sep)
        if snap_tok not in parts:
            continue  # parent files from earlier rounds
        status = domain = None
        for p in parts:
            if p.startswith("p_status="):
                status = unquote(p[len("p_status="):])
            elif p.startswith("p_domain="):
                v = p[len("p_domain="):]
                # hive writes null/empty partition values as the default token
                domain = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
        key = (domain, status)
        agg[key] = agg.get(key, 0) + f["rows"]
    rows = [
        (round_no, _yyyymmdd(round_ts), d, s, n)
        for (d, s), n in sorted(agg.items(), key=lambda kv: (kv[0][0] or "", kv[0][1] or ""))
    ]
    snap = cat.commit_rows("metrics", rows, schema.METRICS, mode="append",
                           round_no=round_no)
    by_status: dict[str, int] = {}
    for (_d, s), n in agg.items():
        by_status[s] = by_status.get(s, 0) + n
    return snap, by_status


def _yyyymmdd(ts_ms: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        ts_ms / 1000, tz=datetime.timezone.utc
    ).strftime("%Y%m%d")


def _domain_expr():
    """Bug-compatible TLD of host (metrics key {metric}:{domain},
    spider_extend.js:97-169)."""
    parts = F.split(F.col("host"), r"\.")
    return F.when(F.size(parts) <= 2, F.col("host")).otherwise(
        F.array_join(F.slice(parts, 2, 1_000), ".")
    )
