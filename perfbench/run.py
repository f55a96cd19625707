#!/usr/bin/env python3
"""Benchmark of neocrawler_spark: one workload, one driver process, local[nproc].

    python3 perfbench/run.py --workload crawl --seed 0 --seconds 5 --trace 0

Run from the root of a checkout. Set-up (session, inputs, an untimed warm-up
pass) is timed on its own; then whole units of work (a three-round crawl, or
one pass over the queries) run back to back until --seconds have passed,
each timed in CPU seconds of the process tree and in wall seconds, and
each unit's output is checked outside the timed part. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). A traced run records spans around the same units, reads the
Spark event log, and writes its spans to .perfbench_out/.
--record-golden stores the run's output fingerprints as the seed's goldens.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]

import neocrawler_spark  # noqa: E402,F401  (fails outside a full checkout)
from neocrawler_spark.session import get_spark  # noqa: E402

import analytics_workload  # noqa: E402
import crawl_workload  # noqa: E402
import kernels  # noqa: E402
import proc  # noqa: E402
import spans  # noqa: E402

WORKLOADS = {"crawl": crawl_workload.CrawlWorkload,
             "analytics": analytics_workload.AnalyticsWorkload}
ANCHOR = "perfbench:anchor"
DRIVER_MEM = "2g"


class Harness:
    """The run's working directory and its Spark session. Everything the run
    writes stays under the checkout's .perfbench_work/ and is removed."""

    def __init__(self, workload: str, trace: bool):
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.evdir = os.path.join(self.work, "evlog")
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(self.evdir)
        self.trace = trace
        self.spark = None
        self.jvm = None

    def start(self) -> float:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # a fixed, pre-touched heap (-Xms = -Xmx), far above what these inputs
        # need: a heap sized from the host grows to a different peak each run
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        # no JVM performance-counter files in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch ",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.evdir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        return proc.vm_hwm_mb("self") + proc.vm_hwm_mb(self.jvm.pid)

    def reset_peak_rss(self) -> None:
        for pid in ("self", self.jvm.pid):
            proc.reset_vm_hwm(pid)

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
        self.spark = None

    def anchor(self) -> float:
        """A marker job whose end time fixes the event log's clock."""
        sc = self.spark.sparkContext
        sc.setJobDescription(ANCHOR)
        self.spark.range(1).count()
        sc.setJobDescription(None)
        return time.time()

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run_units(h: Harness, wl, seconds: float, tracer=None) -> list[dict]:
    """Whole units back to back until `seconds` have passed (closed loop).
    Each unit's memory peak covers its timed part only; its output check
    runs after that."""
    units, t0 = [], time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        h.reset_peak_rss()
        cpu0 = proc.tree_cpu_s()
        u = wl.unit(tracer)
        u["cpu_s"] = proc.tree_cpu_s() - cpu0
        u["peak_rss_mb"] = h.peak_rss_mb()
        # progress: wall and CPU seconds of the unit and of its rounds
        print(json.dumps({"unit": [u["wall_s"], u["cpu_s"]],
                          "rounds": [[r.get("wall_s"), r.get("cpu_s")] for r in u["rounds"]]}),
              file=sys.stderr, flush=True)
        u["problems"] = u.pop("check")()
        units.append(u)
    return units


def trace_metrics(h: Harness, args, units, tracer, anchor_end) -> dict:
    """Per-layer metrics of the traced units, read after Spark stopped."""
    evlog = spans.find_event_log(h.evdir)
    jobs = spans.add_job_spans(tracer, evlog, ANCHOR, anchor_end)
    spans.self_times(tracer)
    n = len(units)
    out = {}
    if args.workload == "crawl":
        out.update(crawl_workload.per_layer(units, tracer))
    else:
        out.update(analytics_workload.per_layer(units))
    by_id = {s["id"]: s for s in tracer.spans}

    def ancestor(s, name):
        while s is not None and s["name"] != name:
            s = by_id.get(s["parent"])
        return s

    labels = {"stage": 0, "commit": 0}
    for j in jobs:
        kind = j["desc"].split(":", 1)[0]
        if kind in labels:
            labels[kind] += 1
        rnd = ancestor(by_id[j["span"]], "run_round")
        if rnd is not None:
            key = f"spark.jobs.{rnd['attrs']['kind']}"
            out[key] = out.get(key, 0) + 1 / n
    out["spark.jobs"] = len(jobs) / n
    out["spark.jobs.stage"] = labels["stage"] / n
    out["spark.jobs.commit"] = labels["commit"] / n
    out["spark.jobs.unlabeled"] = (len(jobs) - labels["stage"] - labels["commit"]) / n
    for k, v in spans.spark_totals(evlog, {j["jid"] for j in jobs}).items():
        out[k] = v / n if k != "spark.task_skew" else v
    # wall of each round (crawl) or query not covered by any Spark job
    work = [s for s in tracer.spans if s["name"] in ("run_round", "query")]
    out["spark.driver_gap_s"] = sum(
        (s["end"] - s["start"]) - spans.covered_by_jobs(s["start"], s["end"], jobs)
        for s in work) / n
    layer = {"run": "self.streaming.driver_s", "run_round": "self.plans.round_s",
             "load_state": "self.plans.round_s", "query": "self.query_s",
             "spark.job": "self.spark_s"}
    for s in tracer.spans:
        name = (layer.get(s["name"]) or ("self.plans.round_s" if s["name"].startswith("phase.")
                                         else "self.sources.tables_s"))
        out[name] = out.get(name, 0.0) + s["self_s"] / n
    out["trace.overhead_share"] = tracer.added_s / sum(u["wall_s"] for u in units)
    out["trace.spans"] = len(tracer.spans) / n
    out["trace.added_s"] = tracer.added_s / n
    out.update(kernels.kernel_rates(crawl_workload.site_params(args.seed)))
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}-{os.getpid()}.json")
    spans.write_trace(path, tracer, {"jobs": jobs, "metrics": out})
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true")
    args = ap.parse_args(argv)

    steal0 = proc.cpu_steal()
    loadavg = float(proc.read_proc("/proc/loadavg").split()[0])
    h = Harness(args.workload, bool(args.trace))
    try:
        setup = {"setup.session_s": h.start()}
        wl = WORKLOADS[args.workload](h, args.seed)
        setup.update(wl.setup())
        print(json.dumps({"setup": setup}), file=sys.stderr, flush=True)
        tracer = anchor_end = None
        if args.trace:
            tracer = spans.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
            anchor_end = h.anchor()
        units = run_units(h, wl, args.seconds, tracer)
        if args.workload == "crawl":
            metrics = crawl_workload.end_to_end(units)
        else:
            metrics = analytics_workload.end_to_end(units, wl.rows["documents"])
        metrics["setup_s"] = sum(setup.values())
        metrics["peak_rss_mb"] = statistics.median(u["peak_rss_mb"] for u in units)
        h.stop()
        if args.record_golden:
            from check import record_golden

            record_golden(args.workload, args.seed, wl.last_fp)
        if args.trace:
            metrics.update(setup)
            metrics.update(trace_metrics(h, args, units, tracer, anchor_end))
    finally:
        h.stop()
        h.cleanup()

    ops = [r for u in units for r in u["rounds"]]
    failed = sum(r["failed_op"] for r in ops)
    steal1 = proc.cpu_steal()
    context = {
        "workload": args.workload, "seed": args.seed, "cores": h.cores, "units": len(units),
        "failed_ops_share": failed / len(ops),
        "steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "loadavg_1m": loadavg,
        "problems": [p for u in units for p in u["problems"]],
    }
    print(json.dumps({"context": context}))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        # a per-layer metric of a layer this workload does not run reads 0
        "metrics": {m["name"]: {"value": float(metrics[m["name"]] if not args.trace
                                               else metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
