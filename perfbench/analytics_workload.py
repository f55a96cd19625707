"""`analytics`: the 14 headline queries of bench.py, in a closed loop (one
client runs the next query only after the previous result is collected),
over tables generated from the seed with the shapes and column types of the
sf0.01 test data. Each result is checked against the query's DuckDB oracle
over the same files.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bench import HEADLINE_QUERIES

import __spark_entry__ as entry
import check
import proc
import spans

# sf0.01 row counts; the seed scales them by up to 4%
ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
WORDS = ("spark batch part line column order small sort fast value scan hash slow "
         "group agg filter query a big key window row table stream merge data "
         "vector join the customer").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def _day(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo_d + rng.integers(0, (hi_d - lo_d).astype(int), n)).astype("datetime64[us]")


def gen_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the six tables the headline queries read; returns row counts."""
    rng = np.random.default_rng(seed)
    scale = 1 + random.Random(seed).uniform(-0.04, 0.04)
    n = {t: max(10, int(round(v * scale))) for t, v in ROWS.items()}
    nc, no = n["customer"], n["orders"]
    tables = {
        "customer": {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], nc)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, no), 2)),
            "o_orderdate": pa.array(_day(rng, "1995-01-01", "2001-08-02", no)),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)),
        },
    }
    nl = n["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": pa.array(_day(rng, "1995-01-02", "2001-11-05", nl)),
    }
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"], ne)),
        "value": pa.array(np.round(rng.exponential(50, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    nd = n["documents"]
    docs = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(nd)]
    # exact and one-word-off copies, so the dedup queries find groups
    for i in range(0, nd - 1, 50):
        docs[i + 1] = docs[i]
    for i in range(25, nd - 1, 50):
        w = docs[i].split()
        w[len(w) // 2] = "merge" if w[len(w) // 2] != "merge" else "join"
        docs[i + 1] = " ".join(w)
    tables["documents"] = {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array([f"src{i % 5}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    }
    nv = n["embeddings"]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv, dtype=np.int32)
    vecs = centers[label] + 0.3 * rng.normal(size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")
    return n


def oracle_fingerprints(data_dir: str) -> dict[str, str]:
    con = duckdb.connect()
    try:
        for t in ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        sql = entry.oracle_sql()
        out = {}
        for name in HEADLINE_QUERIES:
            res = con.execute(sql[name])
            out[name] = check.result_fingerprint([c[0] for c in res.description],
                                                 res.fetchall())
        return out
    finally:
        con.close()


class AnalyticsWorkload:
    def __init__(self, h, seed: int):
        self.h, self.seed = h, seed
        self.queries = entry.queries()
        self.n_units = 0

    def setup(self) -> dict:
        self.data = f"{self.h.work}/tables"
        t0 = time.perf_counter()
        self.rows = gen_tables(self.data, self.seed)
        corpus_s = time.perf_counter() - t0
        # the oracle is the benchmark's own check: not part of set-up time
        self.oracle = oracle_fingerprints(self.data)
        self.last_fp = self.oracle
        t0 = time.perf_counter()
        for name in HEADLINE_QUERIES:  # warm-up pass, results unused
            self.queries[name](self.h.spark, self.data).collect()
        warmup_s = time.perf_counter() - t0
        return {"setup.corpus_s": corpus_s, "setup.warmup_s": warmup_s}

    def unit(self, tracer: spans.Tracer | None) -> dict:
        """One pass over the queries; the returned `check` compares every
        result with the oracle, outside the timed part."""
        self.n_units += 1
        results, rounds = {}, []
        t0 = time.perf_counter()
        with spans.maybe(tracer, "run", unit=self.n_units):
            for name in HEADLINE_QUERIES:
                with spans.maybe(tracer, "query", query=name):
                    t1 = time.perf_counter()
                    try:
                        df = self.queries[name](self.h.spark, self.data)
                        results[name] = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception as e:  # counted as a failed query, not retried
                        results[name] = e
                    rounds.append({"kind": name, "wall_s": time.perf_counter() - t1,
                                   "failed_op": False})
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "rounds": rounds,
                "check": lambda: self._check(rounds, results)}

    def _check(self, rounds: list[dict], results: dict) -> list[str]:
        """Problems with the pass's results; each bad result fails its query."""
        problems = []
        for r in rounds:
            res = results[r["kind"]]
            if isinstance(res, Exception):
                problems.append(f"{r['kind']}: {type(res).__name__}: {res}")
                r["failed_op"] = True
            elif check.result_fingerprint(*res) != self.oracle[r["kind"]]:
                problems.append(f"{r['kind']}: result differs from the DuckDB oracle")
                r["failed_op"] = True
        gold = check.golden("analytics", self.seed)
        if gold is not None and gold != self.oracle:
            problems.append("oracle fingerprints differ from the golden: input generation changed")
            for r in rounds:
                r["failed_op"] = True
        return problems


def _query_walls(units: list[dict]) -> dict[str, float]:
    """Each query's median wall over the passes it did not fail in."""
    walls: dict[str, list[float]] = {}
    for u in units:
        for r in u["rounds"]:
            if not r["failed_op"]:
                walls.setdefault(r["kind"], []).append(r["wall_s"])
    return {name: statistics.median(v) for name, v in walls.items()}


def end_to_end(units: list[dict], docs: int) -> dict:
    """As crawl_workload.end_to_end, with a pass over the queries as the
    round (the client's loop comes round once per pass), so the round
    figures are those of the passes. A pass in which a query failed is left
    out of them. Documents are crawled pages, one URL each, analysed once
    per pass. Single queries cost too little CPU to tell apart from the
    JVM's background work (JIT compiler, GC); they are measured by their
    per-layer walls, `query.<name>_s`."""
    passes = [u for u in units if not any(r["failed_op"] for r in u["rounds"])]
    out = {}
    for key, prefix in (("cpu_s", "cpu_"), ("wall_s", "wall.")):
        per_pass = [u[key] for u in passes] or [float("nan")]
        out.update({
            f"{prefix}urls_per_s": docs * len(units) / sum(u[key] for u in units),
            f"{prefix}unit_s": statistics.median(u[key] for u in units),
            f"{prefix}round_s_p50": statistics.median(per_pass),
            f"{prefix}round_s_max": max(per_pass),
        })
    return out


def per_layer(units: list[dict]) -> dict:
    return {f"query.{name}_s": wall for name, wall in _query_walls(units).items()}
