"""Output checks: order-insensitive fingerprints of committed crawl tables and
of query results, and the goldens they are compared with.

Crawl tables are read straight from the snapshot files their manifests list
(pyarrow, no Spark job), so checking adds no work to the measured session.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import pyarrow.parquet as pq

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def table_rows(cat, name: str, cols: list[str]) -> list[dict]:
    man = cat.manifest(name)
    if man is None:
        return []
    out = []
    for f in man["files"]:
        out.extend(pq.ParquetFile(f["path"]).read(columns=cols).to_pylist())
    return out


def crawled_tables(cat) -> list[str]:
    return sorted(p.name for p in cat.root.iterdir()
                  if p.name.startswith("crawled") and cat.exists(p.name))


def crawl_fingerprints(cat, max_round: int | None = None) -> dict[str, str]:
    """fetch_log (round, seq, url, status) is the crawl order, the url_state
    url_hash set is the URL-seen set, crawled (url, extracted) is the
    extracted text. max_round limits fetch_log and crawled to early rounds
    (url_state has no round column and is left out then)."""
    def keep(r):
        return max_round is None or r["round"] <= max_round

    flog = table_rows(cat, "fetch_log", ["round", "seq", "url", "status"])
    crawled = [r for t in crawled_tables(cat)
               for r in table_rows(cat, t, ["url", "round", "extracted"])]
    out = {
        "fetch_log": _digest(f'{r["round"]}|{r["seq"]}|{r["url"]}|{r["status"]}'
                             for r in flog if keep(r)),
        "crawled": _digest(json.dumps([r["url"], sorted(r["extracted"] or [])],
                                      ensure_ascii=False)
                           for r in crawled if keep(r)),
    }
    if max_round is None:
        out["url_state"] = _digest(r["url_hash"]
                                   for r in table_rows(cat, "url_state", ["url_hash"]))
    return out


_DETAIL = re.compile(r"^http://www1\.site(\d+)\.test/weixin_(\d+)\.html\?id=\d+$")


def body_mismatches(cat, render_detail) -> tuple[int, int]:
    """(checked, mismatched) detail pages whose extracted body is not
    byte-identical to the generator's golden text."""
    checked = bad = 0
    for t in crawled_tables(cat):
        for r in table_rows(cat, t, ["url", "extracted"]):
            m = _DETAIL.match(r["url"])
            if not m:
                continue
            checked += 1
            got = dict(r["extracted"] or []).get("body")
            want = render_detail(int(m.group(1)), int(m.group(2)))[1]
            if got is None or got.encode("utf-8") != want.encode("utf-8"):
                bad += 1
    return checked, bad


def result_fingerprint(cols, rows) -> str:
    """Digest of the verification gate's fingerprint (sorted column names,
    order-insensitive rows, floats printed as ints when integral)."""
    from verify_gate import fingerprint

    return _digest(["|".join(sorted(cols))] + fingerprint(cols, rows))


def load_goldens() -> dict:
    with open(GOLDENS) as f:
        return json.load(f)


def golden(workload: str, seed: int) -> dict | None:
    return load_goldens().get(workload, {}).get(str(seed))


def record_golden(workload: str, seed: int, values: dict) -> None:
    data = load_goldens() if os.path.exists(GOLDENS) else {}
    data.setdefault(workload, {})[str(seed)] = values
    with open(GOLDENS, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
