"""Output checks. Each returns a list of mismatch descriptions (empty = ok).

The checks take plain Python / pandas values, so a test can corrupt an
output and confirm the check notices.
"""

from __future__ import annotations

from typing import Dict, List

import pandas as pd

# ---- frontier-skewed ------------------------------------------------------


def frontier_invariants(stats: Dict[str, int], budget: int) -> List[str]:
    """Invariants of a ranked frontier at full N, from aggregate counts:
    unique URLs, none already seen, no host over budget, dense fetch_seq."""
    bad = []
    n = stats["rows"]
    if n == 0:
        bad.append("ranked frontier is empty")
    if stats["distinct_urls"] != n:
        bad.append(f"{n - stats['distinct_urls']} duplicate URLs")
    if stats["seen_hits"]:
        bad.append(f"{stats['seen_hits']} admitted URLs are in the seen-set")
    if stats["max_per_host"] > budget:
        bad.append(f"a host admitted {stats['max_per_host']} > budget {budget}")
    if (stats["min_seq"], stats["max_seq"], stats["distinct_seqs"]) != (0, n - 1, n):
        bad.append("fetch_seq is not dense from 0: "
                   f"min={stats['min_seq']} max={stats['max_seq']} "
                   f"distinct={stats['distinct_seqs']} rows={n}")
    return bad


def frontier_expected(cands: pd.DataFrame, seen_keys: set, budget: int,
                      canonicalize) -> pd.DataFrame:
    """The round prelude recomputed in pandas: canonicalize each URL, keep
    each canonical URL's first (depth, seq) occurrence, drop seen URLs,
    admit each host's first ``budget`` by (depth, seq), number the admitted
    rows 0.. in (depth, seq) order."""
    df = cands.copy()
    df["url"] = [canonicalize(u) for u in df["url"]]
    df = df.sort_values(["depth", "seq"], kind="mergesort")
    df = df.drop_duplicates("url", keep="first")
    df = df[~df["url"].isin(seen_keys)]
    df = df[df.groupby("host").cumcount() < budget]
    df = df.sort_values(["depth", "seq"], kind="mergesort").reset_index(drop=True)
    df["fetch_seq"] = range(len(df))
    return df[["url", "host", "depth", "seq", "fetch_seq"]]


def frontier_matches(got: pd.DataFrame, want: pd.DataFrame) -> List[str]:
    cols = ["fetch_seq", "url", "host", "depth", "seq"]
    g = got[cols].sort_values("fetch_seq").reset_index(drop=True)
    w = want[cols].sort_values("fetch_seq").reset_index(drop=True)
    if len(g) != len(w):
        return [f"small-N frontier has {len(g)} rows, pandas expects {len(w)}"]
    diff = (g.astype(str) != w.astype(str)).any(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return [f"small-N frontier differs from pandas in {int(diff.sum())} rows; "
                f"first at fetch_seq {i}: got {g.iloc[i].tolist()} "
                f"want {w.iloc[i].tolist()}"]
    return []


# ---- crawl ------------------------------------------------------------------


def crawl_outputs(res: dict) -> dict:
    """Collect a ``CrawlEngine.results()`` dict into plain Python."""
    order = sorted(
        (r["fetch_seq"], r["url"], r["host"], r["depth"], r["round"])
        for r in res["order"].collect())
    shipped = sorted(
        (r["fetch_seq"], r["url"], r["depth"], r["anchor_text"], r["meta"],
         r["status"], r["text"], r["success"])
        for r in res["shipped"].collect())
    return dict(order=order, seen={r["key"] for r in res["seen"].collect()},
                shipped=shipped, metrics=list(res["metrics"]))


_LINEAGE = ("admitted", "fetched", "deduped", "robots_denied", "errors",
            "url_blocked")


def crawl_matches(golden, got: dict, label: str) -> List[str]:
    """Compare collected engine outputs with ``refsim.simulate``: crawl
    order, seen-set, shipped rows with byte-identical text, and the lineage
    metrics of every round the engine ran."""
    bad = []
    want_order = [(o["fetch_seq"], o["url"], o["host"], o["depth"], o["round"])
                  for o in golden.order]
    if got["order"] != want_order:
        n = next((i for i, (a, b) in enumerate(zip(got["order"], want_order))
                  if a != b), min(len(got["order"]), len(want_order)))
        bad.append(f"{label}: crawl order differs from refsim at position {n} "
                   f"({len(got['order'])} vs {len(want_order)} fetches)")
    if got["seen"] != set(golden.seen):
        bad.append(f"{label}: seen-set differs from refsim "
                   f"({len(got['seen'] ^ set(golden.seen))} keys)")
    seqs = {(o["url"], o["round"]): o["fetch_seq"] for o in golden.order}
    want_shipped = sorted(
        (seqs[(s["url"], s["round"])], s["url"], s["depth"], s["anchor_text"],
         s["meta"], s["status"], s["text"], s["success"])
        for s in golden.shipped)
    if got["shipped"] != want_shipped:
        bad.append(f"{label}: shipped pages differ from refsim")
    want_m = {m["round"]: tuple(m.get(k, 0) for k in _LINEAGE)
              for m in golden.metrics}
    for m in got["metrics"]:
        have = tuple(m.get(k, 0) for k in _LINEAGE)
        if want_m.get(m["round"]) != have:
            bad.append(f"{label}: round {m['round']} lineage {have} != "
                       f"refsim {want_m.get(m['round'])}")
    return bad
