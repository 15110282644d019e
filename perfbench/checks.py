"""Output checks, run after each timed invocation.

Each returns None when the job's output is correct, else a one-line
reason; the benchmark counts a failed check as a failed invocation.
"""

from __future__ import annotations

import os

import pandas as pd


def _ts_us(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def _compare_decisions(out: pd.DataFrame, gold: pd.DataFrame) -> str | None:
    """keep, rule_hits and byte-identical text_scrubbed per (url, warc_ts)
    must equal the oracle's, row for row."""
    if len(out) != len(gold):
        return f"{len(out)} decision rows, oracle has {len(gold)}"
    out = out.assign(warc_ts=_ts_us(out["warc_ts"]))
    gold = gold.assign(warc_ts=_ts_us(gold["warc_ts"]))
    key = ["url", "warc_ts"]
    cols = ["keep", "rule_hits", "text_scrubbed"]
    a = out[key + cols].sort_values(key + ["text_scrubbed"],
                                    kind="mergesort").reset_index(drop=True)
    b = gold[key + cols].sort_values(key + ["text_scrubbed"],
                                     kind="mergesort").reset_index(drop=True)
    if not (a[key] == b[key]).all().all():
        return "decision keys differ from the oracle's"
    if not (a["keep"].astype(bool) == b["keep"].astype(bool)).all():
        return f"keep differs on {(a['keep'] != b['keep']).sum()} rows"
    hits_a = a["rule_hits"].map(lambda h: tuple(h) if h is not None else ())
    hits_b = b["rule_hits"].map(lambda h: tuple(h) if h is not None else ())
    if not (hits_a == hits_b).all():
        return f"rule_hits differ on {(hits_a != hits_b).sum()} rows"
    ta, tb = a["text_scrubbed"].fillna(""), b["text_scrubbed"].fillna("")
    if not (ta == tb).all():
        return f"text_scrubbed differs on {(ta != tb).sum()} rows"
    return None


def _decisions(out_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(out_dir, "decisions"),
                           columns=["url", "warc_ts", "keep", "rule_hits",
                                    "text_scrubbed"])


def check_filter_full(inputs, out_dir: str) -> str | None:
    return _compare_decisions(_decisions(out_dir), inputs.oracle())


def check_recrawl_delta(inputs, out_dir: str) -> str | None:
    out = _decisions(out_dir)
    got, want = set(out["url"]), inputs.work_set()
    if got != want:
        return (f"work set has {len(got - want)} unplanted and "
                f"misses {len(want - got)} planted urls")
    return _compare_decisions(out, inputs.oracle())


def check_curate_neardup(inputs, out_dir: str) -> str | None:
    out = pd.read_parquet(out_dir, columns=["doc_id", "split", "shard"])
    n_in = len(pd.read_parquet(inputs.docs_dir, columns=["doc_id"]))
    if len(out) == 0:
        return "curate wrote no documents"
    ids = out["doc_id"].tolist()
    if len(set(ids)) != len(ids):
        return "duplicate doc_id in the output"
    kept = set(ids)
    clusters = inputs.clusters()
    for members in clusters:
        n = sum(m in kept for m in members)
        if n != 1:
            return f"cluster {members} keeps {n} docs"
    clustered = {m for members in clusters for m in members}
    unplanted = set(range(n_in)) - clustered
    if not unplanted <= kept:
        return f"{len(unplanted - kept)} unplanted docs dropped"
    for col in ("split", "shard"):
        counts = out.groupby(col, dropna=False).size()
        if out[col].isna().any() or int(counts.sum()) != len(out):
            return f"{col} counts do not sum to the output count"
    return None


def check(workload: str, inputs, out_dir: str) -> str | None:
    return {"filter_full": check_filter_full,
            "recrawl_delta": check_recrawl_delta,
            "curate_neardup": check_curate_neardup}[workload](inputs, out_dir)
