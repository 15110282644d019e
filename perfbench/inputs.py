"""Seeded benchmark inputs, built on ``synth.gen_pages`` / ``synth.gen_tokens``.

Each workload's inputs are a pure function of (workload, seed, size) and
are cached on disk under that key, so a repeated seed skips generation.
The jobs only ever see the parquet files written here; the planted
ground truth (changed/added urls, near-duplicate clusters) and the
oracle decisions are stored beside them for the output checks.

* fresh crawl   ``synth.gen_pages(n, seed)``: the default category mix,
                3% exact-dup urls, the 30% hot host.
* recrawl       the same url space re-fetched 30 days later: every row's
                ``warc_ts`` moves forward, ~5% of urls get a changed text
                and ~3% new urls appear. The previous crawl is the fresh
                crawl of the same seed.
* kept docs     ``(doc_id, url, lang, text)`` whose lines all end in
                terminal punctuation (C4's line rule keeps them), with
                ~15% planted near-duplicates: clusters of 2-5 docs that
                differ from their source by a few edited tokens.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from dataquality_spark import config as C
from dataquality_spark import oracle, synth

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
# Many small files: the scan (and the fused model stage that runs in the
# scan's stage) gets one task per core instead of one per row group.
N_FILES = 16
RECRAWL_SHIFT = np.timedelta64(30, "D")
RECRAWL_CHANGED_FRAC = 0.05
RECRAWL_ADDED_FRAC = 0.03
NEARDUP_FRAC = 0.15
TERMINAL = (".", "!", "?")
# a source starts a cluster with this chance; clusters add 2.5 members on
# average, so planted members are ~15% of docs across the whole id range
_CLUSTER_P = 0.07


def _write_parts(df: pd.DataFrame, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        table = pa.Table.from_pandas(df.iloc[part].reset_index(drop=True),
                                     preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def fresh_pages(n: int, seed: int) -> pd.DataFrame:
    return synth.gen_pages(n, seed)[PAGES_COLUMNS]


def recrawl_pages(prev: pd.DataFrame, seed: int
                  ) -> tuple[pd.DataFrame, set[str]]:
    """New crawl of `prev`'s url space plus the planted work-set urls.

    Changes are planted per url (every row of a changed url gets the
    same new text), so the job's keep-newest-per-url diff sees exactly
    the planted set as changed, whichever duplicate row is newest."""
    rng = np.random.default_rng([seed, 1])
    new = prev.copy()
    new["warc_ts"] = new["warc_ts"] + RECRAWL_SHIFT
    urls = np.sort(new["url"].unique())
    n_changed = max(1, int(round(RECRAWL_CHANGED_FRAC * len(urls))))
    changed = set(rng.choice(urls, n_changed, replace=False).tolist())
    first_text = (new[new["url"].isin(changed)]
                  .drop_duplicates("url").set_index("url")["text"])
    new_text = {}
    for url in sorted(changed):
        old = first_text[url] or ""
        lang = url.split("/")[3]
        extra = " ".join(synth.gen_tokens(lang, int(rng.integers(8, 15)),
                                          rng))
        new_text[url] = old + "\n" + extra
    mask = new["url"].isin(changed)
    new.loc[mask, "text"] = new.loc[mask, "url"].map(new_text)
    new.loc[mask, "html"] = [b"<html><body>" + t.encode("utf-8")
                             + b"</body></html>"
                             for t in new.loc[mask, "text"]]

    n_added = max(1, int(round(RECRAWL_ADDED_FRAC * len(urls))))
    added = synth.gen_pages(n_added, seed=seed + 1_000_003)[PAGES_COLUMNS]
    # a url namespace the previous crawl cannot contain
    added["url"] = added["url"].str.replace("/doc-", "/new-doc-", regex=False)
    added["warc_ts"] = added["warc_ts"] + RECRAWL_SHIFT
    out = pd.concat([new, added], ignore_index=True)
    return out, changed | set(added["url"])


def _newest_rows(pages: pd.DataFrame, urls: set[str]) -> pd.DataFrame:
    """The rows the job's keep-newest diff hands to the decision
    pipeline: for each url, every row at that url's latest warc_ts."""
    sub = pages[pages["url"].isin(urls)]
    latest = sub.groupby("url")["warc_ts"].transform("max")
    return sub[sub["warc_ts"] == latest].reset_index(drop=True)


def _punctuated_doc(lang: str, rng: np.random.Generator) -> list[str]:
    """Lines of 8-14 ``gen_tokens`` words, each ending in terminal
    punctuation, so C4's line rule keeps every line."""
    n_lines = int(rng.integers(12, 19))
    lines = []
    for _ in range(n_lines):
        words = synth.gen_tokens(lang, int(rng.integers(8, 15)), rng)
        lines.append(" ".join(words)
                     + TERMINAL[int(rng.integers(0, len(TERMINAL)))])
    return lines


def _edit_tokens(lines: list[str], lang: str,
                 rng: np.random.Generator) -> list[str]:
    """Replace 1-2 tokens (never a line's last) with fresh words.

    With >= 12 lines of >= 8 words a doc has ~130+ word 3-grams, so a
    member keeps Jaccard >= 0.9 to its source and the 16x8 LSH bands
    miss such a pair with probability < 1e-4."""
    out = [line.split(" ") for line in lines]
    for _ in range(int(rng.integers(1, 3))):
        li = int(rng.integers(0, len(out)))
        wi = int(rng.integers(0, len(out[li]) - 1))
        out[li][wi] = synth.gen_tokens(lang, 1, rng, stopword_rate=0.0)[0] \
            + "x"
    return [" ".join(ws) for ws in out]


def kept_docs(n: int, seed: int) -> tuple[pd.DataFrame, list[list[int]]]:
    """Kept docs plus the planted near-duplicate clusters (doc ids,
    source first). Cluster members follow their source in id order, so
    the source is each cluster's minimum id."""
    rng = np.random.default_rng([seed, 2])
    rows: list[tuple[int, str, str, str]] = []
    clusters: list[list[int]] = []
    n_planted = 0
    while len(rows) < n:
        doc_id = len(rows)
        lang = C.LANGS[int(rng.integers(0, len(C.LANGS)))]
        host = synth.HOSTS[int(rng.integers(0, len(synth.HOSTS)))]
        lines = _punctuated_doc(lang, rng)
        rows.append((doc_id, f"https://{host}/{lang}/kept-{doc_id:07d}",
                     lang, "\n".join(lines)))
        if n_planted < NEARDUP_FRAC * n and rng.random() < _CLUSTER_P:
            size = min(int(rng.integers(2, 6)), n - len(rows) + 1)
            if size < 2:
                continue
            members = [doc_id]
            for _ in range(size - 1):
                mid = len(rows)
                members.append(mid)
                rows.append((mid, f"https://mirror{mid % 7}.example.net/"
                                  f"{lang}/kept-{mid:07d}", lang,
                             "\n".join(_edit_tokens(lines, lang, rng))))
            n_planted += size - 1
            clusters.append(members)
    df = pd.DataFrame(rows, columns=["doc_id", "url", "lang", "text"])
    df["doc_id"] = df["doc_id"].astype("int64")
    return df, clusters


class Inputs:
    """On-disk inputs of one (workload, seed, size), built on first use."""

    def __init__(self, cache_root: str, workload: str, seed: int, size: int):
        self.workload, self.seed, self.size = workload, seed, size
        self.root = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
        self._fresh_root = os.path.join(cache_root,
                                        f"fresh-s{seed}-n{size}")

    # -- paths the jobs read -------------------------------------------
    @property
    def pages_dir(self) -> str:
        return os.path.join(self._fresh_root, "pages")

    @property
    def recrawl_dir(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def docs_dir(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def pages_view_dir(self) -> str:
        """Pages-shaped input for the per-layer probes: the crawl the
        job decides on, or for kept docs a pages view of them."""
        if self.workload == "filter_full":
            return self.pages_dir
        if self.workload == "recrawl_delta":
            return self.recrawl_dir
        path = os.path.join(self.root, "pages_view")
        if not _done(path):
            docs = pd.read_parquet(self.docs_dir)
            view = pd.DataFrame({
                "url": docs["url"],
                "warc_ts": pd.Timestamp("2025-01-01").as_unit("us"),
                "html": [b"<html><body>" + t.encode("utf-8")
                         + b"</body></html>" for t in docs["text"]],
                "text": docs["text"], "lang": docs["lang"]})
            _write_parts(view, path)
            _mark_done(path)
        return path

    def snapshot_pair(self) -> tuple[str, str]:
        """(previous, new) crawl for the snapshot probe: the recrawl
        workload's own pair, else a planted recrawl of the pages view."""
        if self.workload == "recrawl_delta":
            return self.pages_dir, self.recrawl_dir
        prev = self.pages_view_dir
        path = os.path.join(self.root, "recrawl_view")
        if not _done(path):
            new, _ = recrawl_pages(pd.read_parquet(prev), self.seed)
            _write_parts(new, path)
            _mark_done(path)
        return prev, path

    def input_dirs(self) -> list[str]:
        if self.workload == "filter_full":
            return [self.pages_dir]
        if self.workload == "recrawl_delta":
            return [self.pages_dir, self.recrawl_dir]
        return [self.docs_dir]

    # -- build ---------------------------------------------------------
    def _build_fresh(self) -> None:
        if _done(self._fresh_root):
            return
        pages = fresh_pages(self.size, self.seed)
        _write_parts(pages, self.pages_dir)
        _mark_done(self._fresh_root)

    def build(self) -> None:
        """Write the inputs and expected results unless cached."""
        if self.workload in ("filter_full", "recrawl_delta"):
            self._build_fresh()
        if _done(self.root):
            return
        os.makedirs(self.root, exist_ok=True)
        if self.workload == "filter_full":
            pages = pd.read_parquet(self.pages_dir)
            oracle.run_oracle(pages).to_parquet(
                os.path.join(self.root, "oracle.parquet"), index=False)
        elif self.workload == "recrawl_delta":
            prev = pd.read_parquet(self.pages_dir)
            new, work = recrawl_pages(prev, self.seed)
            _write_parts(new, self.recrawl_dir)
            oracle.run_oracle(_newest_rows(new, work)).to_parquet(
                os.path.join(self.root, "oracle.parquet"), index=False)
            with open(os.path.join(self.root, "work_set.json"), "w") as f:
                json.dump(sorted(work), f)
        elif self.workload == "curate_neardup":
            docs, clusters = kept_docs(self.size, self.seed)
            _write_parts(docs, self.docs_dir)
            with open(os.path.join(self.root, "clusters.json"), "w") as f:
                json.dump(clusters, f)
        else:
            raise ValueError(f"unknown workload {self.workload!r}")
        _mark_done(self.root)

    # -- expected results ----------------------------------------------
    def oracle(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.root, "oracle.parquet"))

    def work_set(self) -> set[str]:
        with open(os.path.join(self.root, "work_set.json")) as f:
            return set(json.load(f))

    def clusters(self) -> list[list[int]]:
        with open(os.path.join(self.root, "clusters.json")) as f:
            return json.load(f)

    def n_input_docs(self) -> int:
        """Documents the workload's docs_per_s is counted over."""
        if self.workload == "recrawl_delta":
            return len(pd.read_parquet(self.recrawl_dir, columns=["url"]))
        d = self.pages_dir if self.workload == "filter_full" else self.docs_dir
        return len(pd.read_parquet(d, columns=["url"]))


def digest(root: str) -> str:
    """sha256 over every file under `root` (relative path and bytes),
    for the determinism self-test: one seed must give identical bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
