"""Resume/lineage invariance (SURVEY.md §5.2-4): stop after k partitions
or SIGKILL mid-write, resume, final tables identical — including
url-duplicates whose original lives in an already-completed partition."""

import contextlib
import os
import signal
import subprocess
import sys
import time

import duckdb
import pandas as pd
import pytest

from dataquality_spark import config as C, oracle, synth
from jobs import run_pipeline
from perfbench import proctree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    synth.write_pages(str(d), 800, seed=43)
    return str(d)


def _read_decisions(out_dir):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{out_dir}/decisions/*/*.parquet', "
        "hive_partitioning=true)").df()


def test_partial_then_resume_equals_single_run(spark, corpus_dir, tmp_path):
    inp = os.path.join(corpus_dir, "pages.parquet")
    split_out = str(tmp_path / "split")
    full_out = str(tmp_path / "full")

    # killed-after-4-partitions simulation + resume
    run_pipeline.run(["--input", inp, "--output", split_out,
                      "--max-partitions", "4"])
    s1 = run_pipeline.run(["--input", inp, "--output", split_out])
    assert s1["skipped_partitions"] == 4

    run_pipeline.run(["--input", inp, "--output", full_out, "--no-resume"])

    a = _read_decisions(split_out).sort_values(["url", "warc_ts"]) \
        .reset_index(drop=True)
    b = _read_decisions(full_out).sort_values(["url", "warc_ts"]) \
        .reset_index(drop=True)
    assert len(a) == len(b) == 800
    for col in ["url", "keep", "lang_pred", "text_scrubbed"]:
        assert (a[col].fillna("") == b[col].fillna("")).all(), col
    assert (a.rule_hits.map(tuple) == b.rule_hits.map(tuple)).all()

    # and both equal the oracle
    gold = oracle.run_oracle(pd.read_parquet(inp))
    m = gold.merge(a, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert (m.keep_g == m.keep_s).all()

    # exactly one audit row (the commit record) per partition across
    # both runs
    mf = duckdb.sql(f"SELECT partition_id, count(*) c FROM "
                    f"read_parquet('{split_out}/audit/*.parquet') "
                    "GROUP BY 1").df()
    assert (mf.c == 1).all()


def test_rerun_is_noop(spark, corpus_dir, tmp_path):
    inp = os.path.join(corpus_dir, "pages.parquet")
    out = str(tmp_path / "noop")
    run_pipeline.run(["--input", inp, "--output", out])
    s = run_pipeline.run(["--input", inp, "--output", out])
    assert s["n_docs"] == 0
    assert len(_read_decisions(out)) == 800


def _staged(decisions_dir):
    """True once the decisions write has set up its staging area."""
    try:
        return any(n.startswith((".spark-staging", "_temporary"))
                   for n in os.listdir(decisions_dir))
    except FileNotFoundError:
        return False


def test_sigkill_during_write_then_resume(spark, corpus_dir, tmp_path):
    """A run killed while its decisions write is in flight commits
    nothing; the resumed run then produces oracle-identical decisions and
    exactly one audit row per partition."""
    inp = os.path.join(corpus_dir, "pages.parquet")
    out = str(tmp_path / "killed")
    decisions_dir = os.path.join(out, "decisions")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "jobs", "run_pipeline.py"),
         "--input", inp, "--output", out, "--master", "local[2]"],
        env=env, start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    staged = False
    try:
        deadline = time.monotonic() + 300
        while proc.poll() is None and time.monotonic() < deadline:
            if _staged(decisions_dir):
                staged = True
                break
            time.sleep(0.005)
    finally:
        # the pyspark daemon runs in a process group of its own, so kill
        # the whole tree as well as the job's group
        pids = list(proctree.tree(proc.pid))
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        proc.wait(timeout=60)
    assert staged, f"job ended (rc={proc.returncode}) before its write"
    audit_dir = os.path.join(out, "audit")
    assert not os.path.isdir(audit_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(audit_dir))

    s = run_pipeline.run(["--input", inp, "--output", out])
    assert s["skipped_partitions"] == 0 and s["n_docs"] == 800

    got = (spark.read.parquet(decisions_dir)
           .select("url", "warc_ts", "keep", "rule_hits", "text_scrubbed")
           .toPandas())
    assert len(got) == 800
    gold = oracle.run_oracle(pd.read_parquet(inp))
    m = gold.merge(got, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert len(m) == 800
    assert (m.keep_g == m.keep_s).all()
    assert (m.rule_hits_g.map(tuple) == m.rule_hits_s.map(tuple)).all()
    assert (m.text_scrubbed_g.isna() == m.text_scrubbed_s.isna()).all()
    assert (m.text_scrubbed_g.fillna("").map(str.encode)
            == m.text_scrubbed_s.fillna("").map(str.encode)).all()

    rows = duckdb.sql(f"SELECT partition_id, count(*) c FROM "
                      f"read_parquet('{audit_dir}/*.parquet') "
                      "GROUP BY 1").df()
    n_parts = got.warc_ts.dt.strftime("%Y-%m").nunique()
    assert len(rows) == n_parts and (rows.c == 1).all()
