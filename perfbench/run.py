"""Closed-loop benchmark of the batch jobs users run.

    python3 perfbench/run.py --workload filter_full --seed 1 --seconds 10 \
        --trace 0

Workloads (one job invocation at a time, from this single process, on
``local[<cpus>]``):

* ``filter_full``    ``jobs/run_pipeline.run --no-resume`` on a fresh crawl;
* ``recrawl_delta``  ``jobs/run_pipeline.run --previous`` on a recrawl of
                     the same url space (~5% changed, ~3% new urls);
* ``curate_neardup`` ``jobs/curate.run --recipe webtext-v1`` on kept docs
                     with planted near-duplicate clusters.

BENCHMARK.json lists filter_full and curate_neardup: with a cold setup
of 25-35 s per run, a third workload does not fit the time the full set
of benchmark runs may take. recrawl_delta stays runnable by hand.

Inputs come from ``--seed`` (perfbench/inputs.py) and are cached under
``.bench_work/`` at the repository root, which also holds the model
caches (``TMPDIR``), Spark's scratch space and every job output, so the
benchmark reads and writes nothing outside the checkout.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (a cold start:
JVM and session start plus the first, untimed invocation; input
generation and the model caches are done before it), and medians over
the invocations run in ``--seconds`` (at least ``MIN_INVOCATIONS``) of
``job_s`` (input on disk to complete output), ``docs_per_s``, ``cpu_s``
and ``peak_rss_mb`` (CPU time and peak proportional set size of the
whole process tree, from /proc; perfbench/proctree.py). Every
invocation's output is checked outside the timed region; a failed
invocation or check counts in ``failed``. ``--trace 1`` prints the
per-layer metrics instead (perfbench/layers.py).

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Job output goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# Documents per workload input (docs_per_s is counted over these). At
# these sizes a job's fixed cost dominates (~5 s for run_pipeline, ~12 s
# for curate on 4 cores), and a whole run — input generation, the cold
# setup, >= MIN_INVOCATIONS timed invocations and their checks — takes
# 45-70 s, which is what lets the full set of benchmark runs fit its
# time budget.
SIZES = {"filter_full": 4_000, "recrawl_delta": 4_000,
         "curate_neardup": 1_000}
MIN_INVOCATIONS = 2


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Environment the jobs, the JVM and the Python workers inherit.
    Must run before dataquality_spark is imported: its model modules
    resolve their on-disk cache path from TMPDIR at import time."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Spark's Python workers import dataquality_spark from the checkout
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # get_spark defaults to an 8g driver heap; the inputs need far less
    # and the machine may be shared
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Session:
    """A Spark session on a JVM of its own, started and fully stopped by
    the benchmark (the jobs' own get_spark calls return it)."""

    def __init__(self, master: str):
        self.master = master
        self.spark = None

    def start(self):
        from dataquality_spark.session import get_spark

        self.spark = get_spark("perfbench", master=self.master, extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session and the JVM, then wait until every process
        the benchmark started (JVM, pyspark daemon, workers) has ended."""
        from pyspark import SparkContext

        from perfbench import proctree

        started = set(proctree.tree(os.getpid())) - {os.getpid()}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while started and time.monotonic() < deadline:
            started = {p for p in started if proctree.alive(p)}
            time.sleep(0.1)
        for pid in started:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


class Runner:
    """One workload's job invocations and output checks."""

    def __init__(self, workload: str, seed: int, master: str):
        from perfbench import inputs

        self.workload = workload
        self.master = master
        self.inputs = inputs.Inputs(os.path.join(WORK, "inputs"), workload,
                                    seed, SIZES[workload])
        self.out_root = os.path.join(WORK, "out", workload)
        self._job = _load_job("curate" if workload == "curate_neardup"
                              else "run_pipeline")
        self._n = 0
        self.attempted = 0
        self.failures: list[str] = []

    def argv(self, out: str) -> list[str]:
        i = self.inputs
        if self.workload == "filter_full":
            return ["--input", i.pages_dir, "--output", out, "--no-resume",
                    "--master", self.master]
        if self.workload == "recrawl_delta":
            return ["--input", i.recrawl_dir, "--previous", i.pages_dir,
                    "--output", out, "--master", self.master]
        return ["--recipe", "webtext-v1", "--input", i.docs_dir,
                "--output", out, "--master", self.master]

    def _invoke(self, out: str) -> str | None:
        """Run the job once; returns an error string or None."""
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                self._job.run(self.argv(out))
        except SystemExit as e:
            err = f"job exited with {e.code}"
        except Exception:
            err = traceback.format_exc(limit=3)
        else:
            err = None
        text = buf.getvalue()
        sys.stderr.write(text)
        if err is None:
            for line in text.splitlines():
                if line.startswith("{") and '"success": false' in line:
                    err = line
        return err

    def _check(self, out: str) -> str | None:
        from perfbench import checks

        try:
            return checks.check(self.workload, self.inputs, out)
        except Exception:
            return traceback.format_exc(limit=3)

    def attempt(self, around=None) -> float:
        """One invocation into a fresh output dir, inside the context
        manager `around` when given (a measuring window, a trace span),
        then its output check; returns the invocation's wall seconds.
        Failures are recorded, not raised."""
        shutil.rmtree(self.out_root, ignore_errors=True)
        self._n += 1
        out = os.path.join(self.out_root, str(self._n))
        with around or contextlib.nullcontext():
            t0 = time.perf_counter()
            err = self._invoke(out)
            dt = time.perf_counter() - t0
        err = err or self._check(out)
        self.attempted += 1
        if err:
            self.failures.append(err)
            print(f"[perfbench] {self.workload} invocation failed: {err}",
                  file=sys.stderr)
        return dt

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        shutil.rmtree(self.out_root, ignore_errors=True)
        return {"correct": not self.failures, "attempted": self.attempted,
                "failed": len(self.failures),
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _warm_model_caches() -> None:
    """Build the on-disk model caches (langid, LM, quality model) before
    anything is timed; setup_s assumes they exist."""
    from dataquality_spark.functions import langid, lm, quality_model

    langid.get_model()
    lm.get_model()
    quality_model.get_model()


def bench(workload: str, seed: int, seconds: float) -> dict:
    from perfbench import proctree

    master = f"local[{_cpus()}]"
    runner = Runner(workload, seed, master)
    runner.inputs.build()
    n_docs = runner.inputs.n_input_docs()
    session = Session(master)
    try:
        t0 = time.perf_counter()
        session.start()
        runner.attempt()
        setup_s = time.perf_counter() - t0

        job_s, cpu_s, rss = [], [], []
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline or len(job_s) < MIN_INVOCATIONS:
            win = proctree.Window(os.getpid())
            job_s.append(runner.attempt(win))
            cpu_s.append(win.cpu_s)
            rss.append(win.peak_mb)
    finally:
        session.stop()

    job = median(job_s)
    metrics = {
        "setup_s": (setup_s, "s"),
        "job_s": (job, "s"),
        "docs_per_s": (n_docs / job, "1/s"),
        "cpu_s": (median(cpu_s), "s"),
        "peak_rss_mb": (median(rss), "MB"),
    }
    print(f"[perfbench] {workload} seed={seed} docs={n_docs} "
          f"invocations={len(job_s)} "
          + " ".join(f"{k}={v:.4g} {u}" for k, (v, u) in metrics.items())
          + f" fail_frac={len(runner.failures) / runner.attempted:.3g}"
          + f" | per invocation: job_s={[round(x, 3) for x in job_s]}"
          f" cpu_s={[round(x, 2) for x in cpu_s]}"
          f" peak_rss_mb={[round(x) for x in rss]}", flush=True)
    return runner.result(metrics)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="build the seed's inputs twice and check that "
                         "the files are byte-identical, then exit")
    args = ap.parse_args(argv)

    missing = [d for d in ("dataquality_spark", "jobs")
               if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2

    _prepare_env()
    if args.self_test:
        from perfbench import inputs

        root = os.path.join(WORK, "selftest")
        shutil.rmtree(root, ignore_errors=True)
        digests = []
        for copy in ("a", "b"):
            built = inputs.Inputs(os.path.join(root, copy), args.workload,
                                  args.seed, SIZES[args.workload])
            built.build()
            digests.append(inputs.digest(os.path.join(root, copy)))
        shutil.rmtree(root, ignore_errors=True)
        same = digests[0] == digests[1]
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "digest": digests[0], "deterministic": same}))
        return 0 if same else 1

    _warm_model_caches()
    with contextlib.redirect_stdout(sys.stderr):
        if args.trace:
            from perfbench import layers

            result = layers.traced(args.workload, args.seed, args.seconds)
        else:
            result = bench(args.workload, args.seed, args.seconds)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
