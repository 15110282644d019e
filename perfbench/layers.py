"""Traced run: per-layer metrics from spans around calls into each layer.

Spans are recorded by the benchmark's own code, never inside the
program: around the job invocation and the layer functions it calls
(patched on their modules for the traced invocations only), and around
one probe per layer that calls the layer's public functions directly on
the workload's inputs. Spans (name, start, end, parent, trace id,
counts) stay in memory and are written to
``.bench_work/traces/<workload>-s<seed>.json`` when the run ends.

Which end-to-end metric each layer metric should move:

* ``io.read_pages_s``                 job_s where inputs are large or read
                                      twice (the recrawl diff)
* ``io.write_decisions_s``,
  ``io.write_bytes_per_input_byte``   filter_full job_s (every row is
                                      written with its scrubbed text)
* ``pipeline.dedup_flags_s/_rows``    both run_pipeline workloads
* ``pipeline.models_stage_s``,
  ``pipeline.models_stage_docs_per_s``,
  ``pipeline.models_batch_us_per_doc``  filter_full job_s and cpu_s; the
                                      gap between the Spark stage and the
                                      in-process batch cost is Arrow and
                                      worker overhead
* ``langid/lm/scrub.us_per_doc``      filter_full; ``lm.gated_frac`` and
                                      ``scrub.rewrite_per_candidate`` are
                                      useful-to-attempted counts
* ``quality_model.us_per_doc``        curate_neardup
* ``audit.audit_metrics_s``,
  ``resume.manifest_s``               fixed cost per run_pipeline job
* ``snapshot.needs_processing_s``,
  ``snapshot.work_set_frac``          recrawl_delta job_s; no effect on
                                      filter_full
* ``dedup.*``, ``graph.*``,
  ``curation.*``                      curate_neardup job_s and cpu_s; no
                                      effect on run_pipeline
* ``trace.overhead_frac``             traced job_s / untraced job_s - 1

Every probe runs on every workload (on a pages view of the kept docs,
or a planted recrawl of the workload's crawl where needed), so each
traced run prints the full metric set.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from perfbench.run import median

# In-process batch probes are cheap enough to take the median of three;
# Spark probes run once each (the job has warmed the JVM by then), which
# keeps a traced run within about the time of an untraced one.
BATCH_REPEATS = 3


class Tracer:
    """In-memory spans: id, parent, trace id, name, start, end, counts."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **counts}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Open a span around every call of module.attr while active."""
        saved = []
        for mod, attr, name in targets:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))

            def wrapper(*a, _fn=fn, _name=name, **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct children."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _du(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                         if not f.startswith(("_", ".")))
    return total


def _job_targets(workload: str) -> list[tuple[object, str, str]]:
    """The layer functions each job calls, by module attribute."""
    if workload == "curate_neardup":
        from dataquality_spark.functions import quality_model
        from dataquality_spark.operators import curation, dedup, graph

        return [(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
                (graph, "resolve_duplicates", "graph.resolve_duplicates"),
                (curation, "c4_line_filter", "curation.c4_line_filter"),
                (curation, "dedupe_paragraphs_global",
                 "curation.dedupe_paragraphs_global"),
                (quality_model, "quality_scores",
                 "quality_model.quality_scores"),
                (curation, "split_assign", "curation.split_assign"),
                (curation, "shard_assign", "curation.shard_assign")]
    from dataquality_spark import audit, pipeline, resume
    from dataquality_spark.sources import io

    return [(io, "read_pages", "io.read_pages"),
            (resume, "completed_partitions", "resume.completed_partitions"),
            (pipeline, "with_decisions", "pipeline.with_decisions"),
            (io, "write_decisions", "io.write_decisions"),
            (audit, "audit_metrics", "audit.audit_metrics"),
            (io, "append_audit", "io.append_audit"),
            (resume, "record_done", "resume.record_done")]


class Probes:
    """One probe per layer on the workload's inputs; fills `metrics`."""

    def __init__(self, spark, inputs, tracer: Tracer, scratch: str):
        self.spark, self.inputs, self.tr = spark, inputs, tracer
        self.scratch = scratch
        self.metrics: dict[str, tuple[float, str]] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def timed(self, name: str, fn):
        """Seconds of one call of fn (in a span) and its result."""
        with self.tr.span(name):
            t0 = time.perf_counter()
            res = fn()
            return time.perf_counter() - t0, res

    def _out(self, name: str) -> str:
        path = os.path.join(self.scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- frames ----------------------------------------------------------
    def pages(self):
        from dataquality_spark.sources import io

        return io.read_pages(self.spark, self.inputs.pages_view_dir)

    def docs(self):
        """(doc_id, url, lang, text) for the dedup/graph/curation probes."""
        from pyspark.sql import functions as F

        if self.inputs.workload == "curate_neardup":
            return self.spark.read.parquet(self.inputs.docs_dir)
        return self.pages().select(
            F.xxhash64("url", "warc_ts").alias("doc_id"), "url", "lang",
            "text")

    # -- probes ----------------------------------------------------------
    def io_and_pipeline(self) -> None:
        from pyspark.sql import functions as F

        from dataquality_spark import audit, caching, pipeline, resume
        from dataquality_spark.sources import io

        def scan():
            return sum(io.read_pages(self.spark, d)
                       .agg(F.sum(F.length("text"))).collect()[0][0] or 0
                       for d in self.inputs.input_dirs())
        self.put("io.read_pages_s", self.timed("io.read_pages", scan)[0], "s")

        pages = self.pages()
        n_docs = pages.count()
        t, n_flags = self.timed("pipeline.dedup_flags",
                                lambda: pipeline.dedup_flags(pages).count())
        self.put("pipeline.dedup_flags_s", t, "s")
        self.put("pipeline.dedup_flag_rows", n_flags, "count")

        def models():
            m = pages.select(pipeline.models_udf(
                F.col("text"), F.col("lang"), F.lit(False)).alias("_m"))
            return m.agg(F.count(F.lit(1)), F.sum("_m.n_words"),
                         F.sum(F.length("_m.text_scrubbed"))).collect()
        t, _ = self.timed("pipeline.models_stage", models)
        self.put("pipeline.models_stage_s", t, "s")
        self.put("pipeline.models_stage_docs_per_s", n_docs / t, "1/s")

        enriched = pipeline.with_decisions(pages).persist()
        with self.tr.span("pipeline.with_decisions", rows=n_docs):
            enriched.count()
        decisions = enriched.select(*pipeline.DECISION_COLUMNS)
        out = self._out("decisions")
        t, _ = self.timed("io.write_decisions",
                          lambda: io.write_decisions(decisions, out))
        self.put("io.write_decisions_s", t, "s")
        self.put("io.write_bytes_per_input_byte",
                 _du([out]) / _du([self.inputs.pages_view_dir]), "B/B")
        n_gated = enriched.where(F.col("ppl").isNotNull()).count()
        self.put("lm.gated_frac", n_gated / n_docs, "ratio")

        t, _ = self.timed("audit.audit_metrics",
                          lambda: audit.audit_metrics(enriched).collect())
        self.put("audit.audit_metrics_s", t, "s")
        rows = [(r[0], r[1]) for r in enriched.groupBy("partition_id")
                .count().collect()]
        manifest = self._out("manifest")

        def manifest_round_trip():
            resume.record_done(self.spark, manifest, rows,
                               datetime.datetime(2025, 1, 1))
            return resume.completed_partitions(self.spark, manifest)
        t, _ = self.timed("resume.manifest", manifest_round_trip)
        self.put("resume.manifest_s", t, "s")
        enriched.unpersist()
        caching.unpersist_all()

    def snapshot(self) -> None:
        from pyspark.sql import functions as F

        from dataquality_spark.operators import snapshot
        from dataquality_spark.sources import io

        prev_dir, new_dir = self.inputs.snapshot_pair()

        def newest(df):   # the job's keep-newest-per-url rule
            ts = df.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
            return df.join(ts, ["url", "warc_ts"], "left_semi")
        prev = io.read_pages(self.spark, prev_dir)
        new = io.read_pages(self.spark, new_dir)
        t, n_work = self.timed(
            "snapshot.needs_processing",
            lambda: snapshot.needs_processing(newest(prev), newest(new),
                                              "url", "text").count())
        self.put("snapshot.needs_processing_s", t, "s")
        self.put("snapshot.work_set_frac", n_work / new.count(), "ratio")

    def near_dup(self) -> None:
        from pyspark.sql import functions as F

        from dataquality_spark import caching
        from dataquality_spark.operators import curation, dedup, graph

        docs = self.docs()
        pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id").persist()
        t, n_pairs = self.timed("dedup.minhash_lsh_pairs", pairs.count)
        self.put("dedup.minhash_pairs_s", t, "s")
        self.put("dedup.verified_pairs", n_pairs, "count")

        def resolve():
            r = graph.resolve_duplicates(docs, pairs, "doc_id")
            return r.where("is_dup").agg(
                F.count_distinct("component")).collect()[0][0]
        t, n_comp = self.timed("graph.resolve_duplicates", resolve)
        self.put("graph.resolve_duplicates_s", t, "s")
        self.put("graph.components", n_comp, "count")
        pairs.unpersist()
        caching.unpersist_all()

        t, _ = self.timed(
            "curation.dedupe_paragraphs_global",
            lambda: curation.dedupe_paragraphs_global(docs, "text", "doc_id")
            .agg(F.sum("n_kept")).collect())
        self.put("curation.dedupe_paragraphs_s", t, "s")
        t, _ = self.timed(
            "curation.c4_line_filter",
            lambda: curation.c4_line_filter(docs, "text")
            .agg(F.sum(F.col("keep_doc").cast("long"))).collect())
        self.put("curation.c4_line_filter_s", t, "s")

    def batches(self) -> None:
        """In-process per-doc costs on Arrow-sized pandas batches."""
        from pyspark.sql import functions as F

        from dataquality_spark import config as C, pipeline
        from dataquality_spark.functions import langid, lm, quality_model, scrub
        from dataquality_spark.operators import dedup

        frame = pd.read_parquet(self.inputs.pages_view_dir,
                                columns=["text", "lang"])
        n = len(frame)
        bs = C.ARROW_MAX_RECORDS_PER_BATCH
        batches = [frame.iloc[i:i + bs].reset_index(drop=True)
                   for i in range(0, n, bs)]

        def per_doc(span: str, metric: str, fn, parts=batches) -> None:
            n_docs = sum(len(b) for b in parts)
            times = []
            for _ in range(BATCH_REPEATS):
                with self.tr.span(span, docs=n_docs):
                    t0 = time.perf_counter()
                    for b in parts:
                        fn(b)
                    times.append(time.perf_counter() - t0)
            self.put(metric, median(times) / n_docs * 1e6, "us")

        # no dup/stale votes: every doc reaches the gated LM unless a
        # heuristic or the language check drops it
        per_doc("pipeline.models_batch", "pipeline.models_batch_us_per_doc",
                lambda b: pipeline.models_udf.func(
                    b["text"], b["lang"],
                    pd.Series(np.zeros(len(b), dtype=bool))))
        per_doc("langid", "langid.us_per_doc",
                lambda b: langid.score_texts(b["text"]))
        per_doc("lm", "lm.us_per_doc", lambda b: lm.perplexity(b["text"]))
        per_doc("scrub", "scrub.us_per_doc",
                lambda b: scrub.scrub_series_sparse(b["text"]))
        per_doc("quality_model", "quality_model.us_per_doc",
                lambda b: quality_model.score_texts(b["text"]))

        # useful-to-attempted: docs the scrub rewrote per doc its
        # vectorized prescreen passed to the per-doc regex pass
        rewritten = candidates = 0
        for b in batches:
            vals = b["text"].to_numpy(dtype=object)
            cand = scrub._candidates(vals)
            candidates += int(cand.sum()) if cand is not None else len(vals)
            rewritten += int(scrub.scrub_series_sparse(b["text"])[0]
                             .notna().sum())
        self.put("scrub.rewrite_per_candidate",
                 rewritten / max(candidates, 1), "ratio")

        shingles = (self.docs()
                    .select(dedup.shingle_hashes(F.col("text")).alias("sh"))
                    .toPandas()["sh"])
        band = dedup.make_band_udf()
        per_doc("dedup.band_udf", "dedup.band_udf_us_per_doc", band.func,
                [shingles.iloc[i:i + bs].reset_index(drop=True)
                 for i in range(0, len(shingles), bs)])


def traced(workload: str, seed: int, seconds: float) -> dict:
    from perfbench import run

    master = f"local[{run._cpus()}]"
    runner = run.Runner(workload, seed, master)
    runner.inputs.build()
    tracer = Tracer(f"{workload}-s{seed}")
    session = run.Session(master)
    try:
        spark = session.start()
        runner.attempt()                             # warm-up, untimed

        @contextlib.contextmanager
        def traced_job():
            with tracer.span("job", workload=workload), \
                    tracer.patched(_job_targets(workload)):
                yield

        plain, traced_s = [], []
        deadline = time.monotonic() + seconds
        while not plain or time.monotonic() < deadline:
            # alternate which side goes first: later invocations run on
            # a warmer JVM
            for trace in ((False, True) if len(plain) % 2 == 0
                          else (True, False)):
                if trace:
                    traced_s.append(runner.attempt(traced_job()))
                else:
                    plain.append(runner.attempt())

        probes = Probes(spark, runner.inputs, tracer,
                        os.path.join(run.WORK, "probe", workload))
        with tracer.span("probes"):
            probes.io_and_pipeline()
            probes.snapshot()
            probes.near_dup()
            probes.batches()
        shutil.rmtree(probes.scratch, ignore_errors=True)
        probes.put("trace.overhead_frac",
                   median(traced_s) / median(plain) - 1, "ratio")
    finally:
        session.stop()
    tracer.dump(os.path.join(run.WORK, "traces",
                             f"{workload}-s{seed}.json"))
    return runner.result(dict(sorted(probes.metrics.items())))
