"""Traced run: each layer's public function called in pipeline order,
forced under its own span and Spark job group.

Spans (name, start, end, parent) are kept in memory and written to
``<work>/trace/spans.json`` when the run ends; per-stage metrics read
from Spark's status store go to ``stages.json`` beside them. A layer's
self time is its span's duration minus its child spans (the counting
queries the trace adds). The traced total minus an untraced run of the
same job is the tracing overhead: forcing and caching each layer's
output, and the counting queries.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from microdata_rdf_streaming_parser_js_spark.functions.charset import decode_html
from microdata_rdf_streaming_parser_js_spark.functions.fast_html import FastHtmlTokenizer
from microdata_rdf_streaming_parser_js_spark.functions.microdata import parse_html
from microdata_rdf_streaming_parser_js_spark.operators.canonicalize import (
    canonicalize_subjects,
    dedup_triples,
)
from microdata_rdf_streaming_parser_js_spark.operators.extract import extract_triples
from microdata_rdf_streaming_parser_js_spark.operators.linking import (
    detect_mentions,
    link_entities,
)
from microdata_rdf_streaming_parser_js_spark.operators.skolemize import skolemize
from microdata_rdf_streaming_parser_js_spark.sources.pages import read_pages
from microdata_rdf_streaming_parser_js_spark.sources.writers import (
    completed_buckets,
    materialize_wave,
    with_host_bucket,
)
from workloads import N_BUCKETS

LAYERS = (
    "ledger.read", "pages.scan", "extract", "skolemize", "linking",
    "canonicalize", "dedup", "materialize",
)


class Tracer:
    """In-memory spans; each span also names the Spark job group of the
    jobs it submits, so stage metrics can be attributed to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "group": f"{name}#{sid}", **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


# -- Spark status store -------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def status_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) as plain dicts from the application status store."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = []
    for j in seq(store.jobsList(None)):
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "job": j.jobId(),
            "group": _opt(j.jobGroup()),
            "stages": list(seq(j.stageIds())),
            "submitted_ms": sub.getTime() if sub else None,
            "completed_ms": end.getTime() if end else None,
        })
    stages = []
    empty = jvm.java.util.ArrayList()
    for s in seq(store.stageList(empty, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), empty)):
        if s.status().toString() != "COMPLETE":
            continue
        stages.append({
            "stage": s.stageId(), "attempt": s.attemptId(), "name": s.name(),
            "tasks": s.numTasks(), "run_ms": s.executorRunTime(),
            "input_bytes": s.inputBytes(), "output_bytes": s.outputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(), "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "gc_ms": s.jvmGcTime(),
        })
    return jobs, stages


def task_skew(spark, stage: dict) -> float:
    """max / median task duration of one stage."""
    seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    store = spark._jsc.sc().statusStore()
    durations = [
        _opt(t.duration()) or 0
        for t in seq(store.taskList(stage["stage"], stage["attempt"], 1 << 30))
    ]
    med = statistics.median(durations) if durations else 0
    return max(durations) / med if med else 1.0


# -- functions layer, in-process ---------------------------------------------------

class _NoopSink:
    def on_tag_open(self, name, attributes):
        pass

    def on_text(self, data):
        pass

    def on_tag_close(self):
        pass

    def on_end(self):
        pass


def functions_metrics(sample: dict, seed: int, sample_bytes: int = 2_500_000) -> dict:
    """Single-threaded per-page kernel costs on a seeded sample of about
    ``sample_bytes`` of the workload's pages."""
    order = list(range(len(sample["htmls"])))
    random.Random(seed).shuffle(order)
    idx, size = [], 0
    for i in order:
        if size >= sample_bytes:
            break
        idx.append(i)
        size += len(sample["htmls"][i])
    raws = [sample["htmls"][i] for i in idx]
    bases = [sample["bases"][i] or sample["urls"][i] for i in idx]
    kb = sum(len(r) for r in raws) / 1024
    texts = [decode_html(r) for r in raws]  # warm-up pass

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def tokenize_all():
        for text in texts:
            tok = FastHtmlTokenizer(_NoopSink())
            tok.feed(text)
            tok.end()

    def extract_all():
        for raw, base in zip(raws, bases):
            parse_html(raw, base)

    decode_s = timed(lambda: [decode_html(r) for r in raws])
    tokenize_s = timed(tokenize_all)
    extract_s = timed(extract_all)
    return {
        "functions.decode_us_per_kb": decode_s / kb * 1e6,
        "functions.tokenize_us_per_kb": tokenize_s / kb * 1e6,
        "functions.extract_us_per_page": extract_s / len(raws) * 1e6,
    }


# -- the traced job ----------------------------------------------------------------

def traced_job(bench, tracer: Tracer, run_id: str) -> dict:
    """Mirror of run_pipeline with every layer forced on its own."""
    spark, wl = bench.spark, bench.wl
    counts = {"rows_out": 0, "error_pages": 0, "blank_terms": 0, "mentions": 0,
              "mapping_rows": 0, "dedup_in": 0, "dedup_out": 0}
    with tracer.span("ledger.read"):
        done = completed_buckets(spark, bench.out)
    with tracer.span("pages.scan"):
        pages = read_pages(spark, bench.pages_path)
        pages.select("url", "html").write.format("noop").mode("overwrite").save()
    todo = sorted(set(range(N_BUCKETS)) - done)
    pages_b = with_host_bucket(pages, N_BUCKETS)
    for k in range(0, len(todo), wl.wave_size):
        wave = todo[k : k + wl.wave_size]
        with tracer.span("wave", buckets=wave):
            wave_pages = pages_b.filter(F.col("host_bucket").isin(wave)).drop("host_bucket")
            with tracer.span("extract"):
                ex = extract_triples(wave_pages, keep_errors=True).persist()
                ex.count()
                with tracer.span("count.extract"):
                    ok = ex.filter(F.col("error").isNull())
                    counts["rows_out"] += ok.count()
                    counts["error_pages"] += ex.filter(F.col("error").isNotNull()).select("url").distinct().count()
                    counts["blank_terms"] += ok.filter(
                        F.col("subj").startswith("_:") | (F.col("obj_kind") == "blank")
                    ).count()
            triples = ex.filter(F.col("error").isNull()).drop("error")
            with tracer.span("skolemize"):
                sk = skolemize(triples).persist()
                sk.count()
            with tracer.span("linking"):
                mapping = link_entities(sk).persist()
                counts["mapping_rows"] += mapping.count()
                with tracer.span("count.linking"):
                    counts["mentions"] += detect_mentions(sk).count()
            with tracer.span("canonicalize"):
                canon = canonicalize_subjects(sk, mapping).persist()
                counts["dedup_in"] += canon.count()
            with tracer.span("dedup"):
                final = dedup_triples(canon, per_graph=True).persist()
                counts["dedup_out"] += final.count()
            with tracer.span("materialize"):
                materialize_wave(
                    spark, with_host_bucket(final, N_BUCKETS), bench.out, wave,
                    salt_n=wl.salt_n, input_fingerprint=bench.fingerprint, run_id=run_id,
                )
            for df in (final, canon, mapping, sk, ex):
                df.unpersist()
    return counts


def _wave_times(ledger, run_id: str, start_epoch: float) -> list[float]:
    mine = ledger[ledger.run_id == run_id]
    ends = sorted({t.timestamp() for t in mine.completed_at})
    return [b - a for a, b in zip([start_epoch] + ends, ends)]


def run_traced(bench) -> dict:
    import checks

    spark, wl = bench.spark, bench.wl
    # untraced reference run of the same job, then what it left cached
    ref = bench.repetition()
    start_epoch = time.time() - ref["wall_s"]
    storage = spark._jsc.sc().getRDDStorageInfo()
    cached_after = sum(r.memSize() + r.diskSize() for r in storage)
    waves = _wave_times(checks.read_ledger(bench.out), ref["info"]["run_id"], start_epoch)

    bench.reset_output()
    tracer = Tracer(spark)
    with tracer.span("traced_run") as root:
        counts = traced_job(bench, tracer, run_id="traced")
    jobs, stages = status_snapshot(spark)
    res = bench.check(bench.out)
    fn = functions_metrics(bench.sample, bench.seed)

    self_t = tracer.self_times()
    by_name: dict[str, float] = {}
    for s in tracer.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_t[s["id"]]
    group_of = {s["group"]: s["name"] for s in tracer.spans}
    stage_group = {}
    for j in jobs:
        for st in j["stages"]:
            stage_group.setdefault(st, group_of.get(j["group"]))
    for st in stages:
        st["span"] = stage_group.get(st["stage"])
    traced_stages = [st for st in stages if st["span"] is not None]

    def stages_of(name):
        return [st for st in traced_stages if st["span"] == name]

    def total(name, field):
        return sum(st[field] for st in stages_of(name))

    def skew_of(name, field):
        cands = [st for st in stages_of(name) if st[field] > 0]
        return task_skew(spark, max(cands, key=lambda st: st[field])) if cands else 1.0

    mat_jobs = [j for j in jobs if group_of.get(j["group"]) == "materialize"]
    # the ledger append is the last job of each materialize_wave call
    appends = {}
    for j in mat_jobs:
        if j["completed_ms"] is not None:
            appends[j["group"]] = max(appends.get(j["group"], (0, 0)), (j["submitted_ms"], j["completed_ms"]))
    ledger_append_s = sum(end - sub for sub, end in appends.values()) / 1000

    files = sum(1 for p in checks.graph_files(bench.out) if p.endswith(".parquet"))
    n_pages_attempted = sum(bench.bucket_pages.get(b, 0) for b in bench.todo_buckets())
    traced_s = root["end"] - root["start"]
    untraced_s = ref["wall_s"]
    metrics_raw = {
        "pages.scan_s": (by_name["pages.scan"], "s"),
        "pages.bytes_read": (sum(os.path.getsize(p) for p in checks.files_under(bench.pages_path)), "bytes"),
        **{k: (v, "us/KB" if k.endswith("kb") else "us") for k, v in fn.items()},
        "extract.wall_s": (by_name["extract"], "s"),
        "extract.rows_out": (counts["rows_out"], "count"),
        "extract.error_pages": (counts["error_pages"], "count"),
        "extract.kernel_share": (
            n_pages_attempted * fn["functions.extract_us_per_page"] / 1e6 / (by_name["extract"] * bench.cores),
            "ratio",
        ),
        "skolemize.wall_s": (by_name["skolemize"], "s"),
        "skolemize.blank_terms": (counts["blank_terms"], "count"),
        "linking.wall_s": (by_name["linking"], "s"),
        "linking.mentions": (counts["mentions"], "count"),
        "linking.mapping_rows": (counts["mapping_rows"], "count"),
        "linking.shuffle_bytes": (total("linking", "shuffle_write_bytes"), "bytes"),
        "linking.task_skew": (skew_of("linking", "shuffle_read_bytes"), "ratio"),
        "canonicalize.wall_s": (by_name["canonicalize"], "s"),
        "dedup.wall_s": (by_name["dedup"], "s"),
        "dedup.rows_in": (counts["dedup_in"], "count"),
        "dedup.keep_ratio": (counts["dedup_out"] / counts["dedup_in"] if counts["dedup_in"] else 1.0, "ratio"),
        "dedup.shuffle_bytes": (total("dedup", "shuffle_write_bytes"), "bytes"),
        "materialize.wall_s": (by_name["materialize"], "s"),
        "materialize.jobs": (len(mat_jobs), "count"),
        "materialize.tasks": (sum(st["tasks"] for st in stages_of("materialize")), "count"),
        "materialize.files": (files, "count"),
        "materialize.bytes_written": (checks.graph_bytes(bench.out), "bytes"),
        "materialize.write_skew": (skew_of("materialize", "output_bytes"), "ratio"),
        "ledger.read_s": (by_name["ledger.read"], "s"),
        "ledger.append_s": (ledger_append_s, "s"),
        "pipeline.waves": (ref["info"]["waves_run"], "count"),
        "pipeline.wave_s_p50": (statistics.median(waves), "s"),
        "pipeline.wave_s_max": (max(waves), "s"),
        "pipeline.cached_bytes_after": (cached_after, "bytes"),
        "spark.gc_s": (sum(st["gc_ms"] for st in traced_stages) / 1000, "s"),
        "spark.spill_bytes": (sum(st["spill_bytes"] for st in traced_stages), "bytes"),
        "trace.traced_s": (traced_s, "s"),
        "trace.untraced_s": (untraced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
        # time under no layer span (the wave loop's own work, the root)
        # stays unaccounted
        "trace.accounted_share": (
            sum(t for name, t in by_name.items() if name in LAYERS or name.startswith("count.")) / traced_s,
            "ratio",
        ),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics_raw.items()}

    trace_dir = os.path.join(bench.work, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    t0 = root["start"]
    with open(os.path.join(trace_dir, "spans.json"), "w") as fh:
        json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": self_t[s["id"]]}
                   for s in tracer.spans], fh, indent=1)
    with open(os.path.join(trace_dir, "stages.json"), "w") as fh:
        json.dump({"jobs": jobs, "stages": stages}, fh, indent=1)

    print(f"{'layer':<16}{'self s':>10}{'share':>8}", file=sys.stderr)
    for name in LAYERS + ("count.extract", "count.linking", "wave", "traced_run"):
        if name in by_name:
            print(f"{name:<16}{by_name[name]:>10.3f}{by_name[name] / traced_s:>8.1%}", file=sys.stderr)
    print(f"{'traced total':<16}{traced_s:>10.3f}\n{'untraced wall':<16}{untraced_s:>10.3f}"
          f"\n{'overhead':<16}{traced_s - untraced_s:>10.3f}", file=sys.stderr)
    for msg in res.failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    failed = counts["error_pages"] if res.ok else n_pages_attempted
    return {"correct": res.ok, "attempted": n_pages_attempted, "failed": failed, "metrics": metrics}
