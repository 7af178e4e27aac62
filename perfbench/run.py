"""Benchmark of the whole KG-construction job.

    python3 perfbench/run.py --workload crawl_sparse --seed 1 --seconds 12 --trace 0

Run from the repository root. Set-up starts a local[nproc] session,
writes the workload's seeded pages table and warms the job up. The
timed region then repeats ``plans.pipeline.run_pipeline`` (pages scan
-> extract -> skolemize -> link -> canonicalize -> dedup -> writers with
``_progress`` checkpoints) for ``--seconds`` and at least three times,
clearing Spark's cache and the output before every repetition, and
reports medians. The last repetition's output is checked (see
checks.py).

``--trace 1`` instead runs the job once untraced and once layer by
layer under spans and Spark job groups (see tracing.py) and reports the
per-layer metrics; spans and stage metrics are written to
``.perfbench_run/<workload>/trace``.

This, not bench.py's headline, is the repository's benchmark: that
headline stops at extract -> skolemize -> dedup (no linking,
canonicalization or writers), on its corpus the linking mapping is
empty and dedup removes nothing, and it reports best-of-N rather than
a median.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes stays under ``.perfbench_run`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_DIR = ROOT / ".perfbench_run"
DRIVER_MEMORY = "2g"
# the median of three drops one outlying repetition, and every run of a
# workload then reports the same statistic: with repetitions of 5-7 s, a
# run whose time alone set the count would take the mean of two on some
# seeds and the middle of three on others
MIN_REPS = 3


def _configure_environment(work: Path) -> None:
    """Keep Spark's scratch space, temp files and worker imports inside
    the working directory; must run before the JVM starts."""
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = str(local)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        # a heap reserved at its full size, as in a container-sized
        # deployment: otherwise how far G1 happens to grow the heap moves
        # the peak resident memory by a tenth from run to run
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}' pyspark-shell"
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc. Proportional set
    size, so pages the forked Python workers share count once."""

    # one sample walks /proc and the JVM's page tables (~10 ms of CPU),
    # so sampling faster would take a visible share of a saturated core
    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                pass
        return total * 1024

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self.peak = self._tree_rss()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._stop.clear()


class Bench:
    """One workload's session, inputs and output directories."""

    def __init__(self, workload, seed: int, work: Path):
        self.wl = workload
        self.seed = seed
        self.work = work
        self.pages_path = str(work / "input" / "pages")
        self.expected_path = str(work / "input" / "expected.parquet")
        self.out = str(work / "graph")
        self.full = str(work / "full")
        self.crashed = str(work / "crashed")
        self.cores = cpu_count()
        self.fingerprint = f"{workload.name}:{seed}"

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> dict:
        from microdata_rdf_streaming_parser_js_spark.session import get_spark
        from workloads import generate

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores)
        t1 = time.perf_counter()
        self.sample = generate(
            self.wl, self.seed, str(self.work / "input"),
            mega_host=self._mega_host() if self.wl.resume else 0,
        )
        self.bucket_pages = self._bucket_pages()
        t2 = time.perf_counter()
        if self.wl.resume:
            # the uninterrupted job is the reference graph the resumed job
            # must reproduce; one untimed resume warms the resume path
            self._pipeline(self.full)
            self._simulate_crash()
            self.repetition()
        else:
            # untimed repetitions load classes, compile the query plans and
            # start every Python worker; after only one, the next is still
            # a tenth slower than the one after it
            for _ in range(2):
                self.repetition()
        t3 = time.perf_counter()
        return {"session_s": t1 - t0, "generate_s": t2 - t1, "warmup_s": t3 - t2, "setup_s": t3 - t0}

    def _bucket_pages(self) -> dict[int, int]:
        from microdata_rdf_streaming_parser_js_spark.sources.writers import with_host_bucket
        from workloads import N_BUCKETS

        pages = with_host_bucket(self.spark.read.parquet(self.pages_path), N_BUCKETS)
        return {r.host_bucket: r["count"] for r in pages.groupBy("host_bucket").count().collect()}

    def _mega_host(self) -> int:
        """First entity host whose bucket the timed resume rebuilds, so
        the timed waves always carry the host skew."""
        from microdata_rdf_streaming_parser_js_spark.sources.writers import with_host_bucket
        from workloads import KG_HOSTS, N_BUCKETS

        hosts = self.spark.createDataFrame([(f"http://{h}/",) for h in KG_HOSTS], "url string")
        buckets = [r.host_bucket for r in with_host_bucket(hosts, N_BUCKETS).collect()]
        later = self._later_half()
        return next(k for k, b in enumerate(buckets) if b in later)

    def _later_half(self) -> set[int]:
        from workloads import N_BUCKETS

        n_waves = -(-N_BUCKETS // self.wl.wave_size)
        first = (n_waves // 2) * self.wl.wave_size
        return set(range(first, N_BUCKETS))

    def _simulate_crash(self) -> None:
        """Copy the finished job and delete the ledger files of its later
        half of waves, as if the job died after writing their data."""
        import pyarrow.parquet as pq

        shutil.copytree(self.full, self.crashed)
        later = self._later_half()
        ledger = Path(self.crashed) / "_progress"
        for part in sorted(ledger.glob("part-*.parquet")):
            buckets = set(pq.read_table(part, columns=["host_bucket"]).column(0).to_pylist())
            if buckets and buckets <= later:
                part.unlink()
                crc = part.with_name(f".{part.name}.crc")
                if crc.exists():
                    crc.unlink()
            elif buckets & later:
                raise RuntimeError(f"ledger file {part.name} spans the crash boundary")

    # -- the job -------------------------------------------------------------------
    def _pipeline(self, out_dir: str) -> tuple[float, dict]:
        from microdata_rdf_streaming_parser_js_spark.plans.pipeline import run_pipeline
        from microdata_rdf_streaming_parser_js_spark.sources.pages import read_pages
        from workloads import N_BUCKETS

        t0 = time.perf_counter()
        pages = read_pages(self.spark, self.pages_path)
        info = run_pipeline(
            self.spark,
            pages,
            out_dir,
            n_buckets=N_BUCKETS,
            wave_size=self.wl.wave_size,
            salt_n=self.wl.salt_n,
            input_fingerprint=self.fingerprint,
        )
        return time.perf_counter() - t0, info

    def reset_output(self) -> None:
        """Fresh start for a repetition: no cached frames, and either no
        output or the crashed job's output."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.resume:
            shutil.copytree(self.crashed, self.out)

    def repetition(self) -> dict:
        """One timed job; pages and triples counted from the ledger rows
        this run committed."""
        from checks import read_ledger

        self.reset_output()
        wall, info = self._pipeline(self.out)
        ledger = read_ledger(self.out)
        mine = ledger[ledger.run_id == info["run_id"]]
        pages = sum(self.bucket_pages.get(int(b), 0) for b in mine.host_bucket)
        return {
            "wall_s": wall,
            "pages": pages,
            "pages_attempted": sum(self.bucket_pages.get(b, 0) for b in self.todo_buckets()),
            "triples": int(mine.n_triples.sum()),
            "info": info,
        }

    def todo_buckets(self) -> set[int]:
        """Buckets a timed repetition builds."""
        from workloads import N_BUCKETS

        return self._later_half() if self.wl.resume else set(range(N_BUCKETS))

    # -- checks ----------------------------------------------------------------------
    def check(self, out_dir: str):
        import checks

        res = checks.CheckResult()
        ex = checks.extraction(self.spark, self.pages_path)
        checks.check_extraction(self.spark, ex, self.expected_path, res)
        extracted = ex.toPandas()
        ex.unpersist()
        graph = checks.check_graph(
            out_dir, extracted, self.expected_path, self.wl.wave_size, self.wl.n_pages, res,
        )
        if self.wl.resume:
            checks.check_same_graph(graph, self.full, res)
        res.values["graph_bytes"] = checks.graph_bytes(out_dir)
        return res


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_timed(bench: Bench, seconds: float, setup: dict) -> dict:
    reps = []
    with RssSampler() as rss:
        start = time.perf_counter()
        while len(reps) < MIN_REPS or time.perf_counter() - start < seconds:
            reps.append(bench.repetition())
    t0 = time.perf_counter()
    res = bench.check(bench.out)
    print(f"check: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    attempted = sum(r["pages_attempted"] for r in reps)
    lost = sum(r["pages_attempted"] - r["pages"] for r in reps)
    # a quarantined page fails in every repetition
    quarantined = sum(res.error_pages[b] for b in bench.todo_buckets())
    failed = lost + len(reps) * quarantined
    if not res.ok:
        failed = attempted
    for i, r in enumerate(reps):
        print(f"rep {i}: {r['wall_s']:.3f} s, {r['pages']} pages, {r['triples']} triples", file=sys.stderr)
    for msg in res.failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    v = res.values
    metrics = {
        "triples_per_s": _metric(statistics.median(r["triples"] / r["wall_s"] for r in reps), "triples/s"),
        "pages_per_s": _metric(statistics.median(r["pages"] / r["wall_s"] for r in reps), "pages/s"),
        "setup_s": _metric(setup["setup_s"], "s"),
        "triple_precision": _metric(v["triple_precision"], "ratio"),
        "triple_recall": _metric(v["triple_recall"], "ratio"),
        "text_exact_share": _metric(v["text_exact_share"], "ratio"),
        "ok_page_share": _metric(1 - failed / attempted, "ratio"),
        "bytes_per_triple": _metric(v["graph_bytes"] / v["graph_triples"], "bytes"),
        "peak_rss_mb": _metric(rss.peak / 2**20, "MB"),
    }
    return {"correct": res.ok, "attempted": attempted, "failed": failed, "metrics": metrics}


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    work = RUN_DIR / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _configure_environment(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    bench = Bench(WORKLOADS[args.workload], args.seed, work)
    try:
        setup = bench.setup()
        print(f"setup: {json.dumps({k: round(v, 3) for k, v in setup.items()})}", file=sys.stderr)
        if args.trace:
            from tracing import run_traced

            result = run_traced(bench)
        else:
            result = run_timed(bench, args.seconds, setup)
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            _shutdown(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
