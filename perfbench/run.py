#!/usr/bin/env python3
"""Extraction benchmark: docs/s, set-up time and Python worker memory
of the Spark extraction pipeline, per workload.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 12 --trace 0

Run from the repository root. A workload is one closed-loop client (the
next pass starts when the previous one finished) against one local[4]
driver. Its inputs are parquet files generated from ``--seed`` before
any timing (inputs.py). A pass is ``extract(pages)`` into a noop sink,
or for resume_mix a ``run_extract_job`` that fails after its first
bucket group followed by the call that resumes it.

Legs of one run (``--trace 0``):

1. set-up: ``get_spark`` (JVM launch) and the first, untimed pass.
2. html_crawl, ocr_scans: one more untimed extract pass, whose output is
   collected and checked; the JVM is still compiling hot paths a few
   passes after set-up.
3. the workload's passes for ``--seconds``; ``docs_per_s`` is docs ÷
   the median pass wall. Each resume_mix pass is checked.

Memory is sampled from the end of set-up on. ``worker_rss_mb`` sums
the peak RSS of the Python worker processes. The JVM's RSS is left out:
G1 commits heap adaptively, and identical resume_mix runs peaked at 1.4
to 2.1 GB; it is reported as the per-layer ``mem.jvm_peak_mb``.

A wrong, missing or duplicated document counts as failed and makes the
exit code 1. Checks run outside the timed walls.

``--trace 1`` repeats legs 1-3 with tracing, adds 1→4 core scaling
rounds, and reports the per-layer metrics (traced.py). README.md maps
each to the end-to-end metric and workload it should move.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# JVMs keep their temp files in WORK and write no perf-data file
JVM_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"

CORES = 4
N_BUCKETS = 4
GROUP_SIZE = 2
FAIL_BUCKET = 1  # the failed leg stops after the group of buckets 0-1
MIN_PASSES = 3
MIN_RESUME_PAIRS = 3  # a pair takes ~7 s


@dataclass(frozen=True)
class Workload:
    classes: tuple[str, ...]
    n_rows: int
    resume: bool  # a pass is a failed job and its resume


def workloads() -> dict[str, Workload]:
    from inputs import ALL_CLASSES, HTML_CLASSES, OCR_CLASSES

    return {
        "html_crawl": Workload(HTML_CLASSES, 3000, False),
        "ocr_scans": Workload(OCR_CLASSES, 240, False),
        "resume_mix": Workload(ALL_CLASSES, 400, True),
    }


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- sessions


def start_session(cores: int):
    from ragflow_ocr_spark.spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": JVM_OPTS,
        },
    )


def stop_jvm(spark) -> None:
    """Stop the context, then the JVM, and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    from procmem import alive, descendants

    gw = SparkContext._gateway
    proc = gw.proc
    children = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.05)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ------------------------------------------------------------------- passes


def extract_pass(spark, pages_dir: str, one_task: bool = False) -> None:
    """``extract(pages)`` into a noop sink. ``one_task`` coalesces the
    input to one partition: one task on one Python worker, the 1-core
    side of the scaling ratio without a second context."""
    from ragflow_ocr_spark.spark import pipeline

    pages = spark.read.parquet(pages_dir)
    if one_task:
        pages = pages.coalesce(1)
    pipeline.extract(pages).write.format("noop").mode("overwrite").save()


@dataclass
class ResumePair:
    failed_s: float    # wall of the job stopped by the injected failure
    resume_s: float    # wall of the call that resumes it
    summary: dict      # run_extract_job's return value for the resume
    out_root: str


def resume_pair(spark, pages_dir: str, out_root: str) -> ResumePair:
    """A job that fails after a fixed group, then the call that resumes it."""
    from ragflow_ocr_spark.spark import pipeline

    shutil.rmtree(out_root, ignore_errors=True)
    pages = spark.read.parquet(pages_dir)
    t0 = time.perf_counter()
    try:
        pipeline.run_extract_job(
            spark, pages, out_root, n_buckets=N_BUCKETS,
            fail_buckets={FAIL_BUCKET}, bucket_group_size=GROUP_SIZE, spread=True,
        )
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("the injected failure did not stop the first job")
    t1 = time.perf_counter()
    summary = pipeline.run_extract_job(
        spark, pages, out_root, n_buckets=N_BUCKETS,
        bucket_group_size=GROUP_SIZE, spread=True,
    )
    return ResumePair(t1 - t0, time.perf_counter() - t1, summary, out_root)


def closed_loop(one_pass, seconds: float, min_passes: int = MIN_PASSES) -> list:
    """``one_pass()`` back to back for ``seconds``, at least
    ``min_passes`` times; returns what each call returned."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() < t_end:
        out.append(one_pass())
    return out


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


# ------------------------------------------------------------- correctness


OUT_COLS = ["url", "extracted_text", "n_blocks", "status", "engine"]


def _norm(row) -> tuple:
    url, text, n_blocks, status, engine = row
    return url, None if text is None else str(text), int(n_blocks), status, engine


class Checker:
    """Counts wrong, missing and duplicated documents in program output.

    Rows with a constructive ``expected_text`` must match it byte for
    byte; regression-only rows (NULL expectation) must match what
    ``extract_stage`` returns in this process for the same payload
    bytes. Every url must appear exactly once."""

    def __init__(self, inp):
        import pandas as pd
        import pyarrow.parquet as pq

        from ragflow_ocr_spark.config import DEFAULT
        from ragflow_ocr_spark.spark.stages import extract_stage

        self.expected = {
            t["url"]: ("text", t["expected_text"])
            for t in pq.read_table(inp.truth_path).to_pylist()
            if t["expected_text"] is not None
        }
        pages = pd.concat(
            pq.read_table(os.path.join(inp.pages_dir, f)).to_pandas()
            for f in sorted(os.listdir(inp.pages_dir))
        )
        regression = pages[~pages["url"].isin(list(self.expected))]
        for out in extract_stage(DEFAULT)(iter([regression])):
            for row in out[OUT_COLS].itertuples(index=False):
                self.expected[row[0]] = ("row", _norm(row))

    def failures(self, rows) -> int:
        """``rows``: Spark rows with the ``OUT_COLS`` columns."""
        rows = [tuple(r) for r in rows]
        seen = Counter(r[0] for r in rows)
        failed = sum(1 for url in self.expected if seen[url] != 1)
        failed += sum(1 for url in seen if url not in self.expected)
        for row in rows:
            if seen[row[0]] != 1 or row[0] not in self.expected:
                continue
            kind, want = self.expected[row[0]]
            if (row[1] if kind == "text" else _norm(row)) != want:
                failed += 1
        return failed


# -------------------------------------------------------------------- legs


class Run:
    """One run's session and legs, shared by the untraced and traced
    modes. The Spark jobs of timed passes, and only those, carry the job
    group ``"timed"``, which the traced run reads from the status API."""

    def __init__(self, w: Workload, inp):
        self.w, self.inp = w, inp
        self.checker = Checker(inp)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.pairs: list[ResumePair] = []
        self.rework_docs = 0  # checkpointed docs beyond one per input doc

    def _grouped(self, fn, *args):
        sc = self.spark.sparkContext
        sc.setJobGroup("timed", "perfbench timed passes")
        try:
            return fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _pair(self, check: bool) -> ResumePair:
        out_root = os.path.join(WORK, "jobs", "pair")
        pair = self._grouped(resume_pair, self.spark, self.inp.pages_dir, out_root)
        if check:
            from ragflow_ocr_spark.spark import pipeline

            out = pipeline.read_extracted(self.spark, out_root).select(*OUT_COLS)
            self.failed += self.checker.failures(out.collect())
            if pair.summary["buckets_skipped"] != FAIL_BUCKET + 1:
                self.failed += 1  # the resume redid or lost a committed group
            self.attempted += self.inp.n_docs
            ckpt = _parquet_rows(os.path.join(out_root, "checkpoint"))
            self.rework_docs += sum(r["n_docs"] for r in ckpt) - self.inp.n_docs
            self.pairs.append(pair)
        shutil.rmtree(out_root, ignore_errors=True)
        return pair

    def _extract_wall(self) -> float:
        return self._grouped(timed, extract_pass, self.spark, self.inp.pages_dir)

    def setup(self) -> tuple[float, float]:
        """Cold start: (get_spark wall, first-pass wall)."""
        t0 = time.perf_counter()
        self.spark = start_session(CORES)
        t1 = time.perf_counter()
        if self.w.resume:
            self._pair(check=False)
        else:
            extract_pass(self.spark, self.inp.pages_dir)
        return t1 - t0, time.perf_counter() - t1

    def primary(self, seconds: float) -> list[float]:
        """Closed loop of the workload's pass; returns pass walls. Checks
        each resume pair; extract output is checked by ``check_extract``."""
        if self.w.resume:
            pairs = closed_loop(lambda: self._pair(check=True), seconds, MIN_RESUME_PAIRS)
            return [p.failed_s + p.resume_s for p in pairs]
        return closed_loop(self._extract_wall, seconds)

    def check_extract(self) -> None:
        """An untimed extract pass whose output is collected and checked."""
        from ragflow_ocr_spark.spark import pipeline

        out = pipeline.extract(self.spark.read.parquet(self.inp.pages_dir)).select(*OUT_COLS)
        self.failed += self.checker.failures(out.collect())
        self.attempted += self.inp.n_docs

    def scaling(self, seconds: float) -> list[tuple[float, float]]:
        """A closed loop of rounds: one extract pass at four tasks, then
        one over the same input coalesced to one task. One task runs on
        one core and one Python worker, the local[1] side of the ratio,
        without a second context and its warm pass; it measured within
        noise of a real local[1] context (median pass of 4: ocr_scans
        3.07 s vs 3.42 s, html_crawl 3.93 s vs 3.71 s, on a 4-vCPU VM).
        Interleaving lets host drift hit both sides alike. Returns
        (4-task wall, 1-task wall) per round."""
        return closed_loop(
            lambda: (
                timed(extract_pass, self.spark, self.inp.pages_dir),
                timed(extract_pass, self.spark, self.inp.pages_dir, True),
            ),
            seconds,
        )

    def close(self) -> None:
        if self.spark is not None:
            stop_jvm(self.spark)
            self.spark = None
        shutil.rmtree(os.path.join(WORK, "jobs"), ignore_errors=True)


def _parquet_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def run_untraced(w: Workload, inp, seconds: float) -> tuple[dict, int, int]:
    from procmem import PeakSampler

    run = Run(w, inp)
    try:
        start_s, first_s = run.setup()
        with PeakSampler(jvm_pid()) as mem:
            if not w.resume:
                run.check_extract()
            walls = run.primary(seconds)
    finally:
        run.close()
    log(f"set-up {start_s:.3f}s + first pass {first_s:.3f}s; "
        f"peak RSS jvm {mem.jvm_mb():.0f} MB + python {mem.python_mb():.0f} MB")
    log(f"pass walls {[round(x, 3) for x in walls]}")
    metrics = {
        "setup_s": (start_s + first_s, "s"),
        "docs_per_s": (inp.n_docs / statistics.median(walls), "docs/s"),
        "worker_rss_mb": (mem.python_mb(), "MB"),
    }
    return metrics, run.attempted, run.failed


# -------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ragflow_ocr_spark")):
        print(f"error: no ragflow_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too; scratch files stay in WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the short-lived JVM that spark-submit runs to build the driver's
    # command line: no perf-data file under the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS

    import inputs

    all_workloads = workloads()
    if args.workload not in all_workloads:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(all_workloads)}")
    w = all_workloads[args.workload]
    t0 = time.perf_counter()
    inp = inputs.ensure_inputs(WORK, args.workload, w.classes, args.seed, w.n_rows)
    log(f"inputs ready in {time.perf_counter() - t0:.2f}s: {inp.n_docs} docs")

    if args.trace:
        from traced import run_traced as run
    else:
        run = run_untraced
    metrics, attempted, failed = run(w, inp, args.seconds)

    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"{args.workload} failed_frac {failed / attempted:.6g} ratio ({failed}/{attempted} docs)")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
