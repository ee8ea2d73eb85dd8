"""The traced run: per-layer metrics, each taken from outside the program.

- Spark stage and task metrics (task run times, shuffle and output
  bytes) come from the status REST API (sparkrest.py) for the jobs of
  the timed passes.
- Driver-side spans wrap the pipeline's public entry points:
  ``extract``, ``run_extract_job`` and ``CheckpointStore.done_buckets``
  / ``mark_done``.
- 1→4 core scaling comes from rounds of a four-task and a one-task
  extract pass (``Run.scaling``). It is per-layer, not end-to-end: one
  Python worker's CPU time for identical one-task passes varied from
  2.2 to 3.3 s within one session on a 4-vCPU VM, and the ratio's spread
  over 10 seeds was 26% of its median.
- Kernel spans come from an in-process replay that feeds the same
  Arrow-sized batches through ``extract_stage`` with no JVM, with every
  kernel wrapped where its caller resolves it (spans.py).

Spans are written to ``.perfbench_work/trace/`` when the run ends.
"""

from __future__ import annotations

import os
import statistics
import time

import sparkrest
from procmem import PeakSampler
from run import CORES, WORK, Run, Workload, jvm_pid
from spans import Tracer, kernel_targets, patched

ARROW_BATCH_ROWS = 256  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
MB = 1024.0 * 1024.0
REPLAYS = 2
SCALING_SECONDS = 10


def load_batches(pages_dir: str) -> list[list]:
    """The batches Spark hands the stage: one list per input file (one
    task each), ``ARROW_BATCH_ROWS`` rows per pandas batch."""
    import pyarrow.parquet as pq

    return [
        [
            b.to_pandas()
            for b in pq.ParquetFile(os.path.join(pages_dir, f)).iter_batches(
                batch_size=ARROW_BATCH_ROWS, columns=["url", "warc_ts", "lang", "html"]
            )
        ]
        for f in sorted(os.listdir(pages_dir))
    ]


def replay(files: list[list], tracer: Tracer | None = None) -> float:
    """Feed the batches through ``extract_stage`` in this process; with
    a tracer, each batch is a ``stages.batch`` span."""
    from ragflow_ocr_spark.config import DEFAULT
    from ragflow_ocr_spark.spark import stages

    fn = stages.extract_stage(DEFAULT)
    t0 = time.perf_counter()
    for batches in files:
        gen = fn(iter(batches))
        while True:
            if tracer is None:
                out = next(gen, None)
            else:
                with tracer.span("stages.batch"):
                    out = next(gen, None)
            if out is None:
                break
    return time.perf_counter() - t0


def driver_targets(tr: Tracer, groups: list[list]) -> list:
    """Spans around the pipeline's entry points. ``groups`` collects
    [start, end] per bucket group: a group starts when the job spreads
    it and ends when its checkpoint rows are written."""
    from ragflow_ocr_spark.spark import pipeline
    from ragflow_ocr_spark.spark.checkpoint import CheckpointStore

    spread = pipeline.spread_for_extract
    mark_done = CheckpointStore.mark_done

    def spread_opens_group(*a, **kw):
        groups.append([time.perf_counter(), None])
        return spread(*a, **kw)

    def mark_done_closes_group(self, *a, **kw):
        with tr.span("checkpoint.mark_done"):
            out = mark_done(self, *a, **kw)
        if groups and groups[-1][1] is None:
            groups[-1][1] = time.perf_counter()
        return out

    return [
        (pipeline, "extract", tr.wrap("pipeline.extract", pipeline.extract)),
        (pipeline, "run_extract_job",
         tr.wrap("pipeline.run_extract_job", pipeline.run_extract_job)),
        (pipeline, "spread_for_extract", spread_opens_group),
        (CheckpointStore, "done_buckets",
         tr.wrap("checkpoint.done_buckets", CheckpointStore.done_buckets)),
        (CheckpointStore, "mark_done", mark_done_closes_group),
    ]


def stage_metrics(jobs: list[list[sparkrest.StageStats]], n_passes: int) -> dict:
    """Per-pass task metrics. The heaviest stage of a job is its Python
    extract stage; skew and Arrow batches are read from those."""
    heavy = [max(stages, key=lambda s: sum(s.task_run_s)) for stages in jobs if stages]
    all_stages = [s for stages in jobs for s in stages]
    run_s = sum(sum(s.task_run_s) for s in all_stages)
    stage_wall = sum(s.wall_s for s in all_stages)
    skew = [
        max(s.task_run_s) / statistics.median(s.task_run_s)
        for s in heavy
        if len(s.task_run_s) > 1 and statistics.median(s.task_run_s) > 0
    ]
    batches = sum(-(-r // ARROW_BATCH_ROWS) for s in heavy for r in s.task_records_in)
    return {
        "stages.tasks": (sum(len(s.task_run_s) for s in all_stages) / n_passes, "count"),
        "stages.task_run_s_sum": (run_s / n_passes, "s"),
        "stages.busy_frac": (run_s / (stage_wall * CORES) if stage_wall else 0.0, "ratio"),
        "stages.task_max_over_median": (statistics.median(skew) if skew else 1.0, "ratio"),
        "stages.arrow_batches": (batches / n_passes, "count"),
    }


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def run_traced(w: Workload, inp, seconds: float) -> tuple[dict, int, int]:
    from ragflow_ocr_spark.config import DEFAULT

    run = Run(w, inp)
    tr = Tracer()
    groups: list[list] = []
    try:
        start_s, first_s = run.setup()
        if not w.resume:
            run.check_extract()  # warm and checked, as in the untraced run
        with patched(driver_targets(tr, groups)), PeakSampler(jvm_pid()) as mem:
            walls = run.primary(seconds)
        jobs = sparkrest.group_stages(run.spark.sparkContext, "timed")
        if w.resume:
            run.check_extract()  # warms the extract pass of the rounds
        rounds = run.scaling(SCALING_SECONDS)
    finally:
        run.close()
    stage_m = stage_metrics(jobs, len(walls))
    n_pairs = max(1, len(run.pairs))
    stages = [s for job in jobs for s in job]

    files = load_batches(inp.pages_dir)
    replay(files)  # warm: stub nets are built on first use
    untraced, traced = [], []
    for _ in range(REPLAYS):  # interleaved, so drift hits both sides
        untraced.append(replay(files))
        kt = Tracer()  # the metrics come from the last traced replay
        with patched(kernel_targets(kt)):
            traced.append(replay(files, kt))
    untraced_s, traced_s = statistics.median(untraced), statistics.median(traced)
    trace_dir = os.path.join(WORK, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    tag = os.path.basename(os.path.dirname(inp.pages_dir))  # workload, seed, size
    tr.dump(os.path.join(trace_dir, f"{tag}.driver.jsonl"))
    kt.dump(os.path.join(trace_dir, f"{tag}.kernels.jsonl"))

    c, calls, self_s = kt.counts, kt.calls, kt.self_s
    rec_calls = calls["infer.rec_run"]
    group_walls = [end - start for start, end in groups if end is not None]
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (first_s, "s"),
        **stage_m,
        # docs/s at four tasks ÷ (4 × docs/s at one task), per round
        "stages.scale_eff_1to4": (
            statistics.median(w1 / (CORES * w4) for w4, w1 in rounds), "ratio",
        ),
        "stages.self_s": (self_s["stages.batch"], "s"),
        "stages.jvm_overhead_frac": (
            1.0 - _ratio(untraced_s, stage_m["stages.task_run_s_sum"][0]), "ratio",
        ),
        "html_extract.calls": (calls["html_extract"], "count"),
        "html_extract.self_s": (self_s["html_extract"], "s"),
        "html_extract.us_per_kb": (
            _ratio(self_s["html_extract"] * 1e6, c["html_extract.bytes"] / 1024.0), "us/KB",
        ),
        "pngcodec.sniff.self_s": (self_s["pngcodec.sniff"], "s"),
        "pngcodec.decode.self_s": (self_s["pngcodec.decode"], "s"),
        "pngcodec.decode.mpixels": (c["pngcodec.decode.pixels"] / 1e6, "Mpx"),
        "pdf.to_images.self_s": (self_s["pdf.to_images"], "s"),
        "pdf.to_images.pages": (c["pdf.to_images.pages"], "count"),
        "det_preprocess.self_s": (self_s["det_preprocess"], "s"),
        "db_postprocess.self_s": (self_s["db_postprocess"], "s"),
        "db_postprocess.boxes": (c["db_postprocess.boxes"], "count"),
        "crop.self_s": (self_s["crop"], "s"),
        "crop.crops": (c["crop.crops"], "count"),
        "crop.probe_rec_calls": (c["crop.probe_rec_calls"], "count"),
        "ocr_pipeline.extract_payload.self_s": (self_s["ocr_pipeline.extract_payload"], "s"),
        "ocr_pipeline.detect.self_s": (self_s["ocr_pipeline.detect"], "s"),
        "ocr_pipeline.recognize.self_s": (self_s["ocr_pipeline.recognize"], "s"),
        "ctc.decode.self_s": (self_s["ctc.decode"], "s"),
        "infer.det_run.self_s": (self_s["infer.det_run"], "s"),
        "infer.rec_run.calls": (rec_calls, "count"),
        "infer.rec_run.self_s": (self_s["infer.rec_run"], "s"),
        "infer.rec_batch_fill": (
            _ratio(c["infer.rec_run.rows"], rec_calls * DEFAULT.ocr.rec_batch_num), "ratio",
        ),
        "infer.rec_pad_frac": (
            _ratio(c["infer.rec_run.pad_pixels"], c["infer.rec_run.pixels"]), "ratio",
        ),
        "infer.retries": (
            c["infer.det_run.attempts"] + c["infer.rec_run.attempts"]
            - calls["infer.det_run"] - rec_calls,
            "count",
        ),
        "pipeline.groups": (len(groups) / n_pairs, "count"),
        "pipeline.group_wall_s_max": (max(group_walls, default=0.0), "s"),
        "pipeline.failed_leg_s": (_median([p.failed_s for p in run.pairs]), "s"),
        "pipeline.resume_leg_s": (_median([p.resume_s for p in run.pairs]), "s"),
        "pipeline.spread_shuffle_mb": (
            sum(s.shuffle_write_bytes for s in stages) / MB / n_pairs if run.pairs else 0.0,
            "MB",
        ),
        "pipeline.output_mb": (
            sum(s.output_bytes for s in stages) / MB / n_pairs if run.pairs else 0.0, "MB",
        ),
        "checkpoint.done_buckets_s": (tr.total_s["checkpoint.done_buckets"] / n_pairs, "s"),
        "checkpoint.mark_done_s": (tr.total_s["checkpoint.mark_done"] / n_pairs, "s"),
        "checkpoint.skipped_buckets": (
            run.pairs[-1].summary["buckets_skipped"] if run.pairs else 0, "count",
        ),
        "checkpoint.rework_docs": (run.rework_docs / n_pairs, "count"),
        "mem.jvm_peak_mb": (mem.jvm_mb(), "MB"),
        "mem.python_peak_mb": (mem.python_mb(), "MB"),
        "trace.overhead_frac": (traced_s / untraced_s - 1.0, "ratio"),
    }
    return m, run.attempted, run.failed


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
