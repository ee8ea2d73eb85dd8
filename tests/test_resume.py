"""Checkpoint/resume tests: kill-after-k simulation → rerun → only the
remaining buckets are processed and the output has no duplicates
(FIXTURES.md §4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ragflow_ocr_spark.spark import synth
from ragflow_ocr_spark.spark.checkpoint import CheckpointStore
from ragflow_ocr_spark.spark.pipeline import (
    extract,
    read_extracted,
    run_extract_job,
    spread_for_extract,
)

N_ROWS = 80
N_BUCKETS = 6


@pytest.fixture()
def pages(spark):
    return synth.pages_df(spark, N_ROWS, partitions=4).cache()


def test_resume_after_injected_failure(spark, pages, tmp_path):
    root = str(tmp_path / "job")

    # run 1: die after the second completed bucket
    done_first = sorted(
        r["bucket"]
        for r in pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
        ).select("bucket").distinct().collect()
    )[1]
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(
            spark, pages, root, n_buckets=N_BUCKETS, fail_buckets={done_first}
        )

    ckpt = CheckpointStore(root)
    done_after_crash = ckpt.done_buckets(N_BUCKETS)
    assert len(done_after_crash) == 2  # two buckets committed before the crash

    # run 2: resumes — processes only the remaining buckets
    summary = run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    assert summary["buckets_processed"] + len(done_after_crash) >= len(
        ckpt.done_buckets(N_BUCKETS)
    )

    out = read_extracted(spark, root)
    urls = [r["url"] for r in out.select("url").collect()]
    assert len(urls) == N_ROWS
    assert len(set(urls)) == N_ROWS  # no duplicates after resume

    # run 3: everything done -> nothing reprocessed
    summary3 = run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    assert summary3["buckets_processed"] == 0


def _status_counts(spark, root: str) -> dict:
    """Per-bucket (n_docs, n_ok, n_empty, n_error) of the rows that landed."""
    status = F.col("status")
    ok, empty = status == "ok", status.startswith("empty")
    return {
        r["bucket"]: (r["n_docs"], r["n_ok"], r["n_empty"], r["n_docs"] - r["n_ok"] - r["n_empty"])
        for r in read_extracted(spark, root)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(ok).alias("n_ok"),
            F.count_if(empty).alias("n_empty"),
        )
        .collect()
    }


def test_checkpoint_rows_carry_lineage(spark, pages, tmp_path):
    """Each bucket's checkpoint counters equal the status counts of its
    landed rows; a bucket the input lacks reads 0 on every counter."""
    n_buckets = 3
    bucket = F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    omitted = pages.select(bucket.alias("b")).first()["b"]
    lacking = pages.where(bucket != omitted)
    for name, inp in [("all", pages), ("lacking", lacking)]:
        root = str(tmp_path / name)
        run_extract_job(spark, inp, root, n_buckets=n_buckets)
        rows = spark.read.parquet(f"{root}/checkpoint").collect()
        assert {r["status"] for r in rows} == {"done"}
        assert sum(r["n_docs"] for r in rows) == inp.count()
        assert all(r["wall_ms"] >= 0 for r in rows)
        assert all(r["run_id"] for r in rows)
        counters = {
            r["bucket"]: (r["n_docs"], r["n_ok"], r["n_empty"], r["n_error"]) for r in rows
        }
        landed = _status_counts(spark, root)
        assert counters == {b: landed.get(b, (0, 0, 0, 0)) for b in range(n_buckets)}
    assert counters[omitted] == (0, 0, 0, 0)


def test_crash_between_write_and_checkpoint_counts_once(
    spark, pages, tmp_path, monkeypatch
):
    """A group whose output landed but whose checkpoint row did not is
    rewritten on resume; its counters come from the rewrite's own
    observed counts, so the rewrite is counted once and every url
    appears once."""
    root = str(tmp_path / "job")
    real_mark_done = CheckpointStore.mark_done
    calls = []

    def crash_once(self, rows, n_buckets):
        calls.append(rows)
        if len(calls) == 2:
            raise RuntimeError("crash before checkpoint")
        return real_mark_done(self, rows, n_buckets)

    monkeypatch.setattr(CheckpointStore, "mark_done", crash_once)
    with pytest.raises(RuntimeError, match="crash before checkpoint"):
        run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    crashed = calls[1][0]
    assert crashed["n_docs"] > 0  # its output landed before the crash
    assert CheckpointStore(root).done_buckets(N_BUCKETS) == {calls[0][0]["bucket"]}

    summary = run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    assert summary["buckets_skipped"] == 1
    assert summary["buckets_processed"] == N_BUCKETS - 1

    urls = [r["url"] for r in read_extracted(spark, root).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS
    ck = spark.read.parquet(f"{root}/checkpoint").collect()
    assert sum(r["n_docs"] for r in ck) == N_ROWS
    assert sorted(r["bucket"] for r in ck) == list(range(N_BUCKETS))


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs ``action()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucket_group_is_one_write_action(spark, pages, tmp_path):
    """A bucket group runs the Spark jobs of its extract write and no
    other: its checkpoint counters come from that write, not from a
    second action."""
    bucket = F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    gdf = pages.where(bucket.isin(list(range(N_BUCKETS))))
    n_partitions = spark.sparkContext.defaultParallelism
    job = _jobs_in_group(
        spark,
        "resume-one-group",
        lambda: run_extract_job(
            spark, pages, str(tmp_path / "job"), n_buckets=N_BUCKETS,
            bucket_group_size=N_BUCKETS,
        ),
    )
    write = _jobs_in_group(
        spark,
        "resume-bare-write",
        lambda: extract(spread_for_extract(gdf, n_partitions))
        .withColumn("bucket", bucket)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(str(tmp_path / "bare")),
    )
    assert write > 0
    assert job == write


def test_spread_keeps_an_input_that_fills_the_cores(spark, pages):
    """An input with at least as many partitions as the target is
    extracted where it is read: no exchange, and reading its partition
    count starts no Spark job."""
    kept = []
    jobs = _jobs_in_group(
        spark, "spread-wide", lambda: kept.append(spread_for_extract(pages, 4))
    )
    assert kept[0] is pages
    assert jobs == 0


def test_wide_input_runs_one_job_per_bucket_group(spark, pages, tmp_path):
    """No spread over a wide input: each group runs its write alone."""
    n_groups = -(-N_BUCKETS // 2)
    jobs = _jobs_in_group(
        spark,
        "resume-wide",
        lambda: run_extract_job(
            spark, pages, str(tmp_path / "job"), n_buckets=N_BUCKETS,
            bucket_group_size=2,
        ),
    )
    assert jobs == n_groups


def test_narrow_input_is_still_spread(spark, pages, tmp_path):
    """One input partition cannot fill the cores: the heavy-first range
    spread still runs (its sampling job adds to the group's write), and
    every url lands once."""
    narrow = pages.coalesce(1)
    root = str(tmp_path / "job")
    n_groups = -(-N_BUCKETS // 2)
    jobs = _jobs_in_group(
        spark,
        "resume-narrow",
        lambda: run_extract_job(
            spark, narrow, root, n_buckets=N_BUCKETS, bucket_group_size=2
        ),
    )
    assert jobs > n_groups
    urls = [r["url"] for r in read_extracted(spark, root).select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS


def test_hidden_partial_checkpoint_file_is_ignored(spark, pages, tmp_path):
    """mark_done writes under a '.'-prefixed name and renames it into
    place; a truncated file a crash leaves under that name is invisible
    to done_buckets and to Spark."""
    fresh = tmp_path / "fresh" / "checkpoint"
    fresh.mkdir(parents=True)
    (fresh / ".part-crashed.parquet").write_bytes(b"PAR1\x00\x01")
    assert CheckpointStore(str(tmp_path / "fresh")).done_buckets(N_BUCKETS) == set()

    root = str(tmp_path / "job")
    run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    ckpt_dir = os.path.join(root, "checkpoint")
    written = sorted(os.listdir(ckpt_dir))
    assert written and not any(f.startswith(".") for f in written)
    data = open(os.path.join(ckpt_dir, written[0]), "rb").read()
    with open(os.path.join(ckpt_dir, ".part-crashed.parquet"), "wb") as f:
        f.write(data[: len(data) // 2])
    assert CheckpointStore(root).done_buckets(N_BUCKETS) == set(range(N_BUCKETS))
    assert spark.read.parquet(ckpt_dir).count() == N_BUCKETS


def test_resume_group_mode(spark, pages, tmp_path):
    """Group processing: failure loses at most one group; resume
    completes the rest; output identical (no dupes, all rows)."""
    root = str(tmp_path / "job3")
    all_buckets = sorted(
        r["bucket"]
        for r in pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
        ).select("bucket").distinct().collect()
    )
    # fail inside the first group of 2 -> exactly that group committed
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(
            spark, pages, root, n_buckets=N_BUCKETS,
            fail_buckets={all_buckets[0]}, bucket_group_size=2,
        )
    ckpt = CheckpointStore(root)
    done = ckpt.done_buckets(N_BUCKETS)
    assert done == set(all_buckets[:2])

    summary = run_extract_job(
        spark, pages, root, n_buckets=N_BUCKETS, bucket_group_size=2
    )
    assert summary["buckets_processed"] == len(all_buckets) - 2

    out = read_extracted(spark, root)
    urls = [r["url"] for r in out.select("url").collect()]
    assert len(urls) == N_ROWS and len(set(urls)) == N_ROWS


def test_resume_with_different_n_buckets_is_refused(spark, pages, tmp_path):
    """Bucket ids are relative to n_buckets: resuming under a different
    numbering would anti-join the wrong url sets out (silent row loss)
    and mix incompatible extracted/bucket= partitions — must raise."""
    root = str(tmp_path / "job")
    run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extract_job(spark, pages, root, n_buckets=N_BUCKETS * 2)
    # same numbering still resumes cleanly (everything already done)
    summary = run_extract_job(spark, pages, root, n_buckets=N_BUCKETS)
    assert summary["buckets_processed"] == 0
    assert summary["buckets_skipped"] > 0


def test_resume_pre_n_buckets_checkpoint_is_refused(spark, pages, tmp_path):
    """A checkpoint written before the n_buckets schema column must be
    refused with a clear ValueError, not an opaque AnalysisException
    from selecting a missing column."""
    root = str(tmp_path / "job")
    old = spark.createDataFrame(
        [("r0", 0, "done", 10, 10, 0, 0, 5)],
        "run_id string, bucket int, status string, n_docs long, "
        "n_ok long, n_empty long, n_error long, wall_ms long",
    )
    old.coalesce(1).write.mode("append").parquet(str(tmp_path / "job" / "checkpoint"))
    ckpt = CheckpointStore(root)
    with pytest.raises(ValueError, match="fresh output root"):
        ckpt.done_buckets(N_BUCKETS)


def test_job_restores_partition_overwrite_mode(spark, pages, tmp_path):
    """run_extract_job must not leak partitionOverwriteMode=dynamic
    into the shared session (it changes unrelated writers' overwrite
    semantics)."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    run_extract_job(spark, pages, str(tmp_path / "job2"), n_buckets=N_BUCKETS)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == before
    )


def test_buckets_skipped_counts_prior_done_only(spark, pages, tmp_path):
    """A fresh run must report 0 skipped even when n_buckets exceeds
    the number of populated buckets (empty != done)."""
    root = str(tmp_path / "job3")
    s1 = run_extract_job(spark, pages, root, n_buckets=64)  # > distinct buckets
    assert s1["buckets_skipped"] == 0
    s2 = run_extract_job(spark, pages, root, n_buckets=64)
    assert s2["buckets_skipped"] == s1["buckets_processed"]
    assert s2["buckets_processed"] == 0
