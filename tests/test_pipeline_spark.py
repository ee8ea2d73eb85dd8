"""Spark-level pipeline tests: semantic truth, byte-golden regression,
repartition invariance."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from ragflow_ocr_spark.spark import synth
from ragflow_ocr_spark.spark.pipeline import extract

N_ROWS = 150
GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "extract_150.json.gz")


@pytest.fixture(scope="module")
def truth(spark):
    df = synth.pages_df(spark, N_ROWS, with_truth=True, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def extracted(spark, truth):
    pages = truth.select("url", "warc_ts", "html", "text", "lang")
    df = extract(pages, n_partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


def test_row_count_preserved(extracted):
    assert extracted.count() == N_ROWS


def test_semantic_truth_byte_identical(extracted, truth):
    """Every row with constructive ground truth must match byte-for-byte."""
    j = extracted.join(truth.select("url", "row_class", "expected_text"), "url")
    bad = j.where(
        F.col("expected_text").isNotNull()
        & (
            F.coalesce(F.col("extracted_text"), F.lit("<NULL>"))
            != F.col("expected_text")
        )
    )
    assert bad.count() == 0, bad.select("url", "row_class").limit(5).collect()


def test_all_classes_present_and_routed(extracted, truth):
    j = extracted.join(truth.select("url", "row_class"), "url")
    routes = {
        (r["row_class"], r["engine"])
        for r in j.select("row_class", "engine").distinct().collect()
    }
    assert ("html_simple", "html") in routes
    assert ("image_png", "ocr") in routes
    assert ("pdf_stub", "ocr") in routes


def test_errors_never_fail_tasks(extracted, truth):
    j = extracted.join(truth.select("url", "row_class"), "url")
    nulls = j.where(F.col("row_class") == "null_invalid")
    assert nulls.count() > 0
    assert nulls.where(~F.col("status").startswith("error")).count() == 0


def test_repartition_invariance(spark, truth, extracted):
    """Same bytes at 2 and 16 partitions (north rule: placement never
    affects output)."""
    pages = truth.select("url", "warc_ts", "html", "text", "lang")
    alt = extract(pages.repartition(16), n_partitions=16)
    a = {r["url"]: (r["extracted_text"], r["n_blocks"], r["status"])
         for r in extracted.collect()}
    b = {r["url"]: (r["extracted_text"], r["n_blocks"], r["status"])
         for r in alt.collect()}
    assert a == b


def test_golden_regression(extracted):
    """Committed byte-goldens: any kernel change that shifts output
    bytes must consciously re-pin (regenerate via tools/gen_goldens.py)."""
    if not os.path.exists(GOLDEN_PATH):
        pytest.skip("goldens not generated yet")
    with gzip.open(GOLDEN_PATH, "rt") as f:
        golden = json.load(f)
    got = {
        r["url"]: [r["extracted_text"], r["n_blocks"], r["status"]]
        for r in extracted.collect()
    }
    assert set(got) == set(golden)
    mismatches = [u for u in golden if got[u] != golden[u]]
    assert not mismatches, f"{len(mismatches)} golden mismatches, e.g. {mismatches[:3]}"


def test_synth_determinism_across_partitionings(spark):
    a = synth.pages_df(spark, 40, with_truth=True, partitions=2).collect()
    b = synth.pages_df(spark, 40, with_truth=True, partitions=8).collect()
    ka = sorted((r["url"], bytes(r["html"] or b"").hex()) for r in a)
    kb = sorted((r["url"], bytes(r["html"] or b"").hex()) for r in b)
    assert ka == kb


def test_spread_heavy_rows(spark, truth):
    """Heavy rows (html_edge skew) must spread across partitions:
    near-equal COUNT of heavy rows per partition (a heavy page is one
    indivisible row), heavy partitions issued before light ones."""
    from pyspark.sql import functions as F

    from ragflow_ocr_spark.config import DEFAULT
    from ragflow_ocr_spark.spark.pipeline import spread_for_extract

    pages = truth.select("url", "warc_ts", "html", "text", "lang")
    spread = spread_for_extract(pages, 8)
    assert spread.count() == N_ROWS  # no row lost or duplicated

    cost = F.coalesce(F.length(F.col("html")), F.lit(0))
    tagged = spread.withColumn("heavy", cost > DEFAULT.salt_heavy_bytes).withColumn(
        "pid", F.spark_partition_id()
    )
    per_part = {
        r["pid"]: r["n"]
        for r in tagged.where("heavy").groupBy("pid").agg(F.count("*").alias("n")).collect()
    }
    n_heavy = sum(per_part.values())
    assert n_heavy >= 2, "fixture must contain skew rows"
    # range spread: no partition holds more than ceil(n_heavy/8)+1
    assert max(per_part.values()) <= -(-n_heavy // 8) + 1, per_part
    # heavy partitions are scheduled first (LPT): all heavy pids precede
    # the first light-only pid
    light_pids = {
        r["pid"] for r in tagged.where(~F.col("heavy")).select("pid").distinct().collect()
    }
    assert max(per_part) < min(light_pids - set(per_part) or {999}), (
        per_part,
        sorted(light_pids)[:4],
    )


def test_semantic_truth_at_1000_rows(spark):
    """Constructive-truth byte-identity at 5× the golden corpus size —
    more rng draws hit more glyph/layout/boilerplate branches than the
    pinned 150-row goldens, with zero stored artifacts (synth emits
    expected_text)."""
    t = synth.pages_df(spark, 1000, with_truth=True, partitions=16)
    pages = t.select("url", "warc_ts", "html", "text", "lang")
    out = extract(pages)
    j = out.join(t.select("url", "expected_text"), "url")
    bad = j.where(
        F.col("expected_text").isNotNull()
        & (F.coalesce(F.col("extracted_text"), F.lit("\x00")) != F.col("expected_text"))
    )
    assert bad.count() == 0, bad.select("url").limit(5).collect()
    assert out.count() == 1000
