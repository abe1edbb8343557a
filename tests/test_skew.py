"""Skew stress tier (SURVEY.md §9.5, north_rule "salted and range-partitioned
to defuse skew from pages with dense line counts").

The OCR stage's cost skew comes from dense pages (~10× the median page) and
from coarse scans (few files → few tasks). Asserted via the pages per OCR
task (the UDF's one row per page, grouped by spark_partition_id()), in
terms of the host's cores = defaultParallelism and the media scan's split
row counts r_i, so the bounds hold at any core count:

- auto layout (this fixture is a small scan, so ocr_media_lines
  round-robin-compacts it to one task per core): the work fans out to
  every core up to the largest scan split, len(busy) >= min(cores,
  max(r_i)), and no task carries more than its round-robin share,
  max(pages) <= sum(ceil(r_i / cores)) — each split deals its rows out
  one per task in turn;
- explicit ocr_partitions=1: everything piles into one task, on any host.

Page-count asserts are deterministic; task wall times live in Spark's event
log (perfbench --trace 1), not here."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skew_tables(spark, tmp_path_factory):
    from manuscript_ocr_spark.fixtures import write_fixtures

    # larger page pool → several dense pages (kind probability 5%)
    out = tmp_path_factory.mktemp("skewfix") / "tier"
    write_fixtures(str(out), n_docs=80, n_pages=96, with_expected=False)
    docs = spark.read.parquet(f"{out}/docs.parquet")
    media = spark.read.parquet(f"{out}/media.parquet")
    return docs, media


def _task_metrics(spark, media, refs, ocr_partitions=None):
    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.models import (
        DetectorConfig,
        build_weights,
        serialize_weights,
    )
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    bc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    lines = ocr_media_lines(
        media,
        refs,
        bc,
        DetectorConfig(target_size=PAGE_SIZE),
        ocr_partitions=ocr_partitions,
        broadcast_refs=True,
    )
    per_task = lines.groupBy(F.spark_partition_id())
    return per_task.agg(F.count("*").alias("pages")).collect()


def test_spread_bounds_per_task_load(spark, skew_tables):
    _, media = skew_tables
    refs = media.select("media_ref").distinct()
    n_pages = media.count()
    cores = spark.sparkContext.defaultParallelism
    per_split = media.groupBy(F.spark_partition_id()).count().collect()
    split_rows = [r["count"] for r in per_split]

    fine = _task_metrics(spark, media, refs)  # auto layout
    busy = [r for r in fine if r["pages"] > 0]
    assert sum(r["pages"] for r in fine) == n_pages
    # spread: every core up to the largest split carries work, and no task
    # carries more than its round-robin share of each split
    assert len(busy) >= min(cores, max(split_rows))
    assert max(r["pages"] for r in busy) <= sum(-(-r // cores) for r in split_rows)

    coarse = _task_metrics(spark, media, refs, ocr_partitions=1)
    coarse_busy = [r for r in coarse if r["pages"] > 0]
    assert len(coarse_busy) == 1  # everything piles into one task
    assert coarse_busy[0]["pages"] == n_pages


def test_hot_page_still_ocrd_once(spark, skew_tables):
    """A hot media_ref (every doc referencing the same page) must not
    multiply OCR work: the distinct-refs semi-join dedups the scan, so the
    page count over the OCR tasks stays at the DISTINCT page count."""
    docs, media = skew_tables
    hot = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                F.when(s["kind"] == "media", F.lit("page-0000"))
                .otherwise(s["media_ref"])
                .alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    refs = (
        hot.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    metrics = _task_metrics(spark, media, refs)
    assert sum(r["pages"] for r in metrics) == 1


def test_scan_split_estimate_matches_spark(spark, skew_tables):
    """The auto layout judges the media scan by _scan_split_estimate: it must
    equal the split count Spark plans for the scan at this session's core
    count (FilePartition sizes splits from the total bytes per core)."""
    from manuscript_ocr_spark.pipeline import _scan_split_estimate

    _, media = skew_tables
    splits, total = _scan_split_estimate(media, spark)
    assert splits == media.rdd.getNumPartitions()
    assert 0 < total
