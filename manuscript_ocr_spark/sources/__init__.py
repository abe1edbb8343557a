"""Sources / sinks (SURVEY.md §2.1).

Readers: parquet fixture tables (S1-S2 analog: the media table IS the
decodable image source; binary-file directory scans map to
spark.read.format('binaryFile') when images live on a filesystem).
Sinks: extraction output parquet (pipeline / checkpoint), visualization
sink (S8), metrics sink (S9: checkpoint manifests; OCR pages that fail under
on_error="skip" come back as rows with a non-null `error`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_media(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_binary_images(spark: SparkSession, dir_glob: str) -> DataFrame:
    """Directory of image files → (path, modificationTime, length, content).
    The reference's build_file_index/read_image path (S1-S3) when pages live
    as files rather than table payloads; codec decode then happens in the
    multimodal UDFs (stubbed offline — see functions/multimodal.py)."""
    return spark.read.format("binaryFile").load(dir_glob)


# raw single-plane page files: <media_ref>_<width>x<height>x<channels>.gray
RAW_PAGE_NAME_RE = r"([^/]+)_(\d+)x(\d+)x(\d+)\.gray$"


def media_from_raw_files(spark: SparkSession, dir_glob: str) -> DataFrame:
    """File-directory ingestion → the engine's media table schema: binaryFile
    scan + filename-encoded dimensions (JVM regexp, no UDF). This is the
    reference's build_file_index path (S3,
    /root/reference/src/manuscript/_pipeline.py file-list predict loop) made
    columnar: everything downstream (extract_spans, checkpoint, multimodal)
    consumes the result exactly like the parquet media table. Codec formats
    (JPEG/PNG) would add a decode step in the OCR UDF's decode_media seam;
    raw planes need none — the honest offline-testable slice of S3."""
    from pyspark.sql import functions as F

    df = read_binary_images(spark, dir_glob)
    return df.select(
        F.regexp_extract("path", RAW_PAGE_NAME_RE, 1).alias("media_ref"),
        F.regexp_extract("path", RAW_PAGE_NAME_RE, 2).cast("int").alias("width"),
        F.regexp_extract("path", RAW_PAGE_NAME_RE, 3).cast("int").alias("height"),
        F.regexp_extract("path", RAW_PAGE_NAME_RE, 4).cast("int").alias("channels"),
        F.col("content").alias("pixels"),
    ).filter(F.col("media_ref") != "")


def write_visualizations(media: DataFrame, weights: dict, cfg, out_path: str):
    """S8 debug sink: render the boxes the weights' backend detects + their
    reading order onto each page, write (media_ref, width, height, vis
    binary) parquet. Order labels use the stand-in glyph bank, which every
    weights kind can draw with."""
    import numpy as np
    import pandas as pd

    from ..models.glyphs import serialize_weights

    spark = media.sparkSession
    wbc = spark.sparkContext.broadcast(serialize_weights(weights))

    def vis_batches(iterator):
        from ..kernels.ordering import reading_order_indices
        from ..kernels.vis import visualize_page
        from ..models.backend import load_backend
        from ..models.glyphs import build_weights
        from ..oracle import decode_media
        from ..pipeline import _get_weights

        detect = load_backend(_get_weights(wbc.value)).detect
        glyph_bank = build_weights()
        for pdf in iterator:
            refs, widths, heights, blobs = [], [], [], []
            for ref, h, wd, c, px in zip(
                pdf["media_ref"], pdf["height"], pdf["width"], pdf["channels"], pdf["pixels"]
            ):
                img = decode_media(px, int(h), int(wd), int(c))
                quads = detect(img, cfg)
                boxes = []
                for q in quads:
                    poly = np.array(q[:8].reshape(4, 2), dtype=np.int32)
                    boxes.append(
                        (int(poly[:, 0].min()), int(poly[:, 1].min()),
                         int(poly[:, 0].max()), int(poly[:, 1].max()))
                    )
                order = reading_order_indices(boxes)
                ordered = quads[order] if len(order) else quads
                vis = visualize_page(img, ordered, glyph_bank, show_order=True)
                refs.append(ref)
                widths.append(int(wd))
                heights.append(int(h))
                blobs.append(vis.tobytes())
            yield pd.DataFrame(
                {
                    "media_ref": pd.Series(refs, dtype="object"),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "vis": pd.Series(blobs, dtype="object"),
                }
            )

    out = media.mapInPandas(
        vis_batches, schema="media_ref string, width int, height int, vis binary"
    )
    out.write.mode("overwrite").parquet(out_path)
    return out_path


# ---------------------------------------------------------------------------
# Training-data sources (S4/S5) + invalid-annotation filter (F6)
# ---------------------------------------------------------------------------

def read_coco_annotations(spark: SparkSession, path: str):
    """S4: COCO annotation JSON → (images, annotations) DataFrames.

    Reference: EASTDataset.__init__ (detectors/_east/dataset.py:87-95) loads
    the whole JSON on one process and dict-groups annotations by image_id;
    here images/annotations become columnar DataFrames (multiLine JSON scan),
    so a 10^9-annotation corpus shards across executors instead of one heap.
    """
    import pyspark.sql.functions as F

    raw = spark.read.option("multiLine", "true").json(path)
    images = raw.select(F.explode("images").alias("img")).select(
        F.col("img.id").alias("image_id"),
        F.col("img.file_name").alias("file_name"),
        F.col("img.width").cast("int").alias("width"),
        F.col("img.height").cast("int").alias("height"),
    )
    annots = raw.select(F.explode("annotations").alias("a")).select(
        F.col("a.id").alias("ann_id"),
        F.col("a.image_id").alias("image_id"),
        F.col("a.segmentation").alias("segmentation"),
    )
    return images, annots


def filter_valid_coco_images(images: DataFrame, annots: DataFrame):
    """F6: drop images with no usable quad annotation.

    Reference semantics (dataset.py:97-120): an image is valid iff at least
    one of its annotations has a segmentation that reshapes to >= 4 (x, y)
    points — i.e. >= 8 numbers across the (possibly nested) segmentation
    list. Returns (valid_images, n_dropped). One aggregation, no UDF; the
    validity test runs inside codegen on the exploded annotation rows.
    """
    import pyspark.sql.functions as F

    seg_len = F.size(F.flatten("segmentation"))
    valid_ids = (
        annots.groupBy("image_id")
        .agg(F.max((seg_len >= 8).cast("int")).alias("has_valid"))
        .filter(F.col("has_valid") == 1)
        .select("image_id")
    )
    valid = images.join(valid_ids, "image_id", "left_semi")
    n_dropped = images.count() - valid.count()
    return valid, n_dropped


VALIDATION_REASONS = ("bad_row", "empty_fname", "empty_label", "charset", "too_long", "ok")


def read_recognition_labels(
    spark: SparkSession,
    path: str,
    charset: str,
    max_len: int | None = None,
) -> DataFrame:
    """S5: recognizer label CSV (filename, label) → DataFrame with a `reason`
    column classifying each row by the FIRST failed check, mirroring the
    reference's _validate_row order (recognizers/_trba/data/dataset.py:214-260):
    bad_row → empty_fname → empty_label → charset → too_long → ok.
    (missing_path is filesystem-bound and out of scope offline; note the
    reference checks charset BEFORE too_long, so effective_len == len(label)
    whenever too_long is reached.) Filter reason == 'ok' for the train set;
    groupBy reason for the reference's per-reason skip counters.
    """
    import re as _re

    import pyspark.sql.functions as F

    # nullValue sentinel: keep empty strings as "" (→ empty_label) while a
    # truly missing second field (row shorter than the schema) stays null
    # (→ bad_row), matching the reference's len(row) < 2 check
    rows = spark.read.option("nullValue", "\\N").csv(
        path, schema="filename string, label string"
    )
    not_in_charset = "[^" + _re.sub(r"([\^\]\\\-])", r"\\\1", charset) + "]"
    fname = F.trim(F.col("filename"))
    label = F.col("label")
    reason = (
        F.when(label.isNull(), "bad_row")
        .when(fname == "", "empty_fname")
        .when(label == "", "empty_label")
        .when(label.rlike(not_in_charset), "charset")
    )
    if max_len is not None:
        reason = reason.when(F.length(label) > max_len, "too_long")
    return rows.select(
        fname.alias("filename"), label, reason.otherwise("ok").alias("reason")
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
):
    """Persist a table hash-bucketed (and optionally sorted) on its join key.

    The 100 TB pattern for repeated fact⋈fact joins: two tables bucketed on
    the same key with the same bucket count join with ZERO exchanges — each
    task reads matching bucket files from both sides (and with sortBy, zero
    sorts too). At 10^12 docs this turns the spans⋈media co-location from a
    per-query shuffle into a one-time layout cost, amortized across every
    downstream join (asserted in tests/test_plans.py::
    test_bucketed_join_plans_no_exchange)."""
    # align write tasks with buckets (repartition uses the same murmur3+pmod
    # hash as bucketBy): one file per bucket, which is the precondition for
    # Spark to TRUST the sortBy metadata — with multiple files per bucket the
    # reader re-sorts anyway and only the shuffle elision survives
    df = df.repartition(n_buckets, *bucket_cols)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket metadata (a plain
    spark.read.parquet on the files would drop the bucket spec and
    reintroduce the shuffle). To ALSO elide the per-bucket sorts on a
    sortBy'd table, set spark.sql.legacy.bucketedTableScan.outputOrdering=
    true (opt-in since SPARK-28595; safe here because write_bucketed
    guarantees one file per bucket)."""
    return spark.table(table_name)
