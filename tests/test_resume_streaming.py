"""Checkpoint/resume + incremental streaming tests.

The resume semantics mirror the north_rule: kill after partial commit,
rerun, assert (a) committed buckets are skipped, (b) the final table equals
the plain batch pipeline's output, (c) per-bucket manifests carry
rows/latency/version lineage.
"""

import json
import os

import pytest
from pyspark.sql import functions as F


def _spans_key(rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"], s["seq"])
            for s in r["spans"]
        ]
        for r in rows
    }


@pytest.fixture(scope="module")
def small_tables(spark, sf_small_dir):
    from manuscript_ocr_spark.pipeline import load_fixture_tables

    docs, media = load_fixture_tables(spark, sf_small_dir)
    # keep the resume test fast: 60 docs still span several buckets
    docs = docs.limit(60).cache()
    docs.count()
    return docs, media


def test_resume_after_partial_failure(spark, small_tables, tmp_path):
    from manuscript_ocr_spark.operators import (
        committed_buckets,
        extract_with_checkpoint,
        read_checkpointed,
    )
    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = small_tables
    out_dir = str(tmp_path / "ckpt")

    # first run dies after 2 committed buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        extract_with_checkpoint(docs, media, out_dir, n_buckets=4, fail_after=2)
    first = committed_buckets(out_dir)
    assert len(first) == 2

    # resume: completes the remaining buckets, does NOT recompute committed
    result = extract_with_checkpoint(docs, media, out_dir, n_buckets=4)
    assert sorted(result["skipped"]) == sorted(first)
    assert len(result["committed"]) == 2
    assert set(result["committed"]) | set(first) == {0, 1, 2, 3}

    # manifests carry lineage
    for b, m in committed_buckets(out_dir).items():
        assert m["engine_version"]
        assert m["wall_ms"] >= 0
        assert m["rows"] >= 0
        assert m["n_buckets"] == 4

    # final table == plain batch pipeline output
    got = _spans_key(read_checkpointed(spark, out_dir).collect())
    want = _spans_key(extract_spans(docs, media).collect())
    assert got == want


def test_rerun_is_noop(spark, small_tables, tmp_path):
    from manuscript_ocr_spark.operators import extract_with_checkpoint

    docs, media = small_tables
    out_dir = str(tmp_path / "ckpt2")
    r1 = extract_with_checkpoint(docs, media, out_dir, n_buckets=2)
    assert len(r1["committed"]) == 2
    # manifest mtimes must not change on the noop rerun
    mdir = os.path.join(out_dir, "_manifest")
    before = {f: os.path.getmtime(os.path.join(mdir, f)) for f in os.listdir(mdir)}
    r2 = extract_with_checkpoint(docs, media, out_dir, n_buckets=2)
    assert r2["committed"] == [] and sorted(r2["skipped"]) == [0, 1]
    after = {f: os.path.getmtime(os.path.join(mdir, f)) for f in os.listdir(mdir)}
    assert before == after


def test_ocr_task_metrics(spark, small_tables):
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    docs, media = small_tables
    wbc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    refs = media.select("media_ref").distinct()
    lines = ocr_media_lines(media, refs, wbc, DetectorConfig(target_size=PAGE_SIZE))
    m = lines.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    assert len(m) >= 1
    assert sum(r["count"] for r in m) == media.count()
    assert all(r["pid"] >= 0 for r in m)
    assert lines.filter(F.col("error").isNotNull()).count() == 0


def test_unknown_on_error_rejected_before_any_job(spark, small_tables):
    """A typo like on_error="quarantine" must not silently behave as
    "fail": ocr_media_lines rejects it on the driver, before any job."""
    import time

    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    docs, media = small_tables
    wbc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    refs = media.select("media_ref").distinct()
    sc = spark.sparkContext
    group = "on-error-typo"
    sc.setJobGroup(group, "ocr_media_lines with an unknown on_error")
    try:
        with pytest.raises(ValueError, match="'fail' or 'skip'"):
            ocr_media_lines(
                media, refs, wbc, DetectorConfig(target_size=PAGE_SIZE),
                on_error="quarantine",
            )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    time.sleep(1)  # let the status store catch up with any stray job
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_on_error_skip_counts_corrupt_pages(spark, small_tables, tmp_path):
    """A corrupt payload fails the job in 'fail' mode (reference raises on
    bad input) and comes back as a row with null lines and a non-null error
    in 'skip' mode (the 10^12-scale posture: a handful of bad blobs must not
    kill the run, nor vanish)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors.exceptions.captured import PythonException

    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    docs, media = small_tables
    # corrupt table: 3 good pages + 1 truncated payload
    rows = media.limit(3).collect()
    tbl = pa.table(
        {
            "media_ref": [r["media_ref"] for r in rows] + ["page-bad"],
            "width": pa.array([r["width"] for r in rows] + [PAGE_SIZE], pa.int32()),
            "height": pa.array([r["height"] for r in rows] + [PAGE_SIZE], pa.int32()),
            "channels": pa.array([r["channels"] for r in rows] + [1], pa.int32()),
            "pixels": pa.array(
                [r["pixels"] for r in rows] + [b"\x00" * 100], pa.binary()
            ),
        }
    )
    bad_path = str(tmp_path / "bad_media.parquet")
    pq.write_table(tbl, bad_path, row_group_size=2)
    bad_media = spark.read.parquet(bad_path)

    wbc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    cfg = DetectorConfig(target_size=PAGE_SIZE)
    refs = bad_media.select("media_ref").distinct()

    with pytest.raises(PythonException, match="raw payload is"):
        ocr_media_lines(bad_media, refs, wbc, cfg, on_error="fail").count()

    got = ocr_media_lines(bad_media, refs, wbc, cfg, on_error="skip").collect()
    assert sorted(r["media_ref"] for r in got) == sorted(tbl["media_ref"].to_pylist())
    bad = [r for r in got if r["error"] is not None]
    assert [r["media_ref"] for r in bad] == ["page-bad"]
    assert bad[0]["lines"] is None
    assert bad[0]["error"].startswith("ValueError: raw payload is")
    assert all(r["lines"] is not None for r in got if r["error"] is None)


def test_incremental_streaming_matches_batch(spark, small_tables, tmp_path):
    from manuscript_ocr_spark.pipeline import extract_spans
    from manuscript_ocr_spark.streaming import run_incremental_extraction

    docs, media = small_tables
    docs_dir = str(tmp_path / "docs_stream")
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")

    half1 = docs.filter(F.col("doc_id") < "doc-000030")
    half2 = docs.filter(F.col("doc_id") >= "doc-000030")

    # first arrival + drain
    half1.write.mode("append").parquet(docs_dir)
    run_incremental_extraction(spark, docs_dir, media, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == half1.count()

    # second arrival: only the NEW files are processed (exactly-once)
    half2.write.mode("append").parquet(docs_dir)
    run_incremental_extraction(spark, docs_dir, media, out_dir, ckpt)
    got = _spans_key(spark.read.parquet(out_dir).collect())
    want = _spans_key(extract_spans(docs, media).collect())
    assert got == want


def test_windowed_event_counts_batch(spark):
    from manuscript_ocr_spark.streaming import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events).collect()
    assert len(out) > 0
    total = sum(r["n"] for r in out)
    assert total == events.count()


@pytest.mark.parametrize("api", ["applyInPandasWithState", "transformWithState"])
def test_stateful_sessionize_matches_batch_oracle(spark, tmp_path, api):
    """Stateful-streaming sessionization over a 2-micro-batch replay of
    the events table ≡ the batch window sessionize (rel_sessionize oracle),
    restricted to CLOSED sessions (each user's open tail session stays in
    state by design). The 2-file split forces the session state to carry
    across micro-batch boundaries. Both stateful APIs must agree:
    applyInPandasWithState and its Spark-4 successor
    transformWithStateInPandas."""
    import pandas as pd

    from manuscript_ocr_spark.functions.relational import sessionize
    from manuscript_ocr_spark.streaming.incremental import (
        stateful_sessionize,
        stateful_sessionize_tws,
    )

    if api == "transformWithState":
        # transformWithStateInPandas runs a protobuf-based state server
        # between the JVM and the Python driver worker; protobuf is not
        # installed in this sandbox (and installs are disallowed), so the
        # TWS variant can only run where google.protobuf exists.
        pytest.importorskip("google.protobuf")
        op = stateful_sessionize_tws
    else:
        op = stateful_sessionize

    sf_dir = "/root/testdata/sf0.001"
    epoch_us = "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts_us", F.expr(epoch_us)
    )
    cutoff = ev.selectExpr("percentile(ts_us, 0.5) p").first()["p"]

    # event-time-ordered arrival: chunk0 strictly before chunk1 per user
    stream_dir = tmp_path / "evstream"
    stream_dir.mkdir()
    cols = [c for c in ev.columns if c != "ts_us"]
    ev.filter(F.col("ts_us") <= cutoff).select(cols).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0")
    )
    ev.filter(F.col("ts_us") > cutoff).select(cols).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1")
    )
    ev = ev.select(cols)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        op(stream)
        .writeStream.format("memory")
        .queryName(f"sessions_out_{api}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(f"sessions_out_{api}").toPandas()
    assert q.lastProgress["batchId"] >= 1, "expected >1 micro-batch"

    batch = sessionize(spark, sf_dir).toPandas()
    # drop each user's final (still-open) session
    last = batch.groupby("user_id")["session_idx"].transform("max")
    want = batch[batch["session_idx"] != last]

    got = got.sort_values(["user_id", "session_idx"]).reset_index(drop=True)
    want = want.sort_values(["user_id", "session_idx"]).reset_index(drop=True)
    assert len(got) > 50, f"too few closed sessions: {len(got)}"
    pd.testing.assert_frame_equal(
        got[["user_id", "session_idx", "n_events"]],
        want[["user_id", "session_idx", "n_events"]],
        check_dtype=False,
    )
    assert (got["session_value"].round(3) - want["session_value"]).abs().max() <= 0.002


def test_streaming_minhash_lsh_matches_batch(spark, tmp_path):
    """Dedup at ingest: the stateful streaming LSH pair emitter over a
    2-micro-batch replay of the documents table must surface exactly the
    batch minhash_lsh_pairs candidate set (as unordered pairs, after the
    stateless cross-band dedupe the batch query applies) — with pairs
    SPANNING the batch boundary proving the bucket state carries."""
    from manuscript_ocr_spark.functions.dedup import minhash_lsh_pairs
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_minhash_lsh_pairs,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half = docs.count() // 2

    stream_dir = tmp_path / "docstream"
    stream_dir.mkdir()
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0")
    )
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1")
    )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_minhash_lsh_pairs(stream)
        .writeStream.format("memory")
        .queryName("lsh_pairs_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lsh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1
    got = {
        frozenset((int(r["doc_a"]), int(r["doc_b"])))
        for r in spark.table("lsh_pairs_stream").collect()
    }
    want = {
        frozenset((int(r["doc_a"]), int(r["doc_b"])))
        for r in minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # at least one pair crosses the micro-batch boundary (state carried)
    assert any(min(p) < half <= max(p) for p in want)


def test_tws_timer_flush_emits_open_tails(spark, tmp_path):
    """Event-time-timer variant (SURVEY §9 item 3): after a sentinel event
    advances the watermark past every user's gap horizon, the OPEN tail
    sessions flush via handleExpiredTimer — so the streaming output equals
    the FULL batch sessionize (closed + tails), which the no-timer twins
    structurally cannot produce. Skipped where protobuf is absent (TWS's
    JVM↔Python state channel requires it); the body is complete and runs on
    any protobuf-equipped host."""
    pytest.importorskip("google.protobuf")
    import pandas as pd

    from manuscript_ocr_spark.functions.relational import sessionize
    from manuscript_ocr_spark.streaming.incremental import (
        stateful_sessionize_tws_timers,
    )

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cols = ev.columns

    stream_dir = tmp_path / "evstream"
    stream_dir.mkdir()
    ev.coalesce(1).write.parquet(str(stream_dir / "chunk=0"))
    # sentinel: one far-future event for a user id outside the data — its
    # arrival advances the global watermark past last_event + gap for every
    # real user, firing their flush timers
    max_ts = ev.agg(F.max("ts").alias("m")).first()["m"]
    sentinel = spark.createDataFrame(
        [(999_999_999, "sentinel", 0.0)], "user_id bigint, event_type string, value double"
    ).select(
        F.lit(999_999_999).cast("bigint").alias("event_id"),
        "user_id",
        F.lit(max_ts + pd.Timedelta(days=30)).alias("ts"),
        "event_type",
        "value",
    ).select(cols)
    sentinel.coalesce(1).write.parquet(str(stream_dir / "chunk=1"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        stateful_sessionize_tws_timers(stream)
        .writeStream.format("memory")
        .queryName("sessions_tws_timers")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_tws_timers").toPandas()
    got = got[got["user_id"] != 999_999_999]

    want = sessionize(spark, sf_dir).toPandas()  # FULL output incl. tails
    got = got.sort_values(["user_id", "session_idx"]).reset_index(drop=True)
    want = want.sort_values(["user_id", "session_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["user_id", "session_idx", "n_events"]],
        want[["user_id", "session_idx", "n_events"]],
        check_dtype=False,
    )


def test_dangling_media_ref_drops_span_keeps_doc(spark, small_tables):
    """A media span whose ref is missing from the media table is omitted;
    the doc's remaining spans still extract (documented divergence from the
    KeyError-raising oracle — see pipeline.extract_spans docstring)."""
    from pyspark.sql.types import StringType

    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = small_tables
    one = docs.limit(1).withColumn(
        "spans",
        F.concat(
            "spans",
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast(StringType()).alias("text"),
                    F.lit("page-does-not-exist").alias("media_ref"),
                    F.lit(9999).cast("int").alias("offset"),
                )
            ),
        ),
    )
    base = {
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in extract_spans(docs.limit(1), media).first()["spans"]
    }
    got = {
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in extract_spans(one, media).first()["spans"]
    }
    assert got == base  # dangling span omitted, everything else identical
    assert not any(ref == "page-does-not-exist" for _, _, ref, _ in got)


def test_hot_page_skew_ocr_runs_once(spark, small_tables):
    """Worst-case skew: EVERY doc references the SAME page. The distinct-ref
    design means the hot page is OCR'd exactly once regardless of fan-in
    (one OCR output row), and each doc still gets its full span set — the
    north_rule skew tier ('pages with dense line counts' / hot docs) is
    defused structurally, not by salting alone."""
    from manuscript_ocr_spark.fixtures import PAGE_SIZE
    from manuscript_ocr_spark.models import DetectorConfig, build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import extract_spans, ocr_media_lines
    from pyspark.sql.types import StringType

    docs, media = small_tables
    hot_ref = media.first()["media_ref"]
    n_docs = 500
    skewed = spark.range(n_docs).select(
        F.concat(F.lit("skew-"), F.col("id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast(StringType()).alias("text"),
                F.lit(hot_ref).alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )

    out = extract_spans(skewed, media).collect()
    assert len(out) == n_docs
    span_sets = {
        tuple((s["kind"], s["text"], s["seq"]) for s in r["spans"]) for r in out
    }
    assert len(span_sets) == 1  # every doc got the identical OCR of the page
    assert len(out[0]["spans"]) >= 1

    # and the OCR stage itself touched the page exactly once
    wbc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    refs = (
        skewed.select(F.explode("spans").alias("s"))
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    lines = ocr_media_lines(media, refs, wbc, DetectorConfig(target_size=PAGE_SIZE))
    assert lines.count() == 1


def test_crash_mid_write_leaves_uncommitted_recomputable(
    spark, small_tables, tmp_path
):
    """A crash between the staged write and the per-bucket commits (or a
    junk bucket dir with no manifest) must leave uncommitted buckets
    invisible to readers and recomputable by the next run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.operators import (
        committed_buckets,
        extract_with_checkpoint,
        read_checkpointed,
    )
    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = small_tables
    out_dir = str(tmp_path / "ckpt3")

    with pytest.raises(RuntimeError, match="injected failure"):
        extract_with_checkpoint(docs, media, out_dir, n_buckets=4, fail_after=1)
    assert len(committed_buckets(out_dir)) == 1
    # staged-but-uncommitted buckets exist on disk but readers must not see
    # them (only the manifest-committed bucket is visible)
    visible = read_checkpointed(spark, out_dir)
    assert visible.select("bucket").distinct().count() == 1

    # simulate a crashed writer's junk: a bucket dir with bogus content and
    # no manifest — the rerun must overwrite it, and the final table must
    # still equal the plain pipeline
    junk = os.path.join(out_dir, "spans", "bucket=3")
    os.makedirs(junk, exist_ok=True)
    pq.write_table(pa.table({"garbage": [1, 2, 3]}), os.path.join(junk, "j.parquet"))

    result = extract_with_checkpoint(docs, media, out_dir, n_buckets=4)
    assert len(result["committed"]) == 3
    got = _spans_key(read_checkpointed(spark, out_dir).collect())
    want = _spans_key(extract_spans(docs, media).collect())
    assert got == want


def test_resume_rejects_different_n_buckets(spark, small_tables, tmp_path):
    """Rerunning with a different modulus silently drops/duplicates docs —
    must fail fast instead."""
    from manuscript_ocr_spark.operators import extract_with_checkpoint

    docs, media = small_tables
    out_dir = str(tmp_path / "ckpt4")
    extract_with_checkpoint(docs, media, out_dir, n_buckets=2)
    with pytest.raises(ValueError, match="resume mismatch"):
        extract_with_checkpoint(docs, media, out_dir, n_buckets=4)


def _reread_stats(spark, out_dir, b):
    """Manifest fields recomputed by an independent Spark re-read of one
    committed bucket: rows, total spans, and rows per file by basename."""
    written = spark.read.parquet(os.path.join(out_dir, "spans", f"bucket={b}"))
    per_file = written.groupBy(F.input_file_name().alias("f")).count().collect()
    return {
        "rows": written.count(),
        "spans": written.select(F.sum(F.size("spans"))).collect()[0][0] or 0,
        "files": {os.path.basename(r["f"]): r["count"] for r in per_file},
    }


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_manifest_stats_equal_reread(spark, small_tables, tmp_path, monkeypatch, aqe):
    """Manifest rows/spans/files come from the staged write (observed
    metrics + parquet footers) and must equal a re-read of each committed
    bucket; the commit loop itself starts no Spark job."""
    import time

    from manuscript_ocr_spark.operators import (
        checkpoint,
        committed_buckets,
        extract_with_checkpoint,
    )

    docs, media = small_tables
    out_dir = str(tmp_path / f"ckpt-aqe-{aqe}")
    sc = spark.sparkContext
    group = f"ckpt-commit-loop-{aqe}"
    footer_rows = checkpoint._file_rows

    def tagged_file_rows(d):  # first call: the write has finished
        sc.setJobGroup(group, "checkpoint commit loop")
        return footer_rows(d)

    monkeypatch.setattr(checkpoint, "_file_rows", tagged_file_rows)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        res = extract_with_checkpoint(docs, media, out_dir, n_buckets=8)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    time.sleep(1)  # let the status store catch up with any stray job
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    manifests = committed_buckets(out_dir)
    assert sorted(res["committed"]) == sorted(manifests) == list(range(8))
    assert sum(m["rows"] for m in manifests.values()) == docs.count()
    for b, m in manifests.items():
        if m["rows"] == 0:
            assert (m["spans"], m["files"]) == (0, {})
            continue
        want = _reread_stats(spark, out_dir, b)
        assert {k: m[k] for k in want} == want, b


def test_empty_buckets_commit_zero_and_stay_skipped(spark, small_tables, tmp_path):
    """More buckets than docs: every empty bucket still commits a manifest
    with rows=0, spans=0, files={} and is skipped on resume."""
    from manuscript_ocr_spark.operators import (
        bucket_of,
        committed_buckets,
        extract_with_checkpoint,
    )

    docs, media = small_tables
    few = docs.orderBy("doc_id").limit(3).cache()
    full = {r["b"] for r in few.select(bucket_of(F.col("doc_id"), 8).alias("b")).collect()}
    out_dir = str(tmp_path / "ckpt-empty")
    res = extract_with_checkpoint(few, media, out_dir, n_buckets=8)
    assert sorted(res["committed"]) == list(range(8))
    manifests = committed_buckets(out_dir)
    for b in set(range(8)) - full:
        assert (manifests[b]["rows"], manifests[b]["spans"], manifests[b]["files"]) == (0, 0, {})
    for b in full:
        want = _reread_stats(spark, out_dir, b)
        assert {k: manifests[b][k] for k in want} == want
    again = extract_with_checkpoint(few, media, out_dir, n_buckets=8)
    assert again["committed"] == [] and again["skipped"] == list(range(8))
    few.unpersist()


def test_manifest_cross_check_blocks_commit(spark, small_tables, tmp_path, monkeypatch):
    """Footer rows that disagree with the write's observed rows must raise,
    name the bucket and leave it without a manifest; a clean rerun commits it."""
    from manuscript_ocr_spark.operators import (
        checkpoint,
        committed_buckets,
        extract_with_checkpoint,
        read_checkpointed,
    )
    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = small_tables
    out_dir = str(tmp_path / "ckpt-xcheck")
    footer_rows = checkpoint._file_rows

    def skewed_file_rows(d):
        files = footer_rows(d)
        if d.endswith("bucket=1"):
            files["phantom.parquet"] = 1
        return files

    monkeypatch.setattr(checkpoint, "_file_rows", skewed_file_rows)
    with pytest.raises(RuntimeError, match="bucket 1 left uncommitted"):
        extract_with_checkpoint(docs, media, out_dir, n_buckets=4)
    assert sorted(committed_buckets(out_dir)) == [0]
    assert not os.path.exists(os.path.join(out_dir, "_manifest", "1.json"))

    monkeypatch.undo()
    res = extract_with_checkpoint(docs, media, out_dir, n_buckets=4)
    assert res["skipped"] == [0] and res["committed"] == [1, 2, 3]
    got = _spans_key(read_checkpointed(spark, out_dir).collect())
    assert got == _spans_key(extract_spans(docs, media).collect())


def test_incremental_sink_idempotent_on_replay(spark, small_tables, tmp_path):
    """Crash window: sink written but streaming commit not yet recorded.
    Simulated by deleting the last commit marker — the replayed batch must
    OVERWRITE its own batch_id dir, leaving zero duplicate rows."""
    import glob
    import os

    from manuscript_ocr_spark.streaming import run_incremental_extraction

    docs, media = small_tables
    docs_dir = str(tmp_path / "docs_replay")
    out_dir = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "replay_ckpt")

    docs.limit(20).write.mode("append").parquet(docs_dir)
    run_incremental_extraction(spark, docs_dir, media, out_dir, ckpt)
    before = spark.read.parquet(out_dir).count()
    assert before == 20

    # wind the checkpoint back past the sink write: source replays batch 0
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "*")))
    last = [c for c in commits if not c.endswith(".tmp")][-1]
    os.remove(last)
    # Hadoop LocalFS checksum sidecar would otherwise block the re-write
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_incremental_extraction(spark, docs_dir, media, out_dir, ckpt)
    after_df = spark.read.parquet(out_dir)
    assert after_df.count() == before  # no duplicate append
    assert after_df.select("doc_id").distinct().count() == before


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Cross-batch exact dedup: each distinct text emits exactly once, the
    first batch it appears in (keeper = min doc_id within that batch) —
    checked against a pandas fold over the same batch order."""
    import pandas as pd

    from manuscript_ocr_spark.streaming import streaming_exact_dedup

    b0 = pd.DataFrame(
        {
            "doc_id": ["d3", "d1", "d5"],
            "text": ["alpha", "alpha", "beta"],
        }
    )
    b1 = pd.DataFrame(
        {
            "doc_id": ["d0", "d2", "d4"],
            "text": ["alpha", "gamma", "beta"],
        }
    )
    stream_dir = tmp_path / "dedup_stream"
    stream_dir.mkdir()
    spark.createDataFrame(b0).coalesce(1).write.parquet(str(stream_dir / "chunk=0"))
    spark.createDataFrame(b1).coalesce(1).write.parquet(str(stream_dir / "chunk=1"))

    schema = spark.createDataFrame(b0).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        r["text_md5"]: r["keep_doc_id"]
        for r in spark.sql("SELECT * FROM dedup_stream_out").collect()
    }

    # pandas fold oracle over the same batch order
    import hashlib

    want = {}
    for batch in (b0, b1):
        for md5, grp in batch.groupby(
            batch["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest())
        ):
            if md5 not in want:
                want[md5] = grp["doc_id"].min()
    assert got == want
    assert len(got) == 3  # alpha, beta, gamma — each exactly once
    assert got[hashlib.md5(b"alpha").hexdigest()] == "d1"  # batch-0 min, not d0


def test_windowed_counts_drop_late_beyond_watermark(spark, tmp_path):
    """True streaming semantics for windowed_event_counts (append mode):
    a window is emitted exactly once when the watermark passes its end, and
    an event arriving AFTER that emission (state already evicted) is dropped
    — it neither re-emits nor mutates the finalized window. (Spark only
    guarantees the drop once state is evicted; a late row landing in the
    same batch as the eviction may still merge, so the late row here arrives
    one batch after the emission.)"""
    import glob as _glob
    import os as _os
    import time as _time

    import pandas as pd

    from manuscript_ocr_spark.streaming import windowed_event_counts

    base = pd.Timestamp("2026-01-01 00:30:00")

    def evdf(*ts):
        return pd.DataFrame(
            {"ts": list(ts), "event_type": ["view"] * len(ts), "value": [1.0] * len(ts)}
        )

    chunks = [
        evdf(base, base + pd.Timedelta(minutes=10)),     # the window under test
        evdf(base + pd.Timedelta(hours=10)),             # advances wm to +8h
        evdf(base + pd.Timedelta(hours=11)),             # batch that EMITS the base window
        evdf(base + pd.Timedelta(minutes=5)),            # late: state evicted → dropped
    ]
    stream_dir = tmp_path / "late_stream"
    stream_dir.mkdir()
    now = _time.time()
    # file-source batch order follows modification time: pin it explicitly
    for i, b in enumerate(chunks):
        d = stream_dir / f"chunk={i}"
        spark.createDataFrame(b).coalesce(1).write.parquet(str(d))
        for f in _glob.glob(str(d / "*")):
            _os.utime(f, (now + 10 * i, now + 10 * i))

    schema = spark.createDataFrame(chunks[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = spark.sql("SELECT * FROM late_out").collect()
    # exactly ONE emission: the base window, finalized with its 2 on-time
    # events; the post-eviction late event is dropped, not re-emitted
    assert len(rows) == 1
    assert rows[0]["window_start"] == pd.Timestamp("2026-01-01 00:00:00")
    assert rows[0]["n"] == 2


def test_streaming_semantic_dup_matches_batch(spark, tmp_path):
    """Incremental SemDeDup: the stateful streaming per-cell pair emitter
    over a 2-micro-batch replay of the embeddings table must surface
    exactly the batch semantic_dup_pairs set — same (vec_a, vec_b,
    cosine-rounded-3) triples — with pairs SPANNING the micro-batch
    boundary proving the cell state carries; cell assignment against the
    frozen trained centroids must agree with the materialized index."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_pairs,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_dup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half = emb.count() // 2

    stream_dir = tmp_path / "vecstream"
    stream_dir.mkdir()
    emb.filter(F.col("vec_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0")
    )
    emb.filter(F.col("vec_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1")
    )

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_semantic_dup_pairs(stream, idx)
        .writeStream.format("memory")
        .queryName("sem_pairs_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1
    got = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in spark.table("sem_pairs_stream").collect()
    }
    want = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in semantic_dup_pairs(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # at least one pair crosses the micro-batch boundary (state carried)
    assert any(a < half <= b for a, b, _ in want)


def test_streaming_semantic_dup_prospective_cap(spark, tmp_path):
    """The per-cell cap freezes cells PROSPECTIVELY: with cap=c, each
    cell admits exactly its first c members in (batch, vec_id) order and
    the output equals the batch query restricted to admitted members —
    here a single micro-batch makes admission order pure vec_id, i.e.
    identical to the batch cap's semantics."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_pairs,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_dup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    stream_dir = tmp_path / "vecstream1"
    stream_dir.mkdir()
    emb.coalesce(1).write.parquet(str(stream_dir / "chunk=0"))

    cap = 10
    stream = (
        spark.readStream.schema(emb.schema)
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_semantic_dup_pairs(stream, idx, max_cell_size=cap)
        .writeStream.format("memory")
        .queryName("sem_pairs_capped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem_cap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in spark.table("sem_pairs_capped").collect()
    }
    want = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in semantic_dup_pairs(spark, sf_dir, max_cell_size=cap).collect()
    }
    assert got == want


def test_streaming_semantic_dup_arrow_assignment(spark, tmp_path):
    """The large-K cell-assignment path (Arrow-batched numpy, taken when
    the trained K exceeds assign_max_literal_k and a literal centroid
    expression would trip the Catalyst analysis-cost landmine) must be
    bit-identical to the literal-JVM path: forcing it with
    assign_max_literal_k=0 at fixture K must reproduce the batch query's
    exact (vec_a, vec_b, cosine) set — both the assignment (exact int64
    distances, argmin first-minimum == struct-min lowest-c_id tie-break)
    and the emitted cosines (same serial fold + HALF_UP rounding)."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_pairs,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_dup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    stream_dir = tmp_path / "vecstream2"
    stream_dir.mkdir()
    emb.coalesce(1).write.parquet(str(stream_dir / "chunk=0"))

    stream = (
        spark.readStream.schema(emb.schema)
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_semantic_dup_pairs(stream, idx, assign_max_literal_k=0)
        .writeStream.format("memory")
        .queryName("sem_pairs_arrow")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem_arrow"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in spark.table("sem_pairs_arrow").collect()
    }
    want = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in semantic_dup_pairs(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_semantic_dedup_at_ingest(spark, tmp_path):
    """The online dedup DECISION: one (vec_id, cell, is_dup) row per
    admitted vector; the drop set is always batch-sanctioned (is_dup ⇒
    batch keep=false under the min-id keeper), and the divergence from
    the batch non-keeper set is EXACTLY the late-bridge members — vectors
    whose only pair edges point to LARGER vec_ids, so no edge existed at
    their admission."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_keep_list,
        semantic_dup_pairs,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_dedup_at_ingest,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half = emb.count() // 2

    stream_dir = tmp_path / "vecstream3"
    stream_dir.mkdir()
    emb.filter(F.col("vec_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0"))
    emb.filter(F.col("vec_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_semantic_dedup_at_ingest(stream, idx)
        .writeStream.format("memory")
        .queryName("sem_ingest")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem_ingest"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("sem_ingest").collect()
    # exactly one decision row per vector (cap never binds at sf0.01)
    assert len(rows) == emb.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    online_dup = {int(r["vec_id"]) for r in rows if r["is_dup"]}

    batch_nonkeep = {
        int(r["vec_id"])
        for r in semantic_dup_keep_list(spark, sf_dir).collect()
        if not r["keep"]
    }
    # soundness: every online drop is batch-sanctioned
    assert online_dup <= batch_nonkeep
    # divergence is exactly the late-bridge set, derived from the pairs
    pairs = semantic_dup_pairs(spark, sf_dir).collect()
    smaller_partner = {}
    for r in pairs:
        a, b = int(r["vec_a"]), int(r["vec_b"])  # a < b by contract
        smaller_partner.setdefault(b, True)
    late_bridges = batch_nonkeep - set(smaller_partner)
    assert batch_nonkeep - online_dup == late_bridges
    assert len(online_dup) > 0


def test_streaming_semantic_dup_query_restart(spark, tmp_path):
    """State-store recovery across QUERY restarts (not just micro-batches):
    run availableNow over chunk 0, stop, land chunk 1, start a NEW query
    on the same checkpoint — the union of both runs' emissions must equal
    the batch pair set, with cross-chunk pairs proving the per-cell state
    was recovered from the checkpoint, not recomputed."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_pairs,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_dup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half = emb.count() // 2

    stream_dir = tmp_path / "vecstream4"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_sem_restart")
    emb.filter(F.col("vec_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0"))

    out_dir = str(tmp_path / "sem_restart_out")

    def run_once():
        stream = (
            spark.readStream.schema(emb.schema)
            .parquet(str(stream_dir) + "/chunk=*")
        )
        q = (
            streaming_semantic_dup_pairs(stream, idx)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
            for r in spark.read.parquet(out_dir).collect()
        }

    first = run_once()
    emb.filter(F.col("vec_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1"))
    cumulative = run_once()
    second = cumulative - first

    want = {
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]))
        for r in semantic_dup_pairs(spark, sf_dir).collect()
    }
    assert cumulative == want
    # the restarted query emitted pairs against FIRST-run state
    assert any(a < half <= b for a, b, _ in second)
    # first-run state survived: run 1's pairs are all within-chunk-0
    assert all(b < half for a, b, _ in first)


def test_streaming_semantic_contamination_matches_batch(spark, tmp_path):
    """The stateless contamination stream (stream-static broadcast join
    over the frozen benchmark) must be bit-identical to the batch
    semantic_contamination over the same vectors — same exact-int cell
    assignment, same fold cosine, same rounding — across a 2-micro-batch
    replay, with hits landing in both batches."""
    from manuscript_ocr_spark.functions.similarity import (
        N_BENCH_VECS,
        ivf_kmeans_build,
        semantic_contamination,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        streaming_semantic_contamination,
    )

    sf_dir = "/root/testdata/sf0.01"
    idx = ivf_kmeans_build(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    half = emb.count() // 2
    bench_ids = [
        int(r["vec_id"])
        for r in emb.select(
            "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id").limit(N_BENCH_VECS).collect()
    ]
    bench_df = emb.filter(F.col("vec_id").isin(bench_ids))

    stream_dir = tmp_path / "vecstream5"
    stream_dir.mkdir()
    emb.filter(F.col("vec_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=0"))
    emb.filter(F.col("vec_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "chunk=1"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir) + "/chunk=*")
    )
    q = (
        streaming_semantic_contamination(stream, idx, bench_df)
        .writeStream.format("memory")
        .queryName("sem_contam_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem_contam"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in spark.table("sem_contam_stream").collect()
    }
    want = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in semantic_contamination(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_stream_exactness_devices_match_spark(spark):
    """The two devices behind the streaming faces' bit-exactness claim,
    pinned against Spark itself on adversarial values:

    (1) _round3_half_up must equal F.round(_, 3) on doubles — including
    decimal-halfway points where Python's round() (half-to-even) gives a
    DIFFERENT answer, and values where Java's Double.toString could in
    principle differ from Python repr;

    (2) _fold_dots must be bit-identical to the SQL aggregate fold on
    vectors engineered for accumulation-order sensitivity (alternating
    huge/tiny magnitudes, catastrophic cancellation), where a BLAS-style
    multi-accumulator sum would drift by ulps."""
    import numpy as np

    from manuscript_ocr_spark.streaming.incremental import (
        _fold_dots,
        _round3_half_up,
    )

    rng = np.random.default_rng(7)
    vals = [0.0625, 0.9995, 0.0005, 0.1235, -0.0625, 0.4625, 1.0005,
            0.123456789, 0.39949999999999997, 1e-8, -1e-8, 0.5554999,
            0.3334999999999999, 2.675]
    vals += [float(x) for x in rng.uniform(-1, 1, 200)]
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i int, x double").select(
        "i", F.round("x", 3).alias("r"))
    spark_r = {r["i"]: r["r"] for r in df.collect()}
    py_halfeven_diffs = 0
    for i, v in rows:
        assert _round3_half_up(v) == spark_r[i], (v, _round3_half_up(v),
                                                  spark_r[i])
        if round(v, 3) != spark_r[i]:
            py_halfeven_diffs += 1
    # the device is not vacuous: plain round() disagrees on this grid
    assert py_halfeven_diffs > 0

    # fold: adversarial vectors where summation order changes the bits
    vecs = []
    for _ in range(20):
        a = rng.uniform(-1, 1, 64)
        b = rng.uniform(-1, 1, 64)
        vecs.append((a, b))
    huge = np.array(([1e15, 1.0, -1e15, 1e-3] * 16))
    tiny = np.array(([1e-15, 1.0, 1e15, -1.0] * 16))
    vecs.append((huge, tiny))
    vecs.append((tiny, huge))
    rows2 = [(i, [float(x) for x in a], [float(x) for x in b])
             for i, (a, b) in enumerate(vecs)]
    sql_fold = spark.createDataFrame(
        rows2, "i int, a array<double>, b array<double>"
    ).select(
        "i",
        F.aggregate(
            F.zip_with("a", "b", lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("d"),
    )
    spark_d = {r["i"]: r["d"] for r in sql_fold.collect()}
    for i, (a, b) in enumerate(vecs):
        mine = float(_fold_dots(np.asarray(a)[None, :], np.asarray(b))[0])
        assert mine == spark_d[i] or (
            np.isnan(mine) and np.isnan(spark_d[i])), (i, mine, spark_d[i])


def test_streaming_quality_scores_match_batch(spark, tmp_path):
    """Quality scoring at ingest (round 7): documents streamed in two
    micro-batches and scored under the frozen corpus-trained LM must
    reproduce the batch registry query's scores exactly (same corpus →
    identical counts, same shared scoring expressions; only partitioning
    differs, absorbed by the 4dp rounding), and an OOV-bearing arrival
    must score the unseen-word probability instead of failing."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.text import (
        lm_build,
        lm_logprob_scores,
    )
    from manuscript_ocr_spark.streaming.incremental import (
        run_incremental_quality_scores,
    )

    sf = "/root/testdata/sf0.01"
    lm_dir = lm_build(spark, sf)

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text")
    ddir = str(tmp_path / "docs_in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.mode(
        "overwrite").parquet(ddir)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode(
        "append").parquet(ddir)

    out = str(tmp_path / "scores_out")
    run_incremental_quality_scores(
        spark, ddir, lm_dir, out, str(tmp_path / "ckpt"),
        max_files_per_trigger=1)

    streamed = {int(r["doc_id"]): (int(r["n_tokens"]), float(r["mean_bits"]))
                for r in spark.read.parquet(out).collect()}
    batch = {int(r["doc_id"]): (int(r["n_tokens"]), float(r["mean_bits"]))
             for r in lm_logprob_scores(spark, sf).collect()}
    assert set(streamed) == set(batch)
    for d, (n, b) in streamed.items():
        bn, bb = batch[d]
        assert n == bn and abs(b - bb) <= 1e-4, d

    # OOV arrival: all-unseen tokens → every token scores the unseen-word
    # bits, -log2(1/(N+V)) = log2(N+V)
    import math

    oov_dir = str(tmp_path / "docs_oov")
    spark.createDataFrame(
        [(990001, "zzqx1 zzqx2 zzqx3")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(oov_dir)
    oov_out = str(tmp_path / "oov_out")
    run_incremental_quality_scores(
        spark, oov_dir, lm_dir, oov_out, str(tmp_path / "ckpt2"))
    row = spark.read.parquet(oov_out).collect()[0]
    nr = spark.read.parquet(f"{lm_dir}/norm.parquet").collect()[0]
    want = math.log2(int(nr["n_total"]) + int(nr["v_size"]))
    assert int(row["n_tokens"]) == 3
    assert abs(float(row["mean_bits"]) - want) <= 1e-4
