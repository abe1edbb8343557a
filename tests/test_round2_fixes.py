"""Round-2 fixes, pinned:

- fingerprints() short-doc / null-text guard (Spark ≡ DuckDB on the edges)
- _WEIGHTS_CACHE cannot alias two distinct broadcasts (id-reuse after GC)
- the refs semi-join degrades to a shuffle-hash join past Spark's broadcast
  threshold, with identical results either way, and building the query
  starts no job
- how far Spark's size estimate of the refs falls below their real size
- the per-doc regroup on its edge cases (null, empty, text-only,
  media-only, dangling-only, duplicated and null doc_id rows)
"""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from manuscript_ocr_spark.plans import explain_str


@pytest.fixture(scope="module")
def edge_docs_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("edge") / "sf-edge"
    out.mkdir(parents=True)
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2", "d3", "d4", "d5"],
            "text": ["one two", "", None, "a b c d e", "  solo  "],
            "lang": ["en", "en", "de", "en", "fr"],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(out / "documents.parquet")
    )
    return str(out)


def test_fingerprints_short_and_null_docs(spark, edge_docs_dir):
    """Docs with <3 tokens must not crash (sequence(1, n<1) descends) and
    must hash-match the DuckDB oracle, including NULL text."""
    from manuscript_ocr_spark.functions.text import FINGERPRINT_SQL, fingerprints

    got = {
        r["doc_id"]: (r["text_md5"], r["min_shingle_md5"])
        for r in fingerprints(spark, edge_docs_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_docs_dir}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[1], r[2]) for r in con.execute(FINGERPRINT_SQL).fetchall()
    }
    assert got == want
    assert got["d3"] == (None, None)  # NULL text
    assert got["d1"][1] is None  # 2 tokens → no shingle
    assert got["d4"][1] is not None


def test_weights_cache_never_aliases_blobs():
    """Two distinct blobs through _get_weights must yield their own weights
    even if CPython reuses an id after GC; the cached blob is kept alive so
    id reuse is impossible while cached."""
    from manuscript_ocr_spark import pipeline as P
    from manuscript_ocr_spark.models.glyphs import (
        build_weights,
        serialize_weights,
    )

    P._WEIGHTS_CACHE.clear()
    w = build_weights()
    blob_a = serialize_weights(w)
    got_a = P._get_weights(blob_a)
    # the cache must hold a strong ref to blob_a itself (id stays valid)
    (key,) = P._WEIGHTS_CACHE
    assert P._WEIGHTS_CACHE[key][0] is blob_a
    # same blob → cache hit (same object back)
    assert P._get_weights(blob_a) is got_a
    # adversarial: a DIFFERENT bytes object forged at the same id is
    # impossible while blob_a is cached, but an equal-id stale entry must
    # still be rejected by the identity re-check
    blob_b = serialize_weights(w) + b"x"  # distinct object, equal-ish prefix
    P._WEIGHTS_CACHE[id(blob_b)] = (blob_a, got_a)  # simulate stale id reuse
    try:
        P._get_weights(blob_b[:-1])  # not the cached object → must miss
    except Exception:
        pass  # deserialization path is exercised; any parse error is fine
    finally:
        P._WEIGHTS_CACHE.clear()


@pytest.fixture(scope="module")
def tables(spark, sf_small_dir):
    from manuscript_ocr_spark.pipeline import load_fixture_tables

    return load_fixture_tables(spark, sf_small_dir)


def _refs_of(docs):
    return (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )


def test_refs_join_degrades_to_shuffle_hash(spark, tables):
    """broadcast_refs=False, or the auto rule when the refs plan's size
    estimate is past spark.sql.autoBroadcastJoinThreshold, must plan a
    ShuffledHashJoin — never a forced broadcast (driver OOM at 10^12 docs),
    never an SMJ (sorting multi-MB payload rows). Under the default
    threshold the auto rule broadcasts."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    docs, media = tables
    refs = _refs_of(docs)
    bc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(threshold)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        forced = explain_str(
            ocr_media_lines(media, refs, bc, DetectorConfig(), broadcast_refs=False),
            "simple",
        )
        assert "ShuffledHashJoin" in forced
        assert "BroadcastHashJoin" not in forced
        assert "SortMergeJoin" not in forced
        # auto rule with broadcasts disabled: the same shuffle plan
        spark.conf.set(threshold, "-1")
        auto_off = explain_str(ocr_media_lines(media, refs, bc, DetectorConfig()), "simple")
        assert "ShuffledHashJoin" in auto_off
        assert "SortMergeJoin" not in auto_off
        # auto rule with a positive threshold under the refs estimate: the
        # size comparison itself picks the shuffle plan
        assert 1024 < _refs_estimate(refs)
        spark.conf.set(threshold, "1024")
        auto_small = explain_str(ocr_media_lines(media, refs, bc, DetectorConfig()), "simple")
        assert "ShuffledHashJoin" in auto_small
        assert "BroadcastHashJoin" not in auto_small
        assert "SortMergeJoin" not in auto_small
        # auto rule at the default threshold: the refs are small, broadcast
        spark.conf.set(threshold, default)
        auto = explain_str(ocr_media_lines(media, refs, bc, DetectorConfig()), "simple")
        assert "BroadcastHashJoin" in auto
        assert "ShuffledHashJoin" not in auto
    finally:
        spark.conf.set(threshold, default)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def _refs_estimate(refs):
    return int(refs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _media_only_docs(spark, path, refs_per_doc):
    spans = [
        [{"kind": "media", "text": None, "media_ref": ref, "offset": j}
         for j, ref in enumerate(refs)]
        for refs in refs_per_doc
    ]
    spark.createDataFrame(
        [(f"doc-{i:05d}", s) for i, s in enumerate(spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_refs_estimate_against_real_size(spark, tables, tmp_path):
    """How far Spark's size estimate of the media-span refs (what
    _fits_broadcast compares with autoBroadcastJoinThreshold) falls below
    their real row bytes (UnsafeRow: 16 B + the string padded to 8 B), on
    media-only docs parquet. Duplicates are invisible to the estimate; the
    broadcast path collects them and its hash relation drops them (no
    aggregate under the broadcast). Distinct refs with sequential ids
    compress to about a byte each in parquet: the estimate falls ~100-300x
    short — the worst case the _fits_broadcast docstring states."""
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import ocr_media_lines

    def sizes(docs):
        refs = (docs.select(F.explode("spans").alias("s"))
                .filter(F.col("s.kind") == "media")
                .select(F.col("s.media_ref").alias("media_ref")))
        row = F.sum(16 + 8 * F.ceil(F.octet_length("media_ref") / 8))
        (n,) = refs.agg(row).collect()[0]
        (d,) = refs.distinct().agg(row).collect()[0]
        return _refs_estimate(refs), n, d, refs

    # 500 docs x 20 spans over 10 short page ids
    est, rows, distinct, refs = sizes(_media_only_docs(
        spark, str(tmp_path / "dup"),
        [[f"page-{(i * 20 + j) % 10:04d}" for j in range(20)] for i in range(500)]))
    assert rows > 50 * est  # the estimate does not see duplicates
    assert distinct < est
    _, media = tables
    bc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    plan = explain_str(
        ocr_media_lines(media, refs, bc, DetectorConfig(), broadcast_refs=True), "simple")
    assert "BroadcastExchange" in plan
    assert "HashAggregate" not in plan

    # 500 docs x 20 spans, 10,000 distinct sequential URI-like refs
    est, rows, distinct, _ = sizes(_media_only_docs(
        spark, str(tmp_path / "distinct"),
        [[f"s3a://bucket/corpus/scans/page-{i * 20 + j:06d}.png" for j in range(20)]
         for i in range(500)]))
    assert rows == distinct
    assert 50 * est < distinct < 300 * est


def test_building_the_query_starts_no_job(spark, tables):
    """extract_spans and the auto refs rule of ocr_media_lines plan from
    Spark's own statistics: building the query runs no Spark job (no size
    probe); the work starts with the write."""
    import time

    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.pipeline import extract_spans, ocr_media_lines

    docs, media = tables
    bc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    sc = spark.sparkContext
    group = "build-no-job"
    sc.setJobGroup(group, "build the extraction query")
    try:
        extract_spans(docs, media)
        ocr_media_lines(media, _refs_of(docs), bc, DetectorConfig(), broadcast_refs=None)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    time.sleep(1)  # let the status store catch up with any stray job
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_extract_spans_same_result_on_shuffle_path(spark, tables):
    """The flagship query returns identical spans whether the refs join
    broadcasts or shuffles."""
    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = tables
    a = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(docs, media, broadcast_refs=True).collect()
    }
    b = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(docs, media, broadcast_refs=False).collect()
    }
    assert a == b


def test_dangling_media_ref_is_omitted_not_fatal(spark, tables):
    """Documented divergence from the oracle (pipeline.extract_spans
    docstring): a media span whose ref has no media row is silently omitted
    — the doc's other spans still emit — instead of KeyError-ing the job."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.pipeline import extract_spans

    docs, media = tables
    one = docs.limit(1).select(
        F.lit("doc-dangling").alias("doc_id"),
        F.expr(
            """array(
                 named_struct('kind','text','text','hello world',
                              'media_ref', CAST(NULL AS STRING),'offset',0),
                 named_struct('kind','media','text',CAST(NULL AS STRING),
                              'media_ref','page-does-not-exist','offset',1))"""
        ).alias("spans"),
    )
    out = extract_spans(one, media, broadcast_refs=True).collect()
    assert len(out) == 1
    spans = out[0]["spans"]
    assert [s["kind"] for s in spans] == ["text"]
    assert spans[0]["text"] == "hello world"


def _text(text, offset):
    return {"kind": "text", "text": text, "media_ref": None, "offset": offset}


def _media(ref, offset):
    return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}


@pytest.mark.parametrize("broadcast_refs", [True, False])
def test_regroup_edge_cases(spark, tables, sf_small_dir, broadcast_refs):
    """The per-doc regroup (OCR rows ∪ text rows of docs with media spans;
    text-only docs bypass it) on its edge cases, against the oracle: a null
    spans array stays null, an empty or all-dangling one gives [], text-only
    and media-only docs keep their spans. Rows sharing a doc_id (null
    included) that hold media spans come out as ONE row holding all their
    spans; each row without media spans (null spans included) comes out as
    its own row."""
    import pyarrow.parquet as pq

    from manuscript_ocr_spark.models import DetectorConfig, build_weights
    from manuscript_ocr_spark.oracle import decode_media, doc_to_spans
    from manuscript_ocr_spark.pipeline import extract_spans

    _, media = tables
    rows = [
        ("d-null", None),
        ("d-empty", []),
        ("d-text", [_text("  b  two ", 5), _text("{{nav}}x{{/nav}}", 1), _text("a one", 0)]),
        ("d-media", [_media("page-0001", 3), _media("page-0002", 1)]),
        ("d-dangling", [_media("page-missing", 0)]),
        ("d-dup", [_text("first", 0), _media("page-0003", 1)]),
        ("d-dup", None),
        ("d-dup", [_text("second", 2), _media("page-0004", 3)]),
        (None, [_text("no id", 1), _media("page-0001", 2)]),
        (None, [_text("also no id", 0)]),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = [
        (r["doc_id"], None if r["spans"] is None else [tuple(s) for s in r["spans"]])
        for r in extract_spans(docs, media, broadcast_refs=broadcast_refs).collect()
    ]

    pages = {
        m["media_ref"]: decode_media(m["pixels"], m["height"], m["width"], m["channels"])
        for m in pq.read_table(f"{sf_small_dir}/media.parquet").to_pylist()
        if m["media_ref"] in ("page-0001", "page-0002", "page-0003", "page-0004")
    }

    def oracle(spans):
        return [
            (s["kind"], s["text"], s["media_ref"], s["offset"], s["seq"])
            for s in doc_to_spans(spans, pages, build_weights(), DetectorConfig())
        ]

    want = [
        ("d-null", None),
        ("d-empty", []),
        ("d-text", [("text", "a one", None, 0, 0), ("text", "b two", None, 5, 0)]),
        ("d-media", oracle(rows[3][1])),
        ("d-dangling", []),
        ("d-dup", oracle(rows[5][1] + rows[7][1])),
        ("d-dup", None),
        (None, oracle(rows[8][1])),
        (None, [("text", "also no id", None, 0, 0)]),
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert len(want[3][1]) > 2 and len(want[5][1]) > 3
