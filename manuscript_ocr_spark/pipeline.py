"""The Spark extraction pipeline — the engine's flagship query.

Per document: media spans are OCR'd (detect → reading-order → recognize,
the reference Pipeline.predict chain re-expressed over Arrow batches) into
ordered line spans; text spans are boilerplate-stripped JVM-side; the result
is re-assembled per doc_id as an array sorted by (offset, seq). Output spans
equal the single-process oracle's per document — the north-rule invariant.

Plan shape (scale rationale, SURVEY.md §7):

    docs ─┬─ no media span ── strip/filter/sort (one SQL expression) ─────────┐
          ├─ media spans ── refs ──broadcast──┐                              │
          │  media ── left semi join (scan prunes to referenced)             │
          │           page layout (see below) [skew defusal]                 │
          │           mapInPandas OCR UDF  [weights broadcast]               │
          │  media spans ⋈ ocr lines (media_ref) ──┐                         │
          └─ text spans of docs with media ─── union ──┐                     │
             groupBy(doc_id) → sort_array(flatten(collect_list(spans))) ── union

- No Spark job runs before the write: the refs join picks broadcast or
  shuffle-hash from Spark's own plan statistics (ocr_media_lines), with
  no size probe.
- Every distinct page is OCR'd exactly ONCE no matter how many docs
  reference it: the scan is pruned by a left semi-join against the
  referenced refs — broadcast while the refs plan is estimated under
  spark.sql.autoBroadcastJoinThreshold (the broadcast hash relation drops
  duplicate refs), shuffle-hash on distinct refs beyond that: at
  10^12-doc scale the ref set is itself billions of rows and a forced
  broadcast would OOM the driver.
- The heavy per-row work is laid out BEFORE the UDF by one of four page
  layouts (ocr_media_lines): a small scan is round-robin-compacted to one
  task per core; a coarse scan (few huge splits) and the shuffle-hash path
  are hash-spread on media_ref to several partitions per core, since
  parquet-split parallelism does not reflect per-page OCR cost and dense
  pages (skew tier) would otherwise pile into few tasks; a fine-grained
  scan feeds the UDF straight from its splits, with no payload shuffle.
  An explicit ocr_partitions always hash-spreads to that many partitions.
- OCR rows (one per referencing span, lines already expanded to spans)
  and the text rows of docs with media spans meet in ONE aggregate per
  doc_id; a doc with no media span never leaves its row. At most two
  shuffles touch wide data: the page layout's repartition (when one is
  picked) and that regroup. The boilerplate strip and all filters stay in
  whole-stage-codegen JVM expressions.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.textproc import BOILERPLATE_TAGS, BOILERPLATE_TAG_RES, WHITESPACE_RE
from .models.backend import load_backend
from .models.east_tiny import DetectorConfig
from .models.glyphs import build_weights, deserialize_weights, serialize_weights
from .oracle import KIND_OCR, KIND_TEXT, DEFAULT_MIN_TEXT_SIZE

# One output row PER PAGE (lines as an array), not per line: the
# media_spans ⋈ ocr join and the per-doc regroup then shuffle ~10x fewer
# rows (pages average ~10 lines), and line order rides inside the array
# instead of a seq sort key. `error` is null unless on_error="skip" caught
# a bad page (then `lines` is null).
OCR_LINES_SCHEMA = "media_ref string, lines array<string>, error string"

# per-worker deserialized weights cache (broadcast bytes → dict, once).
# Keyed by id(blob) BUT the blob itself is stored in the value: that keeps
# the bytes object alive while cached, so a later broadcast's bytes can never
# reuse the same CPython id and alias stale weights (extract_spans accepts a
# custom weights= argument — two jobs with different weights in one
# long-lived worker must not collide). The identity re-check makes the
# lookup O(1) with no re-hash of a multi-MB blob.
_WEIGHTS_CACHE: dict = {}


def _get_weights(blob: bytes) -> dict:
    key = id(blob)
    hit = _WEIGHTS_CACHE.get(key)
    if hit is not None and hit[0] is blob:
        return hit[1]
    w = deserialize_weights(blob)
    _WEIGHTS_CACHE.clear()
    _WEIGHTS_CACHE[key] = (blob, w)
    return w


def make_ocr_udf(
    weights_bc,
    cfg: DetectorConfig,
    min_text_size: int,
    on_error: str = "fail",
):
    """mapInPandas UDF: media rows → one (media_ref, lines, error) row per
    page.

    All tensor/image work stays inside this Arrow-batched function — score
    and geometry maps never become Spark columns (SURVEY.md §1.1). Weights
    arrive via SparkContext.broadcast (north_rule: "model weights broadcast
    to executors"; the reference's analog is the one-time weight download +
    cache, infer.py:96-107).

    on_error="fail" raises on a page that fails to decode or OCR (the
    reference's raise-on-bad-input behavior, kept for the invariant path);
    "skip" returns that page with null lines and error =
    "<exception class>: <message>", so a handful of corrupt payloads at
    10^12 scale neither kill the job nor vanish."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error={on_error!r}; expected 'fail' or 'skip'")

    def ocr_batches(iterator):
        from .oracle import decode_media, page_to_line_texts

        weights = _get_weights(weights_bc.value)
        for pdf in iterator:
            page_lines, errors = [], []
            for h, w, c, px in zip(
                pdf["height"], pdf["width"], pdf["channels"], pdf["pixels"]
            ):
                try:
                    image = decode_media(px, int(h), int(w), int(c))
                    lines = list(page_to_line_texts(image, weights, cfg, min_text_size))
                    error = None
                except Exception as e:
                    if on_error != "skip":
                        raise
                    lines, error = None, f"{type(e).__name__}: {e}"
                page_lines.append(lines)
                errors.append(error)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "lines": pd.Series(page_lines, dtype="object"),
                    "error": pd.Series(errors, dtype="object"),
                }
            )

    return ocr_batches


def _strip_boilerplate_sql(x: str) -> str:
    """JVM-side boilerplate strip of the SQL expression `x`, as SQL text —
    built from the same regexes as kernels.textproc.strip_boilerplate (Java
    regex and Python re agree on these patterns, fixture text is ASCII so
    \\s semantics coincide; raw r'...' literals: no escape processing)."""
    for tag in BOILERPLATE_TAGS:
        x = f"regexp_replace({x}, r'{BOILERPLATE_TAG_RES[tag]}', '')"
    return f"trim(regexp_replace({x}, r'{WHITESPACE_RE}', ' '))"


def strip_boilerplate_col(name: str):
    """The boilerplate strip of column `name` (see _strip_boilerplate_sql)."""
    return F.expr(_strip_boilerplate_sql(name))


# The higher-order columns as SQL text, built once: one F.expr each
# instead of a Python-lambda F.transform/F.filter chain (hundreds of py4j
# round trips per extract_spans call). Sortable span structs lead with
# (offset, seq) so sort_array orders them; _sorted_spans reorders the fields.
#
# Text spans never leave their document row: strip + filter happen INSIDE
# the spans array (zero shuffle before the regroup).
TEXT_SPANS_SQL = f"""filter(
    transform(filter(spans, s -> s.kind = 'text'),
              s -> named_struct('offset', cast(s.offset as int), 'seq', 0,
                                'kind', '{KIND_TEXT}',
                                'text', {_strip_boilerplate_sql('s.text')},
                                'media_ref', cast(null as string))),
    s -> s.text is not null and length(s.text) > 0)"""

# One array row per (span, page) pair: the page's lines expanded to spans
# inside the array (no explode: the regroup shuffles page-granularity rows).
OCR_SPANS_SQL = f"""transform(lines, (x, i) -> named_struct(
    'offset', offset, 'seq', i, 'kind', '{KIND_OCR}', 'text', x,
    'media_ref', media_ref))"""

HAS_MEDIA_SQL = "exists(spans, s -> s.kind = 'media')"


def _sorted_spans(x: str) -> str:
    return f"""transform(sort_array({x}),
    s -> named_struct('kind', s.kind, 'text', s.text, 'media_ref', s.media_ref,
                      'offset', s.offset, 'seq', s.seq))"""


# a doc with media spans: its OCR rows and text row, regrouped per doc_id
REGROUP_SQL = _sorted_spans("flatten(collect_list(spans))")
# a doc without media spans (or with null spans): its text row as it is
TEXT_ONLY_SQL = _sorted_spans(TEXT_SPANS_SQL)


@functools.lru_cache(maxsize=None)
def _default_weights_blob() -> bytes:
    weights = build_weights()
    load_backend(weights)
    return serialize_weights(weights)


_DEFAULT_WEIGHTS_BC: list = []  # [(SparkContext, Broadcast)] of the live context


def _broadcast_weights(sc, weights: dict | None):
    """The weights broadcast for one extract_spans call. Custom weights are
    validated on the driver (before any task runs) and broadcast per call;
    the default weights are built, validated and serialized once per
    process and broadcast once per live SparkContext."""
    if weights is not None:
        load_backend(weights)
        return sc.broadcast(serialize_weights(weights))
    if not (_DEFAULT_WEIGHTS_BC and _DEFAULT_WEIGHTS_BC[0][0] is sc and sc._jsc is not None):
        _DEFAULT_WEIGHTS_BC[:] = [(sc, sc.broadcast(_default_weights_blob()))]
    return _DEFAULT_WEIGHTS_BC[0][1]


def _fits_broadcast(df: DataFrame) -> bool:
    """Spark's own rule for an automatic broadcast, with no job: the
    optimized plan's size estimate is known and within
    spark.sql.autoBroadcastJoinThreshold (-1 disables). An unknown size
    estimates as Long.MaxValue, so it never broadcasts.

    The estimate is the scanned files' compressed bytes scaled by default
    column widths, so for exploded media-span refs it is NOT a bound on the
    bytes broadcast (test_refs_estimate_against_real_size). It does not see
    duplicates, which the broadcast path collects to the driver (compressed
    per partition) before its hash relation drops them: 100,000 refs over
    60 page ids measured 1,644x their estimate. Distinct refs with
    sequential ids compress to about a byte each: ~290x under their row
    bytes (40,000 URI-like refs), i.e. up to ~3 GB of distinct refs under
    the 10 MB default threshold."""
    jdf = df._jdf
    size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= jdf.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()


# Small-scan compaction gate for the OCR stage: only when the WHOLE media
# scan is under this many file bytes may the pipeline round-robin-compact
# it to one task per core (shuffling a small job is cheap and the even task
# sizes + single dispatch wave win; shuffling a TB-scale scan to "balance"
# it would be the regression). Same 256 MB rationale as the dedup module's
# _spread_small_scan.
OCR_COMPACT_MAX_BYTES = 256 << 20


def _scan_split_estimate(df: DataFrame, spark: SparkSession) -> tuple:
    """(scan-split count, file bytes) of the file scans under `df`, read
    from its physical plan with no job: each FileSourceScanExec's own
    partitions (Spark's FilePartition packing at this session's core count)
    and its relation's file bytes. No file scan: (defaultParallelism, 0)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [s for s in scans if s.getClass().getSimpleName() == "FileSourceScanExec"]
    if not scans:
        return spark.sparkContext.defaultParallelism, 0
    return (sum(s.inputRDD().getNumPartitions() for s in scans),
            sum(int(s.relation().sizeInBytes()) for s in scans))


def ocr_media_lines(
    media: DataFrame,
    refs: DataFrame,
    weights_bc,
    cfg: DetectorConfig,
    min_text_size: int = DEFAULT_MIN_TEXT_SIZE,
    ocr_partitions: int | None = None,
    on_error: str = "fail",
    broadcast_refs: bool | None = None,
) -> DataFrame:
    """OCR every page in `media` whose media_ref appears in `refs` (a
    media_ref column; duplicates allowed) → DataFrame(media_ref, lines
    array<string>, error string), one row per page, each page exactly once,
    line order inside the array. on_error: see make_ocr_udf. Pages per task:
    groupBy(F.spark_partition_id()).count() over the result; task wall
    times are in Spark's own task metrics (event log).

    broadcast_refs: True forces a broadcast left semi-join (the broadcast
    hash relation drops duplicate refs), False the shuffle-hash join on
    distinct refs; None (default) applies Spark's own broadcast rule with
    no job (_fits_broadcast): broadcast when the refs plan's size estimate
    is within spark.sql.autoBroadcastJoinThreshold, shuffle-hash when it
    is larger or unknown (or the threshold is -1).

    ocr_partitions: None (default) is the auto layout, with
    cores = defaultParallelism. On the broadcast path a small scan (under
    OCR_COMPACT_MAX_BYTES, fewer than cores × 6 splits) is round-robin
    compacted to one task per core, a coarse scan (fewer than cores × 2
    splits) is hash-spread on media_ref to cores × 8 partitions, and any
    other scan feeds the UDF straight from its splits; the shuffle-hash
    path spreads to cores × 8. An int always hash-spreads the pages on
    media_ref to exactly that many partitions, on either path."""
    ocr_udf = make_ocr_udf(weights_bc, cfg, min_text_size, on_error)
    spark = media.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if broadcast_refs is None:
        broadcast_refs = _fits_broadcast(refs)
    if not broadcast_refs:
        # Shuffle-hash join, distinct refs as build side (the distinct's
        # partial aggregation keeps the build side bounded): media is
        # hash-partitioned on media_ref by the join exchange itself, which IS
        # the skew-spreading repartition — no second payload shuffle. SMJ is
        # explicitly avoided: sorting multi-MB payload rows costs far more
        # than hashing them. Auto width: per-page cost is heavy-tailed (dense
        # pages ~10x the median), so the stage wall time is the max partition
        # cost — aim for several partitions per core to keep the straggler
        # tail shallow.
        width = cores * 8 if ocr_partitions is None else ocr_partitions
        pages = media.repartition(width, "media_ref").join(
            refs.distinct().hint("shuffle_hash"), "media_ref"
        )
    elif ocr_partitions is not None:
        # an explicit layout is honoured whatever the scan looks like
        pages = media.join(F.broadcast(refs), "media_ref", "left_semi").repartition(
            ocr_partitions, "media_ref"
        )
    else:
        pages = media.join(F.broadcast(refs), "media_ref", "left_semi")
        # Spread the heavy per-page work. If the parquet scan already yields
        # fine-grained splits (small row groups + low maxPartitionBytes), feed
        # the UDF straight from the scan — shuffling multi-MB page payloads
        # costs more than it balances. Only force a repartition when the
        # scan is coarser than the cores it must feed (e.g. few huge files).
        # The split count is the one Spark plans for the scan, with no job.
        scan_parts, scan_bytes = _scan_split_estimate(media, spark)
        if scan_bytes < OCR_COMPACT_MAX_BYTES and scan_parts < cores * 6:
            # SMALL job whose scan splinters into few, fractional waves
            # (2 ≤ waves < 6): round-robin-compact to exactly one task per
            # core. Each scan split's r rows land floor(r/cores) or
            # ceil(r/cores) per task, so task page counts are even only to
            # ±1 page PER SPLIT (measured on the 96-page skew fixture:
            # local[3] 31/32/33, local[32] 31 busy tasks of 1-7 pages), and
            # every core runs one dispatch+Arrow ramp instead of ~3
            # (measured: 44.9 → 40.7 s, realistic tier, local[16], beating
            # the paired no-Spark control's 43.0 — round-4 verdict item 1;
            # 278-split jobs with ≥6 waves amortize their bubbles and
            # measured a wash, and the byte gate keeps any TB-scale scan off
            # this path: shuffling a big corpus to "balance" it would be the
            # real regression).
            pages = pages.repartition(cores)
        elif scan_parts < cores * 2:
            # coarse scan (few huge splits): skew-defusing hash spread,
            # several partitions per core as on the shuffle-hash path
            pages = pages.repartition(cores * 8, "media_ref")
    return pages.mapInPandas(ocr_udf, schema=OCR_LINES_SCHEMA)


def extract_spans(
    docs: DataFrame,
    media: DataFrame,
    cfg: DetectorConfig | None = None,
    min_text_size: int = DEFAULT_MIN_TEXT_SIZE,
    ocr_partitions: int | None = None,
    weights: dict | None = None,
    broadcast_refs: bool | None = None,
) -> DataFrame:
    """The flagship query: docs(doc_id, spans) × media → (doc_id, spans_out).

    spans_out: array<struct<kind, text, media_ref, offset, seq>> sorted by
    (offset, seq) — per-doc equal to oracle.doc_to_spans (pytest invariant).
    Documents whose spans all strip/OCR to nothing keep an empty array; a
    document whose spans is null comes out null. Rows that share a doc_id
    (null included) and hold media spans come out as ONE row holding all
    their spans; every row without media spans comes out as its own row.

    Divergence from the oracle, by design: a media span whose media_ref has
    no row in the media table (dangling ref) is silently OMITTED here (the
    refs⋈media join drops it; the doc's other spans still emit), whereas the
    single-process oracle raises KeyError. At 10^12 docs a handful of
    dangling refs must not kill the job — pair with an anti-join audit
    (refs LEFT ANTI media) when lineage requires counting them.

    Building the query starts no Spark job. broadcast_refs: None (default)
    broadcasts the refs when Spark's plan statistics put them within
    spark.sql.autoBroadcastJoinThreshold and takes the shuffle-hash join
    otherwise; True/False force either path (see ocr_media_lines).

    ocr_partitions: None (default) lets ocr_media_lines pick the OCR page
    layout from the media scan (one task per core for a small scan, a hash
    spread to cores × 8 for a coarse scan, the scan's own splits
    otherwise); an int always hash-spreads the pages on media_ref to
    exactly that many partitions.
    """
    if cfg is None:
        cfg = DetectorConfig()
    weights_bc = _broadcast_weights(docs.sparkSession.sparkContext, weights)
    media_spans = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").cast("int").alias("offset"),
        )
    )
    ocr_lines = ocr_media_lines(
        media,
        media_spans.select("media_ref"),
        weights_bc,
        cfg,
        min_text_size,
        ocr_partitions,
        broadcast_refs=broadcast_refs,
    )
    # OCR rows first: the union's docs-side task then starts after the long
    # OCR tasks, not ahead of them. Only docs with media spans cross the
    # regroup exchange; text-only docs are finished in place.
    has_media = F.expr(HAS_MEDIA_SQL)
    ocr_rows = media_spans.join(ocr_lines, "media_ref").select(
        "doc_id", F.expr(OCR_SPANS_SQL).alias("spans")
    )
    text_rows = docs.filter(has_media).select(
        "doc_id", F.expr(TEXT_SPANS_SQL).alias("spans")
    )
    text_only = docs.filter(~F.coalesce(has_media, F.lit(False))).select(
        "doc_id", F.expr(TEXT_ONLY_SQL).alias("spans")
    )
    return (
        ocr_rows.union(text_rows)
        .groupBy("doc_id")
        .agg(F.expr(REGROUP_SQL).alias("spans"))
        .union(text_only)
    )


def load_fixture_tables(spark: SparkSession, fixture_dir: str):
    docs = spark.read.parquet(f"{fixture_dir}/docs.parquet")
    media = spark.read.parquet(f"{fixture_dir}/media.parquet")
    return docs, media
