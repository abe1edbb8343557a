"""Physical-plan quality tests — the plans the engine is DESIGNED to produce
(SURVEY.md §4, README "Scale design"), asserted, not hoped for:

- column pruning: the refs branch must never read the pixels column
- predicate pushdown reaches the parquet scans
- the media scan prune is a broadcast join (refs are the small side)
- text spans are array-native: the text-only path plans ZERO shuffles
- whole-stage codegen covers the relational shell
"""

import re

import pytest
from pyspark.sql import functions as F

from manuscript_ocr_spark.plans import (
    broadcast_joins,
    codegen_stages,
    exchanges,
    explain_str,
    scans,
)


@pytest.fixture(scope="module")
def tables(spark, sf_small_dir):
    from manuscript_ocr_spark.pipeline import load_fixture_tables

    return load_fixture_tables(spark, sf_small_dir)


def test_refs_branch_prunes_pixels(tables):
    docs, media = tables
    from manuscript_ocr_spark.pipeline import extract_spans

    out = extract_spans(docs, media)
    media_scans = [s for s in scans(out) if "media.parquet" in s["location"]]
    assert media_scans, "media scan missing from plan"
    # docs scans must never read the pixels column; media scan must read it
    docs_scans = [s for s in scans(out) if "docs.parquet" in s["location"]]
    assert docs_scans
    for s in docs_scans:
        assert "pixels" not in s["read_schema"]


def test_predicate_pushdown_on_filtered_scan(spark, sf_small_dir):
    docs = spark.read.parquet(f"{sf_small_dir}/docs.parquet")
    q = docs.filter(F.col("doc_id") == "doc-000007").select("doc_id")
    s = scans(q)
    assert any("EqualTo(doc_id,doc-000007)" in x["pushed_filters"] for x in s)


def test_media_prune_is_broadcast(tables):
    docs, media = tables
    from manuscript_ocr_spark.pipeline import extract_spans

    out = extract_spans(docs, media)
    assert broadcast_joins(out) >= 1
    assert "BroadcastExchange" in explain_str(out, "simple")


def test_text_only_path_has_zero_shuffles(tables):
    """The array-native text path: strip + filter + sort inside the spans
    array. The expression extract_spans itself uses for docs with no media
    span must plan with NO shuffle exchange at all."""
    docs, _ = tables
    from manuscript_ocr_spark.pipeline import HAS_MEDIA_SQL, TEXT_ONLY_SQL

    text_rows = docs.filter(~F.expr(HAS_MEDIA_SQL)).select(
        "doc_id", F.expr(TEXT_ONLY_SQL).alias("spans")
    )
    assert exchanges(text_rows) == 0
    assert codegen_stages(text_rows) >= 1


def test_text_spans_sql_strips_like_python(spark):
    """TEXT_SPANS_SQL strips like the Python strip, span by span (empty
    results dropped)."""
    from manuscript_ocr_spark.kernels.textproc import strip_boilerplate
    from manuscript_ocr_spark.pipeline import TEXT_SPANS_SQL

    texts = [
        "Intro {{nav}}home | about{{/nav}} body   text {{footer}}(c) 2026{{/footer}} end",
        "{{header}}\nBig\nBanner\n{{/header}}keep {{ad}}buy!{{/ad}} this",
        "  plain\t text\n",
        "a {{nav}} b",
        "{{nav}}x{{/nav}}",
        "",
        None,
    ]
    spans = [{"kind": "text", "text": t, "media_ref": None, "offset": i}
             for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        [("d", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    (row,) = docs.select(F.expr(TEXT_SPANS_SQL).alias("spans")).collect()
    want = [(i, strip_boilerplate(t)) for i, t in enumerate(texts) if strip_boilerplate(t)]
    assert [(s["offset"], s["text"]) for s in row["spans"]] == want


def test_relational_queries_stay_in_codegen(spark):
    from manuscript_ocr_spark.functions.relational import pricing_summary

    # AQE wraps un-executed plans (no *(n) markers until the final plan);
    # disable it just to inspect the static physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = pricing_summary(spark, "/root/testdata/sf0.001")
        assert codegen_stages(q) >= 1
        text = explain_str(q, "simple")
        assert "BatchEvalPython" not in text  # no row-at-a-time Python anywhere
        # shipdate predicate reaches the scan
        s = scans(q)
        assert any("l_shipdate" in x["pushed_filters"] for x in s)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_no_python_udfs_in_query_registry(spark):
    """Every SQL-checked relational/text/dedup/sim query must stay JVM-side.
    The mm_* media ops and the OCR pipeline are the designed exceptions:
    binary payload decode/detect/recognize IS an Arrow-batched mapInPandas
    path (their DuckDB oracles recompute independently from the blob bytes /
    fixture-time oracle lines), and row-at-a-time BatchEvalPython is still
    banned everywhere."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    qs = entry.queries()
    # ocr_gt_geometry runs the numpy §2.7 kernels by design (that is the
    # point of its oracle row); it is Arrow-batched like the other media
    # ops. sim_ivfpq_knn_join's one Arrow stage computes the per-(query,
    # cell) ADC tables against the broadcast codebook (M×K×SUB integer
    # tensor work per row) — the same designed vectorized-numpy exception
    # class as the PQ build encoder.
    # ocr_prepare_corpus composes the extraction subtree, so it inherits
    # extraction's designed Arrow stages
    arrow_ok = ("mm_", "ocr_extract_spans", "ocr_gt_geometry",
                "ocr_prepare_corpus", "sim_ivfpq_knn_join")
    for name in oracles:
        df = qs[name](spark, "/root/testdata/sf0.001")
        text = explain_str(df, "simple")
        assert "BatchEvalPython" not in text, name
        if not name.startswith(arrow_ok):
            assert "MapInPandas" not in text, name


def test_paragraph_dedup_plan_no_self_join(spark):
    """text_paragraph_dedup must never self-join the segment table (a hot
    boilerplate sentence shared by k docs would emit k² rows): exactly the
    segment→counts agg and the keyed join back — 2 joins max, one of them
    the final per-doc agg's exchange."""
    from manuscript_ocr_spark.functions.text import paragraph_dedup

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = paragraph_dedup(spark, "/root/testdata/sf0.001")
        text = explain_str(q, "simple")
        # one equi-join of segments against the aggregated counts — the
        # exploded segment relation must not appear on both sides unaggregated
        assert text.count("Join") == 1
        assert "SortMergeJoin" in text or "ShuffledHashJoin" in text
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_no_rdd_api_access_in_engine():
    """The engine must stay on the DataFrame API end to end — .rdd access
    builds a legacy execution path and defeats Catalyst (round-3 verdict
    item #7). Docstrings may mention it; code may not."""
    import io
    import os
    import tokenize

    root = os.path.join(os.path.dirname(__file__), "..", "manuscript_ocr_spark")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as f:
                toks = list(tokenize.tokenize(f.readline))
            for i, tok in enumerate(toks):
                if (
                    tok.type == tokenize.NAME
                    and tok.string == "rdd"
                    and i > 0
                    and toks[i - 1].type == tokenize.OP
                    and toks[i - 1].string == "."
                ):
                    offenders.append(f"{path}:{tok.start[0]}")
    assert offenders == [], offenders


def test_asof_join_plans_no_join_operator(spark):
    """The as-of composition (tagged union + running last(ignorenulls)) must
    plan with NO join operator at all — the naive range-join formulation
    explodes to O(purchases × views) per user at scale — and a bounded
    number of shuffles (views dedup + window sort)."""
    from manuscript_ocr_spark.functions.relational import asof_join

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = asof_join(spark, "/root/testdata/sf0.001")
        text = explain_str(q, "simple")
        assert "Join" not in text
        assert exchanges(q) <= 3
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ivf_centroid_assignment_is_broadcast(spark):
    """IVF cell assignment must broadcast the (tiny) centroid side — a
    sort-merge/shuffled join on the full vector table would shuffle 10^12
    rows just to score them against a few thousand centroids."""
    from manuscript_ocr_spark.functions.similarity import ivf_topk

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = ivf_topk(spark, "/root/testdata/sf0.001")
        text = explain_str(q, "simple")
        assert "Broadcast" in text
        assert "SortMergeJoin" not in text
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_regional_revenue_dim_chain_all_broadcast(spark):
    """Q5-shape join chain: all four dimension joins must be broadcast hash
    joins (no SortMergeJoin), so the fact table never shuffles for the join
    — only the final aggregation exchanges."""
    from manuscript_ocr_spark.functions.relational import regional_revenue

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = regional_revenue(spark, "/root/testdata/sf0.001")
        text = explain_str(q, "simple")
        assert text.count("BroadcastHashJoin") == 4
        assert "SortMergeJoin" not in text
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_salted_agg_equals_plain_group_by(spark):
    """The two-phase salted aggregation must be EXACTLY the plain groupBy
    (sum/count/max reassociate); the salt only balances the reduce side."""
    from manuscript_ocr_spark.functions.relational import salted_type_stats

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r for r in salted_type_stats(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    plain = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 3).alias("total_value"),
            F.round(F.max("value"), 3).alias("max_value"),
        )
        .collect()
    }
    assert set(got) == set(plain)
    for k in got:
        assert got[k]["n"] == plain[k]["n"]
        assert abs(got[k]["total_value"] - plain[k]["total_value"]) <= 0.001
        assert got[k]["max_value"] == plain[k]["max_value"]


def test_bucketed_join_plans_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key and count must join with ZERO
    shuffle exchanges and (sortBy) zero extra sorts — the one-time layout
    cost that amortizes every downstream fact-to-fact join at 100 TB."""
    from manuscript_ocr_spark.sources import read_bucketed, write_bucketed

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # sf0.001 fits under the broadcast threshold; disable auto-broadcast to
    # expose the plan these tables get at 100 TB (neither side broadcastable)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # bucketed-scan output ordering is opt-in since SPARK-28595; with one
    # file per bucket (write_bucketed guarantees it) it is safe and elides
    # the per-bucket sorts too
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8, ["o_orderkey"])
        write_bucketed(
            lineitem, "t_lineitem_b", ["l_orderkey"], 8, ["l_orderkey"]
        )
        a = read_bucketed(spark, "t_orders_b")
        b = read_bucketed(spark, "t_lineitem_b")
        j = a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderkey", "l_quantity"
        )
        text = explain_str(j, "simple")
        assert "SortMergeJoin" in text
        assert exchanges(j) == 0, text
        assert "Sort " not in text.replace("SortMergeJoin", "SMJ"), text
        # control: the same join on unbucketed scans must shuffle both sides
        ju = orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        assert exchanges(ju) >= 2
        # correctness: identical result to the unbucketed join
        assert j.count() == ju.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_event_funnel_single_exchange_no_joins(spark):
    """The ordered funnel must be the stacked-window formulation: ONE hash
    exchange on user_id feeding all three window minima and the final
    collapse — no self-joins, no per-step rescans."""
    from manuscript_ocr_spark.functions.relational import event_funnel

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = event_funnel(spark, "/root/testdata/sf0.001")
        text = explain_str(q, "simple")
        assert exchanges(q) == 1, text
        assert "Join" not in text
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_jaccard_verify_has_no_shingle_self_join(spark):
    """VERDICT done-condition: the scale-path Jaccard verifier must never
    join the shingle table against itself on the shingle value alone (k²
    blow-up per common shingle). Every join touching shingles must be keyed
    by a document id; the exhaustive cross-check form (kept for sf-small
    only) is the negative control."""
    from manuscript_ocr_spark.functions.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )

    def shingle_only_joins(df):
        text = explain_str(df, "simple")
        bad = []
        for line in text.splitlines():
            if "Join [" not in line and "Join  [" not in line:
                if not re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join", line):
                    continue
            m = re.search(r"Join \[([^\]]*)\], \[([^\]]*)\]", line)
            if not m:
                continue
            keys = m.group(1) + "," + m.group(2)
            if "shingle#" in keys and "doc" not in keys:
                bad.append(line.strip())
        return bad

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sf = "/root/testdata/sf0.001"
        assert shingle_only_joins(jaccard_verify_pairs(spark, sf)) == []
        # negative control: the detector fires on the exhaustive form
        assert shingle_only_joins(ngram_jaccard_pairs(spark, sf)) != []
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_small_scan_compaction_round_robin(spark, sf_small_dir, monkeypatch):
    """OCR-stage small-scan compaction (round-5): a sub-256MB media scan
    with < 6 waves of splits round-robins to exactly one task per core
    (RoundRobinPartitioning in the plan); with the byte gate closed (as at
    TB scale) the same job must NOT add that exchange."""
    from manuscript_ocr_spark import pipeline as P
    from manuscript_ocr_spark.models.east_tiny import DetectorConfig
    from manuscript_ocr_spark.models.glyphs import build_weights, serialize_weights
    from manuscript_ocr_spark.plans import explain_str

    media = spark.read.parquet(f"{sf_small_dir}/media.parquet")
    refs = media.select("media_ref").distinct()
    bc = spark.sparkContext.broadcast(serialize_weights(build_weights()))
    cfg = DetectorConfig()

    out = P.ocr_media_lines(media, refs, bc, cfg)
    assert "RoundRobinPartitioning" in explain_str(out, "formatted")

    monkeypatch.setattr(P, "OCR_COMPACT_MAX_BYTES", 0)  # "TB-scale" gate
    out_big = P.ocr_media_lines(media, refs, bc, cfg)
    assert "RoundRobinPartitioning" not in explain_str(out_big, "formatted")
