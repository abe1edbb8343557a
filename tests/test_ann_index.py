"""Materialized ANN index build/search split (round-4 verdict item 2):
build once to parquet, search scans the index — idempotent, deterministic,
partition-pruned to the probed cells, and keyed by build constants so a
constant change can never reuse a stale index."""

import os
import shutil

import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def pq_index(spark):
    from manuscript_ocr_spark.functions.similarity import ivfpq_build

    return ivfpq_build(spark, SF)


def test_ivfpq_build_is_idempotent(spark, pq_index):
    from manuscript_ocr_spark.functions.similarity import ivfpq_build

    marker = os.path.join(pq_index, "codes.parquet", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    assert ivfpq_build(spark, SF) == pq_index
    assert os.path.getmtime(marker) == mtime  # no rewrite


def test_ivfpq_rebuild_bit_identical(spark, pq_index):
    from manuscript_ocr_spark.functions.similarity import (
        ivfpq_build,
        ivfpq_search,
    )

    before = [tuple(r) for r in ivfpq_search(spark, SF, pq_index).collect()]
    rebuilt = ivfpq_build(spark, SF, force=True)
    after = [tuple(r) for r in ivfpq_search(spark, SF, rebuilt).collect()]
    assert before == after  # exact-integer training → deterministic index


def test_ivfpq_search_prunes_to_probed_cells(spark, pq_index):
    from manuscript_ocr_spark.functions.similarity import ivfpq_search
    from manuscript_ocr_spark.plans import explain_str, scans

    df = ivfpq_search(spark, SF, pq_index)
    code_scans = [s for s in scans(df) if "codes.parquet" in s["location"]]
    assert code_scans
    # the cell predicate must be a PARTITION filter on the codes scan (the
    # 10^12-row win), not a post-scan filter
    text = explain_str(df, "formatted")
    assert "PartitionFilters" in text
    import re

    m = re.search(r"codes\.parquet.*?PartitionFilters: \[([^\]]*)\]", text, re.S)
    assert m and "cell" in m.group(1), text[:2000]


def test_index_dir_keys_on_constants_and_data(spark):
    from manuscript_ocr_spark.functions import similarity as S

    d1 = S._ivfpq_index_dir(SF)
    assert f"M{S.PQ_M}" in d1 and f"K{S.PQ_K}" in d1 and S.PQ_INDEX_VERSION in d1
    base = os.path.basename(d1)
    assert base.startswith("sf0.01-")  # tier-scoped ...
    # ... AND data-fingerprinted: a different path with the same basename,
    # or different embeddings bytes at the same path, must key differently
    nbytes = os.path.getsize(os.path.join(SF, "embeddings.parquet"))
    assert base.endswith(f"-{nbytes}")
    other = S._ann_index_dir("/somewhere/else/sf0.01", "ivfpq-x")
    assert os.path.basename(other) != base


def test_ivf_kmeans_split_matches_singleshot(spark):
    """Search over the materialized k-means index returns exactly what the
    (previously per-call-trained) chain returns — the DuckDB oracle for
    sim_ivf_kmeans_topk is unchanged, so equality with it is covered by the
    registry gate; here: idempotence + determinism of the split itself."""
    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        ivf_kmeans_search,
        ivf_kmeans_topk,
    )

    idx = ivf_kmeans_build(spark, SF)
    a = [tuple(r) for r in ivf_kmeans_search(spark, SF, idx).collect()]
    b = [tuple(r) for r in ivf_kmeans_topk(spark, SF).collect()]
    assert a == b and len(a) > 0


def test_ivfpq_append_matches_build_encoding(spark, pq_index):
    """Incremental append (round-5): vectors appended under NEW ids with
    the frozen codebook must receive byte-identical (cell, codes) to what
    the SAME embeddings got at build time — search cannot distinguish
    built-in from appended rows, and their ADC distances tie exactly."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_search,
    )

    # work on a private copy of the index (appends mutate codes.parquet)
    idx = pq_index + "-append-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(pq_index, idx)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 130))
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    n = ivfpq_append(spark, idx, batch)
    assert n == 30

    codes = spark.read.parquet(os.path.join(idx, "codes.parquet"))
    orig = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in codes.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 130)).collect()
    }
    appended = {
        r["vec_id"] - 100000: (r["cell"], list(r["codes"]))
        for r in codes.filter(F.col("vec_id") >= 100000).collect()
    }
    assert appended == orig  # identical cells AND codes

    # search over the appended index: every appended twin whose original
    # made top-k must tie it exactly in ADC (ids differ, distances equal)
    top = ivfpq_search(spark, SF, idx, topk=20).collect()
    by_id = {r["vec_id"]: r["adc"] for r in top}
    for vid, adc in list(by_id.items()):
        if 100 <= vid < 130 and (vid + 100000) in by_id:
            assert by_id[vid + 100000] == adc
    shutil.rmtree(idx, ignore_errors=True)


def test_streaming_ann_ingest_equals_batch_append(spark, pq_index, tmp_path):
    """Streaming ingest (round-5): vectors arriving as files are encoded
    with the frozen codebook per micro-batch; after draining, the index
    holds exactly the same (vec_id, cell, codes) rows a batch append would
    have produced — streaming ≡ batch across the micro-batch boundary."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.streaming.incremental import (
        run_incremental_ann_ingest,
    )

    idx = pq_index + "-stream-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(pq_index, idx)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vdir = str(tmp_path / "vectors_in")
    # two files → with maxFilesPerTrigger=1, two micro-batches
    (emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 215))
        .select((F.col("vec_id") + 500000).alias("vec_id"), "embedding",
                F.lit(0).alias("label"))
        .coalesce(1).write.mode("overwrite").parquet(vdir))
    (emb.filter((F.col("vec_id") >= 215) & (F.col("vec_id") < 230))
        .select((F.col("vec_id") + 500000).alias("vec_id"), "embedding",
                F.lit(0).alias("label"))
        .coalesce(1).write.mode("append").parquet(vdir))

    run_incremental_ann_ingest(
        spark, vdir, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    codes = spark.read.parquet(os.path.join(idx, "codes.parquet"))
    streamed = {
        r["vec_id"] - 500000: (r["cell"], list(r["codes"]))
        for r in codes.filter(F.col("vec_id") >= 500000).collect()
    }
    built = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in codes.filter(
            (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)).collect()
    }
    assert len(streamed) == 30
    assert streamed == built
    shutil.rmtree(idx, ignore_errors=True)


def test_ivfpq_search_nprobe_scales(spark, pq_index):
    """nprobe is a free knob now (ADC tables ride a broadcast frame, not a
    chained WHEN): candidate sets grow monotonically with nprobe, results
    stay deterministic, and probing every cell makes the ADC ranking a
    full-corpus ranking (global recall vs the exact brute force then
    reflects only PQ quantization loss, measured ≥ 0.5 here)."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        TOPK,
        cosine_topk,
        ivfpq_search,
    )

    n_cells = spark.read.parquet(pq_index + "/centroids.parquet").count()
    sizes = {}
    for nprobe in (1, 2, 4, n_cells):
        out = ivfpq_search(spark, SF, pq_index, nprobe=nprobe, topk=10**6)
        sizes[nprobe] = out.count()
    assert sizes[1] <= sizes[2] <= sizes[4] <= sizes[n_cells]
    assert sizes[n_cells] == 499  # all vectors except the query

    exact = {r["vec_id"] for r in cosine_topk(spark, SF).collect()}
    full = ivfpq_search(spark, SF, pq_index, nprobe=n_cells, topk=TOPK)
    got = {r["vec_id"] for r in full.collect()}
    recall = len(exact & got) / TOPK
    assert recall >= 0.5, f"global PQ recall at nprobe=all: {recall}"


def test_ivfpq_compact_removes_replayed_duplicates(spark, pq_index):
    """At-least-once repair: a replayed append's byte-identical duplicates
    are dropped by compaction; search results are unchanged."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        ivfpq_append,
        ivfpq_compact,
        ivfpq_search,
    )

    idx = pq_index + "-compact-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(pq_index, idx)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = (
        emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
        .select((F.col("vec_id") + 700000).alias("vec_id"), "embedding")
    )
    ivfpq_append(spark, idx, batch)
    ivfpq_append(spark, idx, batch)  # the "replayed micro-batch"
    from manuscript_ocr_spark.functions.similarity import _codes_path

    before = spark.read.parquet(_codes_path(idx)).count()
    assert before == 500 + 20  # 10 duplicated appended ids

    pre = [tuple(r) for r in ivfpq_search(spark, SF, idx).collect()]
    n = ivfpq_compact(spark, idx)
    assert n == 510
    # round 6: compaction commits by flipping the MANIFEST pointer to a
    # fresh versioned directory — readers resolve through _codes_path
    live = _codes_path(idx)
    assert os.path.basename(live) == "codes-v0001.parquet"
    post_df = spark.read.parquet(live)
    assert post_df.count() == 510
    assert post_df.groupBy("vec_id").count().filter("count > 1").count() == 0
    assert [tuple(r) for r in ivfpq_search(spark, SF, idx).collect()] == pre
    # the retired generation stays on disk as a grace copy for readers that
    # resolved before the flip — a reader mid-scan never loses its files
    assert os.path.exists(os.path.join(idx, "codes.parquet"))
    # a SECOND compact retires it and appends keep landing in the live dir
    n2 = ivfpq_compact(spark, idx)
    assert n2 == 510
    assert os.path.basename(_codes_path(idx)) == "codes-v0002.parquet"
    assert not os.path.exists(os.path.join(idx, "codes.parquet"))
    assert os.path.exists(os.path.join(idx, "codes-v0001.parquet"))  # grace
    ivfpq_append(spark, idx, batch.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"))
    assert spark.read.parquet(_codes_path(idx)).count() == 520
    shutil.rmtree(idx, ignore_errors=True)


def test_ivf_kmeans_append_routes_to_frozen_cells(spark):
    """k-means twin of the append path: appended duplicates of existing
    vectors land in exactly the cell their originals occupy."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_append,
        ivf_kmeans_build,
    )

    base = ivf_kmeans_build(spark, SF)
    idx = base + "-append-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(base, idx)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = (
        emb.filter(F.col("vec_id") < 10)
        .select((F.col("vec_id") + 800000).alias("vec_id"), "embedding")
    )
    assert ivf_kmeans_append(spark, idx, batch) == 10
    cells = spark.read.parquet(os.path.join(idx, "cells.parquet"))
    orig = {r["vec_id"]: r["cell"]
            for r in cells.filter(F.col("vec_id") < 10).collect()}
    app = {r["vec_id"] - 800000: r["cell"]
           for r in cells.filter(F.col("vec_id") >= 800000).collect()}
    assert app == orig
    shutil.rmtree(idx, ignore_errors=True)


def test_ivfpq_search_accepts_arbitrary_query_vector(spark, pq_index):
    """The production API shape: searching with an explicit float vector
    equal to a corpus row's embedding returns exactly that row's result set
    (fixed-point quantization is identical), and the id-exclusion knob is
    decoupled from the vector."""
    from manuscript_ocr_spark.functions.similarity import (
        QUERY_VEC_ID,
        ivfpq_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qrow = emb.filter(emb.vec_id == QUERY_VEC_ID).collect()[0]
    by_id = [tuple(r) for r in ivfpq_search(spark, SF, pq_index).collect()]
    by_vec = [tuple(r) for r in ivfpq_search(
        spark, SF, pq_index, query_vec_id=QUERY_VEC_ID,
        query_vec=list(qrow["embedding"])).collect()]
    assert by_vec == by_id
    # external query_vec with the default id: nothing excluded (r6 ADVICE)
    # → vec 0 itself surfaces at distance 0-ish
    incl = ivfpq_search(spark, SF, pq_index,
                        query_vec=list(qrow["embedding"])).collect()
    assert incl[0]["vec_id"] == QUERY_VEC_ID


def test_ivfpq_knn_join_batched_semantics(spark, pq_index):
    """The batched join must agree query-by-query with single-query search
    under the same (nprobe, topk) — one distributed plan, no per-query
    driver loop, same answers."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        PQ_JOIN_TOPK,
        PQ_QUERY_STRIDE,
        ivfpq_knn_join,
        ivfpq_search,
    )

    out = ivfpq_knn_join(spark, SF, index_dir=pq_index).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r["adc"]))
    emb_ids = [r["vec_id"] for r in
               spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") % PQ_QUERY_STRIDE == 0).collect()]
    assert sorted(by_q) == sorted(emb_ids)
    for q in sorted(by_q)[:3]:  # spot-check three queries vs single search
        single = [(r["vec_id"], r["adc"]) for r in ivfpq_search(
            spark, SF, pq_index, query_vec_id=q, topk=PQ_JOIN_TOPK).collect()]
        assert sorted(by_q[q]) == sorted(single), q


def test_ivfpq_compact_self_heals_after_crash_window(spark, pq_index):
    """Legacy upgrade path: an index left in the r5 two-rename crash
    window (codes.parquet absent + codes.parquet.old present) is restored
    by _codes_path and the next compact proceeds, committing through the
    round-6 MANIFEST pointer; and a missing query id raises the documented
    clear error."""
    import os
    import shutil

    import pytest

    from manuscript_ocr_spark.functions.similarity import (
        ivfpq_compact,
        ivfpq_search,
    )

    idx = pq_index + "-heal-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(pq_index, idx)
    codes = os.path.join(idx, "codes.parquet")
    os.rename(codes, codes + ".old")  # simulate the crash window
    assert not os.path.exists(codes)
    n = ivfpq_compact(spark, idx)
    assert n == 500 and os.path.exists(codes)
    assert [r["vec_id"] for r in ivfpq_search(spark, SF, idx).collect()]
    shutil.rmtree(idx, ignore_errors=True)

    with pytest.raises(ValueError, match="not in the embeddings table"):
        ivfpq_search(spark, SF, pq_index, query_vec_id=-1)


def test_ivfpq_force_rebuild_after_compact_flips_pointer(spark, pq_index):
    """Round-6 unification: a forced rebuild of a previously COMPACTED
    index must commit through the same MANIFEST protocol as compaction —
    the pointer flips back to the fresh codes.parquet, retired versioned
    generations are cleaned up, appended-but-not-source vectors are
    dropped (rebuild re-derives from the embeddings table), and search
    output is byte-identical to a never-compacted build."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        _codes_path,
        ivfpq_append,
        ivfpq_build,
        ivfpq_compact,
        ivfpq_search,
    )

    baseline = [tuple(r) for r in ivfpq_search(spark, SF, pq_index).collect()]
    idx = pq_index + "-rebuild-test"
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(pq_index, idx)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = (
        emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
        .select((F.col("vec_id") + 800000).alias("vec_id"), "embedding")
    )
    ivfpq_append(spark, idx, batch)
    ivfpq_compact(spark, idx)
    ivfpq_compact(spark, idx)  # original codes.parquet now fully retired
    assert os.path.basename(_codes_path(idx)) == "codes-v0002.parquet"
    assert not os.path.exists(os.path.join(idx, "codes.parquet"))

    # a forced rebuild (maintenance-window op) re-derives from the source
    # table and must become the generation readers actually see; drive the
    # public path with the index-dir resolver pointed at the compacted dir
    import manuscript_ocr_spark.functions.similarity as sim

    orig = sim._ivfpq_index_dir
    try:
        sim._ivfpq_index_dir = lambda sf_dir, base_dir=None: idx
        rebuilt = sim.ivfpq_build(spark, SF, force=True)
    finally:
        sim._ivfpq_index_dir = orig
    assert rebuilt == idx
    live = _codes_path(idx)
    assert os.path.basename(live) == "codes.parquet"
    # retired generations are gone — nothing for the next compact to
    # resurrect or double-delete
    assert not os.path.exists(os.path.join(idx, "codes-v0001.parquet"))
    assert not os.path.exists(os.path.join(idx, "codes-v0002.parquet"))
    # appended vectors were dropped: the rebuild is the source-of-truth set
    assert spark.read.parquet(live).count() == 500
    assert [tuple(r) for r in ivfpq_search(spark, SF, idx).collect()] \
        == baseline
    # the lifecycle keeps working: append + compact on the rebuilt index
    ivfpq_append(spark, idx, batch)
    assert spark.read.parquet(_codes_path(idx)).count() == 510
    assert ivfpq_compact(spark, idx) == 510
    assert os.path.basename(_codes_path(idx)) == "codes-v0001.parquet"
    shutil.rmtree(idx, ignore_errors=True)


def test_ivfpq_knn_join_prunes_codes_scan(spark, pq_index):
    """The batched join's codes scan must carry the probed-cell partition
    filter (no full index scan at 10^12 rows)."""
    import re

    from manuscript_ocr_spark.functions.similarity import ivfpq_knn_join
    from manuscript_ocr_spark.plans import explain_str

    df = ivfpq_knn_join(spark, SF, index_dir=pq_index)
    text = explain_str(df, "formatted")
    m = re.search(r"codes\.parquet.*?PartitionFilters: \[([^\]]*)\]", text, re.S)
    assert m and "cell" in m.group(1), text[:2000]


def test_ivfpq_knn_join_shuffle_fallback_equal(spark, pq_index):
    """Round-5 verdict item 4: the batched join's big-query-set fallback
    (no broadcast hint — the ADC tables shuffle-join on cell) must return
    exactly the broadcast plan's rows, and the auto gate must pick the
    broadcast side for the bounded fixture query set."""
    from manuscript_ocr_spark.functions.similarity import (
        MAX_BROADCAST_ADC_ROWS,
        ivfpq_knn_join,
    )
    from manuscript_ocr_spark.plans import explain_str

    bcast = ivfpq_knn_join(spark, SF, index_dir=pq_index,
                           broadcast_tables=True)
    shuf = ivfpq_knn_join(spark, SF, index_dir=pq_index,
                          broadcast_tables=False)
    rows_b = sorted(tuple(r) for r in bcast.collect())
    rows_s = sorted(tuple(r) for r in shuf.collect())
    assert rows_b == rows_s and len(rows_b) > 0
    # the two hints genuinely produce different physical joins. At fixture
    # scale BOTH sides are tiny, so the planner (statically via the
    # autoBroadcastJoinThreshold estimate, or AQE at runtime) re-plans the
    # un-hinted join into a broadcast anyway — the adaptive behavior the
    # fallback is supposed to allow. To assert the at-scale shape (neither
    # side broadcastable), pin both knobs off for the plan check:
    assert "BroadcastHashJoin" in explain_str(bcast, "formatted")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        text_s = explain_str(
            ivfpq_knn_join(spark, SF, index_dir=pq_index,
                           broadcast_tables=False),
            "formatted")
        # the explicit hint must still force a broadcast under the same knobs
        text_b = explain_str(
            ivfpq_knn_join(spark, SF, index_dir=pq_index,
                           broadcast_tables=True),
            "formatted")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" in text_s or "ShuffledHashJoin" in text_s
    assert "BroadcastHashJoin" in text_b
    # the auto gate (size probe) resolves to the broadcast plan here:
    # 5 queries × nprobe ≪ MAX_BROADCAST_ADC_ROWS
    auto = ivfpq_knn_join(spark, SF, index_dir=pq_index)
    assert "BroadcastHashJoin" in explain_str(auto, "formatted")
    assert MAX_BROADCAST_ADC_ROWS >= 1024  # the gate is a real capacity


def test_ivf_kmeans_search_errors_and_query_vec(spark):
    """Round-5 advice: the k-means twin now mirrors ivfpq_search's
    contract — a missing query id raises the documented ValueError (not a
    bare IndexError), and an arbitrary query_vec equal to a corpus row's
    embedding returns exactly that row's result set."""
    import pytest

    from manuscript_ocr_spark.functions.similarity import (
        QUERY_VEC_ID,
        ivf_kmeans_build,
        ivf_kmeans_search,
    )

    idx = ivf_kmeans_build(spark, SF)
    with pytest.raises(ValueError, match="not in the embeddings table"):
        ivf_kmeans_search(spark, SF, idx, query_vec_id=-1)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qrow = emb.filter(emb.vec_id == QUERY_VEC_ID).collect()[0]
    by_id = [tuple(r) for r in ivf_kmeans_search(spark, SF, idx).collect()]
    by_vec = [tuple(r) for r in ivf_kmeans_search(
        spark, SF, idx, query_vec_id=QUERY_VEC_ID,
        query_vec=list(qrow["embedding"])).collect()]
    assert by_vec == by_id
    # external query_vec with the default id: nothing excluded (r6 ADVICE)
    # → the row itself wins
    incl = ivf_kmeans_search(spark, SF, idx,
                             query_vec=list(qrow["embedding"])).collect()
    assert incl[0]["vec_id"] == QUERY_VEC_ID


def test_index_dir_keys_on_mtime(tmp_path):
    """Round-5 advice: a regenerated fixture at the same path with the
    SAME byte count must still key a fresh index — the tier fingerprint
    carries the newest file mtime, not just total bytes."""
    import os

    from manuscript_ocr_spark.functions import similarity as S

    sf = tmp_path / "sf-fake"
    emb = sf / "embeddings.parquet"
    emb.mkdir(parents=True)
    f = emb / "part-0.parquet"
    f.write_bytes(b"x" * 128)
    d1 = S._ann_index_dir(str(sf), "ivfpq-x")
    os.utime(f, ns=(f.stat().st_atime_ns, f.stat().st_mtime_ns + 10**9))
    d2 = S._ann_index_dir(str(sf), "ivfpq-x")
    assert d1 != d2  # same path, same bytes, different mtime → new key


def test_gc_stale_tiers_removes_same_dataset_siblings_only(tmp_path):
    """Round-6 ADVICE: a rebuilt index must GC its PREVIOUS tier
    generations for the same dataset — but never another dataset's tiers,
    and never itself. Round-7 ADVICE refinement: 'same dataset' is
    basename + PATH hash, so two datasets at different paths sharing a
    basename (runA/sf0.01 vs runB/sf0.01) never GC each other."""
    from manuscript_ocr_spark.functions.similarity import _gc_stale_tiers

    parent = tmp_path / "ann_index" / "ivfpq-x"
    mine = parent / "sf0.01-11112222-aaaaaaaaaaaa-128"
    stale = parent / "sf0.01-11112222-bbbbbbbbbbbb-128"
    same_name_other_path = parent / "sf0.01-33334444-dddddddddddd-128"
    other = parent / "sf0.1-55556666-cccccccccccc-999"
    legacy = parent / "sf0.01-eeeeeeeeeeee-128"      # pre-path-hash format
    legacy_other = parent / "sf0.1-ffffffffffff-999"
    for d in (mine, stale, same_name_other_path, other, legacy,
              legacy_other):
        d.mkdir(parents=True)
        (d / "marker").write_text("x")
    _gc_stale_tiers(str(mine))
    assert mine.exists() and other.exists() and not stale.exists()
    assert same_name_other_path.exists()
    # legacy-format tiers of THIS dataset basename are migrated away;
    # other basenames' legacy tiers are untouched
    assert not legacy.exists() and legacy_other.exists()


def test_ann_index_dir_distinguishes_same_basename_paths(tmp_path):
    """Two dataset dirs with the same basename at different paths must key
    different tiers whose GC stems also differ (the round-7 ADVICE
    mutual-thrashing scenario)."""
    import os

    from manuscript_ocr_spark.functions import similarity as S

    tiers = []
    for run in ("runA", "runB"):
        sf = tmp_path / run / "sf0.01"
        emb = sf / "embeddings.parquet"
        emb.mkdir(parents=True)
        (emb / "part-0.parquet").write_bytes(b"x" * 64)
        tiers.append(os.path.basename(S._ann_index_dir(str(sf), "ivfpq-x")))
    a, b = tiers
    assert a != b
    assert a.rsplit("-", 2)[0] != b.rsplit("-", 2)[0]


def test_ivf_kmeans_knn_join_batched_semantics_and_pruning(spark):
    """The batched EXACT join (round 6) must agree query-by-query with
    single-query ivf_kmeans_search under the same (nprobe, topk), and its
    cells scan must carry the probed-cell partition filter."""
    import re

    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        PQ_JOIN_TOPK,
        PQ_QUERY_STRIDE,
        ivf_kmeans_build,
        ivf_kmeans_knn_join,
        ivf_kmeans_search,
    )
    from manuscript_ocr_spark.plans import explain_str

    idx = ivf_kmeans_build(spark, SF)
    df = ivf_kmeans_knn_join(spark, SF, index_dir=idx)
    out = df.collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(
            (r["nb_rank"], r["vec_id"], r["cosine"]))
    emb_ids = [r["vec_id"] for r in
               spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") % PQ_QUERY_STRIDE == 0).collect()]
    assert sorted(by_q) == sorted(emb_ids)
    for q in sorted(by_q)[:3]:
        single = [(i + 1, r["vec_id"], r["cosine"]) for i, r in enumerate(
            ivf_kmeans_search(spark, SF, idx, query_vec_id=q,
                              topk=PQ_JOIN_TOPK).collect())]
        assert sorted(by_q[q]) == sorted(single), q

    text = explain_str(df, "formatted")
    m = re.search(r"cells\.parquet.*?PartitionFilters: \[([^\]]*)\]",
                  text, re.S)
    assert m and "cell" in m.group(1), text[:2000]


def test_two_stage_rerank_is_exact_over_candidate_pool(spark, pq_index):
    """Two-stage retrieval (round 6): the final ranking must equal the
    EXACT cosine ranking restricted to the PQ candidate pool, its recall
    vs the global brute force must be at least the pure-ADC top-k's
    (the exact re-rank can only fix PQ ordering errors, never add new
    ones), and the candidate-fetch scan must push the bounded id list
    down to the parquet reader."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        TOPK,
        TWO_STAGE_CAND,
        cosine_topk,
        ivfpq_search,
        two_stage_topk,
    )
    from manuscript_ocr_spark.plans import explain_str

    SFD = SF
    out = two_stage_topk(spark, SFD)
    rows = out.collect()
    assert len(rows) == TOPK

    # exact-over-pool: recompute the pool and its exact cosines JVM-free
    import numpy as np

    pool = [r["vec_id"] for r in ivfpq_search(
        spark, SFD, pq_index, topk=TWO_STAGE_CAND).collect()]
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{SFD}/embeddings.parquet").collect()}
    qv = emb[0]
    def cos(v):
        return float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
    expect = sorted(pool, key=lambda i: (-round(cos(emb[i]), 12), i))[:TOPK]
    got = [r["vec_id"] for r in rows]
    assert got == sorted(got, key=lambda i: (-round(cos(emb[i]), 12), i))
    assert set(got) == set(expect)

    # recall vs brute force: re-ranked ≥ pure ADC ordering
    exact = {r["vec_id"] for r in cosine_topk(spark, SFD).collect()}
    adc_top = {r["vec_id"] for r in ivfpq_search(spark, SFD, pq_index,
                                                 topk=TOPK).collect()}
    assert len(set(got) & exact) >= len(adc_top & exact)

    # the 50-id fetch is pushed to the scan, not filtered post-read
    text = explain_str(out, "formatted")
    assert "PushedFilters" in text and "vec_id" in text


def test_two_stage_knn_join_composition(spark, pq_index):
    """The batched two-stage join must equal, per query, the exact-cosine
    re-rank of that query's own ivfpq_knn_join top-n_cand pool — the
    composition law of its two building blocks."""
    import numpy as np
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        PQ_JOIN_TOPK,
        TWO_STAGE_JOIN_CAND,
        ivfpq_knn_join,
        two_stage_knn_join,
    )

    out = two_stage_knn_join(spark, SF, index_dir=pq_index).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["nb_rank"], r["vec_id"]))
    pool_rows = ivfpq_knn_join(spark, SF, index_dir=pq_index,
                               topk=TWO_STAGE_JOIN_CAND).collect()
    pools = {}
    for r in pool_rows:
        pools.setdefault(r["q_id"], []).append(r["vec_id"])
    assert sorted(by_q) == sorted(pools)

    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for q in sorted(by_q):
        qv = emb[q]
        expect = sorted(pools[q],
                        key=lambda i: (-round(cos(emb[i], qv), 12), i))
        expect = [(i + 1, v) for i, v in enumerate(expect[:PQ_JOIN_TOPK])]
        assert sorted(by_q[q]) == expect, q


def test_two_stage_knn_join_materialized_path_identical(spark, pq_index):
    """The scale path (stage-1 pool written to scratch parquet, unhinted
    joins, no driver collect of the pool) must produce exactly the output
    of the default collect+isin path — the 'plan downstream is identical'
    claim, pinned instead of asserted."""
    from manuscript_ocr_spark.functions.similarity import two_stage_knn_join

    small = two_stage_knn_join(spark, SF, index_dir=pq_index,
                               materialize=False).collect()
    big = two_stage_knn_join(spark, SF, index_dir=pq_index,
                             materialize=True).collect()
    assert sorted(tuple(r) for r in small) == sorted(tuple(r) for r in big)

    # the auto gate sizes from queries × n_cand, never by running stage 1:
    # fixture-scale query counts sit far below the collect ceiling
    from manuscript_ocr_spark.functions.similarity import (
        MAX_COLLECT_POOL_ROWS,
        TWO_STAGE_JOIN_CAND,
    )
    from pyspark.sql import functions as F
    from manuscript_ocr_spark.functions.similarity import PQ_QUERY_STRIDE

    n_queries = (spark.read.parquet(f"{SF}/embeddings.parquet")
                 .filter(F.col("vec_id") % PQ_QUERY_STRIDE == 0).count())
    assert n_queries * TWO_STAGE_JOIN_CAND <= MAX_COLLECT_POOL_ROWS


def test_semantic_dup_pairs_exact_within_cells(spark):
    """semantic_dup_pairs (SemDeDup-style blocking) must return EXACTLY the
    brute-force same-cell pairs above threshold: full recall within the
    blocking contract, full precision overall. Verified against an
    independent numpy recomputation from the materialized cells table."""
    import itertools
    import os

    import numpy as np

    from manuscript_ocr_spark.functions.similarity import (
        DUP_COS_THRESHOLD,
        ivf_kmeans_build,
        semantic_dup_pairs,
    )

    idx = ivf_kmeans_build(spark, SF)
    cells = spark.read.parquet(os.path.join(idx, "cells.parquet")).collect()
    by_cell: dict = {}
    for r in cells:
        by_cell.setdefault(r["cell"], []).append(
            (r["vec_id"], np.array(r["v"], dtype=np.float64)))
    expected = set()
    for members in by_cell.values():
        for (ia, va), (ib, vb) in itertools.combinations(
                sorted(members), 2):
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if c > DUP_COS_THRESHOLD:
                expected.add((ia, ib, round(c, 3)))

    got = {(r["vec_a"], r["vec_b"], r["cosine"])
           for r in semantic_dup_pairs(spark, SF).collect()}
    assert got == expected and len(got) > 0


def test_semantic_dup_pairs_cap_truncates_deterministically(spark):
    """The per-cell cap keeps only each cell's first cap vectors by vec_id
    (the oracle-mirrored semantics): the capped output equals the uncapped
    output restricted to pairs whose BOTH ends survive the truncation."""
    import os

    import numpy as np

    from manuscript_ocr_spark.functions.similarity import (
        ivf_kmeans_build,
        semantic_dup_pairs,
    )

    cap = 10
    idx = ivf_kmeans_build(spark, SF)
    cells = spark.read.parquet(os.path.join(idx, "cells.parquet")) \
        .select("cell", "vec_id").collect()
    by_cell: dict = {}
    for r in cells:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    kept = {v for ids in by_cell.values() for v in sorted(ids)[:cap]}

    full = {(r["vec_a"], r["vec_b"], r["cosine"])
            for r in semantic_dup_pairs(spark, SF, max_cell_size=None).collect()}
    capped = {(r["vec_a"], r["vec_b"], r["cosine"])
              for r in semantic_dup_pairs(spark, SF, max_cell_size=cap).collect()}
    assert capped == {(a, b, c) for a, b, c in full
                      if a in kept and b in kept}
    # default cap never bites organically at this tier (cells ~62 ≤ 1024)
    default = {(r["vec_a"], r["vec_b"], r["cosine"])
               for r in semantic_dup_pairs(spark, SF).collect()}
    assert default == full


def test_semantic_dup_keep_list_matches_union_find(spark):
    """sim_semantic_dup_keep must equal an independent driver-side
    union-find over the semantic_dup_pairs edge set: same components
    (up to the min-id canonical label), keep ⇔ vec_id is its component's
    minimum, and EVERY embeddings row appears (cap-truncated vectors as
    self-kept singletons)."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        semantic_dup_keep_list,
        semantic_dup_pairs,
    )

    all_ids = [r["vec_id"] for r in spark.read.parquet(
        f"{SF}/embeddings.parquet").select("vec_id").collect()]
    parent = {v: v for v in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = semantic_dup_pairs(spark, SF).collect()
    assert len(pairs) > 0
    for r in pairs:
        ra, rb = find(r["vec_a"]), find(r["vec_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict = {}
    for v in all_ids:
        roots.setdefault(find(v), []).append(v)
    expected = {(v, min(members), v == min(members))
                for members in roots.values() for v in members}

    got = {(r["vec_id"], r["component"], r["keep"])
           for r in semantic_dup_keep_list(spark, SF).collect()}
    assert got == expected
    assert len(got) == len(all_ids)
    # at least one genuine multi-member component at this tier
    assert sum(1 for _, _, k in got if not k) > 0


def test_semantic_dup_keep_centroid_policy(spark):
    """keeper='centroid' must keep, per component, the member LEAST
    cosine-similar to its dequantized cell centroid (SemDeDup §3; ties →
    lowest vec_id), with components identical to the min_id policy's."""
    import os

    import numpy as np

    from manuscript_ocr_spark.functions.similarity import (
        FXP_SCALE,
        ivf_kmeans_build,
        semantic_dup_keep_list,
    )

    idx = ivf_kmeans_build(spark, SF)
    cells = spark.read.parquet(os.path.join(idx, "cells.parquet")).collect()
    cents = {r["c_id"]: np.array(r["cq"], dtype=np.float64) / FXP_SCALE
             for r in spark.read.parquet(
                 os.path.join(idx, "centroids.parquet")).collect()}
    sim = {}
    cell_of = {}
    for r in cells:
        v = np.array(r["v"], dtype=np.float64)
        c = cents[r["cell"]]
        sim[r["vec_id"]] = float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
        cell_of[r["vec_id"]] = r["cell"]

    base = semantic_dup_keep_list(spark, SF).collect()
    comp = {r["vec_id"]: r["component"] for r in base}
    members: dict = {}
    for v, c in comp.items():
        members.setdefault(c, []).append(v)
    expected_keeper = {c: min(ms, key=lambda v: (sim[v], v))
                       for c, ms in members.items()}

    got = semantic_dup_keep_list(spark, SF, keeper="centroid").collect()
    assert {r["vec_id"]: r["component"] for r in got} == comp
    for r in got:
        assert r["keep"] == (r["vec_id"] == expected_keeper[r["component"]])
    # the two policies genuinely disagree on at least one keeper here
    # (otherwise this test would be vacuous), and components never span cells
    base_keep = {r["vec_id"] for r in base if r["keep"]}
    got_keep = {r["vec_id"] for r in got if r["keep"]}
    assert len(base_keep) == len(got_keep)
    assert base_keep != got_keep
    for c, ms in members.items():
        assert len({cell_of[v] for v in ms}) == 1

    with np.testing.assert_raises(ValueError):
        semantic_dup_keep_list(spark, SF, keeper="bogus")


def test_semantic_contamination_matches_duckdb_and_plan(spark):
    """Semantic benchmark decontamination: the Spark query must equal the
    DuckDB mirror (which retrains the whole chain from the raw table —
    training, assignment, md5 benchmark sample, fold cosine), an
    explicit bench_ids override must equal the mirror's sample, and the
    plan must carry the scale contract: corpus scan pruned to benchmark
    cells (partition filter), benchmark id list pushed to the parquet
    reader, one broadcast join, and no corpus-side shuffle (the only
    exchanges belong to the ≤bench-size collect_list aggregate)."""
    import duckdb
    import numpy as np

    from manuscript_ocr_spark.functions.similarity import (
        DUP_COS_THRESHOLD,
        N_BENCH_VECS,
        SEMANTIC_CONTAMINATION_SQL,
        semantic_contamination,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    want = {
        (int(v), int(b), float(c))
        for v, b, c in con.execute(SEMANTIC_CONTAMINATION_SQL).fetchall()
    }
    df = semantic_contamination(spark, SF)
    got = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in df.collect()
    }
    assert got == want and len(want) > 0

    # explicit bench_ids (the production entry point) reproduces the
    # stand-in sample exactly
    bench_ids = [
        int(r[0]) for r in con.execute(
            "SELECT vec_id FROM embeddings "
            f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_BENCH_VECS}"
        ).fetchall()
    ]
    got2 = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in semantic_contamination(spark, SF, bench_ids=bench_ids).collect()
    }
    assert got2 == got

    # independent numpy recomputation from the materialized index
    from manuscript_ocr_spark.functions.similarity import ivf_kmeans_build

    idx = ivf_kmeans_build(spark, SF)
    cells = {
        int(r["vec_id"]): (int(r["cell"]), np.array(r["v"], dtype=np.float64))
        for r in spark.read.parquet(os.path.join(idx, "cells.parquet")).collect()
    }
    expect_pairs = set()
    for b in bench_ids:
        bc, bv = cells[b]
        for v, (c, vv) in cells.items():
            if c != bc or v == b:
                continue
            cos = float(vv @ bv / (np.linalg.norm(vv) * np.linalg.norm(bv)))
            if cos > DUP_COS_THRESHOLD:
                expect_pairs.add((v, b))
    assert {(v, b) for v, b, _ in got} == expect_pairs

    # plan contract — on a fresh (un-executed) frame: after a collect,
    # AQE's final plan string embeds the initial plan too, double-counting
    plan = (
        semantic_contamination(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastExchange") == 1
    assert "PartitionFilters: [cell" in plan
    assert "PushedFilters: [In(vec_id" in plan
    # every non-broadcast exchange sits on the bench aggregate, not the
    # corpus scan: the corpus branch (the probe side of the broadcast
    # join) must be exchange-free
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side.split(
        "SubqueryAdaptiveBroadcast")[0]


def test_semantic_contamination_external_bench(spark):
    """The production entry point: the eval suite arrives as an EXTERNAL
    (vec_id, embedding) frame, not as corpus ids. Feeding the stand-in
    sample's own vectors externally must reproduce the in-corpus result
    exactly (driver exact-int assignment lands each vector in its
    in-corpus cell; norms use the same Spark fold); a truly external
    vector (a corpus embedding under a fresh id) must be flagged against
    its twin at cosine 1.0."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        N_BENCH_VECS,
        semantic_contamination,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bench_ids = [
        int(r["vec_id"])
        for r in emb.select(
            "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id").limit(N_BENCH_VECS).collect()
    ]
    bdf = emb.filter(F.col("vec_id").isin(bench_ids))
    ext = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in semantic_contamination(spark, SF, bench_df=bdf).collect()
    }
    base = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in semantic_contamination(spark, SF).collect()
    }
    assert ext == base and len(base) > 0

    # a genuinely external vector: corpus vec 0's embedding, fresh id -1
    twin = emb.filter(F.col("vec_id") == 0).select(
        F.lit(-1).cast("bigint").alias("vec_id"), "embedding")
    got = {
        (int(r["vec_id"]), int(r["bench_vec_id"]), float(r["cosine"]))
        for r in semantic_contamination(spark, SF, bench_df=twin).collect()
    }
    assert (0, -1, 1.0) in got

    with pytest.raises(ValueError):
        semantic_contamination(spark, SF, bench_ids=[1], bench_df=twin)


def test_ivfpq_rebalance_storage_only(spark, pq_index, tmp_path):
    """The maintenance action behind sim_index_cell_stats (round 7):
    storage-level rebalance must (a) leave every search result
    byte-identical — cell membership and codes unchanged by contract —
    (b) fan a straggler-shaped layout (one big file per hot cell) out
    over ~ceil(rows/target) files, committing through the manifest
    pointer so readers never see a torn index, and (c) be a no-op
    (skipped) when the profile is already within bounds."""
    import math

    import pyarrow.parquet as papq

    from manuscript_ocr_spark.functions.similarity import (
        _codes_path,
        _commit_codes_pointer,
        ivfpq_rebalance,
        ivfpq_search,
    )

    idx = str(tmp_path / "idx")
    shutil.copytree(pq_index, idx)

    pre = [tuple(r) for r in ivfpq_search(spark, SF, idx).collect()]
    pre_set = {(r["vec_id"], r["cell"], tuple(r["codes"]))
               for r in spark.read.parquet(_codes_path(idx)).collect()}

    # healthy profile -> skipped, nothing rewritten
    live_before = _codes_path(idx)
    out = ivfpq_rebalance(spark, idx)  # default 4096-row target
    assert out["skipped"] and _codes_path(idx) == live_before

    # manufacture the straggler shape: ONE file per cell (what a
    # single-task ingest or a compaction at low parallelism leaves)
    squashed = os.path.join(idx, "codes-v0100.parquet")
    (spark.read.parquet(live_before).coalesce(1)
     .write.mode("overwrite").partitionBy("cell").parquet(squashed))
    _commit_codes_pointer(idx, "codes-v0100.parquet")

    def rows_per_file(path):
        out = []
        for d in os.listdir(path):
            if not d.startswith("cell="):
                continue
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    out.append(papq.ParquetFile(
                        os.path.join(path, d, f)).metadata.num_rows)
        return out

    before_files = rows_per_file(_codes_path(idx))
    assert max(before_files) == out["max_cell_rows"]  # 1 file = whole cell

    target = 4
    out2 = ivfpq_rebalance(spark, idx, target_rows_per_file=target,
                           max_ratio=1.01)
    assert not out2["skipped"]
    live_after = _codes_path(idx)
    assert os.path.basename(live_after) == "codes-v0101.parquet"
    assert out2["max_files_after"] > 1  # hot cells fanned out

    after_files = rows_per_file(live_after)
    # salting is hash-uniform, not exact: bound, not equality
    assert max(after_files) <= 4 * target < out2["max_cell_rows"]
    assert sum(after_files) == sum(before_files)

    post = [tuple(r) for r in ivfpq_search(spark, SF, idx).collect()]
    assert post == pre  # search results byte-identical
    post_set = {(r["vec_id"], r["cell"], tuple(r["codes"]))
                for r in spark.read.parquet(live_after).collect()}
    assert post_set == pre_set  # rows identical, only file layout moved

    # the retired generation survives one cycle as the grace copy
    assert os.path.exists(squashed)


def test_two_stage_external_query_vec_parity(spark, pq_index):
    """The composed two-stage API carries the same external-query
    contract as its stages (round 7): an external query_vec for a corpus
    row with its id excluded matches by-id search exactly, and with the
    default (exclude-nothing) the row itself wins at cosine 1.0."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        QUERY_VEC_ID,
        two_stage_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]
    by_id = [tuple(r) for r in two_stage_topk(spark, SF).collect()]
    by_vec = [tuple(r) for r in two_stage_topk(
        spark, SF, query_vec_id=QUERY_VEC_ID,
        query_vec=list(qrow["embedding"])).collect()]
    assert by_vec == by_id
    incl = two_stage_topk(
        spark, SF, query_vec=list(qrow["embedding"])).collect()
    assert incl[0]["vec_id"] == QUERY_VEC_ID
    assert float(incl[0]["cosine"]) == 1.0


def test_ivf_kmeans_rebalance_storage_only(spark, tmp_path):
    """The exact-metric twin of the PQ rebalance: same storage-only
    contract over cells.parquet, committed through CELLS_MANIFEST.
    Search, appends, and a forced rebuild must all resolve the live
    generation correctly."""
    from pyspark.sql import functions as F

    from manuscript_ocr_spark.functions.similarity import (
        _cells_path,
        ivf_kmeans_append,
        ivf_kmeans_build,
        ivf_kmeans_rebalance,
        ivf_kmeans_search,
    )

    src = ivf_kmeans_build(spark, SF)
    idx = str(tmp_path / "kmidx")
    shutil.copytree(src, idx)

    pre = [tuple(r) for r in ivf_kmeans_search(spark, SF, idx).collect()]
    live0 = _cells_path(idx)
    assert os.path.basename(live0) == "cells.parquet"

    out = ivf_kmeans_rebalance(spark, idx, target_rows_per_file=4,
                               max_ratio=1.01)
    assert not out["skipped"]
    live1 = _cells_path(idx)
    assert os.path.basename(live1) == "cells-v0001.parquet"
    assert [tuple(r) for r in
            ivf_kmeans_search(spark, SF, idx).collect()] == pre

    # appends land in the LIVE generation and are immediately searchable
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    batch = (emb.filter(F.col("vec_id") < 5)
             .select((F.col("vec_id") + 700000).alias("vec_id"),
                     "embedding"))
    assert ivf_kmeans_append(spark, idx, batch) == 5
    appended_ids = {
        r["vec_id"] for r in
        spark.read.parquet(live1).filter(
            F.col("vec_id") >= 700000).collect()
    }
    assert len(appended_ids) == 5

    # a forced rebuild resets the pointer to the fresh default dir
    # (operate on the original index location so the build keys match)
    pre_src = [tuple(r) for r in ivf_kmeans_search(spark, SF, src).collect()]
    ivf_kmeans_rebalance(spark, src, target_rows_per_file=4,
                         max_ratio=1.01)
    rebuilt = ivf_kmeans_build(spark, SF, force=True)
    assert os.path.basename(_cells_path(rebuilt)) == "cells.parquet"
    assert [tuple(r) for r in
            ivf_kmeans_search(spark, SF, rebuilt).collect()] == pre_src


def test_literal_df_builds_nested_types_through_arrow(spark, monkeypatch):
    """_literal_df names columns from the schema's top-level fields only, so
    nested types (commas inside <> or ()) go through the Arrow path; with
    Spark's own Arrow fallback off, any conversion failure would raise."""
    from decimal import Decimal

    import pandas as pd

    from manuscript_ocr_spark.functions.similarity import _literal_df

    seen = []
    create = spark.createDataFrame

    def recording_create(data, schema=None, **kw):
        seen.append(type(data))
        return create(data, schema, **kw)

    monkeypatch.setattr(spark, "createDataFrame", recording_create)
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = [(1, [(1, 2), (3, 4)], Decimal("1.50")), (2, [], Decimal("0.25"))]
        df = _literal_df(
            spark, rows, "id int, pairs array<struct<a:int,b:int>>, amt decimal(10,2)"
        )
        got = [(r["id"], [tuple(p) for p in r["pairs"]], r["amt"])
               for r in df.orderBy("id").collect()]
    finally:
        spark.conf.set(key, prev)
    assert seen == [pd.DataFrame]
    assert df.columns == ["id", "pairs", "amt"]
    assert got == rows
