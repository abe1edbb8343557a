"""The benchmark's workloads. Each one times a unit of work through the
program's public functions and checks the unit's output against the
expected output of its seed, outside the timed window.

A workload exposes:
  docs           input documents per timed unit, each checked
  open(spark)    load the generated tables
  warm_up(spark, out)  the set-up work after session start
  unit(spark, out, spans)  one timed unit, writing under `out`
  check(spark, out)  number of units whose output is wrong or missing
  note(out, result)  what a traced unit leaves for layers(), read from
                 `out` outside the timed window
  layers(spans, unit, log, note)  per-layer figures of one traced unit
  kernel_pages() pages for the single-process kernel pass, or None
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

import inputs
import measure


def _spans_of(rows) -> list:
    return [[s["kind"], s["text"], s["media_ref"], s["offset"], s["seq"]] for s in rows or ()]


def count_failures(expected: dict, doc_ids, spans_col) -> int:
    """Docs whose output spans differ from the expected ones or are
    missing; an output doc that is duplicated or not expected counts too."""
    got, extra = {}, 0
    for doc_id, spans in zip(doc_ids, spans_col):
        if doc_id in got or doc_id not in expected:
            extra += 1
        got[doc_id] = _spans_of(spans)
    wrong = sum(1 for d, exp in expected.items() if got.get(d) != exp)
    return min(len(expected), wrong + extra)


class ExtractRaw:
    """pipeline.extract_spans into the parquet sink, raw 8-bit payloads."""

    name = "extract-raw"
    sizes = "extract"

    def __init__(self, cache: str, seed: int, tiny: bool):
        self.dir = inputs.page_inputs(cache, self.sizes, seed, tiny)
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = json.load(f)
        self.docs = len(self.expected)

    def open(self, spark):
        self.docs_df = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        self.media_df = spark.read.parquet(os.path.join(self.dir, "media_raw.parquet"))

    # The first unit after session start runs ~4x slower than later ones
    # (cold JVM, Python workers starting), and the next few still speed up
    # while the JIT compiles: set-up runs the first two.
    WARM_UNITS = 2

    def warm_up(self, spark, out):
        for _ in range(self.WARM_UNITS):
            self.unit(spark, out, measure.Spans())

    def unit(self, spark, out, spans):
        from manuscript_ocr_spark.pipeline import extract_spans

        with spans.span("pipeline.extract_spans"):
            df = extract_spans(self.docs_df, self.media_df)
        with spans.span("sink.write"):
            df.write.mode("overwrite").parquet(out)

    def check(self, spark, out) -> int:
        t = pq.read_table(out, columns=["doc_id", "spans"])
        return count_failures(self.expected, t.column("doc_id").to_pylist(),
                              t.column("spans").to_pylist())

    def note(self, out, result):
        return None

    def kernel_pages(self, n: int = 24) -> list:
        """A fixed sample of the pool's pages (every kind is present: the
        pool is stratified) as (payload, height, width, channels)."""
        t = pq.read_table(os.path.join(self.dir, "media_raw.parquet")).to_pylist()
        step = max(1, len(t) // n)
        return [(r["pixels"], r["height"], r["width"], r["channels"]) for r in t[::step][:n]]

    def layers(self, spans, unit, log, note) -> dict:
        (u,) = spans.of_unit(unit, "unit")
        windows = {
            "driver": [(s["start"], s["end"]) for s in spans.of_unit(unit, "pipeline.extract_spans")],
            "between": [(s["start"], s["end"]) for s in spans.of_unit(unit, "sink.write")],
        }
        return measure.attribute_unit(log, u["start"], u["end"], windows)


class CkptResume(ExtractRaw):
    """operators.checkpoint: an interrupted run, then its resume, into a
    fresh directory; output read back through read_checkpointed."""

    name = "ckpt-resume"
    sizes = "ckpt"
    kernel_pages = None   # 16 pages: OCR is not what this workload measures
    N_BUCKETS = 4
    FAIL_AFTER = 2

    def _interrupted(self, out):
        from manuscript_ocr_spark.operators.checkpoint import extract_with_checkpoint

        try:
            extract_with_checkpoint(self.docs_df, self.media_df, out,
                                    n_buckets=self.N_BUCKETS, fail_after=self.FAIL_AFTER)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the interrupted checkpoint run did not stop")

    # A cold interrupted run (it passes the extraction, the staged write and
    # the per-bucket commits once), then one whole unit.
    WARM_UNITS = 1

    def warm_up(self, spark, out):
        self._interrupted(out)
        super().warm_up(spark, out)

    def unit(self, spark, out, spans):
        from manuscript_ocr_spark import pipeline
        from manuscript_ocr_spark.operators.checkpoint import extract_with_checkpoint

        shutil.rmtree(out, ignore_errors=True)
        with measure.wrapped(pipeline, "extract_spans", spans, "pipeline.extract_spans"):
            with spans.span("ckpt.interrupted"):
                self._interrupted(out)
            with spans.span("ckpt.resume"):
                res = extract_with_checkpoint(self.docs_df, self.media_df, out,
                                              n_buckets=self.N_BUCKETS)
        if len(res["skipped"]) != self.FAIL_AFTER or \
                len(res["committed"]) != self.N_BUCKETS - self.FAIL_AFTER:
            raise RuntimeError(f"resume did not pick up the interrupted run: {res}")
        return res

    def check(self, spark, out) -> int:
        from manuscript_ocr_spark.operators.checkpoint import read_checkpointed

        rows = read_checkpointed(spark, out).select("doc_id", "spans").collect()
        return count_failures(self.expected, [r["doc_id"] for r in rows],
                              [[s.asDict() for s in r["spans"]] for r in rows])

    def note(self, out, result):
        from manuscript_ocr_spark.operators.checkpoint import committed_buckets

        return {"result": result, "manifests": committed_buckets(out)}

    def layers(self, spans, unit, log, note) -> dict:
        (u,) = spans.of_unit(unit, "unit")
        manifests = note["manifests"]
        first = spans.of_unit(unit, "ckpt.interrupted")[0]
        resume = spans.of_unit(unit, "ckpt.resume")[0]
        job_s = []
        commit = []
        for call, buckets in ((first, note["result"]["skipped"]),
                              (resume, note["result"]["committed"])):
            wall = manifests[buckets[0]]["wall_ms"] / 1000.0
            job_s.append(wall)
            commit.append((call["start"] + wall, call["end"]))
        windows = {
            "driver": [(s["start"], s["end"]) for s in spans.of_unit(unit, "pipeline.extract_spans")],
            "ckpt_commit": commit,
            "between": [(c["start"], c["end"]) for c in (first, resume)],
        }
        out = measure.attribute_unit(log, u["start"], u["end"], windows)
        out["ckpt.job_s"] = sum(job_s)
        out["ckpt.resume_s"] = resume["end"] - resume["start"]
        out["ckpt.files"] = float(sum(len(m["files"]) for m in manifests.values()))
        return out


WORKLOADS = {w.name: w for w in (ExtractRaw, CkptResume)}
