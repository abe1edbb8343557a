"""Per-partition checkpoint / resume (north_rule: "progress is checkpointed
per-partition ... so any failed run resumes from the last committed
snapshot"; reference analog: resume_from/last_state.pt,
/root/reference/src/manuscript/detectors/_east/train_utils.py:264-280).

No Iceberg runtime jars exist in this sandbox, so the commit manifest
emulates Iceberg snapshot semantics over parquet directories (FIXTURES.md
"Storage & loading"): docs are salted into `n_buckets` hash buckets
(pmod(xxhash64(doc_id), n) — the explicit salting of the north rule, same
defusal as AQE cannot give UDF stages).

Write path — ONE job, per-bucket commits, no re-read: all pending buckets
are extracted in one pass (a hash bucket is not prunable by any format) and
written `partitionBy(__bucket)` to a staging directory under an Observation
that counts each bucket's rows and spans. Each bucket directory is then
atomically renamed into <out>/spans/bucket=<b>/, its per-file rows read from
the parquet footers locally (no Spark job) and checked to sum to the
observed rows (else raise, bucket uncommitted), and its manifest JSON
committed by atomic rename to <out>/_manifest/<b>.json. A rerun skips every
bucket with a manifest and recomputes the rest in one new job; uncommitted
data is overwritten (idempotent). Readers see only manifest-committed
buckets. On Iceberg this maps 1:1 onto snapshot commits.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import __version__


def bucket_of(col, n_buckets: int):
    """Salted bucket id: pmod(xxhash64(doc_id), n)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def committed_buckets(out_dir: str) -> dict:
    mdir = os.path.join(out_dir, "_manifest")
    out = {}
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    m = json.load(f)
                out[int(m["bucket"])] = m
    return out


def _file_rows(bucket_dir: str) -> dict:
    """{data file basename: rows} from the parquet footers (no Spark job)."""
    names = sorted(os.listdir(bucket_dir)) if os.path.isdir(bucket_dir) else []
    return {n: pq.read_metadata(os.path.join(bucket_dir, n)).num_rows
            for n in names if not n.startswith((".", "_")) and not n.endswith(".crc")}


def _commit_manifest(out_dir: str, manifest: dict):
    mdir = os.path.join(out_dir, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"{manifest['bucket']}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, final)  # atomic commit


def extract_with_checkpoint(
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    **extract_kwargs,
) -> dict:
    """Run the extraction pipeline over all pending buckets in ONE job with
    per-bucket commits.

    Returns {"committed": [...], "skipped": [...], "out_dir": ...}.
    `fail_after` aborts after N newly committed buckets (fault injection for
    the resume test) — the remaining buckets stay staged but UNcommitted, so
    a rerun recomputes them. Output table = parquet at <out_dir>/spans
    (manifest-committed buckets), identical rows to pipeline.extract_spans
    over the same input.

    Raises ValueError on resume if existing manifests were written under a
    different n_buckets: the bucket assignment changes with the modulus, so
    mixing moduli would silently drop and duplicate documents.
    """
    from ..pipeline import extract_spans

    already = committed_buckets(out_dir)
    for b, m in already.items():
        if m.get("n_buckets") != n_buckets:
            raise ValueError(
                f"resume mismatch: bucket {b} was committed with "
                f"n_buckets={m.get('n_buckets')}, this run uses "
                f"n_buckets={n_buckets}; rerun with the original modulus or "
                f"a fresh out_dir"
            )
    skipped = sorted(already)
    pending = [b for b in range(n_buckets) if b not in already]
    committed: list[int] = []
    if not pending:
        return {"committed": committed, "skipped": skipped, "out_dir": out_dir}

    t0 = time.time()
    docs_in = docs
    if already:
        # prune committed docs BEFORE the pipeline (one predicate on the
        # narrow docs scan; the media scan is then pruned transitively by the
        # refs semi-join)
        docs_in = docs.filter(
            ~bucket_of(F.col("doc_id"), n_buckets).isin([int(b) for b in skipped])
        )
    out = extract_spans(docs_in, media, **extract_kwargs).withColumn(
        "__bucket", bucket_of(F.col("doc_id"), n_buckets)
    )
    obs = Observation()  # manifest stats ride the write: rows, spans per bucket
    hits = [(b, F.col("__bucket") == b) for b in pending]
    stats = [F.count_if(h).alias(f"rows_{b}") for b, h in hits] + [
        F.sum(F.when(h, F.size("spans")).otherwise(0)).alias(f"spans_{b}") for b, h in hits]
    staging = os.path.join(out_dir, "_staging")
    out.observe(obs, *stats).write.mode("overwrite").partitionBy("__bucket").parquet(staging)
    observed = obs.get  # lands with the write's completion event
    job_wall_ms = int((time.time() - t0) * 1000)

    spans_root = os.path.join(out_dir, "spans")
    os.makedirs(spans_root, exist_ok=True)
    for b in pending:
        src = os.path.join(staging, f"__bucket={b}")
        dst = os.path.join(spans_root, f"bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)  # uncommitted leftover of a crash
        if os.path.isdir(src):
            os.replace(src, dst)  # atomic publish
        files, rows = _file_rows(dst), observed[f"rows_{b}"]
        if sum(files.values()) != rows:
            raise RuntimeError(f"bucket {b} left uncommitted: parquet footers hold "
                               f"{sum(files.values())} rows, the write observed {rows}")
        _commit_manifest(out_dir, {
            "bucket": b, "n_buckets": n_buckets,
            "rows": rows, "spans": observed[f"spans_{b}"] or 0,
            # one shared extraction job: the scan+OCR wall is paid once
            # for all pending buckets, not once per bucket
            "wall_ms": job_wall_ms, "job_buckets": len(pending),
            "engine_version": __version__,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "files": files,  # lineage: one parquet file per write task
        })
        committed.append(b)
        if fail_after is not None and len(committed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
    shutil.rmtree(staging, ignore_errors=True)

    return {"committed": committed, "skipped": skipped, "out_dir": out_dir}


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY manifest-committed buckets (an uncommitted bucket directory
    left by a crash is invisible to readers until its manifest lands)."""
    spans_root = os.path.join(out_dir, "spans")
    paths = [
        os.path.join(spans_root, f"bucket={b}")
        for b in sorted(committed_buckets(out_dir))
    ]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    return spark.read.option("basePath", spans_root).parquet(*paths)
