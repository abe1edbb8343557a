"""The repo benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload extract-raw --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs from
the seed (cached under .perfbench/ in the checkout), starts one Spark
session at local[nproc] with a driver heap sized to the host, runs the
workload's set-up, then times units of work one after another (closed loop,
one client, one Spark job at a time) until --seconds of timed work, checking
every unit's output outside the timed window.

--trace 0 reports the end-to-end metrics. --trace 1 runs the units
untraced, with Spark's event log on, and untraced again, and reports the
per-layer metrics of the traced units (see perfbench/LAYERS.md). The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import measure
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Where inputs, outputs and every file Spark writes go; --state moves it.
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "docs_per_s": "docs/s",
    "run_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_KERNEL_STAGES = ("decode", "resize", "east_forward", "quad_decode", "lanms",
                  "postfilter", "order", "crop", "recognize", "page")

PER_LAYER = {
    "pipeline.driver_s": "s",
    "pipeline.scan_stage_s": "s",
    "pipeline.scan_mb": "MB",
    "pipeline.py_sent_mb": "MB",
    "pipeline.py_start_s": "s",
    "pipeline.py_init_s": "s",
    "pipeline.py_run_s": "s",
    "pipeline.ocr_stage_s": "s",
    "pipeline.ocr_tasks": "count",
    "pipeline.ocr_task_s.p50": "s",
    "pipeline.ocr_task_s.max": "s",
    "pipeline.payload_shuffle_mb": "MB",
    "pipeline.regroup_shuffle_mb": "MB",
    "pipeline.regroup_stage_s": "s",
    "pipeline.sink_stage_s": "s",
    "pipeline.between_stages_s": "s",
    "pipeline.sink_mb": "MB",
    "pipeline.exec_cpu_s": "s",
    "pipeline.gc_s": "s",
    **{f"kernel.{s}_ms": "ms" for s in _KERNEL_STAGES},
    "kernel.lanms_in": "count",
    "kernel.lanms_out": "count",
    "kernel.crops": "count",
    "ckpt.job_s": "s",
    "ckpt.commit_s": "s",
    "ckpt.resume_s": "s",
    "ckpt.files": "count",
    "pipeline.unattributed_s": "s",
    "attribution.miss_units": "count",
    "trace_overhead_s": "s",
}


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    ram_gb = mem_kb / (1 << 20)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_gb, 1),
        # a quarter of RAM, 1..8 GB: the session.py default of 24g does not
        # fit small hosts, and the machine is shared
        "driver_memory_gb": max(1, min(8, int(ram_gb // 4))),
        "python": platform.python_version(),
    }


def jvm_opts() -> str:
    return f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData"


def prepare_env():
    """Keep every file the run writes inside the state directory, and make
    the program's own defaults (not the caller's environment) decide its
    settings, apart from master and driver memory."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # spark-submit first runs a small launcher JVM; keep its files here too
        "SPARK_LAUNCHER_OPTS": jvm_opts(),
        "SPARK_LOCAL_DIRS": os.path.join(STATE, "spark-local"),
        "MSOCR_FIXTURES_DIR": os.path.join(STATE, "fixtures"),
    })
    sys.path.insert(0, ROOT)


def start_session(host: dict, event_dir: str | None = None):
    from manuscript_ocr_spark.session import get_spark

    confs = {
        "spark.driver.memory": f"{host['driver_memory_gb']}g",
        "spark.driver.extraJavaOptions": jvm_opts(),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        confs.update(measure.event_log_confs(event_dir))
    spark = get_spark(master=f"local[{host['nproc']}]", app_name="perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, host, event_dir=None):
    """Session start plus the workload's warm-up: the set-up time."""
    t = time.perf_counter()
    spark = start_session(host, event_dir)
    wl.open(spark)
    warm = os.path.join(STATE, "out", "warm")
    wl.warm_up(spark, warm)
    shutil.rmtree(warm, ignore_errors=True)
    return spark, time.perf_counter() - t


def run_units(spark, wl, seconds, spans, sampler, keep_notes=False):
    """Timed units, back to back, until `seconds` of timed work. Returns
    (walls, failed, attempted, notes)."""
    walls, notes = [], {}
    failed = attempted = 0
    while sum(walls) < seconds or not walls:
        i = len(walls)
        out = os.path.join(STATE, "out", f"unit-{i}")
        shutil.rmtree(out, ignore_errors=True)
        spans.unit = i
        result, ok = None, True
        with sampler.armed(), spans.span("unit"):
            t = time.perf_counter()
            try:
                result = wl.unit(spark, out, spans)
            except Exception:
                traceback.print_exc()
                ok = False
            walls.append(time.perf_counter() - t)
        attempted += wl.docs
        bad = wl.docs
        if ok:
            try:
                bad = wl.check(spark, out)
                if keep_notes:
                    notes[i] = wl.note(out, result)
            except Exception:
                traceback.print_exc()
        failed += bad
        shutil.rmtree(out, ignore_errors=True)
    return walls, failed, attempted, notes


def stop_session():
    """Stop Spark, then its JVM, and wait for the JVM and every process it
    started (the Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    t = time.perf_counter()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    pids = measure.descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    measure.wait_gone(pids, timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    print(f"stop_s {time.perf_counter() - t:.3f} (Spark, its JVM and workers ended)")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def untraced(wl, host, seconds):
    spark, setup_s = set_up(wl, host)
    sampler = measure.RssSampler(jvm_pid())
    try:
        walls, failed, attempted, _ = run_units(spark, wl, seconds, measure.Spans(), sampler)
    finally:
        sampler.close()
    metrics = {
        "docs_per_s": statistics.median(wl.docs / w for w in walls),
        "run_s": statistics.median(walls),
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak_bytes / measure.MB,
    }
    return metrics, walls, failed, attempted


def traced(wl, host, seconds, seed):
    """The units untraced, with the event log on, and untraced again, each
    in a session of its own (the event log is fixed per session). The
    traced units are attributed layer by layer. Later sessions in one JVM
    run faster, so the traced median is compared with the mean of the
    untraced medians on both sides of it."""
    event_dir = os.path.join(STATE, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    spans = measure.Spans()
    plain, failed, attempted = [], 0, 0
    sampler = None
    try:
        for with_log in (False, True, False):
            spark, _ = set_up(wl, host, event_dir if with_log else None)
            sampler = sampler or measure.RssSampler(jvm_pid())
            if with_log:
                walls, f, a, notes = run_units(spark, wl, seconds, spans, sampler, keep_notes=True)
            else:
                w, f, a, _ = run_units(spark, wl, seconds, measure.Spans(), sampler)
                plain.append(statistics.median(w))
            failed, attempted = failed + f, attempted + a
            spark.stop()   # also finishes the event log
    finally:
        if sampler is not None:
            sampler.close()

    log = measure.read_event_log(event_dir)
    per_unit = [wl.layers(spans, i, log, notes.get(i)) for i in notes]
    metrics = {m: 0.0 for m in PER_LAYER}
    for m in PER_LAYER:
        values = [u[m] for u in per_unit if m in u]
        if values:
            metrics[m] = statistics.median(values)
    misses = [u for u in per_unit
              if u["pipeline.unattributed_s"] > measure.ATTRIBUTION_TOLERANCE * u["wall_s"]]
    for u in misses:
        print(f"FLAG layers miss the unit wall by {u['pipeline.unattributed_s']:.3f} s "
              f"of {u['wall_s']:.3f} s (tolerance {measure.ATTRIBUTION_TOLERANCE:.0%})")
    metrics["attribution.miss_units"] = float(len(misses))
    metrics["trace_overhead_s"] = statistics.median(walls) - statistics.mean(plain)
    if wl.kernel_pages:
        from kernel_pass import kernel_pass
        from manuscript_ocr_spark.models.glyphs import build_weights

        metrics.update(kernel_pass(wl.kernel_pages(), build_weights()))
    os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
    spans.write(os.path.join(STATE, "trace", f"spans-{wl.name}-s{seed}.jsonl"))
    return metrics, walls, failed, attempted


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke tests")
    ap.add_argument("--state", help="directory for inputs, outputs and Spark's "
                    "files (default: .perfbench in the checkout)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be 0 or more")
    if args.state:
        global STATE
        STATE = os.path.abspath(args.state)

    prepare_env()
    try:
        import pyarrow
        import pyspark

        import manuscript_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from a checkout root",
              file=sys.stderr)
        return 2

    host = host_record()
    host.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__,
                workload=args.workload, seed=args.seed, tiny=args.tiny)
    print(json.dumps({"host": host}))

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](os.path.join(STATE, "inputs"), args.seed, args.tiny)
    print(f"inputs_s {time.perf_counter() - t:.3f} s (generated once per seed, then cached)")

    try:
        if args.trace:
            metrics, walls, failed, attempted = traced(wl, host, args.seconds, args.seed)
            units = PER_LAYER
        else:
            metrics, walls, failed, attempted = untraced(wl, host, args.seconds)
            units = END_TO_END
    finally:
        stop_session()
    print(f"units {len(walls)} walls_s {[round(w, 3) for w in walls]}")
    print(f"fail_frac {failed / attempted:.6f} ({failed} of {attempted} docs)")
    for name, unit in units.items():
        print(f"{name:34s} {metrics[name]:12.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
