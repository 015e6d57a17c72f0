#!/usr/bin/env python3
"""Benchmark entry point: run one workload by name and seed.

    python3 perfbench/run.py --workload index_docs --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repository.  The benchmark
generates its seeded inputs under ``perfbench/.work`` (reused by seed and
size), starts a local Spark session through ``hive2es_offline_spark.session``
with ``local[<cpus>]``, runs one untimed warm-up iteration, then measures
closed-loop iterations (one client) for ``--seconds`` seconds, and at
least the workload's ``min_iterations`` of them.  Every iteration's output
is checked; a failed check or a raised error counts as a failed operation
and makes the command exit with code 1.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run (traced and untraced iterations
alternate; the difference of their medians is the tracing overhead).  The
line before it carries the host attestation and input sizes, and a full
report (per-iteration figures, span ledger) is written under
``perfbench/.work/reports``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

from queries import FAMILIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: end-to-end metrics (``--trace 0``)
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "queries_per_s": "req/s",
    "peak_rss_mb": "MB",
    "bytes_out_per_in": "ratio",
}

BOUNDARIES = ("after_quality_filter", "after_exact_dedup",
              "after_incremental_near_dup", "after_near_dup")

#: per-layer metrics (``--trace 1``); every workload reports all of them,
#: 0 where the workload does not touch the layer
PER_LAYER = {
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
    "py4j.calls.total": "count",
    "py4j.calls.build": "count",
    "plan.build_ms": "ms",
    **{f"plan.build_ms.{f}": "ms" for f in FAMILIES},
    "plan.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms",
    **{f"exec.ms.{f}": "ms" for f in FAMILIES},
    "exec.rows_scanned_per_row_returned": "ratio",
    "sources.read_table_ms": "ms",
    "analysis.analyze_ms": "ms",
    "document.build_ms": "ms",
    "routing.repartition_for_shards_ms": "ms",
    "routing.shard_skew": "ratio",
    "bundle.write_bundle_ms": "ms",
    "bundle.write_bundle_jobs": "count",
    "bundle.publish_bundle_ms": "ms",
    "bundle.bytes_written": "bytes",
    **{f"curate.stage.{b}_ms": "ms" for b in BOUNDARIES},
    "curate.tail_ms": "ms",
    "text.build_ms": "ms",
    "sampling.hash_split_ms": "ms",
    "dedup.connected_components_ms": "ms",
    "dedup.connected_components_jobs": "count",
    "snapshot.upsert_snapshot_ms": "ms",
    "export.write_jsonl_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.storage_peak_bytes": "bytes",
}

#: spans that build plans without acting on them (``plan.build_*``)
BUILD_SPANS = ("plan.build_documents", "text.pii_scrub", "text.boilerplate_scrub",
               "text.text_stats", "dedup.dedup_exact", "dedup.dedup_minhash",
               "dedup.minhash_signatures", "sampling.hash_split")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("index_docs", "curate_query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size: full (measured) or tiny (smoke test)")
    return p.parse_args(argv)


# -- host attestation --------------------------------------------------------

def _cpu_pressure() -> dict | None:
    try:
        with open("/proc/pressure/cpu") as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    out = {}
    for line in lines:
        if not line.strip():
            continue
        kind, *fields = line.split()
        out[kind] = {k: float(v) for k, v in (x.split("=") for x in fields)}
    return out


def _calibration_ms() -> float:
    """Time of a fixed single-threaded CPU loop: recorded, never used to
    rescale a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def host_attestation() -> dict:
    return {"cpu_pressure": _cpu_pressure(), "calibration_ms": _calibration_ms(),
            "cpus": len(os.sched_getaffinity(0)), "time": time.time()}


# -- process bookkeeping -------------------------------------------------------

def _child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def peak_rss_mb() -> dict:
    """Peak resident memory, in MB, of this Python driver and of its JVM
    (local-mode executors run inside it)."""
    jvm_kb = 0
    for pid in _child_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb += int(line.split()[1])
        except OSError:
            continue
    return {"python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm": jvm_kb / 1024.0}


def configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


#: driver JVM heap.  Initial size = maximum, so the heap never grows and
#: peak RSS does not depend on when GC decided to expand it (with a growing
#: heap, peak RSS spread by up to 22 % across seeds on a 4-core host).
HEAP = "2g"


def start_spark():
    from hive2es_offline_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def import_library() -> bool:
    """Import the library from this checkout (never from elsewhere)."""
    sys.path.insert(0, ROOT)
    try:
        import hive2es_offline_spark
    except ImportError as e:
        print(f"perfbench: cannot import hive2es_offline_spark from {ROOT}: {e}",
              file=sys.stderr)
        return False
    pkg = os.path.abspath(hive2es_offline_spark.__file__)
    if not pkg.startswith(ROOT + os.sep):
        print(f"perfbench: hive2es_offline_spark resolves outside the checkout: {pkg}",
              file=sys.stderr)
        return False
    return True


# -- metrics -------------------------------------------------------------------

def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    """p90, interpolated within the samples (never extrapolated past the
    largest, which matters for workloads with few calls a run)."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def end_to_end(wl, setup_s: float, rss_mb: dict, its) -> dict:
    job_s = _median([it.job_s for it in its])
    calls = [c for it in its for c in it.calls_s]
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": _median([it.src_rows for it in its]) / job_s if job_s else 0.0,
        "query_p50_ms": _median(calls) * 1000.0,
        "query_p90_ms": _p90(calls) * 1000.0,
        "queries_per_s": len(calls) / sum(calls) if calls else 0.0,
        "peak_rss_mb": sum(rss_mb.values()),
        "bytes_out_per_in": _median([it.bytes_out for it in its]) / wl.input_bytes(),
    }


def layer_metrics(it, tracer, counters: dict) -> dict:
    """Per-layer figures of one traced iteration."""
    n = it.index

    def span(name, what="ms"):
        return tracer.total(name, n, what)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.pop("trace.overhead_ms")
    m.pop("trace.overhead_frac")
    m["py4j.calls.total"] = counters["py4j"]
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "jvm_gc_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = counters[k]
    m["spark.storage_peak_bytes"] = max(it.detail.get("storage_samples", [0]) +
                                        [counters["storage_end"]])
    m["sources.read_table_ms"] = span("sources.read_table")
    m["analysis.analyze_ms"] = span("analysis.analyze_col") + span("analysis.analyze_text")
    m["document.build_ms"] = sum(span(f"document.{f}") for f in (
        "infer_field_set", "normalize_types", "scrub_nulls", "to_documents"))
    m["routing.repartition_for_shards_ms"] = span("routing.repartition_for_shards")
    m["bundle.write_bundle_ms"] = span("bundle.write_bundle")
    m["bundle.write_bundle_jobs"] = span("bundle.write_bundle", "jobs")
    m["bundle.publish_bundle_ms"] = span("bundle.publish_bundle")
    m["text.build_ms"] = sum(span(f"text.{f}") for f in (
        "pii_scrub", "boilerplate_scrub", "text_stats"))
    m["sampling.hash_split_ms"] = span("sampling.hash_split")
    m["dedup.connected_components_ms"] = span("dedup.connected_components")
    m["dedup.connected_components_jobs"] = span("dedup.connected_components", "jobs")
    m["snapshot.upsert_snapshot_ms"] = span("snapshot.upsert_snapshot")
    m["export.write_jsonl_ms"] = span("export.write_jsonl")

    counts = it.detail.get("shard_counts")
    if counts:
        m["routing.shard_skew"] = max(counts.values()) / (sum(counts.values()) / len(counts))
        m["bundle.bytes_written"] = it.bytes_out

    # the job: plan build is the spans that build plans without acting on
    # them, the rest of its wall time is execution
    job_build_ms = sum(span(s) for s in BUILD_SPANS)
    m["plan.build_ms"] = job_build_ms
    m["py4j.calls.build"] = sum(span(s, "py4j") for s in BUILD_SPANS)
    m["plan.build_jobs"] = sum(span(s, "jobs") for s in BUILD_SPANS)
    m["exec.ms"] = it.job_s * 1000.0 - job_build_ms
    frames = [s.result for s in tracer.spans
              if s.iteration == n and s.name == "plan.build_documents"]
    frames = [f[0] for f in frames] + it.detail.get("boundaries", [])
    phases = [tracer.catalyst_phases(df) for df in frames]
    # the requests: the benchmark times build and execute itself
    requests = it.detail.get("requests", [])
    m["plan.build_ms"] += sum(r["build_ms"] for r in requests)
    m["exec.ms"] += sum(r["exec_ms"] for r in requests)
    m["py4j.calls.build"] += sum(r["build_py4j"] for r in requests)
    m["plan.build_jobs"] += sum(r["build_jobs"] for r in requests)
    for f in FAMILIES:
        m[f"plan.build_ms.{f}"] = sum(r["build_ms"] for r in requests if r["family"] == f)
        m[f"exec.ms.{f}"] = sum(r["exec_ms"] for r in requests if r["family"] == f)
    phases += [r["catalyst"] for r in requests]
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = sum(p[k] for p in phases)
    if it.out_rows:
        m["exec.rows_scanned_per_row_returned"] = counters["input_records"] / it.out_rows

    stage_ms = it.detail.get("stage_ms", {})
    for b in BOUNDARIES:
        m[f"curate.stage.{b}_ms"] = stage_ms.get(b, 0.0)
    m["curate.tail_ms"] = stage_ms.get("tail", 0.0)
    return m


def trace_overhead(its) -> dict:
    """Traced minus untraced wall time: each traced iteration against the
    mean of the untraced iterations either side of it (which cancels the
    steady warming of the JVM across a run); median over traced
    iterations."""
    wall = {it.index: it.wall_s for it in its if not it.errors}
    diffs, fracs = [], []
    for i in wall:
        if i % 2 == 0 and i - 1 in wall and i + 1 in wall:
            base = (wall[i - 1] + wall[i + 1]) / 2
            diffs.append(wall[i] - base)
            fracs.append((wall[i] - base) / base)
    return {"trace.overhead_ms": _median(diffs) * 1000.0,
            "trace.overhead_frac": _median(fracs)}


# -- main ----------------------------------------------------------------------

def measure(wl, tracer, seconds: float, trace: bool):
    """Closed-loop iterations for ``seconds``, and at least the
    workload's ``min_iterations``.  A traced run alternates untraced and traced
    iterations, starts and ends untraced, and runs at least one traced
    iteration."""
    its, layers = [], []
    t0 = time.perf_counter()
    i = 1
    while (time.perf_counter() - t0 < seconds or i <= wl.min_iterations
           or (trace and (i <= 3 or i % 2 == 1))):
        traced = trace and i % 2 == 0
        if not traced:
            its.append(wl.run(i))
        else:
            tracer.active, tracer.iteration = True, i
            py0, job0 = tracer.py4j_calls(), tracer.job_id()
            it = wl.run(i, traced=True)
            tracer.active = False
            counters = tracer.spark_counters(job0, tracer.job_id())
            counters["py4j"] = tracer.py4j_calls() - py0
            counters["storage_end"] = tracer.storage_used()
            if not it.errors:
                layers.append((it, layer_metrics(it, tracer, counters)))
            its.append(it)
        i += 1
    return its, layers


def main(argv=None) -> int:
    args = parse_args(argv)
    if not import_library():
        return 2
    import gen
    from tracing import Tracer
    from workloads import WORKLOADS

    configure_environment()
    host_before = host_attestation()
    wl = WORKLOADS[args.workload](WORK, args.seed, args.size)
    inputs = wl.prepare(gen.InputCache(os.path.join(WORK, "inputs")))

    t0 = time.perf_counter()
    spark = start_spark()
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        wl.start(spark, tracer)
        warm = wl.run(0)
        setup_s = time.perf_counter() - t0
        its, layers = measure(wl, tracer, args.seconds, bool(args.trace))
        if args.trace:
            tracer.uninstall()
        rss_mb = peak_rss_mb()
    finally:
        stop_spark(spark)
        for d in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    host_after = host_attestation()

    all_its = [warm] + its
    failed = sum(1 for it in all_its if it.errors)
    untraced = [it for it in its if it.index % 2 == 1 or not args.trace]
    if args.trace:
        metrics = {k: _median([m[k] for _, m in layers]) for k in layers[0][1]} if layers else {}
        metrics.update(trace_overhead(its))
        units = PER_LAYER
    else:
        metrics = end_to_end(wl, setup_s, rss_mb, untraced)
        units = END_TO_END

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "inputs": inputs,
        "host": {"before": host_before, "after": host_after},
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "failed_frac": failed / len(all_its),
        "iterations": [{"index": it.index, "wall_s": it.wall_s, "job_s": it.job_s,
                        "calls_s": it.calls_s,
                        "src_rows": it.src_rows, "out_rows": it.out_rows,
                        "bytes_out": it.bytes_out, "errors": it.errors}
                       for it in all_its],
        "metrics": metrics,
    }
    if args.trace:
        report["layers"] = [m for _, m in layers]
        report["ledger"] = tracer.ledger()
        report["query_families"] = [r for it, _ in layers
                                    for r in it.detail.get("requests", [])]
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    path = os.path.join(WORK, "reports",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{args.size}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    for it in all_its:
        for e in it.errors:
            print(f"perfbench: iteration {it.index}: {e}", file=sys.stderr)

    print(json.dumps({"report": os.path.relpath(path, ROOT), "inputs": inputs,
                      "host": report["host"], "failed_frac": report["failed_frac"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_its),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
