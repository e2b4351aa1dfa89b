"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client thread, Spark as
``local[N]`` with N = min(2, nproc). Set-up (session start, inputs
generated from the seed and written to parquet, one warm-up pass on a small
input from another seed) is reported as ``setup_s``; then passes of the
workload repeat until ``--seconds`` have elapsed (at least one).

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` measures an untraced loop, then a traced one, and reports the
per-layer metrics of the traced loop plus the tracing overhead (traced minus
untraced end-to-end); its spans are kept in
``.perfbench_work/spans-<workload>-<seed>.jsonl``. The last line of standard
output is the JSON result; the exit code is 0 only when every output was
correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3
WARM_SEED_OFFSET = 1_000_003

SPANS = (
    "dag.run",
    "sources.index",
    "operators.model",
    "operators.jaccard",
    "catalog.insert",
    "catalog.delta",
    "resolvers.cc",
    "query.bulk",
    "query.lookup",
    "query.refresh",
    "streaming.batch",
)
SPAN_FIELDS = ("s", "jobs_s", "driver_s", "errors", "jobs", "tasks", "shuffle_records", "shuffle_bytes")
PROGRESS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
}
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_s", "task_wait_s", "gc_s", "spill_bytes", "failed_tasks")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "matchbox_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def environment(load1: float, master: str) -> dict:
    import pyspark

    rev = None  # a checkout without .git is identified by source_sha256
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return {
        "nproc": nproc(),
        "load1_at_start": round(load1, 2),
        "uptime_s": round(uptime),
        "git_rev": rev,
        "source_sha256": source_digest(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "master": master,
    }


def start_spark(work: str, trace: bool, master: str):
    from matchbox_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cores = int(master[len("local[") : -1])
    return get_spark("perfbench", master=master, shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it launched, waiting for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def install_tracing(tr) -> None:
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.operators.linkers import DeterministicLinker
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG, Matcher
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    from perfbench import workloads

    tr.wrap(DAG, "run", "dag.run")
    tr.wrap(SourceConfig, "index", "sources.index")
    tr.wrap(NaiveDeduper, "dedupe", "operators.model")
    tr.wrap(workloads.JaccardDeduper, "dedupe", "operators.model")
    tr.wrap(DeterministicLinker, "link", "operators.model")
    tr.wrap(workloads, "jaccard_join", "operators.jaccard")
    for m in ("insert_source_index", "insert_model_edges", "insert_resolver_clusters"):
        tr.wrap(Catalog, m, "catalog.insert")
    for m in (
        "insert_source_index_delta",
        "insert_source_index_delta_mapped",
        "insert_model_edges_delta",
        "insert_block_keys_delta",
        "merge_resolver_clusters_delta",
    ):
        tr.wrap(Catalog, m, "catalog.delta")
    tr.wrap(Components, "compute_clusters", "resolvers.cc")
    tr.wrap(Matcher, "lookup", "query.lookup")
    tr.wrap(Matcher, "refresh", "query.refresh")


def measure(wl, inputs, seconds: float, tr=None):
    from perfbench.workloads import PassAborted, Recorder

    rec = Recorder()
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < seconds:
        try:
            wl.run_pass(inputs, rec, tr)
        except PassAborted:
            pass
        passes += 1
    rec.passes = passes
    return rec


def end_to_end(rec, setup_s: float) -> dict:
    def med(v):
        return statistics.median(v) if v else None

    return {
        "setup_s": setup_s,
        "pipeline_s": med(rec.pipeline_s),
        "query_s": med(rec.query_s),
        "lookup_p50_ms": med(rec.lookup_ms),
        "lookup_p90_ms": statistics.quantiles(rec.lookup_ms, n=10)[8] if len(rec.lookup_ms) > 1 else None,
    }


def per_layer(tr, event_log: str, rec, window, session_s: float, rss_mb: float, overhead: dict) -> dict:
    from perfbench import tracing as trace

    sm = trace.span_metrics(tr.spans, trace.parse_event_log(event_log), window)
    units = max(rec.units, 1)
    out: dict[str, float] = {"session.start_s": session_s, "driver.peak_rss_mb": rss_mb}
    for span in SPANS:
        m = sm.get(span, {})
        per = max(len(rec.lookup_ms), 1) if span == "query.lookup" else units
        for f in SPAN_FIELDS:
            out[f"{span}.{f}"] = m.get(f, 0.0) if f == "errors" else m.get(f, 0.0) / per
    out["operators.jaccard.pairs_out"] = rec.pairs_out / units
    shuffled = sm.get("operators.jaccard", {}).get("shuffle_records", 0.0)
    out["operators.jaccard.yield"] = rec.pairs_out / shuffled if shuffled else 0.0
    out["catalog.rows_written"] = rec.rows_written / units
    out["resolvers.cc.edges_in"] = rec.model_edges / units
    for name, key in PROGRESS.items():
        out[f"streaming.{name}"] = sum(p.get(key, 0) for p in rec.progress) / units
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = sm["spark"][f] / units
    out.update(overhead)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "matchbox_spark", "__init__.py")):
        print(f"perfbench: no matchbox_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import matchbox_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(matchbox_spark.__file__))) != ROOT:
        print("perfbench: matchbox_spark imported from outside the checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench import workloads
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load1 = os.getloadavg()[0]
    # two task slots leave cores to the Python driver and the JVM's GC and
    # JIT threads; on a 4-core VM the workloads ran no slower than local[4]
    master = f"local[{min(2, nproc())}]"
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace), master)
        session_s = time.perf_counter() - t0

        wl = workloads.WORKLOADS[args.workload](spark, work)
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            inputs = wl.prepare(args.seed)
            rounds.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.prepare(args.seed + WARM_SEED_OFFSET, warm=True)
        warm_rec = workloads.Recorder()
        try:
            wl.run_pass(warm, warm_rec)
        except workloads.PassAborted:
            pass
        setup_s = session_s + statistics.median(rounds) + (time.perf_counter() - t)

        rec = measure(wl, inputs, args.seconds)
        records = [warm_rec, rec]
        if args.trace:
            tr = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
            install_tracing(tr)
            t_lo = time.time()
            try:
                rec_t = measure(wl, inputs, args.seconds, tr)
            finally:
                tr.uninstall()
            window = (t_lo, time.time())
            records.append(rec_t)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        spark = None

        e2e = end_to_end(rec, setup_s)
        if args.trace:
            e2e_t = end_to_end(rec_t, setup_s)
            overhead = {
                "trace.pipeline_overhead_s": _diff(e2e_t, e2e, "pipeline_s"),
                "trace.query_overhead_s": _diff(e2e_t, e2e, "query_s"),
                "trace.lookup_p50_overhead_ms": _diff(e2e_t, e2e, "lookup_p50_ms"),
            }
            from perfbench.tracing import find_event_log

            tr.write(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
            values = per_layer(
                tr, find_event_log(os.path.join(work, "events")), rec_t, window, session_s, rss_mb, overhead
            )
            declared = spec["per_layer"]
        else:
            values = e2e
            declared = spec["end_to_end"]

        attempted = sum(r.attempted for r in records)
        failed = sum(r.failed for r in records)
        metrics = {}
        for m in declared:
            v = values.get(m["name"])
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = failed == 0 and attempted > 0 and all(m["value"] is not None for m in metrics.values())

        print("perfbench env " + json.dumps(environment(load1, master)))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": wl.describe(inputs),
            "passes": rec.passes,
            "samples": {
                "pipeline_s": [round(v, 4) for v in rec.pipeline_s],
                "query_s": [round(v, 4) for v in rec.query_s],
                "lookup_ms": [round(v, 1) for v in rec.lookup_ms],
            },
            "setup_rounds_s": rounds,
            "session_start_s": session_s,
            "problems": [p for r in records for p in r.problems],
        }
        if args.trace:
            detail["traced_end_to_end"] = e2e_t
            detail["untraced_end_to_end"] = e2e
        print("perfbench detail " + json.dumps(detail))
        for name, m in metrics.items():
            print(f"perfbench metric {name} {m['value']} {m['unit']}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _diff(a: dict, b: dict, key: str):
    if a[key] is None or b[key] is None:
        return None
    return a[key] - b[key]


if __name__ == "__main__":
    sys.exit(main())
