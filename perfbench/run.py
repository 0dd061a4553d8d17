"""kgspark benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload build_docheavy --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts Spark on
``local[<cpus>]``, runs the workload, checks its outputs and prints one
line per metric followed by a final JSON line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` installs span wrappers, turns on
the Spark event log and reports the per-layer metrics instead (and
writes the spans to ``.perfbench/spans-<workload>-<seed>.json``).

Every file the run writes stays under ``.perfbench/`` in the checkout;
its scratch directory is removed when the run ends, after the Spark JVM
and every other process the run started have ended (``procs.py``).  Exits non-zero if
any correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("build_docheavy", "ingest_query")
DRIVER_HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "fixtures.spans_s": "s", "fixtures.span_rows": "rows",
    "extract.mentions_s": "s", "extract.mention_rows": "rows",
    "extract.base_quads_s": "s", "extract.quad_rows": "rows",
    "extract.media_s": "s",
    "link.edges_s": "s", "link.norms": "count", "link.edges": "count",
    "link.shuffle_bytes": "bytes",
    "cc.labels_s": "s", "cc.components": "count", "cc.driver_path": "bool",
    "generate.entities_s": "s", "generate.attrs_s": "s", "generate.props_s": "s",
    "generate.media_s": "s", "generate.triples_s": "s", "generate.shuffle_bytes": "bytes",
    "checkpoint.fingerprint_s": "s", "checkpoint.log_s": "s",
    "checkpoint.buckets_skipped": "count",
    "catalog.bytes": "bytes", "catalog.files": "count",
    "runner.self_s": "s",
    "rdfio.store_write_s": "s", "rdfio.store_graphs": "count", "rdfio.store_files": "count",
    "rdfio.open_s": "s", "rdfio.replace_s": "s", "rdfio.files_per_replace": "count",
    "sparql.lookup_mem_s": "s", "sparql.scan_mem_s": "s", "sparql.update_s": "s",
    "spark.tasks": "count", "spark.task_failures": "count", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.busy_ratio": "ratio",
    "trace.build_s": "s", "trace.link_cc_share": "ratio",
    "workload.resume_s": "s", "workload.ingest_p50_s": "s", "workload.lookup_p50_s": "s",
    "workload.scan_p50_s": "s", "workload.update_p50_s": "s", "workload.ops_per_s": "ops/s",
    "workload.triples_per_s": "triples/s",
}
LAYER_SPANS = {"link.shuffle_bytes": "link", "generate.shuffle_bytes": "generate"}


def _tail(xs: list[float]) -> str:
    """p50 plus the highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if not n:
        return "n=0"
    p50 = statistics.median(xs)
    for permille in (999, 990, 950, 900, 750):
        if n * (1000 - permille) >= 10 * 1000:
            q = statistics.quantiles(xs, n=1000, method="inclusive")[permille - 1]
            return f"p50={p50:.4f} p{permille / 10:g}={q:.4f} n={n}"
    return f"p50={p50:.4f} n={n} (fewer than 10 samples beyond any tail percentile)"


def _set_env(tmp: str) -> None:
    """Keep every write of Spark, its JVM and the Python workers inside
    the run's scratch directory; give the workers kgspark on their path."""
    for d in ("local", "py", "java", "events", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.join(ROOT, "tests")]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None


def _start_spark(tmp: str, trace: bool):
    from kgspark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # The heap starts at its maximum size.  Otherwise G1 grows it in
    # large steps whenever its GC time ratio is exceeded, and whether a
    # run happened to cross that point spread the JVM's peak RSS over
    # ten seeds of one workload by 0.23 of its median (quartile distance).
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf), cpus


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    import procs

    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    try:
        return _run_in(tmp, workload, seed, seconds, trace)
    finally:
        # the JVM and its Python workers write into tmp until they end
        left = procs.stop_descendants()
        if left:
            print(f"stopped processes left running: {left}", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)


def _run_in(tmp: str, workload: str, seed: int, seconds: float, trace: bool) -> int:
    import procs
    import tracing
    import workloads as W

    _set_env(tmp)
    if workload == "build_docheavy":
        inputs = W.prepare_build(tmp, seed)
    else:
        inputs = W.prepare_ingest(tmp, seed, n_batches=int(seconds) + 3)

    out = W.Outcome()
    rec = undo = None
    t0 = time.perf_counter()
    spark, cpus = _start_spark(tmp, trace)
    try:
        start_s = time.perf_counter() - t0
        if trace:
            rec = tracing.SpanRecorder(uuid.uuid4().hex, spark.sparkContext)
            undo = tracing.install(rec)
        store = os.path.join(tmp, "store")
        if workload == "build_docheavy":
            W.setup_build(spark, out, inputs)
            setup_s = time.perf_counter() - t0
            W.measure_build(spark, out, tmp, seed, inputs,
                            os.path.join(OUT_DIR, "fingerprints.json"), rec)
            main_ops = out.ops.get("build", [])
        else:
            client = W.setup_ingest(spark, out, store, inputs)
            setup_s = time.perf_counter() - t0
            W.measure_ingest(spark, out, seed, seconds, inputs, client, rec)
            main_ops = out.ops.pop("step", [])
        peak = _peak_rss_mb(spark)
    finally:
        if undo:
            undo()
        procs.stop_spark(spark)
    wall = time.perf_counter() - t0

    if not main_ops:
        print("no operation completed", file=sys.stderr)
        return 1
    op_p50 = statistics.median(main_ops)
    if workload == "build_docheavy":
        rate = out.values["triples"] / op_p50
    else:
        rate = out.values["triples"] / sum(out.ops["ingest"])
    error_rate = out.failed / out.attempted

    print(f"workload={workload} seed={seed} cpus={cpus} trace={int(trace)}")
    for kind, xs in sorted(out.ops.items()):
        print(f"  {kind}_s: {_tail(xs)}")
    for k, v in sorted(out.values.items()):
        print(f"  {k}: {v:.4f}")
    print(f"  triples_per_s: {rate:.4f}")
    print(f"  error_rate: {error_rate:.4f} ({out.failed}/{out.attempted})")

    if trace:
        metrics, counters = _layer_metrics(tmp, rec, out, start_s, wall, cpus)
        metrics["workload.triples_per_s"] = rate
        rec.dump(os.path.join(OUT_DIR, f"spans-{workload}-{seed}.json"), counters)
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "op_p50_s": op_p50, "peak_rss_mb": peak}
        units = END_TO_END
    for k in units:
        print(f"  {k}: {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if out.failed == 0 else 1


def _layer_metrics(tmp: str, rec, out, start_s: float, wall: float, cpus: int):
    """Per-layer metrics of a traced run, and the event-log counters of
    each span."""
    import tracing

    groups, total = tracing.event_log_counters(os.path.join(tmp, "events"))
    counters = {int(g[5:]): c for g, c in groups.items() if g.startswith("span-")}
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({k: v for k, v in out.layer.items() if k in PER_LAYER})
    if "trace.layer_sum_s" in out.layer:
        print(f"  trace.layer_sum_s: {out.layer['trace.layer_sum_s']:.4f} "
              f"(trace.build_s {out.layer['trace.build_s']:.4f})")
    metrics["session.start_s"] = start_s
    for name, layer in LAYER_SPANS.items():
        metrics[name] = sum(c["shuffle_bytes"] for sid, c in counters.items()
                            if rec.spans[sid]["layer"] == layer)
    metrics.update({
        "spark.tasks": total["tasks"], "spark.task_failures": total["task_failures"],
        "spark.shuffle_bytes": total["shuffle_bytes"], "spark.spill_bytes": total["spill_bytes"],
        "spark.gc_s": total["gc_s"], "spark.busy_ratio": total["run_s"] / (wall * cpus),
    })

    def med(kind):
        return statistics.median(out.ops[kind]) if out.ops.get(kind) else 0.0

    metrics.update({
        "workload.resume_s": med("resume"), "workload.ingest_p50_s": med("ingest"),
        "workload.lookup_p50_s": med("lookup"), "workload.scan_p50_s": med("scan"),
        "workload.update_p50_s": med("update"),
        "workload.ops_per_s": out.values.get("ops_per_s", 0.0),
    })
    return metrics, counters


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import kgspark
        import oracle_kg  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(kgspark.__file__).startswith(os.path.join(ROOT, "kgspark") + os.sep):
        print(f"kgspark is not the checkout's copy: {kgspark.__file__}", file=sys.stderr)
        return 2
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
