"""Seeded benchmark of the vector engine.

    python3 perfbench/run.py --workload facade --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; set-up builds everything the workload needs in a fresh
directory under ``.perfbench/`` (several times, reporting the median);
untimed warm-up calls follow; then one closed-loop client calls the
engine for ``--seconds`` seconds and every output is checked against a
numpy oracle.

With ``--trace 0`` the last line of standard output is a JSON object
with the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics instead, folded from spans around each engine call and from
Spark's event log, which only traced runs enable. The lines before it
are a readable report: every metric with its unit and sample count,
the Spark settings, and host steal and load as diagnostics.

Exit codes: 0 when every output was right, 1 when a check failed (the
JSON line still reports the failures), 2 when the engine cannot be
imported or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# Spark gets one task slot per SLOT_SHARE cores. An Arrow or pandas UDF
# task keeps a JVM task thread and a Python worker busy at once, so with
# a slot per core the process tree runs about twice as many busy threads
# as there are cores, and the runs measure the scheduler. On a 4-core
# host local[2] was also no slower: knn_join_bulk took 6.6-6.7 s and 16
# CPU-seconds against 7.0-8.1 s and 21-23 CPU-seconds on local[4], a
# cached facade read 167-178 ms against 179-188 ms.
SLOT_SHARE = 2
DRIVER_MEMORY = "2g"
# a fixed young generation: G1 otherwise resizes it as it goes, and in
# three of ten facade runs it grew by ~450 MB, which made resident
# memory bimodal. The old generation, where cached data lives, still
# grows only as it is used.
YOUNG_GEN = "768m"
# share of a traced run's window measured without spans or job groups,
# the baseline for the tracing overhead
UNTRACED_SHARE = 0.5

OPS = (
    "api.knn", "api.knn_filtered", "api.knn_rebuild", "api.write",
    "bulk_knn.join", "ann_join.join", "dedup.minhash", "dedup.exact",
)
SPARK_FIELDS = (
    "jobs", "tasks", "run_s", "cpu_s", "gc_s", "wait_s",
    "shuffle_mb", "spill_mb", "py_mb", "failed_tasks",
)
SETUP_LAYERS = (
    "session.start_s", "api.build_s", "grid_index.build_s", "grid_index.stats_s",
    "grid_index.cells", "similarity.train_s", "similarity.encode_s",
    "snapshot.bytes_per_vector_byte",
)
END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB", "recall": "ratio"}
# printed in the report lines only: on a shared host their run-to-run
# spread is as wide as a bound could be or wider (see METRICS.md)
REPORT_ONLY_UNITS = {
    "items_per_cpu_s": "1/s", "wall_p50_ms": "ms", "side_wall_p50_ms": "ms", "cpu_p50_ms": "ms",
    "side_cpu_p50_ms": "ms",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order (see METRICS.md)."""
    names = []
    for op in OPS:
        fields = ["call_s", "proc_cpu_s", "driver_s"]
        if not op.startswith("api."):
            fields += ["plan_s", "exec_s"]
        if op != "api.write":
            fields += list(SPARK_FIELDS) + ["released"]
        else:
            fields += ["jobs"]
        names += [f"{op}.{f}" for f in fields]
    return names + list(SETUP_LAYERS) + [
        "dedup.minhash.recall", "dedup.minhash.precision", "trace.overhead_pct", "trace.p50_ms",
    ]


def _unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms"), ("_pct", "%")):
        if tail.endswith(suffix):
            return unit
    return "ratio" if tail in ("recall", "precision", "bytes_per_vector_byte") else "count"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(rundir: str, cpus: str, trace: bool):
    from lightweight_vector_database_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(rundir, "local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')} -XX:-UsePerfData "
            f"-Xmn{YOUNG_GEN}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(rundir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(rundir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace, rundir: str) -> int:
    import spans
    from workloads import WORKLOADS, Harness

    cores = len(os.sched_getaffinity(0))
    cpus = str(max(1, cores // SLOT_SHARE))
    with spans.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(rundir, cpus, bool(args.trace))
        session_s = time.perf_counter() - t0
        h = Harness(spark, rundir, args.seed)
        h.note("session.start_s", session_s)
        w = WORKLOADS[args.workload](h)
        try:
            reps = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                w.setup()
                reps.append(time.perf_counter() - t)
            if hasattr(w, "prepare_oracle"):
                w.prepare_oracle()
            t = time.perf_counter()
            w.warmup()
            warmup_s = time.perf_counter() - t
            h.timing = True
            host = spans.HostWindow()
            tracer = spans.Tracer() if args.trace else None
            window_start = time.perf_counter()
            for share, traced in (
                ((UNTRACED_SHARE, False), (1 - UNTRACED_SHARE, True)) if args.trace
                else ((1.0, False),)
            ):
                h.tracer = tracer if traced else None
                end = time.perf_counter() + args.seconds * share
                while time.perf_counter() < end:
                    w.step()
            window_s = time.perf_counter() - window_start
            host = host.report()
            h.tracer = None
            app_id = spark.sparkContext.applicationId
        finally:
            stop_spark(spark)
    e2e = w.metrics()
    e2e["setup_s"] = session_s + statistics.median(reps)
    e2e["peak_rss_mb"] = rss.peak_mb

    attempted = len(h.calls)
    failed = sum(not c.ok for c in h.calls)
    info = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEMORY, "young_gen": YOUNG_GEN,
        "window_s": round(window_s, 3),
        "session_s": round(session_s, 3), "setup_reps_s": [round(r, 3) for r in reps],
        "warmup_s": round(warmup_s, 3), **host, "app_id": app_id,
        "setup_layers": {k: [round(x, 3) for x in v] for k, v in h.setup_layers.items()},
    }
    print("# " + json.dumps(info))
    report_end_to_end(h, w, e2e)
    if args.trace:
        layers = per_layer(h, w, tracer, rundir)
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
        metrics = {n: {"value": layers.get(n, 0.0), "unit": _unit(n)} for n in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
    missing = [n for n, m in metrics.items() if m["value"] is None]
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
    correct = failed == 0 and not missing
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


def report_end_to_end(h, w, e2e: dict) -> None:
    """Readable report: each end-to-end metric with its sample count,
    then every op's wall-clock median, tail and CPU median."""
    import stats

    head = (len(h.timed_calls(w.headline)), w.headline)
    side = (len(h.timed_calls(w.side)), w.side)
    ops = [op for mix in w.items_mix for op, _ in mix]
    items = (sum(len(h.timed_calls(op)) for op in ops), "+".join(ops))
    n_of = {
        "wall_p50_ms": head, "cpu_p50_ms": head,
        "side_wall_p50_ms": side, "side_cpu_p50_ms": side,
        "items_per_s": items, "items_per_cpu_s": items,
    }
    print(f"# {'metric':<22}{'value':>14}  {'unit':<6}{'n':>6}  ops")
    for name, unit in {**END_TO_END_UNITS, **REPORT_ONLY_UNITS}.items():
        v = e2e[name]
        n, note = n_of.get(name, (1, ""))
        vs = f"{v:14.4f}" if v is not None else f"{'-':>14}"
        print(f"# {name:<22}{vs}  {unit:<6}{n:>6}  {note}")
    # tail = the highest percentile with >= 10 samples beyond it
    print(f"# {'op':<18}{'n':>4}{'wall_p50_ms':>13}{'tail':>22}{'wall_min_ms':>13}"
          f"{'cpu_p50_ms':>12}{'cpu_min_ms':>12}{'cpu_max_ms':>12}")
    for op in sorted({c.op for c in h.calls if c.timed}):
        calls = h.timed_calls(op)
        if not calls:
            continue
        secs = [c.seconds * 1000 for c in calls]
        t = stats.tail(secs)
        tail = f"p{t[0]:.0f}={t[1]:.1f}ms" if t else "(n < 11)"
        cpu = [c.cpu_s * 1000 for c in calls]
        print(f"# {op:<18}{len(secs):>4}{statistics.median(secs):>13.1f}{tail:>22}"
              f"{min(secs):>13.1f}{statistics.median(cpu):>12.1f}{min(cpu):>12.1f}{max(cpu):>12.1f}")
    fails = len([c for c in h.calls if not c.ok])
    print(f"# error_rate {fails}/{len(h.calls)} calls (warm-up included)")
    for e in h.errors:
        print(f"#   {e}")


def per_layer(h, w, tracer, rundir: str) -> dict[str, float]:
    """Per-call means of each op's traced calls, set-up layer medians and
    the tracing overhead."""
    import spans

    path = spans.event_log_file(os.path.join(rundir, "events"))
    groups = spans.fold_event_log(path) if path else {}
    out: dict[str, float] = {}
    print(f"# {'op':<18}{'n':>4}{'span_s':>10}{'self_s':>10}{'jobs':>7}{'tasks':>7}"
          f"{'cpu_s':>9}{'wait_s':>9}{'shuf_mb':>9}{'py_mb':>8}")
    for op in OPS:
        calls = [c for c in h.calls if c.op == op and c.traced and c.timed]
        if not calls:
            continue
        n = len(calls)
        acc: dict[str, float] = {}
        for c in calls:
            g = groups.get(c.group) or spans.GroupStats()
            span = tracer.spans[c.span]
            # self time: the span minus the wall time its Spark jobs cover
            driver = span.dur - spans.covered(g.job_spans, span.start, span.end)
            vals = {"call_s": c.seconds if op.startswith("api.") else c.phases.get("call_s", 0.0),
                    "proc_cpu_s": c.cpu_s, "driver_s": driver, "released": c.released,
                    **{k: v for k, v in c.phases.items() if k != "call_s"}}
            vals.update({f: float(getattr(g, f)) for f in SPARK_FIELDS})
            for k, v in vals.items():
                acc[k] = acc.get(k, 0.0) + v
        for k, v in acc.items():
            out[f"{op}.{k}"] = v / n
        print(f"# {op:<18}{n:>4}{sum(c.seconds for c in calls) / n:>10.4f}"
              f"{acc['driver_s'] / n:>10.4f}{acc['jobs'] / n:>7.1f}{acc['tasks'] / n:>7.1f}"
              f"{acc['cpu_s'] / n:>9.4f}{acc['wait_s'] / n:>9.4f}"
              f"{acc['shuffle_mb'] / n:>9.3f}{acc['py_mb'] / n:>8.3f}")
    for layer, vals in h.setup_layers.items():
        if layer in SETUP_LAYERS:
            out[layer] = statistics.median(vals)
    out.update(w.layer_metrics())
    plain = [c.seconds for c in h.timed_calls(w.headline) if not c.traced]
    traced = [c.seconds for c in h.timed_calls(w.headline) if c.traced]
    if plain and traced:
        out["trace.p50_ms"] = statistics.median(traced) * 1000
        out["trace.overhead_pct"] = 100 * (statistics.median(traced) / statistics.median(plain) - 1)
        print(f"# tracing overhead on {w.headline}: {out['trace.overhead_pct']:+.2f}% "
              f"(p50 {statistics.median(plain) * 1000:.1f} ms untraced, n={len(plain)}; "
              f"{out['trace.p50_ms']:.1f} ms traced, n={len(traced)})")
    return out


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    # everything the run writes (snapshots, Spark's scratch and event
    # log, temporary files of the JVM and of Python) stays in one fresh
    # directory of the checkout, removed at the end
    rundir = os.path.join(ROOT, ".perfbench", "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(rundir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    tempfile.tempdir = None
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # no JVM perf-data files under the system temporary directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        try:
            import lightweight_vector_database_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        try:
            args = parse_args(argv)
        except SystemExit as e:
            return int(e.code or 2)
        return run(args, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
