"""Job-level benchmark of the rollup / downsample / retention engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  One process, one Spark app on
``local[N]`` with N = the CPUs this process may use, shuffle partitions = N,
one client.  Everything the run writes goes under ``.perfbench_out/`` in the
checkout and is removed at exit.

``--trace 0`` runs set-up and one timed pass and prints the end-to-end
metrics that BENCHMARK.json lists.  ``--trace 1`` is a separate invocation
that turns on Spark's (uncompressed) event log and the span wrappers for
the timed pass, and prints the per-layer metrics.  Its tracing overhead
(``trace.overhead_s``) is measured directly, as time spent in span
bookkeeping plus CPU time of the event-log listener thread: an estimate of
traced minus untraced wall that needs no second, untraced pass.

Workloads, metrics and the layer map: perfbench/METRICS.md.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  The exit code is 0 only if every engine call,
read query and output check succeeded.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# Share of the executor run time of tasks launched in the traced part
# that may fall in no span's job group.
RECONCILE_TOL = 0.01
PY_SPANS = {  # per-layer Python-boundary metrics: tag -> (span name, phase)
    "chunks_1m": ("sources.catalog.write.chunks_1m", "bench.ingest"),
    "decode_chunks": ("read.decode_chunks", "bench.read"),
    "mp_week": ("sources.catalog.write.mp_week", "bench.patterns"),
    "discords": ("sources.catalog.write.discords", "bench.patterns"),
    "regimes": ("sources.catalog.write.regimes", "bench.patterns"),
}
WRITE_TABLES = ("rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h",
                "rollup_1d", "mp_week", "discords", "regimes")


def install_wrappers(tracer) -> None:
    """Spans around the engine's public functions (module attributes, so
    calls from inside the engine see them too).  Untraced runs install them
    as well, so that both runs take the same call path; they then only
    count calls."""
    from more_pattern_extraction_spark.operators import gapfill as G
    from more_pattern_extraction_spark.plans import checkpoint as CK
    from more_pattern_extraction_spark.plans import pipeline as PL
    from more_pattern_extraction_spark.plans import repair as RP
    from more_pattern_extraction_spark.sources import catalog as CAT

    tracer.wrap(PL, "run_pipeline", "plans.pipeline.run_pipeline")
    tracer.wrap(PL, "run_pattern_stage", "plans.pipeline.run_pattern_stage")
    tracer.wrap(RP, "repair_late_turns", "plans.repair.repair_late_turns")
    tracer.wrap(RP, "affected_units", "plans.repair.affected_units")
    tracer.wrap(CAT, "write_partitioned",
                lambda df, root, name, *a, **k: f"sources.catalog.write.{name}")
    tracer.wrap(CAT, "drop_partitions_before", "sources.catalog.drop_partitions")
    tracer.wrap(G, "gap_fill_rollup", "operators.gapfill.gap_fill_rollup")
    tracer.wrap(G, "interpolate_dense", "operators.gapfill.interpolate_dense", count_only=True)
    tracer.wrap(G, "interpolate_runs", "operators.gapfill.interpolate_runs", count_only=True)
    for meth, name in (("pending_units", "pending"), ("commit", "commit"),
                       ("record_lineage", "lineage"), ("record_metrics", "metrics")):
        tracer.wrap(CK.CheckpointStore, meth, f"plans.checkpoint.{name}")


def layer_metrics(run, tracer, ev: dict, wall: float, n_cores: int) -> dict:
    """Per-layer metrics of the traced timed part (perfbench/METRICS.md).
    Engine spans are summed over the whole timed part unless a metric
    names its phase (``bench.ingest``, ``bench.repair``, ...)."""
    walls, selfs = tracer.walls(), tracer.self_times()
    w, s = tracer.by_name(walls), tracer.by_name(selfs)
    ingest_w = tracer.by_name(walls, "bench.ingest")
    ingest_s = tracer.by_name(selfs, "bench.ingest")
    repair_w = tracer.by_name(walls, "bench.repair")
    pattern_w = tracer.by_name(walls, "bench.patterns")
    out = {
        "plans.pipeline.run_s": ingest_w.get("plans.pipeline.run_pipeline", 0.0),
        "plans.pipeline.self_s": ingest_s.get("plans.pipeline.run_pipeline", 0.0),
        "plans.pipeline.patterns_self_s": s.get("plans.pipeline.run_pattern_stage", 0.0),
        "plans.repair.run_s": w.get("plans.repair.repair_late_turns", 0.0),
        "plans.repair.self_s": s.get("plans.repair.repair_late_turns", 0.0),
        "plans.repair.affected_units_s": w.get("plans.repair.affected_units", 0.0),
        "plans.repair.write_s": sum(v for k, v in repair_w.items()
                                    if k.startswith("sources.catalog.write.")),
        "plans.repair.resume_s": repair_w.get("plans.pipeline.run_pipeline", 0.0),
        "sources.catalog.drop_partitions_s": w.get("sources.catalog.drop_partitions", 0.0),
        "operators.gapfill.gap_fill_rollup_s": w.get("operators.gapfill.gap_fill_rollup", 0.0),
        "operators.gapfill.dense_calls": float(
            tracer.calls["operators.gapfill.interpolate_dense"]),
        "operators.gapfill.runs_calls": float(
            tracer.calls["operators.gapfill.interpolate_runs"]),
        "bench.self_s": sum(v for k, v in s.items() if k.startswith("bench.")),
    }
    for k in ("pending", "commit", "lineage", "metrics"):
        out[f"plans.checkpoint.{k}_s"] = w.get(f"plans.checkpoint.{k}", 0.0)
    for t in WRITE_TABLES:  # the ingest's or the pattern stage's writes
        name = f"sources.catalog.write.{t}"
        out[f"sources.catalog.write_s.{t}"] = ingest_w.get(name, 0.0) + pattern_w.get(name, 0.0)
    tot = ev["totals"]
    out.update({
        "python.start_s": tot.get("py_start_ms", 0) / 1e3,
        "python.init_s": tot.get("py_init_ms", 0) / 1e3,
        "python.run_s": tot.get("py_run_ms", 0) / 1e3,
        "python.bytes_sent": float(tot.get("bytes_sent", 0)),
        "python.bytes_returned": float(tot.get("bytes_returned", 0)),
        "spark.jobs": float(ev["jobs"]),
        "spark.stages": float(ev["stages"]),
        "spark.tasks": float(tot.get("tasks", 0)),
        "spark.failed_tasks": float(tot.get("failed_tasks", 0)),
        "spark.executor_run_s": tot.get("exec_run_ms", 0) / 1e3,
        "spark.executor_cpu_s": tot.get("cpu_ns", 0) / 1e9,
        "spark.gc_s": tot.get("gc_ms", 0) / 1e3,
        "spark.shuffle_write_bytes": float(tot.get("shuffle_write_bytes", 0)),
        "spark.spill_bytes": float(tot.get("spill_bytes", 0)),
        "spark.core_busy_frac": tot.get("exec_run_ms", 0) / 1e3 / (wall * n_cores),
    })
    for tag, (span_name, phase_name) in PY_SPANS.items():
        agg: dict[str, float] = {}
        for sp in tracer.spans:
            if sp["name"] == span_name and tracer.within(sp, phase_name):
                for k, v in ev["by_span"].get(sp["id"], {}).items():
                    agg[k] = agg.get(k, 0) + v
        out[f"python.init_s.{tag}"] = agg.get("py_init_ms", 0) / 1e3
        out[f"python.run_s.{tag}"] = agg.get("py_run_ms", 0) / 1e3
        out[f"python.bytes_sent.{tag}"] = float(agg.get("bytes_sent", 0))
        out[f"python.bytes_returned.{tag}"] = float(agg.get("bytes_returned", 0))
    # Spark-side reconciliation: every job of the timed part ran in a
    # span's group, and the tasks of those jobs carry (nearly) all the
    # executor time of the tasks launched in it
    attributed = tot.get("exec_run_ms", 0) / max(ev["window_run_ms"], 1)
    out.update({
        "trace.wall_s": wall,
        "trace.wrapper_s": tracer.own_s,
        "trace.overhead_s": tracer.own_s + run.layer["trace.eventlog_cpu_s"],
        "trace.unattributed_jobs": float(ev["unattributed_jobs"]),
        "trace.attributed_run_frac": attributed,
        "trace.spans": float(len(tracer.spans)),
    })
    run.check("trace.jobs_attributed",
              ev["jobs"] > 0 and ev["unattributed_jobs"] == 0 and ev["failed_jobs"] == 0,
              (ev["jobs"], ev["unattributed_jobs"], ev["failed_jobs"]))
    run.check("trace.run_time_attributed", attributed >= 1 - RECONCILE_TOL,
              (tot.get("exec_run_ms", 0), ev["window_run_ms"]))
    return out


def phase(name: str, t_start: float) -> float:
    """Log a phase's wall to stderr; return the time it ended."""
    now = time.perf_counter()
    print(f"phase {name} {now - t_start:.2f} s", file=sys.stderr, flush=True)
    return now


def stop_jvm() -> None:
    """End the Spark JVM (it exits when its stdin closes) and wait for it,
    so that no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = ROOT / ".perfbench_out" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    # workers import the engine from the checkout, wherever the job started
    pythonpath = os.pathsep.join([str(ROOT)] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.update(PYTHONPATH=pythonpath, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp))
    sys.path.insert(0, str(ROOT))
    try:
        return measure(args, spec, out, tmp, pythonpath)
    finally:
        stop_jvm()
        shutil.rmtree(out, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run uses it
            out.parent.rmdir()


def measure(args, spec: dict, out: Path, tmp: Path, pythonpath: str) -> int:
    from more_pattern_extraction_spark.session import get_spark
    from perfbench.trace import RssSampler, Tracer, listener_cpu_s, parse_event_log
    from perfbench.workloads import WORKLOADS, OpFailed, Run

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
    n_cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": pythonpath,
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(out / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        (out / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": str(out / "eventlog")})
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=n_cores,
                      shuffle_partitions=n_cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(sc)
    run = Run(spark, tracer, str(out), args.seed, args.seconds, traced=bool(args.trace))
    run.layer["session.get_spark_s"] = session_s
    prepare, timed, check = WORKLOADS[args.workload]
    install_wrappers(tracer)
    metrics: dict[str, float] = {}
    correct = False
    try:
        t_ph = phase("session", t0)
        st = prepare(run)
        t_ph = phase("setup", t_ph)
        root = run.path("timed")
        if run.traced:
            cpu0 = listener_cpu_s(sc)
        tracer.enabled = run.traced
        tracer.calls.clear()  # count the timed part's calls only
        with RssSampler() as rss:
            t0, epoch0 = time.perf_counter(), time.time()
            with tracer.span("bench.timed"):
                res = timed(run, st, root)
            wall, epoch1 = time.perf_counter() - t0, time.time()
        tracer.enabled = False
        t_ph = phase("timed", t_ph)
        check(run, st, root, res)
        t_ph = phase("check", t_ph)
        res["setup_s"] = session_s + run.layer["setup.generate_s"]
        run.layer["peak_rss_mb"] = rss.peak / 2**20
        metrics = res
        if run.traced:
            run.layer["trace.eventlog_cpu_s"] = listener_cpu_s(sc) - cpu0
            run.layer["spark.persisted_rdds_after"] = float(len(sc._jsc.getPersistentRDDs()))
            spark.stop()  # flushes the event log
            logs = list((out / "eventlog").rglob("events_*"))
            run.layer["trace.eventlog_bytes"] = float(sum(p.stat().st_size for p in logs))
            ev = parse_event_log([str(p) for p in logs], (epoch0, epoch1))
            run.layer.update(layer_metrics(run, tracer, ev, wall, n_cores))
            phase("trace", t_ph)
            metrics = run.layer
        correct = run.failed == 0
    except OpFailed:
        correct = False
    except Exception:  # an output check that raised: count it and report
        traceback.print_exc(file=sys.stderr)
        run.attempted += 1
        run.failed += 1
        correct = False
    finally:
        tracer.unwrap_all()
        spark.stop()

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    shown = {**run.layer, **metrics}  # an untraced run shows its per-layer side too
    for name in sorted(shown):
        print(f"{name:48s} {shown[name]:.6g} {units.get(name, '')}")
    result = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
              for m in spec[kind]}
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
