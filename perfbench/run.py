"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload snapshot_export --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. Everything the run writes stays under
``.perfbench/`` there (Spark shuffle/spill and temp files included).

Flow: one set-up, as a scheduled job pays it: ``get_spark`` launches the
JVM, then the inputs are staged with the program's own writers. The first
op runs right after, in the fresh session; a fixed number of untimed
warm-up ops follow, then ops run in a closed loop for ``--seconds`` (and
for at least ``MIN_LOOP_OPS`` ops), and every op's output is checked after
the loop. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` interleaves untraced and traced ops,
reports the per-layer metrics from the traced ones and the tracing
overhead, and writes the spans to ``.perfbench/out``. The last
stdout line is the result JSON; the line before it carries the detailed
record (sample counts, op split, failures, environment).

Exit codes: 0 result printed; 2 the program cannot be imported; 3 Python
workers cannot import it; 1 the set-up or the first op raised.
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
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_import_pyspark_scripts_spark"
# ops each median is taken over, at the least
MIN_LOOP_OPS = 2


class SetupError(RuntimeError):
    pass


def _prepare_environment(work: str) -> None:
    """Point every file the run (and the JVM and Python workers it starts)
    writes into ``work``, and make the package importable by workers
    started from any directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # The program would put Spark's shuffle/spill directory on /dev/shm; a
    # run may write only inside its checkout, so it goes under ``work``
    # (the environment record shows its filesystem).
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _import_module(name: str) -> str:
    import importlib

    return importlib.import_module(name).__file__


def _import_in_workers(batches):
    _import_module(PACKAGE)
    yield from batches


def _check_worker_import(spark) -> None:
    """Fail fast when Python workers cannot import the program: otherwise
    every Arrow/UDF query would fail one by one as failed ops. The probe is
    an Arrow UDF on every core, the path those queries take."""
    n = spark.sparkContext.defaultParallelism
    try:
        spark.range(n, numPartitions=n).mapInArrow(
            _import_in_workers, "id long").collect()
    except Exception as err:  # noqa: BLE001 — any worker failure is fatal here
        lines = [ln.strip() for ln in str(err).splitlines() if ln.strip()]
        reason = next((ln for ln in lines if "Error:" in ln),
                      lines[0] if lines else type(err).__name__)
        raise SetupError(f"Python workers cannot import {PACKAGE}: "
                         f"{reason[:300]}") from err


def _start_session():
    from databricks_import_pyspark_scripts_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process started
    under this one (the JVM's Python workers are reparented when it exits,
    so their pids are collected first)."""
    from pyspark import SparkContext

    from proctree import descendants

    pids = descendants()
    gateway = SparkContext._gateway  # noqa: SLF001
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — escalate to a kill
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _spark_counters(spark, groups: dict[int, str]) -> dict[int, dict[str, float]]:
    """Jobs, stages and tasks run under each traced op's job group, read
    from the status tracker after the loop (so the listener has caught
    up)."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for op, group in groups.items():
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        out[op] = {"spark.jobs_per_op": jobs, "spark.stages_per_op": stages,
                   "spark.tasks_per_op": tasks, "spark.failed_tasks": failed}
    return out


def _install_layer_hooks(tracer) -> None:
    """Wrap the layers' public functions where their callers bound them."""
    from databricks_import_pyspark_scripts_spark.plans import pipeline
    from databricks_import_pyspark_scripts_spark.sinks import delta_writer, writers
    from databricks_import_pyspark_scripts_spark.sources import delta_log

    def stash_fetched(df, *args, **kwargs):
        tracer.fetched.setdefault(tracer.op_id, []).append(df)

    tracer.wrap(pipeline, "build_views_for_tables", "plans.build_views")
    tracer.wrap(pipeline, "fetch_data", "sources.fetch_data",
                on_result=stash_fetched)
    tracer.wrap(pipeline, "filter_data", "operators.filter_data")
    tracer.wrap(pipeline, "write_export", "sinks.write_export")
    for sidecar in ("write_meta_data", "write_json_sidecar", "write_text_sidecar"):
        tracer.wrap(pipeline, sidecar, "sinks.sidecars")
    tracer.wrap(writers, "drop_void_fields", "operators.drop_void_fields")
    tracer.wrap(delta_log, "replay_log", "sources.replay_log")
    tracer.wrap(delta_writer, "replay_log", "sources.replay_log")


def _per_layer(spark, bench, tracer, workload, traced, untraced, get_spark_s,
               peak_mb):
    """Per-layer metrics averaged over the traced ops; layers a workload
    does not touch read 0."""
    names = [m["name"] for m in bench["per_layer"]]
    totals = {n: 0.0 for n in names}
    groups = {r.index: f"perfbench-op-{r.index}" for r in traced}
    spark_counts = _spark_counters(spark, groups)
    for rec in traced:
        incl, own = tracer.layer_times(rec.index)
        values = {f"{k}_s": v for k, v in incl.items()}
        values["plans.run_unload.self_s"] = own.get("plans.run_unload", 0.0)
        values["sources.replay_log.calls"] = sum(
            1 for s in tracer.op_spans(rec.index)
            if s.name == "sources.replay_log")
        fetched = tracer.fetched.get(rec.index, [])
        values["sources.input_files"] = sum(len(df.inputFiles()) for df in fetched)
        if fetched:
            generated = sum(df.count() for df in fetched)
            exported = rec.payload.get("reported", rec.rows)
            values["operators.cdc.keep_ratio"] = (
                exported / generated if generated else 0.0)
        values.update(workload.layer_counters(spark, rec))
        values.update(spark_counts[rec.index])
        for n in names:
            totals[n] += values.get(n, 0.0)
    metrics = {n: totals[n] / len(traced) if traced else 0.0 for n in names}
    metrics["session.get_spark_s"] = get_spark_s
    metrics["proc.peak_rss_mb"] = peak_mb
    metrics["trace.overhead_s"] = (
        _median([r.wall_s for r in traced])
        - _median([r.wall_s for r in untraced]))
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    return {n: {"value": metrics[n], "unit": units[n]} for n in names}


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    _prepare_environment(work)
    try:
        origin = _import_module(PACKAGE)
    except ImportError as err:
        origin = f"not importable ({err})"
    if not origin.startswith(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} must come from {ROOT}: {origin}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)

    from proctree import PeakMemory, environment, host_counters, tree_cpu_s
    from spans import Tracer
    from workloads import WORKLOADS, per_s

    marks = {"imports": time.perf_counter()}
    tracer = Tracer()
    workload = WORKLOADS[args.workload](args.seed, args.scale, tracer)
    memory = PeakMemory().start()
    host0 = host_counters()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session()
        get_spark_s = time.perf_counter() - t0
        workload.stage(spark, work)
        setup_s = time.perf_counter() - t0
        _check_worker_import(spark)
        marks["setup"] = time.perf_counter()
        first = workload.run_op(spark, 0)
        env = environment(spark, args.seed)
        # The early ops of a session run far slower, and far less evenly,
        # than later ones while the JVM compiles the hot paths. Untimed
        # warm-up ops, counted rather than timed (a slow host would fit
        # fewer into a fixed time), bring every run to the same point of
        # its session before the loop. They are checked like the rest.
        warmup = [workload.run_op(spark, i)
                  for i in range(1, 1 + workload.warmup_ops)]
        marks["warmup"] = time.perf_counter()

        if args.trace:
            _install_layer_hooks(tracer)
        records, traced, untraced = [], [], []
        failures: list[str] = []
        cpu0 = tree_cpu_s()
        t_loop = time.perf_counter()
        index = loop_start = 1 + len(warmup)
        # Run for --seconds, and on until there are MIN_LOOP_OPS untraced
        # (and, when tracing, as many traced) ops, unless ops keep failing.
        while (time.perf_counter() - t_loop < args.seconds
               or ((len(untraced) < MIN_LOOP_OPS
                    or (args.trace and len(traced) < MIN_LOOP_OPS))
                   and len(failures) < 3)):
            # untraced, traced, traced, untraced, ...: a trend over the loop
            # (the session still warming) cancels out of trace.overhead_s
            is_traced = bool(args.trace) and (index - loop_start) % 4 in (1, 2)
            sc = spark.sparkContext
            if is_traced:
                sc.setJobGroup(f"perfbench-op-{index}", "perfbench traced op")
            tracer.enabled, tracer.op_id = is_traced, index
            try:
                rec = workload.run_op(spark, index)
            except Exception as err:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc(file=sys.stderr)
                failures.append(f"op {index}: {type(err).__name__}: {err}"[:500])
                rec = None
            finally:
                tracer.enabled = False
                if is_traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            if rec is not None:
                records.append(rec)
                (traced if is_traced else untraced).append(rec)
            index += 1
        marks["loop"] = time.perf_counter()
        loop_s = marks["loop"] - t_loop
        cpu_s = tree_cpu_s() - cpu0
        peak_mb = memory.stop()
        host1 = host_counters()
        env["during_run"] = {k: host1[k] - host0[k] for k in host0}
        attempted = index  # the first and warm-up ops plus the loop's

        # untimed from here on
        workload.prepare(spark)
        layer_metrics = split_extra = None
        if args.trace:
            layer_metrics = _per_layer(spark, bench, tracer, workload, traced,
                                       untraced, get_spark_s, peak_mb)
            split_extra = workload.fixed_cost(
                spark, os.path.join(work, "fixed"), untraced)
        if args.corrupt and records:
            workload.corrupt(spark, records[0])
        for rec in [first, *warmup, *records]:
            try:
                problems = workload.check(spark, rec)
            except Exception as err:  # noqa: BLE001 — unreadable output fails
                problems = [f"check raised {type(err).__name__}: {err}"[:500]]
            if problems:
                failures.append(f"op {rec.index}: " + "; ".join(problems))
            workload.cleanup(rec)
    except SetupError as err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 3
    finally:
        memory.stop()
        marks["checks"] = time.perf_counter()
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        marks["shutdown"] = time.perf_counter()

    failed = len(failures)
    n_ops = len(records)
    op_times = [r.wall_s for r in untraced]
    end_to_end = {
        "setup_s": setup_s,
        "first_op_s": first.wall_s,
        "op_p50_s": _median(op_times),
        "rows_per_s": per_s(untraced, op_times),
        "cpu_s_per_op": cpu_s / (index - loop_start),
    }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "op": workload.op_label, "ops_measured": n_ops,
        "ops_warmup": len(warmup), "ops_untraced": len(untraced),
        "loop_s": loop_s,
        "op_wall_s": [round(r.wall_s, 4) for r in records],
        "get_spark_s": get_spark_s,
        "phase_end_s": {k: round(v - T_START, 2) for k, v in marks.items()},
        "failed_op_ratio": failed / attempted,
        "peak_rss_mb": peak_mb,
        "failures": failures[:20],
        "end_to_end": {k: {"value": v, "unit": units[k],
                           "samples": (1 if k in ("setup_s", "first_op_s")
                                       else len(op_times))}
                       for k, v in end_to_end.items()},
        "split": {**workload.split(first, untraced), **(split_extra or {})},
        "environment": env,
    }
    if args.trace:
        detail["per_layer"] = layer_metrics
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"result-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1)
    metrics = (layer_metrics if args.trace else
               {k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["snapshot_export", "upsert_export", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one op's output before the checks "
                         "(self-test of the output checks)")
    args = ap.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
