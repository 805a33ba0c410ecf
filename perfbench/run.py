#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload gbt_fit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates its inputs from ``--seed``
under ``.perfbench/`` in the checkout, starts a ``local[cpus]`` Spark
session (``SPARK_GRAFT_CPUS``, default: the cores this process may use),
sets up the workload, runs its untimed warm-up ops, then runs ops in a
closed loop for ``--seconds`` (at least one op; two when traced) and
checks every op's output.

End-to-end metrics, the same names on every workload so that every run
reports every one:

- ``op_s``: median wall of the timed call -- one ``ml.core.train`` call
  on ``gbt_fit`` (the issue's ``fit_s``), one five-query pass on
  ``sql_headline`` (``headline_pass_s``);
- ``op_tail_s``: the highest percentile of those walls with at least ten
  samples beyond it, or their maximum when there are ten or fewer (the
  report names which);
- ``peak_mem_mb``: peak memory of the timed ops: this process's peak
  resident set plus the JVM's peak pool use (``spans.JvmMemory``). Both
  peaks are reset after the warm-up, so set-up does not count;
- ``setup_s``: session start, input generation, set-up and warm-up.

The failure fraction and the holdout logloss of ``gbt_fit`` are in the
report line; a failed op is also counted in ``failed``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the full
report: every metric with unit and sample count, the tail percentile
used, the failure fraction, versions, cpus, seed and input row counts.

With ``--trace 1`` timed ops alternate traced and untraced. A traced op
records a span around each call into the package; the per-layer metrics
come from traced ops, the tracing overhead is the traced minus the
untraced median op wall. The spans are written to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import spans as tr

ROOT = Path(__file__).resolve().parent.parent
# ops per run at least; a traced run needs one traced and one untraced op
MIN_OPS = {False: 1, True: 2}
DRIVER_MEM = "2g"
# fixed young generation: see spans.JvmMemory
YOUNG_GEN = "1g"
HEADLINE_IDS = ["q_agg_01", "q_join_02", "q_win_01", "q_sort_02", "q_date_02"]

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "op_tail_s": "s",
    "peak_mem_mb": "MB",
}

_TRAIN = {
    "jobs": "count", "stages": "count", "tasks": "count", "jobs_per_tree": "ratio",
    "driver_gap_s": "s", "stage_span_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "deserialize_s": "s", "core_util": "ratio", "partitions": "count",
    "result_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "scan_passes": "ratio", "failed_tasks": "count",
}
_PREDICT = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "core_util": "ratio", "driver_gap_s": "s", "input_bytes": "bytes",
    "failed_tasks": "count",
}
_OPERATOR = {
    "build_s": "s", "jobs": "count", "stages": "count", "executor_run_s": "s",
    "driver_gap_s": "s", "shuffle_write_rows": "rows", "shuffle_write_bytes": "bytes",
    "input_bytes": "bytes",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.load_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "rows",
    **{f"ml.train.{k}": u for k, u in _TRAIN.items()},
    **{f"ml.predict.{k}": u for k, u in _PREDICT.items()},
    **{f"operators.{q}.{k}": u for q in HEADLINE_IDS for k, u in _OPERATOR.items()},
    "fetch.s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def span_metrics(s: tr.Span, children: list[tr.Span], scale: dict) -> dict[str, float]:
    """Layer metrics of one span from its stage records and child spans."""
    a = s.attrs
    if "jobs" not in a:
        return {}
    stages = tr.clip(a["stage_intervals"], s.start, s.end)
    kids = tr.clip([(c.start, c.end) for c in children], s.start, s.end)
    run_s = a["executorRunTime"] / 1e3
    m = {
        "jobs": a["jobs"],
        "stages": a["stages"],
        "tasks": a["numTasks"],
        "failed_tasks": a["numFailedTasks"],
        "driver_gap_s": s.duration - tr.union_length(stages + kids),
        "stage_span_s": tr.union_length(stages),
        "executor_run_s": run_s,
        "executor_cpu_s": a["executorCpuTime"] / 1e9,
        "gc_s": a["jvmGcTime"] / 1e3,
        "deserialize_s": a["executorDeserializeTime"] / 1e3,
        "core_util": run_s / (s.duration * scale["cpus"]),
        "partitions": a["scan_partitions"],
        "result_bytes": a["resultSize"],
        "shuffle_write_bytes": a["shuffleWriteBytes"],
        "shuffle_write_rows": a["shuffleWriteRecords"],
        "spill_bytes": a["memoryBytesSpilled"] + a["diskBytesSpilled"],
        "input_bytes": a["inputBytes"],
    }
    if s.name == "ml.train":
        m["jobs_per_tree"] = a["jobs"] / scale["n_trees"]
        m["scan_passes"] = a["inputRecords"] / scale["train_rows"]
    for c in children:
        if c.name.endswith(".build"):
            m["build_s"] = c.duration
    return m


def layer_values(spans: list[tr.Span], scale: dict) -> dict[str, float]:
    """Per-layer values of one op (or of the set-up): spans of the same
    name are summed."""
    children: dict[int, list[tr.Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    for s in spans:
        if s.name == "fetch":
            add("fetch.s", s.duration)
        elif s.name == "session.get_spark":
            add("session.get_spark_s", s.duration)
        elif s.name == "sources.load":
            add("sources.load_s", s.duration)
        if "jobs" in s.attrs:
            add("sources.input_bytes", s.attrs["inputBytes"])
            add("sources.input_rows", s.attrs["inputRecords"])
        prefix = s.name
        wanted = {"ml.train": _TRAIN, "ml.predict": _PREDICT}.get(prefix)
        if wanted is None and prefix.startswith("operators.") and prefix.count(".") == 1:
            wanted = _OPERATOR
        if wanted:
            for k, v in span_metrics(s, children.get(s.id, []), scale).items():
                if k in wanted:
                    add(f"{prefix}.{k}", v)
    return out


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    import workloads  # fails here, before any work, where the package is missing

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    with contextlib.ExitStack() as cleanup:
        # callbacks run last-registered first, each even if another fails
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        return measure(args, work, tmp, cleanup)


def measure(args, work: Path, tmp: Path, cleanup: contextlib.ExitStack) -> tuple[dict, dict]:
    import pyspark

    import datagen
    import workloads
    from dask_xgboost_spark.session import get_spark

    # the gateway's connection file and the JVM's temp files stay in the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    cpus = tr.cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    traced = bool(args.trace)
    tracer = tr.Tracer(args.workload, enabled=traced)
    t_setup = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            driver_mem_default=DRIVER_MEM,
            extra_conf={
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    cleanup.callback(stop_gateway, spark.sparkContext._gateway.proc)
    cleanup.callback(spark.stop)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer.set_group = lambda g: sc.setJobGroup(g, g) if g else sc._jsc.clearJobGroup()
    status = tr.SparkStatus(sc)
    jvm_mem = tr.JvmMemory(spark._jvm)
    data_dir = str(work / "data")
    rows = datagen.write_tables(args.seed, data_dir)
    wl = workloads.WORKLOADS[args.workload](spark, data_dir, rows, tracer)
    wl.setup()

    last_job = None
    walls: dict[bool, list[float]] = {True: [], False: []}
    timed: list[float] = []
    traced_ops: list[int] = []

    def one_op(op_id: int, traced_op: bool, warm: bool = False) -> None:
        nonlocal last_job
        tracer.op = op_id
        tracer.enabled = traced_op
        try:
            t0 = time.perf_counter()
            with tracer.span("op", jobs=True, always=True):
                seconds, out = wl.op(warm)
            wall = time.perf_counter() - t0
        finally:
            tracer.enabled = False
        spans = tracer.op_spans(op_id)
        try:
            cap = tr.capture(status, [s.group for s in spans if s.group], last_job)
        except tr.EvictedRecords:
            last_job = None
            raise
        last_job = cap["last_job"]
        attach(spans, cap)
        tracer.add_fetch_spans(spans)
        wl.check(out, warm)
        if not warm:
            timed.append(seconds)
            walls[traced_op].append(wall)
            if traced_op:
                traced_ops.append(op_id)

    for i in range(wl.warm_ops):  # counted in set-up
        one_op(-i, False, warm=True)
    setup_s = time.perf_counter() - t_setup
    python_peak_reset = tr.reset_peak_rss()
    jvm_mem.reset_peaks()

    attempted = failed = 0
    errors: list[str] = []
    t_loop = time.perf_counter()
    steal0 = tr.steal_jiffies()
    while attempted < MIN_OPS[traced] or time.perf_counter() - t_loop < args.seconds:
        attempted += 1
        try:
            one_op(attempted, traced and attempted % 2 == 1)
        except Exception:  # noqa: BLE001 — a failed op is counted and the loop goes on
            failed += 1
            errors.append(traceback.format_exc(limit=4))
    # share of this box's cpu time other guests took during the loop: a
    # slow run on a busy host shows here, not in the program's counters
    loop_ticks = (time.perf_counter() - t_loop) * os.sysconf("SC_CLK_TCK") * os.cpu_count()
    steal_frac = (tr.steal_jiffies() - steal0) / loop_ticks
    if not timed:
        raise RuntimeError("every op failed:\n" + "\n".join(errors[:3]))

    python_mb = tr.status_kb("VmHWM") / 1024
    jvm = jvm_mem.peak()
    t = tr.tail(timed)
    e2e = {
        "setup_s": (setup_s, 1),
        "op_s": (tr.median(timed), len(timed)),
        "op_tail_s": (t["value"], len(timed)),
        "peak_mem_mb": (python_mb + jvm["heap_mb"] + jvm["nonheap_mb"], 1),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": traced,
        "cpus": cpus,
        "versions": {
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "input_rows": rows,
        "attempted": attempted,
        "failed": failed,
        "ops_failed_frac": failed / attempted,
        "errors": errors[:3],
        "metrics": {k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in e2e.items()},
        "op_tail": {"percentile": t["percentile"], "beyond": t["beyond"], "n": t["n"]},
        "host_steal_frac": steal_frac,
        "peak_mem": {"python_mb": python_mb, "python_peak_reset": python_peak_reset, **jvm},
        "workload_info": wl.info,
        "op_s_samples": timed,
    }
    if traced:
        scale = {"cpus": cpus, "n_trees": workloads.N_TREES, "train_rows": wl.train_rows}
        per_layer, report["trace_info"] = summarize_trace(tracer, traced_ops, walls, scale)
        metrics = {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        report["per_layer"] = metrics
        out_path = ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}.json"
        out_path.write_text(
            json.dumps({"spans": [s.to_json() for s in tracer.spans], **report["trace_info"]})
        )
        report["spans_file"] = str(out_path.relative_to(ROOT))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def attach(spans: list[tr.Span], cap: dict) -> None:
    for s in spans:
        if s.group:
            s.attrs.update(tr.stage_summary(**cap["groups"][s.group]))


def stop_gateway(proc) -> None:
    """Shut the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def summarize_trace(tracer: tr.Tracer, traced_ops: list[int], walls: dict, scale: dict):
    """Per-layer medians over the traced ops. The session start and the
    first (uncached) loads happen in set-up and report their set-up value;
    a layer the workload never calls reports 0."""
    per_op, unattributed = [], []
    self_by_layer: dict[str, list[float]] = {}
    for op_id in traced_ops:
        spans = tracer.op_spans(op_id)
        per_op.append(layer_values(spans, scale))
        selfs = tr.self_times(spans)
        root = next(s for s in spans if s.name == "op")
        unattributed.append(selfs[root.id] / root.duration)
        for s in spans:
            self_by_layer.setdefault(s.name, []).append(selfs[s.id])
    out = layer_values([s for s in tracer.spans if s.op is None], scale)
    for key in {k for vals in per_op for k in vals} - {"session.get_spark_s", "sources.load_s"}:
        out[key] = tr.median([vals.get(key, 0.0) for vals in per_op])
    out["trace.overhead_s"] = tr.median(walls[True]) - tr.median(walls[False])
    out["trace.unattributed_frac"] = max(unattributed)
    info = {
        "traced_ops": len(traced_ops),
        "untraced_ops": len(walls[False]),
        "op_wall_traced_s": tr.median(walls[True]),
        "op_wall_untraced_s": tr.median(walls[False]),
        "self_s_per_op": {k: tr.median(v) for k, v in sorted(self_by_layer.items())},
    }
    return out, info


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    report, result = run(args)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
