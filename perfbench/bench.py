"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload mega_round --seed 1 --seconds 12 --trace 0

Workloads: mega_round, crawl_loop, near_dup (see perfbench/METRICS.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the separate
traced run: it records spans, enables the Spark event log, and prints the
per-layer metrics (the full per-layer table goes to stderr and to
``.perfbench_work/trace/``).

Everything the run writes stays under ``.perfbench_work/`` in the checkout
holding this file. Exit code 2, with no result line, when the checkout has
no ``nimbus_crawler_spark`` package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

from .checks import NEAR_DUP_QUERIES
from .workloads import ROUND_STAGES

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "live_heap_mb": "MB",
}

_SPARK = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "py_sent_bytes": "bytes",
    "py_recv_bytes": "bytes",
    "task_skew": "ratio",
}
PER_LAYER = {
    "functions.extract.parse_page_per_s": "1/s",
    "functions.urlnorm.canonicalize_per_s": "1/s",
    "functions.robots.robots_allowed_per_s": "1/s",
    "functions.udfs.parse_stage_per_s": "1/s",
    "functions.udfs.parse_boundary_share": "share",
    "plans.round.round_s_p50": "s",
    "plans.round.jobs_per_round": "count",
    "plans.round.stages_per_round": "count",
    "plans.round.tasks_per_round": "count",
    **{f"plans.round.{s}_s": "s" for s in ROUND_STAGES},
    "store.write_bytes_p50": "bytes",
    "store.touched_buckets_p50": "count",
    "store.compactions": "count",
    "store.live_segments": "count",
    "store.commit_spacing_s_p50": "s",
    **{f"operators.{q}.{k}": u for q in NEAR_DUP_QUERIES
       for k, u in (("call_s", "s"), ("rows", "count"), ("jobs", "count"))},
    "operators.textdedup.minhash_verify_yield": "ratio",
    **{f"spark.{k}": u for k, u in _SPARK.items()},
    **{f"spark.{q}.{k}": u for q in NEAR_DUP_QUERIES
       for k, u in (("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"))},
    "mem.peak_rss_mb": "MB",
    "trace.overhead_share": "share",
    "trace.spans": "count",
}


def _confine_writes(run_dir: Path) -> dict[str, str]:
    """Point every temporary/local directory of Python, the JVMs and Spark
    inside the checkout; returns the Spark conf that goes with it."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it and every
    process it started (the Python worker daemons) have exited."""
    import signal

    from .trace import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _spark_layers(rows: dict[str, dict], workload: str, n_iters: int) -> dict[str, float]:
    """Per-iteration totals over the timed job groups (``<workload>#<i>`` and,
    for near_dup, ``<workload>#<i>:<query>``), as medians over iterations."""
    out: dict[str, float] = {}
    per_iter: list[dict] = []
    for i in range(n_iters):
        prefix = f"{workload}#{i}"
        groups = [r for g, r in rows.items() if g == prefix or g.startswith(prefix + ":")]
        tot = {k: sum(r[k] for r in groups) for k in _SPARK if k != "task_skew"}
        tot["task_skew"] = max((r["task_skew"] for r in groups), default=0.0)
        per_iter.append(tot)
    for k in _SPARK:
        out[f"spark.{k}"] = statistics.median([t[k] for t in per_iter]) if per_iter else 0.0
    for q in NEAR_DUP_QUERIES:
        for k in ("executor_run_s", "shuffle_write_bytes"):
            vals = [rows[g][k] for i in range(n_iters) if (g := f"{workload}#{i}:{q}") in rows]
            out[f"spark.{q}.{k}"] = statistics.median(vals) if vals else 0.0
    return out


def _layer_table(metrics: dict[str, float], spark_rows: dict[str, dict]) -> str:
    lines = ["per-layer table", f"{'metric':52s} value"]
    for k, v in metrics.items():
        lines.append(f"{k:52s} {v:.6g}")
    lines.append("")
    cols = list(_SPARK)
    lines.append(f"{'job group':36s} " + " ".join(f"{c[:12]:>12s}" for c in ["jobs", "tasks", *cols]))
    for g, r in sorted(spark_rows.items()):
        vals = [r["jobs"], r["tasks"], *(r[c] for c in cols)]
        lines.append(f"{g[:36]:36s} " + " ".join(f"{v:12.4g}" for v in vals))
    return "\n".join(lines)


def _untraced_walls(workload: str) -> list[float]:
    path = WORK / "runs.jsonl"
    if not path.exists():
        return []
    out = []
    for line in path.read_text().splitlines():
        rec = json.loads(line)
        if rec["workload"] == workload and not rec["trace"] and rec["correct"]:
            out.append(rec["metrics"]["wall_s"])
    return out


def _spark_conf(run_dir: Path, trace: bool) -> dict[str, str]:
    conf = _confine_writes(run_dir)
    if trace:
        event_dir = run_dir / "eventlog"
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(event_dir),
        })
        os.environ["NIMBUS_ROUND_TIMING"] = "1"
    return conf


def _set_up(wl, spans, run_dir: Path) -> dict:
    """Inputs made three times (the median counts), then seeding and
    warm-up once. Returns the seconds of each part."""
    parts = {"inputs": []}
    for rep in range(3):
        d = run_dir / f"input{rep}"
        with spans.span("make_inputs"):
            t0 = time.perf_counter()
            wl.make_inputs(d)
            parts["inputs"].append(time.perf_counter() - t0)
        if rep < 2:
            shutil.rmtree(d)
    for part, fn in (("prepare", wl.prepare), ("warm_up", wl.warm_up)):
        with spans.span(part):
            t0 = time.perf_counter()
            fn()
            parts[part] = time.perf_counter() - t0
    return parts


def _functions_layer(wl, spark, cores: int, spans) -> dict[str, float]:
    from .kernels import kernel_rates, parse_stage

    rates = kernel_rates(wl.inp.pages, spans)
    ps = parse_stage(spark, wl.inp.pages_path, cores, rates["parse_page_per_s"], spans)
    return {
        "functions.extract.parse_page_per_s": rates["parse_page_per_s"],
        "functions.urlnorm.canonicalize_per_s": rates["canonicalize_per_s"],
        "functions.robots.robots_allowed_per_s": rates["robots_allowed_per_s"],
        "functions.udfs.parse_stage_per_s": ps["parse_stage_per_s"],
        "functions.udfs.parse_boundary_share": ps["parse_boundary_share"],
    }


def _trace_layers(args, its, layer: dict, spans, run_dir: Path, wall_s: float) -> dict[str, float]:
    """Fold the event log into the per-layer table, write spans and table
    out, print the table to stderr; returns every PER_LAYER metric."""
    from .trace import find_event_log, fold_event_log

    log = find_event_log(run_dir / "eventlog")
    job_groups = {j: g["group"] for it in its for g in it.groups for j in g.get("job_ids", [])}
    spark_rows = fold_event_log(log, job_groups) if log else {}
    layer.update(_spark_layers(spark_rows, args.workload, len(its)))
    base = _untraced_walls(args.workload)
    layer["trace.overhead_share"] = wall_s / statistics.median(base) - 1.0 if base else 0.0
    layer["trace.spans"] = len(spans.spans)
    metrics = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
    trace_dir = WORK / "trace"
    spans.write(trace_dir / f"{args.workload}-seed{args.seed}-spans.json")
    (trace_dir / f"{args.workload}-seed{args.seed}-layers.json").write_text(
        json.dumps({"metrics": metrics, "spark_groups": spark_rows,
                    "untraced_base_runs": len(base)}, indent=1)
    )
    print(_layer_table(metrics, spark_rows), file=sys.stderr)
    return metrics


def run(args) -> dict:
    from . import checks, workloads
    from .trace import JobCounter, PeakRss, SpanRecorder, cpu_times, jvm_live_heap_mb

    from nimbus_crawler_spark.session import build_session

    cores = os.cpu_count() or 1
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    steal0, total0 = cpu_times()
    spans = SpanRecorder(bool(args.trace), f"{args.workload}-{args.seed}")
    t_start = time.perf_counter()
    try:
        conf = _spark_conf(run_dir, bool(args.trace))
        with spans.span("session"):
            t0 = time.perf_counter()
            spark = build_session(
                app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf
            )
            parts = {"session": time.perf_counter() - t0}
        try:
            ctx = workloads.Ctx(
                spark=spark, seed=args.seed, run_dir=run_dir,
                cache=checks.ResultCache(WORK / "cache"), spans=spans,
                jobs=JobCounter(spark.sparkContext) if args.trace else None,
            )
            wl = workloads.WORKLOADS[args.workload](ctx)
            parts.update(_set_up(wl, spans, run_dir))
            its = []
            # resident memory is sampled only in the traced run: the sampler
            # thread is extra load the untraced run should not carry
            jvm = spark.sparkContext._gateway.proc.pid
            with PeakRss(jvm) if args.trace else nullcontext() as rss:
                measured = 0.0
                while len(its) < wl.min_iterations or measured < args.seconds:
                    its.append(wl.iterate(len(its)))
                    measured += its[-1].wall_s
            live_heap = jvm_live_heap_mb(spark)
            wl.finish(its)
            layer = {}
            if args.trace:
                layer.update(wl.layers(its))
                layer["mem.peak_rss_mb"] = rss.peak
                if wl.inp is not None:
                    layer.update(_functions_layer(wl, spark, cores, spans))
        finally:
            _stop_spark(spark)
        steal1, total1 = cpu_times()
        e2e = {
            "setup_s": parts["session"] + statistics.median(parts["inputs"])
            + parts["prepare"] + parts["warm_up"],
            "wall_s": statistics.median([it.wall_s for it in its]),
            "items_per_s": statistics.median([it.items / it.wall_s for it in its]),
            "live_heap_mb": live_heap,
        }
        attempted = sum(it.attempted for it in its)
        failed = sum(it.failed for it in its)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": bool(args.trace),
            "cores": cores,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "run_s": time.perf_counter() - t_start,
            "walls_s": [it.wall_s for it in its],
            "steps_s": [it.steps_s for it in its],
            "setup_parts_s": parts,
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "problems": [p for it in its for p in it.problems],
            "metrics": e2e,
        }
        if args.trace:
            metrics = _trace_layers(args, its, layer, spans, run_dir, e2e["wall_s"])
            out = {k: {"value": metrics[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        else:
            out = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
        with open(WORK / "runs.jsonl", "a") as fh:
            fh.write(json.dumps(record) + "\n")
        print(json.dumps({k: v for k, v in record.items() if k != "metrics"}), file=sys.stderr)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["mega_round", "crawl_loop", "near_dup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "nimbus_crawler_spark" / "__init__.py").is_file():
        print(f"error: no nimbus_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0
