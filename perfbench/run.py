"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload editor_session --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Every run is a fresh process: it
writes its input tables, Spark scratch space and outputs under
``.perfbench_runs/<run>/`` in the checkout and deletes that directory
at the end; it appends a one-line summary to
``.perfbench_out/results.jsonl`` and, traced, writes its spans next to
it.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The lines before it are the full report: the per-workload
metrics, the environment and calibration block and, traced, the split
by span name and the tracing overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

#: set-up is timed from here: every import of numpy, pandas, pyspark
#: and the program happens later and counts in ``setup_s``
T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT_DIR = ROOT / ".perfbench_out"
SF = 0.01

#: end-to-end metrics (tracing off), name -> unit; BENCHMARK.json holds
#: the same names with their bounds
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
#: per-layer metrics (traced run); "/op" values are totals over the
#: timed region divided by the timed operations
PER_LAYER = {
    "build_s": "s/op",
    "build_jobs": "jobs/op",
    "plan_s": "s/op",
    "exec_s": "s/op",
    "exec_jobs": "jobs/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s/op",
    "spark.task_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_mb": "MB/op",
    "spark.spill_mb": "MB/op",
    "spark.result_mb": "MB/op",
    "spark.driver_gap_s": "s/op",
    "spark.empty_job_s": "s",
    "session.compactions": "count",
    "session.set_cell.jobful_calls": "count",
    "query.pivot_table.jobs": "jobs/call",
    "io.bytes_written_mb": "MB",
    "entry.build_jobs": "jobs/pass",
}
PROGRAM_FILES = ("parquet_editor_spark", "__spark_entry__.py", "tools/check_oracle.py")


def _workload_module(name: str):
    if name == "editor_session":
        import editor

        return editor
    import entries

    return entries


def _tree_hash(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _source_identity() -> dict:
    """Git commit when the checkout is a repository, and always hashes
    of the program's and the benchmark's sources."""
    commit = None
    try:
        proc = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=30,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        )
        if proc.returncode == 0:
            commit = proc.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {
        "git_commit": commit,
        "source_sha256": _tree_hash([ROOT / p for p in PROGRAM_FILES]),
        "bench_sha256": _tree_hash([HERE]),
    }


def _isolate(work: Path) -> dict:
    """Point every scratch location at the run directory; returns the
    settings the benchmark chose, for the report."""
    for d in ("tmp", "spark-local", "warehouse", "config"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "PES_CONFIG_DIR": str(work / "config"),
    }
    os.environ.update(env)
    # the library's defaults whatever the caller's env: 32 shuffle
    # partitions, 8g driver heap, local checkpoints
    for name in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CHECKPOINT_DIR"):
        os.environ.pop(name, None)
    tempfile.tempdir = None
    return env


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(spans: list[dict], ops: int, extra: dict, calib: dict) -> dict:
    leaves = [s for s in spans if s["phase"]]
    per_op = max(ops, 1)

    def total(key: str, phase=None, name=None) -> float:
        return sum(
            s[key]
            for s in leaves
            if (phase is None or s["phase"] == phase) and (name is None or s["name"].startswith(name))
        )

    out = {
        "build_s": total("wall_s", "build") / per_op,
        "build_jobs": total("jobs", "build") / per_op,
        "plan_s": total("wall_s", "plan") / per_op,
        "exec_s": total("wall_s", "exec") / per_op,
        "exec_jobs": total("jobs", "exec") / per_op,
        "spark.failed_tasks": total("failed_tasks"),
        "spark.empty_job_s": calib["empty_job_s"],
    }
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_mb", "spill_mb", "result_mb", "driver_gap_s"):
        out[f"spark.{key}"] = total(key) / per_op
    pivots = sum(1 for s in leaves if s["name"] == "query.pivot_table.exec")
    out["query.pivot_table.jobs"] = total("jobs", name="query.pivot_table.") / max(pivots, 1)
    for name in PER_LAYER:
        out.setdefault(name, extra.get(name, 0))
    return {k: out[k] for k in PER_LAYER}


def _by_span_name(spans: list[dict]) -> dict:
    """calls, median wall, total jobs and tasks per leaf span name."""
    import plans

    groups: dict[str, list[dict]] = {}
    for s in spans:
        if s["phase"]:
            groups.setdefault(s["name"], []).append(s)
    return {
        name: {
            "calls": len(ss),
            "p50_s": plans.median([s["wall_s"] for s in ss]),
            "total_s": sum(s["wall_s"] for s in ss),
            "jobs": sum(s["jobs"] for s in ss),
            "tasks": sum(s["tasks"] for s in ss),
        }
        for name, ss in sorted(groups.items())
    }


def _overhead(key: dict, traced: dict) -> dict:
    """Traced minus untraced medians per end-to-end metric, over the
    untraced runs recorded in this checkout with the same workload,
    run length and sources."""
    import plans

    path = OUT_DIR / "results.jsonl"
    if not path.exists():
        return {}
    rows = []
    for line in path.read_text().splitlines():
        rec = json.loads(line)
        if rec["trace"] == 0 and all(rec.get(k) == v for k, v in key.items()):
            rows.append(rec["end_to_end"])
    if not rows:
        return {}
    out = {"untraced_runs": len(rows)}
    for name, value in traced.items():
        out[name] = value - plans.median([r[name] for r in rows])
    return out


def run(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_runs" / run_id
    chosen = _isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import pandas

        import datagen

        data_dir = datagen.write(work / "data", SF)
        from parquet_editor_spark import get_spark

        java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        conf = {"spark.driver.extraJavaOptions": java_opts}
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=nproc, extra_conf=conf)
        try:
            from spans import Tracer, calibration

            pre_run_s = time.perf_counter() - T_PROCESS
            tracer = Tracer(spark, bool(args.trace), run_id)
            ctx = SimpleNamespace(
                spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                data_dir=data_dir, work_dir=work, root=ROOT,
            )
            res = _workload_module(args.workload).run(ctx)
            t_run_end = time.perf_counter()
            calib = calibration(spark)
            t_calib_end = time.perf_counter()
            env = {
                "nproc": nproc,
                "spark_slots": spark.sparkContext.defaultParallelism,
                "spark": spark.version,
                "python": platform.python_version(),
                "pandas": pandas.__version__,
                "seed": args.seed,
                "sf": SF,
                "data_seed": datagen.DATA_SEED,
                "benchmark_env": chosen,
                "benchmark_conf": conf,
                **_source_identity(),
                **calib,
            }
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import plans

    reps = res["setup_reps_s"]
    e2e = {
        # everything before the timed region, with the repeated part
        # counted once at its median
        "setup_s": pre_run_s + res["setup_wall_s"] - sum(reps) + plans.median(reps),
        "op_p50_s": res["op_p50_s"],
    }
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "end_to_end": e2e, "report": res["report"],
        "attempted": res["attempted"], "failed": res["failed"],
        "error_rate": res["failed"] / res["attempted"],
        "errors": res["errors"], "env": env,
        "setup_parts": {
            "pre_run_s": pre_run_s,
            "workload_setup_wall_s": res["setup_wall_s"],
            "repeated_s": reps,
        },
        "timeline_s": {
            "workload_end": t_run_end - T_PROCESS,
            "calibration_end": t_calib_end - T_PROCESS,
            "process_end": time.perf_counter() - T_PROCESS,
        },
    }
    key = {
        "workload": args.workload,
        "seconds": args.seconds,
        "source_sha256": env["source_sha256"],
        "bench_sha256": env["bench_sha256"],
    }
    if args.trace:
        out["per_layer"] = _layer_metrics(tracer.spans, res["ops"], res["layers"], calib)
        out["by_span_name"] = _by_span_name(tracer.spans)
        out["tracing_overhead"] = _overhead(key, e2e)
        tracer.write(OUT_DIR / f"spans-{run_id}.json")
    OUT_DIR.mkdir(parents=True, exist_ok=True)
    record = {**key, **{k: out[k] for k in ("seed", "trace", "end_to_end", "report", "failed", "attempted")}}
    with open(OUT_DIR / "results.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("editor_session", "entry_pipelines"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in PROGRAM_FILES if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    try:
        out = run(args)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1

    print(f"\nperfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("report " + json.dumps(out["report"], default=str))
    print(f"correctness attempted={out['attempted']} failed={out['failed']} error_rate={out['error_rate']}")
    for e in out["errors"][:10]:
        print("  error " + e)
    print("env " + json.dumps(out["env"]))
    print("setup_parts " + json.dumps(out["setup_parts"]))
    print("timeline_s " + json.dumps(out["timeline_s"]))
    for name, value in out["end_to_end"].items():
        print(f"end_to_end {name} = {value:.6g} {END_TO_END[name]}")
    if args.trace:
        for name, value in out["per_layer"].items():
            print(f"per_layer {name} = {value:.6g} {PER_LAYER[name]}")
        for name, row in out["by_span_name"].items():
            print(f"span {name} " + json.dumps(row))
        print("tracing_overhead " + json.dumps(out["tracing_overhead"]))
    metrics = (
        {k: {"value": v, "unit": PER_LAYER[k]} for k, v in out["per_layer"].items()}
        if args.trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in out["end_to_end"].items()}
    )
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
