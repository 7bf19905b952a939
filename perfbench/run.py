"""Tokenizer benchmark: ref_tokenize, auto_tokenize and training_prep.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run makes its inputs from --seed in
a fresh directory under .perfbench_runs/ and starts a session, a fresh
process (child.py: import, get_spark, untimed warm-up passes, then timed
passes for --seconds), checks every pass's output, and prints one JSON
object as the last line of stdout. With --trace 1 a second, traced session
follows with Spark's event log on, and the per-layer ledger is printed
instead of the end-to-end metrics. The run directory is deleted at exit.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402
import workloads  # noqa: E402
from ledger import COUNTERS  # noqa: E402

#: Hard limit for one run, below the 180 s every run must end within.
RUN_LIMIT_S = 170

SPANS = (
    "session.get_spark", "session.load_table", "schema_infer.infer_column_classes",
    "quantile_bin.fit_quantile_boundaries", "quantile_bin.bucketize",
    "schema_infer.auto_tokenize", "sinks.write_parquet",
    "pipelines.prepare_training_data",
)
E2E_UNITS = {
    "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "setup_s": "s", "peak_rss_mb": "MB",
}
COUNTER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
    "input_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "records_written": "count",
}


def _kill_session(sid: int) -> None:
    """Stop every process left in a session (the JVM and the Python daemon
    and workers it forked) and wait until they are gone."""
    deadline = time.monotonic() + 10
    while (pids := proc.session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _session(args, run_dir: str, k: int, traced: bool, seconds: float, deadline: float) -> dict:
    sdir = os.path.join(run_dir, f"session{k}")
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(sdir, d))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{sdir}/events",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=os.path.join(sdir, "local"),
        TMPDIR=os.path.join(sdir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={sdir}/tmp -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(seconds), "--run-dir", run_dir, "--session-dir", sdir,
        "--trace", str(int(traced)), "--t0", repr(time.monotonic()),
    ]
    p = subprocess.Popen(cmd, cwd=sdir, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        p.kill()
        p.wait()
        _kill_session(p.pid)
    if rc != 0:
        raise RuntimeError(f"session {k} {'timed out' if rc is None else f'exited {rc}'}")
    with open(os.path.join(sdir, "result.json")) as f:
        return json.load(f)


def _e2e(session: dict, rows: int) -> dict:
    ok = [p for p in session["passes"] if p["ok"]] or session["passes"]
    wall = statistics.median(p["wall_s"] for p in ok)
    return {
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(p["cpu_s"] for p in ok),
        "setup_s": session["setup_s"],
        "peak_rss_mb": session["peak_rss_mb"],
    }


def _per_layer(traced: dict, untraced_wall: float) -> tuple[dict, dict]:
    """Median over the traced passes of each span's counters, the two
    per-workload ratios and the tracing overhead; plus each span's jobs
    split by the action that submitted them, as a mean per pass."""
    ledger, labels = traced["ledger"]["ledger"], traced["ledger"]["labels"]
    passes = traced["passes"]
    per_pass = [ledger.get(p["id"], {}) for p in passes]
    out = {
        f"{span}.{c}": statistics.median(spans.get(span, {}).get(c, 0.0) for spans in per_pass)
        for span in SPANS for c in COUNTERS
    }
    # get_spark runs once, before there is a Spark context to tag
    sp = next(sp for sp in traced["spans"] if sp["span"] == "session.get_spark")
    out["session.get_spark.wall_s"] = out["session.get_spark.driver_s"] = sp["end"] - sp["start"]
    out["scan_amplification"] = statistics.median(
        sum(v.get("input_bytes", 0.0) for v in spans.values()) / traced["input_bytes"]
        for spans in per_pass
    )
    out["slot_utilization"] = statistics.median(
        sum(v.get("executor_run_s", 0.0) for v in spans.values()) / (p["wall_s"] * 4)
        for spans, p in zip(per_pass, passes)
    )
    out["tracing_overhead_s"] = statistics.median(p["wall_s"] for p in passes) - untraced_wall
    sites: dict = {}
    for p in passes:
        for span, by_site in labels.get(p["id"], {}).items():
            for site, v in by_site.items():
                acc = sites.setdefault(span, {}).setdefault(site, dict.fromkeys(v, 0))
                for k in acc:
                    acc[k] += v[k] / len(passes)
    return out, sites


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, workloads.PKG)):
        print(f"error: the program ({workloads.PKG}/) is not in {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S
    wl = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if not wl.needs_spark_to_generate:
            wl.generate(None, os.path.join(run_dir, "input"), args.seed)
            os.sync()
        # One untraced session; --trace 1 adds a traced one after it, and
        # the two share --seconds, so a traced run stays within the limit.
        plan = [False, True] if args.trace else [False]
        results = [
            _session(args, run_dir, k, traced, args.seconds / len(plan), deadline)
            for k, traced in enumerate(plan)
        ]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    e2e = _e2e(results[0], wl.rows)
    passes = [p for r in results for p in r["passes"]]
    failed = sum(not p["ok"] for p in passes)
    for r in results:
        for err in r["errors"]:
            print(f"check failed: {err}", file=sys.stderr)

    print(f"workload {wl.name}: {wl.rows} input rows, {len(passes)} checked passes "
          f"in {len(results)} sessions, closed loop, 1 client, local[4]")
    walls = " ".join(f"{p['wall_s']:.3f}" for p in results[0]["passes"])
    cpus = " ".join(f"{p['cpu_s']:.2f}" for p in results[0]["passes"])
    print(f"  pass wall_s, in order: {walls}")
    print(f"  pass cpu_s, in order: {cpus}")
    print(f"  failed_share {failed}/{len(passes)} = {failed / len(passes):.3f} ratio")
    if args.trace:
        metrics, sites = _per_layer(results[1], e2e["wall_s"])
        units = {k: COUNTER_UNITS[k.rsplit(".", 1)[1]] for k in metrics if "." in k}
        units.update(scan_amplification="ratio", slot_utilization="ratio", tracing_overhead_s="s")
        for span in SPANS:
            row = {c: metrics[f"{span}.{c}"] for c in COUNTERS}
            if any(row.values()):
                print(f"  {span}: " + " ".join(f"{c}={v:.6g}" for c, v in row.items()))
            for site, v in sorted(sites.get(span, {}).items()):
                print(f"    {site}: " + " ".join(f"{k}={x:.4g}" for k, x in v.items()))
        print(f"  scan_amplification={metrics['scan_amplification']:.4f} "
              f"slot_utilization={metrics['slot_utilization']:.4f} "
              f"tracing_overhead_s={metrics['tracing_overhead_s']:.4f}")
    else:
        metrics, units = e2e, E2E_UNITS
        for k, v in metrics.items():
            print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
