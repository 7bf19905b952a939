"""One benchmark session in a fresh process: import the program, build its
Spark session, warm up on a throwaway input, then run and check the timed
passes on the run's input.

Started by run.py; writes its figures to <session-dir>/result.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import types
from importlib import import_module

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ledger  # noqa: E402
import proc  # noqa: E402
import workloads  # noqa: E402

#: The fewest timed passes a session runs, whatever --seconds is.
MIN_PASSES = 2


def _modules() -> types.SimpleNamespace:
    pkg = workloads.PKG
    return types.SimpleNamespace(
        session=import_module(f"{pkg}.session"),
        quantile_bin=import_module(f"{pkg}.operators.quantile_bin"),
        schema_infer=import_module(f"{pkg}.operators.schema_infer"),
        sinks=import_module(f"{pkg}.sources.sinks"),
        pipelines=import_module(f"{pkg}.pipelines"),
    )


class Spans:
    """In trace mode, tag each call's Spark jobs with a job group named
    after the call and record its start and end; otherwise call straight
    through."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.records: list[dict] = []
        self.sc = None
        self.pass_id = "-"

    def __call__(self, name, fn, *args, **kwargs):
        if not self.trace:
            return fn(*args, **kwargs)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.pass_id}|{name}", name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.records.append(
                {"pass": self.pass_id, "span": name, "start": t0, "end": time.time()}
            )
            if self.sc is not None:
                self.sc.setJobGroup(f"{self.pass_id}|", "")


def _log(msg: str) -> None:
    print(f"perfbench {time.monotonic():.2f}: {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--session-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    wl = workloads.WORKLOADS[a.workload]
    spans = Spans(bool(a.trace))
    res: dict = {"passes": [], "errors": []}

    mods = _modules()
    _log(f"imported at {time.monotonic() - a.t0:.2f}")
    spark = spans("session.get_spark", mods.session.get_spark, cpus=4)
    _log(f"get_spark done at {time.monotonic() - a.t0:.2f}")
    spans.sc = spark.sparkContext
    me = os.getpid()

    # The run's input is written first, so that no job but the pass runs
    # between the warm-up and the timed passes: after a generating job the
    # first timed pass ran up to 1.3x slower than the next. Writing it is
    # not part of set-up.
    main_in = os.path.join(a.run_dir, "input")
    gen_s = 0.0
    if not os.path.exists(main_in):
        tg = time.monotonic()
        wl.generate(spark, main_in, a.seed)
        os.sync()  # let the input's writeback drain before timing
        gen_s = time.monotonic() - tg
    res["input_bytes"] = workloads.dir_bytes(main_in)

    # Warm-up: untimed passes, each on a fresh hard-linked copy of a
    # throwaway input of the same size at its own path, so no path-keyed
    # session memo is warm when timing starts. The JIT keeps compiling for
    # several passes: after a single warm-up the timed passes still ran
    # 1.3-1.5x slower than later ones, and where on that curve they fell
    # moved the median by 25% between runs.
    warm_in = os.path.join(a.session_dir, "warm_in")
    warm_out = os.path.join(a.session_dir, "warm_out")
    wl.generate(spark, warm_in, a.seed ^ 0x5EED)
    for w in range(wl.warm_passes):
        spans.pass_id = "warm"
        tw = time.monotonic()
        workloads.link_copy(warm_in, f"{warm_in}{w}")
        wl.run_pass(spark, mods, spans, f"{warm_in}{w}", warm_out)
        shutil.rmtree(warm_out)
        shutil.rmtree(f"{warm_in}{w}")
        _log(f"warm pass {w}: {time.monotonic() - tw:.2f} s")
    res["setup_s"] = time.monotonic() - a.t0 - gen_s
    _log(f"setup_s {res['setup_s']:.2f} (input written in {gen_s:.2f} s, not counted)")
    shutil.rmtree(warm_in)
    check_state = wl.prepare_check(main_in, a.seed)
    _log("check state ready")

    # A fixed number of passes, sized to take about --seconds at this
    # commit: the JIT is still settling, so a pass count that followed the
    # speed of the moment would move the median with it.
    n_passes = max(MIN_PASSES, round(a.seconds / wl.nominal_pass_s))
    for i in range(n_passes):
        in_dir = os.path.join(a.session_dir, f"in{i}")
        out_dir = os.path.join(a.session_dir, f"out{i}")
        workloads.link_copy(main_in, in_dir)
        spans.pass_id = f"p{i}"
        c0 = proc.tree_cpu_s(me)
        t0 = time.perf_counter()
        try:
            result = wl.run_pass(spark, mods, spans, in_dir, out_dir)
            err = None
        except Exception as e:  # a failed pass is counted, not fatal
            result, err = None, f"{type(e).__name__}: {e}"
            traceback.print_exc()
        wall = time.perf_counter() - t0
        cpu = proc.tree_cpu_s(me) - c0
        tc = time.monotonic()
        if err is None:
            errs = wl.check(check_state, result, out_dir)
            err = "; ".join(errs) if errs else None
        if err:
            res["errors"].append(f"pass {i}: {err}")
        res["passes"].append(
            {"id": spans.pass_id, "wall_s": wall, "cpu_s": cpu, "ok": err is None}
        )
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        _log(f"pass {i}: {wall:.3f} s, checked in {time.monotonic() - tc:.2f} s")

    _log(f"{n_passes} timed passes done")
    res["peak_rss_mb"] = proc.tree_peak_rss_mb(me)
    res["spans"] = spans.records
    spark.stop()
    if a.trace:
        res["ledger"] = ledger.fold(os.path.join(a.session_dir, "events"), spans.records)
    with open(os.path.join(a.session_dir, "result.json"), "w") as f:
        json.dump(res, f)
    _log("session done")
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stderr.flush()
    # The context is stopped and the result written; run.py kills the
    # JVM's process group, so skip the interpreter's slow teardown.
    os._exit(rc)
