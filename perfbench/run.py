#!/usr/bin/env python3
"""Extraction benchmark for ocr_project_spark.

Run from the repository root:

    python3 perfbench/run.py --workload regular --seed 1 --seconds 8 --trace 0

Workloads (see ``workloads.plan`` and BENCHMARK.json): ``regular``
and ``python_kernel``.  Inputs are generated from ``--seed`` into
``.perfbench/cache`` and only their paths reach the program.  The run
drives the public API in this one process on ``local[4]``: it starts
the session, executes untimed warm-up reps, then a fixed number of
timed reps sized to ``--seconds``, then checks one output against the
cached oracle digests.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
layer ladder instead (``ladder.py``) and prints the per-layer metrics;
its spans go to ``.perfbench/traces``.  The last stdout line is the
result object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import proctree
from measure import (
    MASTER,
    MIN_TIMED_REPS,
    NOMINAL_REP_S,
    ROOT,
    STATE,
    WARMUP_REPS,
    Reps,
    Session,
    check_output,
    log,
    prepare_env,
    result,
)


def end_to_end(args, manifest, session: Session, df) -> dict:
    import workloads

    def rep(i: int) -> None:
        workloads.noop(df)

    warm = Reps().run(session, rep, "warmup", n=WARMUP_REPS)
    setup_s = session.start_s + sum(warm.wall)
    n = max(MIN_TIMED_REPS, math.ceil(args.seconds / NOMINAL_REP_S))
    peak = proctree.PeakRss(session.jvm_pid).start()
    try:
        timed = Reps().run(session, rep, "rep", n=n)
    finally:
        peak_mb = peak.stop()
    if not timed.wall:
        raise RuntimeError(f"all {timed.attempted} timed reps failed")
    shuffle = [session.metrics.read(g).shuffle_write_mb for g in timed.groups]
    # noop reps keep no output: the same DataFrame is collected once,
    # outside the timed window, for the oracle check
    rate, _ = check_output(df.toArrow(), manifest)
    wall = statistics.median(timed.wall)
    attempted = warm.attempted + timed.attempted
    failed = warm.failed + timed.failed
    log(
        f"{args.workload} seed={args.seed}: {manifest['docs']} docs, "
        f"{manifest['spans']} spans; setup {setup_s:.2f} s "
        f"(start {session.start_s:.2f} s, warm-up {[round(w, 2) for w in warm.wall]}); "
        f"{len(timed.wall)} timed reps {[round(w, 3) for w in timed.wall]}; "
        f"cpu {[round(c, 2) for c in timed.cpu]}; stage source {session.metrics.source}"
    )
    values = {
        "docs_per_s": manifest["docs"] / wall,
        "spans_per_s": manifest["spans"] / wall,
        "cpu_s_per_mspan": statistics.median(timed.cpu) / (manifest["spans"] / 1e6),
        "shuffle_write_mb": statistics.median(shuffle),
        "peak_rss_mb": peak_mb,
        "match_rate": rate,
        "ok_rep_rate": (attempted - failed) / attempted,
        "setup_s": setup_s,
    }
    return result("end_to_end", values, rate == 1.0, attempted, failed)


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "ocr_project_spark", "__init__.py")):
        log("run from the repository root: ocr_project_spark/ not found")
        return 2
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    sys.path.insert(0, ROOT)
    import inputs
    import workloads

    try:
        call = workloads.plan(args.workload)
    except ValueError as e:
        log(str(e))
        return 2
    t0 = time.perf_counter()
    manifest = inputs.prepare(
        os.path.join(STATE, "cache"), "regular", args.seed, workloads.REGULAR_SIZE
    )
    log(f"inputs {manifest['key']} ready in {time.perf_counter() - t0:.2f} s")

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    session = Session(MASTER, work, trace=bool(args.trace))
    try:
        df = call(*workloads.read_inputs(session.spark, manifest))
        if args.trace:
            import ladder

            result = ladder.traced(args, manifest, session, df, work)
        else:
            result = end_to_end(args, manifest, session, df)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
