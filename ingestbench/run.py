"""Ingest benchmark: one workload in one process at ``local[nproc]``.

Run from the repository root::

    python3 ingestbench/run.py --workload serve_mor --seed 1 --seconds 8 --trace 0

Workloads and their settings are in ``ingestbench/workloads.json``. The
run generates its change log from ``--seed``, sets up (session, log,
pre-load, untimed warm-up), measures the timed phase, checks the output
against the DuckDB LWW oracle and the pipeline's own lineage audit, and
prints one JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (spans go to
``.bench_out/traces/``). Everything the run writes stays under the
repository root: scratch data in ``.bench_work/`` (removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

CLOCK0 = time.perf_counter()  # setup_s counts from process start
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pct(samples, q: float) -> float:
    import numpy as np

    return float(np.percentile(samples, q)) if len(samples) else 0.0


def _start_spark(work: str, cores: int):
    """Start the session with every scratch path inside ``work``."""
    from clinvar_ingest_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # executor-side python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return get_spark(
        "ingestbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(cfg['workloads'])}")
    if not os.path.isdir(os.path.join(ROOT, "clinvar_ingest_spark")):
        print("ingestbench: clinvar_ingest_spark not found next to ingestbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import loops
    from oracle import Oracle

    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    ctx = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        session_s = time.perf_counter() - t0
        tracer_factory = None
        if args.trace:
            from spans import Tracer

            def tracer_factory(table):
                return Tracer(spark, table)

        ctx = loops.Ctx(
            spark, work, args.seed, args.seconds, cfg["workloads"][args.workload],
            cfg["read_round"],
            lambda log_dir: Oracle(log_dir, os.path.join(work, "tmp"), cores),
            tracer_factory, CLOCK0,
        )
        ctx.mark("session")
        phase = loops.WORKLOADS[args.workload](ctx)
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
        result = _check_and_report(ctx, phase, session_s, args)
    finally:
        try:
            if ctx is not None and ctx.oracle is not None:
                ctx.oracle.close()
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _check_and_report(ctx, phase, session_s: float, args) -> dict:
    from pyspark.sql import functions as F

    pipe, oracle = ctx.pipe, ctx.oracle
    state = pipe.current_state().select(
        "url", "seq", F.col("text").isNull().alias("text_null")
    ).toArrow()
    st = oracle.check_state(state, phase.hwm)
    lineage = pipe.verify_lineage()
    bad_lookups = oracle.bad_lookups(phase.lookups)
    bad_scans = oracle.bad_scans(phase.scans)
    failed = (
        (not st["count_ok"]) + (not st["digest_ok"]) + st["null_text_rows"]
        + len(lineage["problems"]) + bad_lookups + bad_scans
    )
    attempted = phase.batches + len(phase.lookups) + len(phase.scans) + len(phase.compacts)
    checks = {
        "state": st, "lineage_problems": lineage["problems"][:5],
        "bad_lookups": bad_lookups, "bad_scans": bad_scans,
        "setup_marks": ctx.marks, "phase_wall_s": phase.wall_s, "batches": phase.batches,
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "checks": checks}),
          file=sys.stderr)

    import numpy as np

    if args.trace:
        tracer = ctx.tracer
        values = tracer.per_layer(phase.wall_s)
        values.update({
            "session.start_s": session_s,
            "synthetic.gen_s": ctx.gen_s,
            "synthetic.log_bytes": oracle.slice_bytes(phase.amp_lo, phase.hwm),
            "change_log.lag_end_events": phase.lag_end_events,
            "change_log.lateness_p50_s": _pct(np.concatenate(phase.lateness), 50),
            "change_log.lateness_p90_s": _pct(np.concatenate(phase.lateness), 90),
            "tables.files_written": phase.files_written,
            "tables.bytes_written": phase.bytes_written,
        })
        tracer.write(os.path.join(
            ROOT, ".bench_out", "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        values = {
            "setup_s": ctx.setup_s,
            "events_per_s": phase.rate_events / phase.rate_s,
            "freshness_p50_s": _pct(np.concatenate(phase.freshness), 50),
            "freshness_p90_s": _pct(np.concatenate(phase.freshness), 90),
            "lookup_p50_s": _pct(phase.lookup_s, 50),
            "lookup_p90_s": _pct(phase.lookup_s, 90),
            "scan_p50_s": _pct(phase.scan_s, 50),
            "write_amp": phase.amp_bytes / oracle.slice_bytes(phase.amp_lo, phase.hwm),
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
