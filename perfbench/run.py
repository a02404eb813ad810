#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,lake_mix,analytics} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Generates the inputs
from the seed, sets up (session start, staging, warm-up), measures for
``--seconds`` seconds, checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
``perfbench/README.md``). Scratch files live under ``.perfbench_work/``
and are removed at exit; a traced run keeps its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "lake_mix", "analytics")
# warm-up units per workload (a round, a block, a pass): enough that per-op
# CPU is about flat when timing starts, few enough that a run stays near
# 40 s on a 4-core box (see README.md, "Set-up and warm-up")
WARMUP = {"ingest": 3, "lake_mix": 4, "analytics": 2}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor of the generated inputs (default 0.1)")
    p.add_argument("--corrupt-check", action="store_true",
                   help="self-test hook: corrupt the first expected hash")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t_main = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "crest_spark")):
        print(f"perfbench: no crest_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()

    from common import CORES, Run

    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    run = Run(t_main, args.seconds, bool(args.trace), corrupt=args.corrupt_check)
    try:
        result = measure(args, run, work, out_dir)
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        shutdown(getattr(run, "wl", None))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, run, work: str, out_dir: str) -> dict:
    import datagen
    import metrics

    if run.tracer is not None:
        run.tracer.install()
        run.tracer.enabled, run.tracer.op_id = True, "setup"
    if args.workload == "ingest":
        from wl_ingest import Ingest

        wl = Ingest(run, work, args.seed)
    elif args.workload == "lake_mix":
        from wl_lake_mix import LakeMix

        wl = LakeMix(run, work, args.seed, args.sf)
    else:
        from wl_analytics import Analytics

        data = os.path.join(work, "data")
        datagen.write_tables(data, args.sf, args.seed)
        wl = Analytics(run, work, data)
    run.wl = wl
    wl.setup()
    print(f"# {args.workload}: session {wl.session_start_s:.1f} s, set-up before "
          f"warm-up {time.perf_counter() - run.t_start:.1f} s", file=sys.stderr)
    if run.tracer is not None:
        run.tracer.enabled = False
    units = WARMUP[args.workload]
    t0 = time.perf_counter()
    run.warm_up(wl.unit, units)
    warmup_s = time.perf_counter() - t0
    print(f"# {args.workload}: warm-up {units} units, {warmup_s:.1f} s, "
          f"CPU-ms per op {run.warm_cpu}", file=sys.stderr)

    run.begin_timed()
    wl.start_timing()
    run.time_units(wl.unit)
    host = run.end_timed()
    print(f"# box: control {host['box.control_ms_start']:.1f} -> "
          f"{host['box.control_ms_end']:.1f} ms, steal {host['box.steal_frac']:.3f}",
          file=sys.stderr)
    print(f"# {args.workload}: timed {len(run.units)} units, CPU-ms per op "
          f"{run.timed_cpu}", file=sys.stderr)
    wl.finish()
    wl.count()

    if run.trace:
        values = metrics.not_run(args.workload)
        values.update(host)
        values.update(wl.layer_metrics())
        values["session.start_s"] = wl.session_start_s
        values["session.warmup_s"] = warmup_s
        values.update(wl.summary(True))
        values["trace.overhead_frac"] = run.trace_overhead()
        run.tracer.write(os.path.join(out_dir, f"spans-{args.workload}.json"))
    else:
        values = wl.summary(False)
        values["setup_s"] = run.setup_s
    for f in run.failures[:10]:
        print(f"# check failed: {f}", file=sys.stderr)
    return {
        "correct": run.failed == 0 and not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics.emit(values, run.trace),
    }


def shutdown(wl) -> None:
    """Stop the workload's services, the Spark session and its JVM, and
    wait for the JVM (and the Python workers under it) to exit."""
    if wl is None:
        return
    try:
        wl.stop_services()
    except Exception:  # noqa: BLE001
        traceback.print_exc()
    spark = getattr(wl, "spark", None)
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
