"""Benchmark of the estuary_spark sync engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) in one process on ``local[nproc]``
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layers in spans and
reports the per-layer metrics instead, and writes every span and Spark stage
to ``.perfbench_out/``. All files are written under the checkout that holds
this script; the work directory is removed at the end.
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
import tempfile
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the environment the numbers are measured in: driver heap well below the
# machine's memory, one local executor per CPU this process may use
DRIVER_MEM = "3g"
CORES = len(os.sched_getaffinity(0))

END_TO_END = (
    "setup_s",
    "apply_events_per_s",
    "batch_ms_p50",
    "snapshot_read_s",
    "point_read_ms_p50",
    "point_read_ms_p75",
    "changes_read_s",
    "driver_peak_rss_mb",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["ESTUARY_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def process_tree(pid: int) -> list[int]:
    out = [pid]
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out += process_tree(k)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except FileNotFoundError:
            continue
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit (it exits when
    its stdin, the gateway pipe, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(wl, tracer, stats: dict) -> dict:
    from spans import covered_ms

    stages = tracer.stages()
    m = tracer.span_metrics(stages)
    intervals = [(s.start_ms, s.end_ms) for s in stages]
    driver_only, n_stages = [], []
    for a, b in wl.batch_windows:
        lo, hi = int(a * 1000), int(b * 1000)
        driver_only.append(hi - lo - covered_ms(intervals, lo, hi))
        n_stages.append(sum(lo <= s.start_ms < hi for s in stages))
    lo_w = wl.batch_windows[0][0]
    hi_w = wl.batch_windows[-1][1]
    applies = [
        s.wall_s for s in tracer.spans if s.name == "apply.apply_batch" and lo_w <= s.start and s.end <= hi_w
    ]
    sync = [s for s in tracer.spans if s.name == "sync"]
    m.update(
        {
            "batch.driver_only_ms_p50": (statistics.median(driver_only), "ms"),
            "batch.stages_p50": (statistics.median(n_stages), "count"),
            "table.delta_chain_max": (stats["delta_chain_max"], "count"),
            "table.data_files": (stats["data_files"], "count"),
            "table.bytes_per_live_row": (stats["bytes"] / max(1, wl.live_rows), "B"),
            "maintenance.compact.buckets": (tracer.compacted_buckets, "count"),
            "multi.fanout_overlap": (sum(applies) / sum(wl.batch_ms) * 1000.0, "ratio"),
            "unattributed_s": (sum(s.self_s for s in sync), "s"),
            "sync.wall_s": (sum(s.wall_s for s in sync), "s"),
        }
    )
    return m, stages


def write_trace(args, tracer, stages, e2e) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    main_threads = {s.thread for s in tracer.spans if s.name == "sync"}
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "end_to_end_traced": e2e,
                "spans": [
                    {
                        "name": s.name,
                        "thread": "driver" if s.thread in main_threads else str(s.thread),
                        "start": s.start,
                        "end": s.end,
                        "self_s": s.self_s,
                        "parent": s.parent.name if s.parent else None,
                    }
                    for s in tracer.spans
                ],
                "stages": [vars(s) for s in stages],
            },
            fh,
        )
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "estuary_spark", "__init__.py")):
        print(f"perfbench: no estuary_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = pin_environment(work)
    if args.trace:
        # the traced run reads every job and stage back from the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    from estuary_spark.session import get_spark

    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    log(f"spark session up in {time.time() - START:.1f}s")
    tracer = None
    crashed = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
        wl.setup()
        wl.put("setup_s", time.time() - START, "s")
        log(f"setup done in {time.time() - START:.1f}s on local[{CORES}]")
        restore = lambda: None
        if tracer:
            restore = tracer.install()
            wl.tracer = tracer
        try:
            wl.measure()
        except Exception as e:  # the operation that raised counts as failed
            crashed = e
            wl.ops.check(False, f"{type(e).__name__}: {e}")
        restore()
        wl.put("driver_peak_rss_mb", peak_rss_mb([os.getpid(), *process_tree(jvm_pid)]), "MB")
        metrics = {k: wl.metrics[k] for k in END_TO_END if k in wl.metrics}
        for k, (v, unit) in metrics.items():
            log(f"{k:>22} = {v:12.4f} {unit:<5} (n={wl.samples.get(k, 1)})")
        if tracer and crashed is None:
            layers, stages = layer_metrics(wl, tracer, wl.table_stats())
            path = write_trace(args, tracer, stages, {k: v for k, (v, _) in metrics.items()})
            log(f"spans and stages written to {os.path.relpath(path, ROOT)}")
            metrics = layers
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    ok = crashed is None and wl.ops.failed == 0
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": wl.ops.attempted,
                "failed": wl.ops.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
