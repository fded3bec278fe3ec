"""CDC engine benchmark: one seeded workload per invocation.

    python3 cdcbench/run.py --workload mor_backlog_replay --seed 1 \\
        --seconds 5 --trace 0

Runs the workload at ``local[<cpus this process may use>]`` with the
engine's shipped defaults (``get_spark`` defaults, no ``SKIPMAP_*``
variables, one epoch in flight), checks the engine's output against a
reference, and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Lines before it
carry the detail: every metric, the results that are printed but not
judged (events per second, epoch, consumer and scan times, the CPU of a
consumer pass and of a scan), per-epoch timings, the effective Spark conf,
correctness notes and a noise ledger (host steal, process-tree CPU).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice in one session, traced (spans, job descriptions, Spark event
log) and then untraced, and reports the per-layer metrics plus the tracing
overhead: the gap between the two runs' wall-clock numbers.

All working state lives under ``.cdcbench/`` in the checkout and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 2


def _bench() -> dict:
    """BENCHMARK.json: the one list of the workloads, why each was chosen,
    and the metrics this benchmark reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _engine_importable() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import skipmap_processor_spark as pkg
    except ImportError as e:
        print(f"cdcbench: engine package not importable: {e}", file=sys.stderr)
        return False
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"cdcbench: engine package found outside the checkout: "
              f"{pkg.__file__}", file=sys.stderr)
        return False
    return True


def _stop(spark) -> None:
    """Stop Spark, then the JVM and any process left under this one."""
    from pyspark import SparkContext

    from cdcbench import procstat

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for p in procstat.tree(os.getpid()):
        if p.pid != os.getpid():
            try:
                os.kill(p.pid, 9)
            except ProcessLookupError:
                pass
    # reap children so none is left as a zombie
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not _engine_importable():
        return 2

    from cdcbench.workloads import SPECS, Workload

    spec = SPECS.get(args.workload)
    if spec is None:
        print(f"cdcbench: unknown workload {args.workload!r}; one of "
              f"{sorted(SPECS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".cdcbench",
                        f"{spec.name}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # measure what ships: no engine tuning knobs from the environment
    for k in [k for k in os.environ if k.startswith("SKIPMAP_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cpus = len(os.sched_getaffinity(0))
    conf = {"spark.local.dir": os.path.join(work, "spark-local")}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    from skipmap_processor_spark.session import get_spark

    try:
        t0 = time.monotonic()
        spark = get_spark(master=f"local[{cpus}]", app_name="cdcbench",
                          extra_conf=conf)
        session_start = time.monotonic() - t0
        wl = Workload(spark, spec, args.seed, work,
                      spark.sparkContext._gateway.proc.pid)
        return _measure(args, spec, wl, spark, session_start, cpus, log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spec, wl, spark, session_start: float, cpus: int,
             log_dir: str) -> int:
    from cdcbench.layers import per_layer
    from cdcbench.trace import Tracer, read_event_log
    from cdcbench.workloads import end_to_end, unjudged

    effective = dict(sorted(spark.sparkContext.getConf().getAll()))
    try:
        if args.trace:
            # traced first, with the same set-up as an untraced run, so its
            # layers explain that run; the untraced rerun after it is the
            # warmer of the two, so the overhead it shows errs high
            tracer = Tracer(spark, "traced")
            ph = wl.run(args.seconds, N_SETUPS, "traced", tracer=tracer)
            untraced = wl.run(args.seconds, 1, "untraced")
        else:
            ph = wl.run(args.seconds, N_SETUPS, "run")
    finally:
        _stop(spark)

    bench = _bench()
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    e2e = end_to_end(ph, session_start)
    if args.trace:
        metrics, detail = per_layer(ph, tracer, read_event_log(log_dir),
                                    session_start, unjudged(untraced),
                                    unjudged(ph))
        units = layer_units
        phases = [ph, untraced]
    else:
        metrics, detail, units, phases = e2e, {}, e2e_units, [ph]
    if set(metrics) != set(units):
        print(f"cdcbench: metrics {sorted(set(metrics) ^ set(units))} are "
              f"not both computed and listed in BENCHMARK.json",
              file=sys.stderr)
        return 2

    wall = ph.wall
    report = {
        "workload": spec.name,
        "why": next(w["why"] for w in bench["workloads"]
                    if w["name"] == spec.name),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": f"local[{cpus}]",
        "end_to_end": {k: [e2e[k], u] for k, u in e2e_units.items()},
        "unjudged": unjudged(ph),
        "per_layer": ({k: [metrics[k], units[k]] for k in units}
                      if args.trace else {}),
        "detail": detail,
        "epochs_applied": len(ph.epochs),
        "events_applied": ph.events,
        "setup_s_each": ph.setup_s,
        "epoch_apply_s": [s.get("wall_sec") for s in ph.epochs],
        "round_s": ph.rounds,
        "consume": ph.consume,
        "snapshot_scan_s_each": ph.scans,
        "noise": {
            "measure_wall_s": wall,
            "host_steal_s": ph.steal_s,
            "host_steal_frac": ph.steal_s / (wall * os.cpu_count()),
            "host_busy_s": ph.host_busy_s,
            "tree_cpu_s": {"jvm": ph.cpu.jvm_s,
                           "python_workers": ph.cpu.python_workers_s,
                           "driver": ph.cpu.driver_s},
            "gc_s": ph.gc_s,
        },
        "mismatches": [m for p in phases for m in p.mismatches],
        "spark_conf": effective,
    }
    print(json.dumps(report, indent=1, default=str))
    correct = not report["mismatches"]
    result = {
        "correct": correct,
        "attempted": sum(p.attempted for p in phases),
        "failed": sum(p.failed for p in phases),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
