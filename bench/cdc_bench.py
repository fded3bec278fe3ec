"""CDC replay throughput bench: binlog -> lake upsert, events/sec.

Generates (once, cached) a bulk event log at a parameterized size, replays
it epoch-by-epoch through the engine's epoch scheduler (the one
``replay_log`` and ``run_stream`` use: Arrow normalize+sha -> LWW-pick
MERGE -> ledger), and reports sustained events/sec. Run standalone:

    python bench/cdc_bench.py --cpus 32 --events 2000000 --epochs 8

Prints one JSON line. Used by bench.py (single run) and
bench/scaling.py (local[N] vs local[4N] efficiency protocol,
BASELINE.md "Sandbox scaling evidence").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, ".data")


def ensure_event_log(n_keys: int, n_events: int, n_epochs: int) -> str:
    from skipmap_processor_spark.sources.events import generate_bulk_chunked

    sig = f"bulkc_k{n_keys}_e{n_events}_p{n_epochs}"
    outdir = os.path.join(DATA, "bench_events", sig)
    marker = os.path.join(outdir, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(outdir, ignore_errors=True)
        generate_bulk_chunked(outdir, n_keys=n_keys, n_events=n_events,
                              n_epochs=n_epochs)
        with open(marker, "w") as f:
            f.write("ok")
    if os.environ.get("SKIPMAP_BENCH_INPUT_SHM", "1") != "1":
        return outdir
    # Serve bench INPUT from tmpfs too: the sandbox's virtual disk burns
    # system CPU and throttles under host congestion (measured: identical
    # runs 15s vs 250s per epoch purely by input-read path). A real
    # executor reads from distributed storage that scales with cluster
    # size; disk-vs-tmpfs here is sandbox noise, not the modeled system.
    shm = os.path.join("/dev/shm/skipmap_bench_inputs", sig)
    shm_marker = os.path.join(shm, "_COMPLETE")
    if not os.path.exists(shm_marker):
        shutil.rmtree(shm, ignore_errors=True)
        shutil.copytree(outdir, shm)
    return shm


def _proc_stat() -> tuple[float, float]:
    """(busy_cpu_sec, steal_sec) system-wide from /proc/stat (USER_HZ=100).

    The sandbox VM shows 10-25% hypervisor steal that varies by the minute;
    events-per-CPU-second is the throttle-robust scaling evidence alongside
    wall clock."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    user, nice, system = vals[0], vals[1], vals[2]
    irq = vals[5] if len(vals) > 5 else 0
    softirq = vals[6] if len(vals) > 6 else 0
    steal = vals[7] if len(vals) > 7 else 0
    return (user + nice + system + irq + softirq) / 100.0, steal / 100.0


def _gc_flags(cpus: int) -> str:
    """JVM GC flags per modeled core count; SKIPMAP_BENCH_GC overrides for
    A/B runs (g1 | parallel | none)."""
    mode = os.environ.get("SKIPMAP_BENCH_GC", "g1")
    cci = f" -XX:CICompilerCount={max(2, min(cpus, 4))}"
    if mode == "none":
        return ""
    if mode == "parallel":
        return (f"-XX:+UseParallelGC -XX:ParallelGCThreads={cpus}" + cci)
    return (
        f"-XX:+UseG1GC -XX:ParallelGCThreads={cpus}"
        f" -XX:ConcGCThreads={max(1, cpus // 4)}" + cci
    )


def run(cpus: int, n_keys: int, n_events: int, n_epochs: int,
        num_buckets: int | None = None,
        sha_impl: str = "arrow", merge_mode: str = "cow",
        compact_every: int = 4, warmup_epochs: int = 0,
        shuffle_partitions: int | None = None,
        events_dir: str | None = None) -> dict:
    from skipmap_processor_spark.lake import LakeTable
    from skipmap_processor_spark.session import get_spark
    from skipmap_processor_spark.streaming.pipeline import (
        _apply_epochs,
        _epoch_slice,
    )

    # an explicit events_dir (e.g. one shard of a pre-split log) bypasses
    # generation; n_events must then be the actual row count of that dir
    events_dir = events_dir or ensure_event_log(n_keys, n_events, n_epochs)
    # Bench scratch (shuffle dirs + lake) lives on tmpfs: the sandbox's
    # virtual disk throttles sustained writes to ~40 MB/s after a burst
    # (measured: 2 GB buffered write+sync 4s, 4s, 58s, 49s back-to-back),
    # which is an artifact of the shared VM, not of the modeled cluster
    # (executor-local NVMe scales with executor count). Inputs stay on disk.
    # pid-suffixed: concurrent bench JVMs (sharded-executor protocol) must
    # not clobber each other's shuffle dirs and lakes
    scratch = f"/dev/shm/skipmap_bench_{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    # memory per core held constant (2 GiB/core): a 4N-executor cluster has
    # 4x the memory of an N-executor one — the sandbox stand-in mirrors that
    spark = get_spark(
        master=f"local[{cpus}]",
        # 4 waves of reduce tasks let the scheduler pack around slot-hash
        # imbalance (balls-in-bins over (_bucket,_salt) slots) instead of
        # eating it as a straggler tail; cluster-proportional, so the job
        # stays identical-in-shape at N and 4N. Measured at local[16], 32M
        # events: 1x/4 483k ev/s -> 4x/4 717k steady. The salt fan-out is
        # the engine's own rule (lake.salt_fanout); this env var stays
        # overridable for A/B bisection.
        # An EXPLICIT shuffle_partitions pins the physical job layout
        # (shuffle partition count, and through it the output file count)
        # so two cluster sizes run the byte-identical job — like a real
        # table whose bucket/file layout does not change when executors
        # are added. Default remains cluster-proportional.
        shuffle_partitions=shuffle_partitions or cpus * int(
            os.environ.get("SKIPMAP_BENCH_SHUFFLE_MULT", "4")),
        driver_memory=f"{max(2 * cpus, 8)}g",
        app_name=f"cdc-bench-{cpus}",
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            # One epoch = one ~650MB parquet file. At the default 128MB split
            # the map stage (scan+shuffle-write) runs on ~5 tasks — a fixed
            # serial term that caps BOTH configs and kills the N->4N ratio.
            # 8MB splits give ~80 map tasks: >=2 waves at local[32], ~10 at
            # local[8] — identical job, parallelism-independent.
            # SKIPMAP_BENCH_SPLIT_MB overrides for A/B bisection.
            "spark.sql.files.maxPartitionBytes": str(
                int(os.environ.get("SKIPMAP_BENCH_SPLIT_MB", "8")) * 1024 * 1024
            ),
            # Bound JVM service threads to the modeled core count: a local[8]
            # JVM on a 32-core host otherwise runs ~23 GC threads,
            # free-riding on cores a real 8-core executor would not have and
            # inflating the small-N throughput. Collector choice matters:
            # UseParallelGC (the old choice here) full-GC'd the 64g heap
            # repeatedly at local[32] — measured 4-13x CPU burn with
            # escalating per-epoch times; G1 (JVM default) with bounded
            # thread counts keeps fairness without the full-GC bomb.
            # the trailing -D marker makes an ORPHANED leg JVM (parent
            # driver killed, java reparented to init) findable by argv —
            # bench/scaling.py's reaper kills it by this marker (ADVICE r4)
            "spark.driver.extraJavaOptions": (
                _gc_flags(cpus) + " -Dskipmap.bench.leg=1"),
        },
    )
    lake_dir = os.path.join(scratch, f"bench_lake_{cpus}")
    shutil.rmtree(lake_dir, ignore_errors=True)
    # num_buckets fixed (NOT a function of cpus): the scaling protocol demands
    # the identical job at both parallelism levels.
    lake = LakeTable.create(
        spark, lake_dir, num_buckets=num_buckets or 32,
        merge_mode=merge_mode,
    )

    ev = spark.read.parquet(events_dir)
    epochs = sorted(r["epoch"] for r in ev.select("epoch").distinct().collect())

    def rows_of(eps):
        return _epoch_slice(ev, eps, epochs)

    if warmup_epochs > 0:
        # untimed JIT/codegen/Python-worker warmup against a scratch lake —
        # a 10^10-event stream runs warm forever; measuring cold JIT would
        # understate both configs and distort the scaling ratio
        wdir = os.path.join(scratch, f"bench_lake_warm_{cpus}")
        shutil.rmtree(wdir, ignore_errors=True)
        wlake = LakeTable.create(spark, wdir, num_buckets=num_buckets or max(cpus, 8),
                                 merge_mode=merge_mode)
        _apply_epochs(wlake, epochs[:warmup_epochs], rows_of, None, sha_impl,
                      "error", 1, 0, None)
        wlake.compact(target_files_per_bucket=1)
        shutil.rmtree(wdir, ignore_errors=True)

    detail = os.environ.get("SKIPMAP_BENCH_DETAIL") == "1"
    import resource

    def _tree_cpu() -> float:
        """CPU seconds attributable to THIS bench only: utime+stime of the
        live process tree rooted here (the local-mode JVM holds all
        executor threads; Arrow workers are python children) plus reaped
        children via getrusage. Immune to co-tenant and stray-process
        pollution, unlike the system-wide /proc/stat number (kept
        alongside for the steal ledger)."""
        procs: dict[int, tuple[int, float]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # post-comm fields: [0]=state, [1]=ppid, [11]=utime, [12]=stime
            procs[int(pid)] = (int(parts[1]),
                               (int(parts[11]) + int(parts[12])) / 100.0)
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        total, stack = 0.0, [os.getpid()]
        while stack:
            p = stack.pop()
            total += procs.get(p, (0, 0.0))[1]
            stack.extend(kids.get(p, []))
        c = resource.getrusage(resource.RUSAGE_CHILDREN)
        return total + c.ru_utime + c.ru_stime

    def _jvm_gc() -> tuple[float, int]:
        """Cumulative JVM GC (sec, collections) via the management beans.
        Discriminates 'leg burned 2x CPU because of a GC storm' (engine/
        heap problem, fix the flags) from 'cycles were stall time under
        hypervisor co-tenancy' (host problem, reject the window) — the
        two look identical in /proc CPU accounting."""
        try:
            beans = (spark._jvm.java.lang.management.ManagementFactory
                     .getGarbageCollectorMXBeans())
            t_ms, n = 0, 0
            for i in range(beans.size()):
                b = beans.get(i)
                t_ms += max(b.getCollectionTime(), 0)
                n += max(b.getCollectionCount(), 0)
            return t_ms / 1000.0, n
        except Exception:
            return 0.0, 0

    cpu0, steal0 = _proc_stat()
    pcpu0 = _tree_cpu()
    gc0_sec, gc0_n = _jvm_gc()
    t0 = time.monotonic()
    # MOR compacts every compact_every epochs (once after a group that
    # crossed such a boundary); CoW never does.
    out = _apply_epochs(lake, epochs, rows_of, None, sha_impl, "error",
                        compact_every if merge_mode == "mor" else 0, None)
    assert not any(st["skipped"] for st in out)
    per_epoch = [round(st["wall_sec"], 3) for st in out]
    compact_sec = sum(st["compact"]["wall_sec"] for st in out
                      if "compact" in st)
    wall = time.monotonic() - t0
    cpu1, steal1 = _proc_stat()
    pcpu1 = _tree_cpu()
    gc1_sec, gc1_n = _jvm_gc()
    final_rows = lake.read().count()
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    return {
        "cpus": cpus,
        "n_events": n_events,
        "n_epochs": n_epochs,
        "merge_mode": merge_mode,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
        "steady_events_per_sec": round(
            (n_events - n_events // n_epochs)
            / max(sum(per_epoch[1:]) + compact_sec, 1e-9),
            1,
        ),
        "per_epoch_sec": per_epoch,
        "compact_sec": round(compact_sec, 3),
        "cpu_sec": round(cpu1 - cpu0, 1),
        "proc_cpu_sec": round(pcpu1 - pcpu0, 1),
        # full-life tree CPU of this bench process (JVM still alive here, so
        # the live /proc walk sees it): warmup + JVM startup + timed run.
        # A parent measuring a system-CPU window around this subprocess can
        # subtract this for an exact same-window foreign-CPU figure —
        # per-shard timed windows are misaligned across concurrent shards,
        # which made (slowest-window cpu_sec - sum of timed proc deltas)
        # read phantom foreign of either sign (observed -0.039..+0.075).
        "proc_cpu_life_sec": round(_tree_cpu(), 1),
        "events_per_proc_cpu_sec": round(n_events / max(pcpu1 - pcpu0, 1e-9), 1),
        "steal_sec": round(steal1 - steal0, 1),
        "gc_sec": round(gc1_sec - gc0_sec, 1),
        "gc_collections": gc1_n - gc0_n,
        "events_per_cpu_sec": round(n_events / max(cpu1 - cpu0, 1e-9), 1),
        "final_rows": final_rows,
        **({"epoch_detail": [
            {k: st.get(k) for k in ("t_write", "t_scan", "t_commit",
                                    "t_ledger", "files_written", "wall_sec")}
            for st in out]} if detail else {}),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument("--keys", type=int, default=300_000)
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--epochs", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=None)
    ap.add_argument("--sha", choices=["arrow", "jvm"], default="arrow")
    ap.add_argument("--mode", choices=["cow", "mor"], default="cow")
    ap.add_argument("--compact-every", type=int, default=4)
    ap.add_argument("--warmup-epochs", type=int, default=0)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="pin the shuffle/file layout (identical job at "
                         "any parallelism level); default cpus*mult")
    ap.add_argument("--events-dir", type=str, default=None,
                    help="replay THIS event dir (e.g. one shard of a "
                         "pre-split log) instead of generating; --events "
                         "must be its actual row count")
    args = ap.parse_args()
    res = run(args.cpus, args.keys, args.events, args.epochs, args.buckets,
              args.sha, args.mode, args.compact_every,
              args.warmup_epochs, args.shuffle_partitions, args.events_dir)
    res["sha_impl"] = args.sha
    print(json.dumps(res))
