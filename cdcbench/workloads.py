"""The CDC workloads: set-up, closed-loop measurement and checks.

Both workloads tail a growing event-log directory with ``run_stream``
(availableNow, one epoch per trigger, one epoch in flight): each round lands
whole compaction or maintenance cycles of epochs, runs one availableNow query
over them, and then runs the downstream consumer. The next round starts when the consumer is
done, so the loop is closed. Inputs come from ``gen.ChangeLog``; the engine
only sees the event-log directory. Input generation and the reference model
run between timed regions, never inside them.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdcbench import procstat
from cdcbench.check import LwwModel, diff_frames
from cdcbench.gen import ChangeLog
from skipmap_processor_spark import changefeed
from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import write_event_log
from skipmap_processor_spark.streaming import pipeline

EVENT_COLS = ["epoch", "event_seq", "commit", "ts", "op", "repo", "path",
              "new_path", "lang", "content", "schema_ver", "extra_cols"]
# epochs per availableNow round; equal to every spec's compact_every and
# maintenance_every, so each round holds whole cycles
ROUND_EPOCHS = 4


@dataclass(frozen=True)
class Spec:
    name: str
    merge_mode: str
    n_keys: int
    base_rows: int
    events_per_epoch: int
    maintenance_every: int = 0
    ddl_epoch: int | None = None
    compact_every: int = 0
    # the consumer pulls table_changes and refreshes two views per round
    views: bool = False


SPECS = {
    s.name: s for s in [
        Spec("mor_backlog_replay", "mor", n_keys=60_000, base_rows=10_000,
             events_per_epoch=3_000, compact_every=ROUND_EPOCHS, views=True),
        Spec("cow_mixed_replay", "cow", n_keys=40_000, base_rows=20_000,
             events_per_epoch=4_000, maintenance_every=ROUND_EPOCHS,
             ddl_epoch=2),
    ]
}


def make_views(spark, lake: LakeTable, root: str) -> list:
    """The consumer's two views, both per repo: a signed-sum view and a
    distinct/extrema view."""
    return [
        changefeed.IncrementalView(
            spark, lake, os.path.join(root, "v_sum"), ["repo"],
            {"n_files": "1", "total_bytes": "length(content)"}),
        changefeed.IncrementalView(
            spark, lake, os.path.join(root, "v_ext"), ["repo"], {},
            extrema={"max_path": ("max", "path")},
            distinct={"n_sha_prefixes": "substr(content_sha, 1, 2)"}),
    ]


def expected_views(state: pd.DataFrame) -> list[pd.DataFrame]:
    """``make_views``' contents computed from the reference state."""
    g = state.assign(n=state["content"].str.len(),
                     pre=state["content_sha"].str[:2]).groupby("repo")
    v_sum = pd.DataFrame({"n_files": g.size(), "total_bytes": g["n"].sum(),
                          "_cnt": g.size()}).reset_index()
    v_ext = pd.DataFrame({"_cnt": g.size(), "max_path": g["path"].max(),
                          "n_sha_prefixes": g["pre"].nunique()}).reset_index()
    return [v_sum, v_ext]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# timed repeats of a read: at least MIN_REPEATS and until REPEAT_S seconds
# are spent, at most MAX_REPEATS
MIN_REPEATS, MAX_REPEATS, REPEAT_S = 5, 10, 2.0


def _repeat(fn, jvm_pid: int) -> tuple[list[float], float]:
    """Durations of repeated calls of ``fn``, and the median process-tree
    CPU seconds of one call. A single read is one short job, too noisy to
    stand alone, and a collection or compilation in the JVM can land in any
    one call; the median over repeats is steadier. One untimed call comes
    first, because the first run of a query plan also compiles it."""
    fn()
    out: list[float] = []
    cpu: list[float] = []
    while len(out) < MIN_REPEATS or (sum(out) < REPEAT_S
                                     and len(out) < MAX_REPEATS):
        c0 = procstat.cpu_split(jvm_pid)
        t0 = time.monotonic()
        fn()
        out.append(time.monotonic() - t0)
        cpu.append((procstat.cpu_split(jvm_pid) - c0).total_s)
    return out, median(cpu)


@dataclass
class Phase:
    """Everything one measurement records, traced or not."""
    setup_s: list[float] = field(default_factory=list)
    epochs: list[dict] = field(default_factory=list)  # apply_epoch stats
    rounds: list[float] = field(default_factory=list)
    consume: list[dict] = field(default_factory=list)
    scans: list[float] = field(default_factory=list)
    scan_cpu_s: float = 0.0
    ingest_wall: float = 0.0
    events: int = 0
    # keys the epochs touch: the one action per key dedup should emit
    expected_actions: int = 0
    cpu: procstat.CpuSplit = field(default_factory=procstat.CpuSplit)
    gc_s: float = 0.0
    wall: float = 0.0
    steal_s: float = 0.0
    host_busy_s: float = 0.0
    peak_rss_mb: float = 0.0
    read_files: int = 0
    metadata_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)


class Consumer:
    """The downstream reader, run after each round. With views it pulls
    ``table_changes`` over the round's commits and refreshes every view;
    it always ends with a repo-scoped read."""

    def __init__(self, lake: LakeTable, views: list, repo: str, model,
                 jvm_pid: int, tracer=None):
        self.lake, self.views, self.repo, self.model = lake, views, repo, model
        self.jvm_pid, self.tracer = jvm_pid, tracer
        self.version = lake.manifest()["version"]
        for v in views:
            v.refresh()

    def consume(self, ph: Phase, epoch: int) -> None:
        tr = self.tracer
        new = self.lake.manifest()["version"]
        rec: dict = {"epoch": epoch}
        c0 = procstat.cpu_split(self.jvm_pid)
        t0 = time.monotonic()
        with _maybe_span(tr, "consume", epoch):
            if self.views:
                with _maybe_span(tr, "table_changes", epoch):
                    rec["changes"] = changefeed.table_changes(
                        self.lake, self.version, new).count()
                rec["table_changes_s"] = time.monotonic() - t0
                rec["refresh"] = []
                for v in self.views:
                    t1 = time.monotonic()
                    mode = v.refresh()["mode"]
                    rec["refresh"].append((mode, time.monotonic() - t1))
                ph.attempted += 1 + len(self.views)
            rows: set = set()

            def scoped_read():
                with _maybe_span(tr, "scoped_read", epoch):
                    rows.add(self.lake.read(repos=[self.repo]).count())

            t_read = time.monotonic()
            cpu_pre = (procstat.cpu_split(self.jvm_pid) - c0).total_s
            reads, read_cpu = _repeat(scoped_read, self.jvm_pid)
            rec["read_s"] = median(reads)
            rec["repo_rows"] = rows.pop() if len(rows) == 1 else -1
        # the consumer reads once; its repeats only steady the read's cost
        rec["wall"] = t_read - t0 + rec["read_s"]
        rec["cpu_s"] = cpu_pre + read_cpu
        self.version = new
        ph.attempted += len(reads)
        if self.model is not None:
            want = self.model.take_changes()
            if self.views and rec["changes"] != want:
                ph.mismatches.append(
                    f"epoch {epoch}: table_changes {rec['changes']} rows, "
                    f"snapshot diff {want}")
            want = self.model.live_in_repo(self.repo)
            if rec["repo_rows"] != want:
                ph.mismatches.append(
                    f"epoch {epoch}: read(repos=[{self.repo}]) "
                    f"{rec['repo_rows']} rows, model {want}")
        ph.consume.append(rec)


class Workload:
    def __init__(self, spark, spec: Spec, seed: int, work: str, jvm_pid: int):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work = work
        self.jvm_pid = jvm_pid

    def _gc_s(self) -> float:
        beans = (self.spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(max(beans.get(i).getCollectionTime(), 0)
                   for i in range(beans.size())) / 1000.0

    def run(self, seconds: float, n_setups: int, tag: str,
            tracer=None) -> Phase:
        """Set up ``n_setups`` times (keeping the last lake), build the
        consumer's views, then run whole rounds until at least ``seconds``
        of ingest. ``tracer`` is installed around the rounds and scans."""
        spec, spark = self.spec, self.spark
        root = os.path.join(self.work, tag)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        ph = Phase()
        gen = ChangeLog(self.seed, spec.n_keys, spec.events_per_epoch,
                        spec.maintenance_every)
        base = gen.base(spec.base_rows)
        base_path = os.path.join(root, "base.parquet")
        pq.write_table(pa.Table.from_pandas(base, preserve_index=False),
                       base_path)
        ev0 = gen.epoch()
        ddl = (ChangeLog.ddl_rename(spec.ddl_epoch)
               if spec.ddl_epoch is not None else None)
        model = LwwModel(base) if spec.merge_mode == "mor" else None
        if model is not None:
            model.apply(ev0)
        applied = [ev0]

        for i in range(n_setups):
            d = os.path.join(root, f"setup{i}")
            src, ckpt = os.path.join(d, "src"), os.path.join(d, "ckpt")
            write_event_log(src, ev0[EVENT_COLS], ddl)
            t0 = time.monotonic()
            lake = LakeTable.create(spark, os.path.join(d, "lake"),
                                    merge_mode=spec.merge_mode)
            pipeline.bootstrap_base(lake, spark.read.parquet(base_path))
            pipeline.run_stream(spark, lake, src, ckpt,
                                available_now=True).awaitTermination()
            ph.setup_s.append(time.monotonic() - t0)
            if i + 1 < n_setups:
                shutil.rmtree(d, ignore_errors=True)

        if model is not None:
            model.take_changes()  # the views start from the set-up state
        con = Consumer(lake, make_views(spark, lake, d) if spec.views else [],
                       gen.repo_names[1], model, self.jvm_pid, tracer)

        busy0, steal0 = procstat.host_cpu()
        gc0 = self._gc_s()
        t_phase = time.monotonic()
        if tracer is not None:
            tracer.__enter__()
        try:
            while ph.ingest_wall < seconds:
                self._round(ph, gen, lake, src, ckpt, con, model, applied)
            ph.peak_rss_mb = procstat.peak_rss_mb(self.jvm_pid)
            ph.read_files = len(lake.file_entries())

            def scan():
                with _maybe_span(tracer, "snapshot_scan", None):
                    lake.read().agg(F.count(F.lit(1)),
                                    F.sum(F.length("content"))).collect()

            ph.scans, ph.scan_cpu_s = _repeat(scan, self.jvm_pid)
            ph.attempted += len(ph.scans)
        finally:
            if tracer is not None:
                tracer.__exit__(None, None, None)
        ph.wall = time.monotonic() - t_phase
        ph.gc_s = self._gc_s() - gc0
        busy1, steal1 = procstat.host_cpu()
        ph.host_busy_s, ph.steal_s = busy1 - busy0, steal1 - steal0
        ph.metadata_bytes = _metadata_bytes(lake.path)

        # ---- correctness, outside every timed region
        if spec.merge_mode == "cow":
            events = pd.concat(applied, ignore_index=True)[EVENT_COLS]
            ref = replay(base, events, ddl)
        else:
            ref = model.frame()
        notes = diff_frames(lake.read().toPandas(), ref)
        ph.mismatches += [f"final state: {n}" for n in notes]
        for v, want in zip(con.views, expected_views(ref)):
            got = v.read().toPandas()[list(want.columns)]
            ph.mismatches += [f"view {os.path.basename(v.path)}: {n}"
                              for n in diff_frames(got, want, key=["repo"])]
        ph.attempted += 1
        ph.failed += len(ph.mismatches)
        return ph

    def _round(self, ph: Phase, gen: ChangeLog, lake: LakeTable, src: str,
               ckpt: str, con: Consumer, model, applied: list) -> None:
        """Land one round of epochs, tail them with one availableNow query,
        then run the consumer."""
        spec = self.spec
        for _ in range(ROUND_EPOCHS):
            ev = gen.epoch()
            write_event_log(src, ev[EVENT_COLS], None)
            applied.append(ev)
            if model is not None:
                model.apply(ev)
            ph.events += len(ev)
            ren = ev[ev["op"] == "rename"]
            ph.expected_actions += len(
                set(zip(ev["repo"], ev["path"]))
                | set(zip(ren["repo"], ren["new_path"])))
        n0 = len(ph.epochs)
        c0 = procstat.cpu_split(self.jvm_pid)
        t0 = time.monotonic()
        pipeline.run_stream(
            self.spark, lake, src, ckpt, available_now=True,
            compact_every=spec.compact_every,
            on_batch=ph.epochs.append).awaitTermination()
        dt = time.monotonic() - t0
        ph.cpu += procstat.cpu_split(self.jvm_pid) - c0
        ph.rounds.append(dt)
        ph.ingest_wall += dt
        ph.attempted += ROUND_EPOCHS
        ph.failed += ROUND_EPOCHS - sum(
            1 for s in ph.epochs[n0:] if not s.get("skipped"))
        con.consume(ph, gen.next_epoch - 1)


def _maybe_span(tracer, name: str, epoch):
    return tracer.span(name, epoch) if tracer is not None else nullcontext()


def _metadata_bytes(lake_path: str) -> int:
    """On-disk bytes of everything in the lake that is not a data file:
    manifests, manifest shards, the lineage ledger and the version pointer."""
    total = 0
    for dirpath, _dirs, files in os.walk(lake_path):
        if os.path.relpath(dirpath, lake_path).split(os.sep)[0] == "data":
            continue
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def end_to_end(ph: Phase, session_start_s: float) -> dict[str, float]:
    """The judged end-to-end metrics: set-up wall time, and the CPU and
    memory that ingest costs. Over a whole round, process-tree CPU does not
    count the time the host steals from the process, so it stays steady
    where wall time does not (see ``unjudged``)."""
    return {
        "setup_s": session_start_s + median(ph.setup_s),
        "cpu_s_per_mevent": ph.cpu.total_s / ph.events * 1e6,
        "peak_rss_mb": ph.peak_rss_mb,
    }


def unjudged(ph: Phase) -> dict[str, float]:
    """Results printed with every run, and used for the tracing overhead,
    but not judged: on a shared 4-vCPU VM whose steal ranged from 0% to 18%
    of a run, the wall times of one round spread by up to 40% across seeds,
    and the CPU of one 0.2 s read by up to 24%."""
    walls = [float(s["wall_sec"]) for s in ph.epochs if not s.get("skipped")]
    return {
        "ingest_events_per_s": ph.events / ph.ingest_wall,
        "epoch_apply_p50_s": median(walls),
        "snapshot_scan_s": median(ph.scans),
        "consumer_p50_s": median(c["wall"] for c in ph.consume),
        "scan_cpu_s": ph.scan_cpu_s,
        "consumer_cpu_s": median(c["cpu_s"] for c in ph.consume),
    }
