"""The epoch scheduler contract ``replay_log`` and ``run_stream`` share,
and the CLI's wiring into ``run_stream``.

``apply_epoch`` is replaced by a recorder, so these tests pin only the
scheduling rules. On a CoW lake (and for any aborted group): one call per
epoch with the epoch as the third positional argument (or ``epoch=``),
concurrency only for DDL-free logs, ``parked_resolved`` on the last
stats, and the compaction schedule. On a MOR lake a DDL-free log's
epochs go through one call with ``epochs=``, reported per epoch, with
one compaction after the group; a span of epochs holding renames (from
an aborted group, or from the event files' footers) applies one by one,
with the epochs around it grouped again.
"""

from __future__ import annotations

import threading
import time

import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.sources.events import (
    generate_full,
    write_event_log,
)
from skipmap_processor_spark.streaming import pipeline

N_EPOCHS = 4


class _Recorder:
    """Stands in for ``apply_epoch``: records the epoch, the DDL argument,
    each group call's ``epochs`` and the peak number of applies in flight.
    ``abort_groups`` makes every group call report ``aborted``; ``bad``
    (an epoch span) makes a group call that overlaps it report ``aborted``
    with that span as its ``bad`` epochs."""

    def __init__(self, abort_groups: bool = False, bad=None):
        self.epochs: list[int] = []
        self.ddl_seen: list[bool] = []
        self.groups: list[list[int]] = []
        self.abort_groups = abort_groups
        self.bad = bad
        self.active = self.peak = 0
        self.lock = threading.Lock()

    def __call__(self, *args, **kwargs):
        ep = int(kwargs["epoch"]) if "epoch" in kwargs else int(args[2])
        ddl = kwargs.get("ddl", args[3] if len(args) > 3 else None)
        group = kwargs.get("epochs")
        if group is not None:
            with self.lock:
                self.groups.append(list(group))
            if self.abort_groups:
                return {"aborted": True, "epoch": ep, "group": group}
            if self.bad and any(self.bad[0] <= e <= self.bad[1]
                                for e in group):
                return {"aborted": True, "epoch": ep, "group": group,
                        "bad": list(self.bad)}
            return {"skipped": False, "epoch": ep, "group": list(group),
                    "version": 1, "wall_sec": 0.4, "per_bucket_rows": {},
                    "rows_written": 0}
        with self.lock:
            self.epochs.append(ep)
            self.ddl_seen.append(ddl is not None and len(ddl) > 0)
            self.active += 1
            self.peak = max(self.peak, self.active)
        time.sleep(0.2)
        with self.lock:
            self.active -= 1
        return {"skipped": False, "epoch": ep}


@pytest.fixture(scope="module")
def log():
    _base, ev, ddl = generate_full(n_repos=4, n_base_paths=20, n_events=80,
                                   n_epochs=N_EPOCHS)
    assert len(ddl) > 0
    return ev, ddl


def _rename_free(log):
    """The log without its renames: ``run_stream`` reads rename epochs
    from the event files' footers and would split a MOR group around
    them before the recorder sees it."""
    ev, _ddl = log
    return ev[ev["op"] != "rename"]


def _drive(how, spark, tmp_path, monkeypatch, ev, ddl, max_in_flight,
           compact_every=0, merge_mode="cow", abort_groups=False, bad=None):
    rec = _Recorder(abort_groups, bad)
    finalized: list[int] = []
    compacts: list[list[int]] = []
    monkeypatch.setattr(pipeline, "apply_epoch", rec)
    monkeypatch.setattr(
        pipeline, "resolve_parked",
        lambda lake, spark: finalized.append(1) or {"resolved": 3})
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode=merge_mode)
    monkeypatch.setattr(
        lake, "compact",
        lambda **kw: compacts.append(
            list(rec.epochs) + [e for g in rec.groups for e in g]) or {})
    if how == "replay_log":
        sdf = spark.createDataFrame(ev.drop(columns=["ts", "extra_cols"]))
        stats = pipeline.replay_log(spark, lake, sdf, ddl,
                                    max_in_flight=max_in_flight)
    else:
        events_dir = str(tmp_path / "events")
        write_event_log(events_dir, ev, ddl)
        stats: list[dict] = []
        pipeline.run_stream(
            spark, lake, events_dir, str(tmp_path / "ckpt"),
            max_files_per_trigger=16, available_now=True,
            on_batch=stats.append, max_in_flight=max_in_flight,
            compact_every=compact_every,
        ).awaitTermination(300)
    return rec, stats, finalized, compacts


@pytest.mark.parametrize("max_in_flight", [1, 2])
@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_one_apply_per_epoch(spark, tmp_path, monkeypatch, log, how,
                             max_in_flight):
    ev, _ddl = log
    rec, stats, finalized, _ = _drive(how, spark, tmp_path, monkeypatch, ev,
                                      None, max_in_flight)
    epochs = list(range(N_EPOCHS))
    assert rec.groups == []  # a CoW lake never groups
    assert sorted(rec.epochs) == epochs  # exactly one call per epoch
    assert [s["epoch"] for s in stats] == epochs  # reported in epoch order
    resolved = [i for i, s in enumerate(stats) if "parked_resolved" in s]
    if max_in_flight == 1:
        assert rec.epochs == epochs and rec.peak == 1
        assert finalized == [] and resolved == []
    else:
        assert rec.peak == 2
        assert finalized == [1]
        assert resolved == [N_EPOCHS - 1]
        assert stats[-1]["parked_resolved"] == 3


@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_ddl_log_applies_sequentially(spark, tmp_path, monkeypatch, log, how):
    """A DDL-bearing log never runs concurrently: schema changes take
    effect from their epoch on, so epochs apply one at a time, in order,
    each with the DDL."""
    ev, ddl = log
    rec, stats, finalized, _ = _drive(how, spark, tmp_path, monkeypatch, ev,
                                      ddl, max_in_flight=2)
    assert rec.epochs == list(range(N_EPOCHS))
    assert rec.peak == 1
    assert all(rec.ddl_seen)
    assert finalized == []
    assert not any("parked_resolved" in s for s in stats)


@pytest.mark.parametrize("max_in_flight", [1, 2])
def test_compaction_schedule(spark, tmp_path, monkeypatch, log,
                             max_in_flight):
    """Sequential: compact after each epoch with (ep + 1) % k == 0.
    Concurrent: once, after the drain."""
    ev, _ddl = log
    rec, stats, _, compacts = _drive("run_stream", spark, tmp_path,
                                     monkeypatch, ev, None, max_in_flight,
                                     compact_every=2)
    compacted = [s["epoch"] for s in stats if "compact" in s]
    if max_in_flight == 1:
        assert compacts == [[0, 1], [0, 1, 2, 3]]
        assert compacted == [1, 3]
    else:
        assert len(compacts) == 1 and sorted(compacts[0]) == [0, 1, 2, 3]
        assert compacted == [N_EPOCHS - 1]


def test_main_stream_passes_sha_impl(spark, tmp_path, monkeypatch):
    """``main --mode stream`` threads ``--sha-impl`` to ``run_stream``."""
    from skipmap_processor_spark.main import main

    seen: dict = {}

    class _Query:
        def awaitTermination(self):
            return None

    def run_stream(*args, **kwargs):
        seen.update(kwargs)
        return _Query()

    monkeypatch.setattr(pipeline, "run_stream", run_stream)
    rc = main([
        "--events-dir", str(tmp_path / "ev"), "--lake", str(tmp_path / "lake"),
        "--checkpoint", str(tmp_path / "ckpt"), "--mode", "stream",
        "--sha-impl", "jvm", "--merge-mode", "mor", "--num-buckets", "4",
        "--master", "local[4]",
    ])
    assert rc == 0
    assert seen["sha_impl"] == "jvm"


@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_mor_group_one_call(spark, tmp_path, monkeypatch, log, how):
    """A DDL-free log into a MOR lake: one ``apply_epoch`` call with
    ``epochs=``, reported once per epoch in epoch order, each epoch with
    the shared version and the group wall split evenly."""
    ev = _rename_free(log)
    rec, stats, finalized, _ = _drive(how, spark, tmp_path, monkeypatch, ev,
                                      None, 2, merge_mode="mor")
    epochs = list(range(N_EPOCHS))
    assert rec.groups == [epochs] and rec.epochs == []
    assert [s["epoch"] for s in stats] == epochs
    assert all(not s["skipped"] and s["group"] == epochs
               and s["version"] == 1 for s in stats)
    assert [s["wall_sec"] for s in stats] == [0.4 / N_EPOCHS] * N_EPOCHS
    assert finalized == []


def test_mor_group_compacts_once(spark, tmp_path, monkeypatch, log):
    """A group compacts once, after the whole group, if any of its epochs
    crossed a ``compact_every`` boundary."""
    ev = _rename_free(log)
    rec, stats, _, compacts = _drive("run_stream", spark, tmp_path,
                                     monkeypatch, ev, None, 1,
                                     compact_every=2, merge_mode="mor")
    assert compacts == [[0, 1, 2, 3]]
    assert [s["epoch"] for s in stats if "compact" in s] == [N_EPOCHS - 1]


@pytest.mark.parametrize("max_in_flight", [1, 2])
@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_mor_aborted_group_falls_back(spark, tmp_path, monkeypatch, log,
                                      how, max_in_flight):
    """An aborted group applies its epochs one by one under the per-epoch
    rules: sequential or concurrent, ``resolve_parked`` after a concurrent
    drain, compaction per epoch or once after the drain."""
    ev = _rename_free(log)
    rec, stats, finalized, compacts = _drive(
        how, spark, tmp_path, monkeypatch, ev, None, max_in_flight,
        compact_every=2 if how == "run_stream" else 0, merge_mode="mor",
        abort_groups=True)
    epochs = list(range(N_EPOCHS))
    assert rec.groups == [epochs]
    assert sorted(rec.epochs) == epochs
    assert [s["epoch"] for s in stats] == epochs
    if max_in_flight == 1:
        assert rec.epochs == epochs and rec.peak == 1
        assert finalized == []
        if how == "run_stream":
            assert compacts == [[0, 1] + epochs, epochs + epochs]
    else:
        assert rec.peak == 2
        assert finalized == [1]
        assert stats[-1]["parked_resolved"] == 3
        if how == "run_stream":
            assert len(compacts) == 1


@pytest.mark.parametrize("max_in_flight", [1, 2])
@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_mor_aborted_group_splits_around_bad_span(spark, tmp_path,
                                                  monkeypatch, log, how,
                                                  max_in_flight):
    """A group that aborts on rows only the general path applies, in
    epochs 1..2, applies that span one by one and the epochs before and
    after it as groups again; stats stay one per epoch, in epoch order."""
    ev = _rename_free(log)
    rec, stats, finalized, compacts = _drive(
        how, spark, tmp_path, monkeypatch, ev, None, max_in_flight,
        compact_every=2 if how == "run_stream" else 0, merge_mode="mor",
        bad=(1, 2))
    assert rec.groups == [[0, 1, 2, 3], [0], [3]]
    assert sorted(rec.epochs) == [1, 2]
    assert [s["epoch"] for s in stats] == [0, 1, 2, 3]
    assert [s.get("group") for s in stats] == [[0], None, None, [3]]
    compacted = [s["epoch"] for s in stats if "compact" in s]
    if max_in_flight == 1:
        assert rec.epochs == [1, 2] and finalized == []
        assert compacted == ([1, 3] if how == "run_stream" else [])
    else:
        assert rec.peak == 2 and finalized == [1]
        assert stats[2]["parked_resolved"] == 3
        assert compacted == ([2, 3] if how == "run_stream" else [])
    assert len(compacts) == len(compacted)


def test_mor_footer_renames_split_before_any_write(spark, tmp_path,
                                                   monkeypatch, log):
    """``run_stream`` reads each epoch file's footer: with a rename in
    every epoch, the span covers the whole trigger, so no group write is
    tried and the epochs apply one by one."""
    ev, _ddl = log
    assert set(ev.loc[ev["op"] == "rename", "epoch"]) == set(range(N_EPOCHS))
    rec, stats, _, _ = _drive("run_stream", spark, tmp_path, monkeypatch, ev,
                              None, 1, merge_mode="mor")
    assert rec.groups == [] and rec.epochs == list(range(N_EPOCHS))
    assert [s["epoch"] for s in stats] == list(range(N_EPOCHS))
