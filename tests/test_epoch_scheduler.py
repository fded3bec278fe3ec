"""The epoch scheduler contract ``replay_log`` and ``run_stream`` share,
and the CLI's wiring into ``run_stream``.

``apply_epoch``, ``_apply_general`` and ``resolve_parked`` are replaced
by recorders, so these tests pin only the scheduling rules. Every
trigger first calls ``resolve_parked`` once, before any apply; a non-zero
count rides on its first stats as ``parked_resolved``. Each
DDL-delimited run of epochs then goes through one group call with
``epochs=`` (a run of one: a plain call), reported once per epoch in
epoch order: ``apply_epoch`` on a CoW lake and for a MOR run whose files
show no rename (it tries the fast path first), ``_apply_general`` for a
MOR run whose event files' footers show renames. Epochs apply one by one
— one call per epoch with the epoch as the third positional argument
(or ``epoch=``), in order, compaction per epoch — when the group
aborted, when renames are parked, and when an epoch below the run is
missing (a gap: here a log starting at epoch 1).
"""

from __future__ import annotations

import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.sources.events import (
    generate_full,
    write_event_log,
)
from skipmap_processor_spark.streaming import pipeline

N_EPOCHS = 4


class _Recorder:
    """Stands in for ``apply_epoch``, ``_apply_general`` and
    ``resolve_parked``: records the epoch of each plain call, the DDL
    argument, each ``apply_epoch`` group call's ``epochs``, each
    ``_apply_general`` call's epochs (``general``) and, in ``order``,
    every call in sequence (``"resolve"``, or the epochs applied). A
    group call marks its epochs applied; ``abort_groups`` makes every
    group call report ``aborted`` instead. ``resolve_parked`` reports
    ``resolved`` renames."""

    def __init__(self, abort_groups: bool = False, resolved: int = 0):
        self.epochs: list[int] = []
        self.ddl_seen: list[bool] = []
        self.groups: list[list[int]] = []
        self.general: list[list[int]] = []
        self.order: list = []
        self.abort_groups = abort_groups
        self.resolved = resolved

    @staticmethod
    def _mark_applied(lake, group) -> None:
        """A group commits: later runs see no gap below them."""
        def mark(mani: dict) -> bool:
            for e in group:
                LakeTable._mark_epoch_applied(mani, e)
            return True

        lake._commit_with_rebase(mark)

    def resolve_parked(self, lake, spark) -> dict:
        self.order.append("resolve")
        return {"resolved": self.resolved}

    def apply_general(self, *args, **kwargs):
        self.general.append(list(kwargs.get("epochs") or [args[2]]))
        return self._apply(None, args, kwargs)

    def __call__(self, *args, **kwargs):
        return self._apply(self.groups, args, kwargs)

    def _apply(self, groups: list | None, args, kwargs):
        ep = int(kwargs["epoch"]) if "epoch" in kwargs else int(args[2])
        ddl = kwargs.get("ddl", args[3] if len(args) > 3 else None)
        group = kwargs.get("epochs")
        self.ddl_seen.append(ddl is not None and len(ddl) > 0)
        self.order.append(list(group or [ep]))
        if group is not None:
            if groups is not None:
                groups.append(list(group))
            if self.abort_groups:
                return {"aborted": True, "epoch": ep, "group": group}
            self._mark_applied(args[0], group)
            return {"skipped": False, "epoch": ep, "group": list(group),
                    "version": 1, "wall_sec": 0.4, "per_bucket_rows": {},
                    "rows_written": 0}
        self.epochs.append(ep)
        return {"skipped": False, "epoch": ep, "wall_sec": 0.2,
                "per_bucket_rows": {}}

    def resolved_first(self) -> bool:
        """One ``resolve_parked`` call, made before any apply."""
        return self.order.count("resolve") == 1 and self.order[0] == "resolve"


@pytest.fixture(scope="module")
def log():
    _base, ev, ddl = generate_full(n_repos=4, n_base_paths=20, n_events=80,
                                   n_epochs=N_EPOCHS)
    assert len(ddl) > 0
    return ev, ddl


def _rename_free(log):
    """The log without its renames: ``run_stream`` reads rename epochs
    from the event files' footers and would send a MOR group straight to
    ``_apply_general``."""
    ev, _ddl = log
    return ev[ev["op"] != "rename"]


def _above_gap(ev, ddl=None):
    """The log moved up one epoch: epoch 0 is never delivered, so every
    run has a gap below it and applies one by one."""
    ev = ev.assign(epoch=ev["epoch"] + 1)
    return ev if ddl is None else (ev, ddl.assign(epoch=ddl["epoch"] + 1))


def _drive(how, spark, tmp_path, monkeypatch, ev, ddl, compact_every=0,
           merge_mode="cow", abort_groups=False, prepare=None, resolved=0):
    rec = _Recorder(abort_groups, resolved)
    compacts: list[list[int]] = []
    monkeypatch.setattr(pipeline, "apply_epoch", rec)
    monkeypatch.setattr(pipeline, "_apply_general", rec.apply_general)
    monkeypatch.setattr(pipeline, "resolve_parked", rec.resolve_parked)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode=merge_mode)
    if prepare is not None:
        prepare(lake)
    monkeypatch.setattr(
        lake, "compact",
        lambda **kw: compacts.append(
            list(rec.epochs) + [e for g in rec.groups + rec.general
                                for e in g]) or {})
    if how == "replay_log":
        sdf = spark.createDataFrame(ev.drop(columns=["ts", "extra_cols"]))
        stats = pipeline.replay_log(spark, lake, sdf, ddl)
    else:
        events_dir = str(tmp_path / "events")
        write_event_log(events_dir, ev, ddl)
        stats: list[dict] = []
        pipeline.run_stream(
            spark, lake, events_dir, str(tmp_path / "ckpt"),
            max_files_per_trigger=16, available_now=True,
            on_batch=stats.append, compact_every=compact_every,
        ).awaitTermination(300)
    return rec, stats, compacts


@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_one_apply_per_epoch(spark, tmp_path, monkeypatch, log, how):
    """A run above a gap applies one by one: one call per epoch, in
    order, after the trigger's one ``resolve_parked`` call, reported in
    epoch order."""
    ev, _ddl = log
    rec, stats, _ = _drive(how, spark, tmp_path, monkeypatch,
                           _above_gap(ev), None)
    epochs = list(range(1, N_EPOCHS + 1))
    assert rec.groups == [] and rec.general == []
    assert rec.epochs == epochs  # exactly one call per epoch, in order
    assert [s["epoch"] for s in stats] == epochs  # reported in epoch order
    assert rec.resolved_first()
    assert not any("parked_resolved" in s for s in stats)


@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_ddl_log_applies_sequentially(spark, tmp_path, monkeypatch, log, how):
    """A DDL-bearing log above a gap applies one epoch at a time, in
    order, each with the DDL (schema changes take effect from their
    epoch on)."""
    ev, ddl = _above_gap(*log)
    rec, stats, _ = _drive(how, spark, tmp_path, monkeypatch, ev, ddl)
    assert rec.epochs == list(range(1, N_EPOCHS + 1))
    assert all(rec.ddl_seen)
    assert rec.resolved_first()
    assert not any("parked_resolved" in s for s in stats)


def test_compaction_schedule(spark, tmp_path, monkeypatch, log):
    """One by one: compact after each epoch with (ep + 1) % k == 0."""
    ev, _ddl = log
    rec, stats, compacts = _drive("run_stream", spark, tmp_path,
                                  monkeypatch, _above_gap(ev), None,
                                  compact_every=2)
    compacted = [s["epoch"] for s in stats if "compact" in s]
    assert compacts == [[1], [1, 2, 3]]
    assert compacted == [1, 3]


@pytest.mark.parametrize("grouped", [True, False],
                         ids=["group", "one_by_one"])
@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_parked_resolved_rides_on_first_stats(spark, tmp_path, monkeypatch,
                                              log, how, grouped):
    """A trigger's ``resolve_parked`` runs once, before any apply; its
    non-zero count rides on the trigger's first stats only, whether the
    run then applies as a group or one by one."""
    ev = _rename_free(log)
    rec, stats, _ = _drive(how, spark, tmp_path, monkeypatch,
                           ev if grouped else _above_gap(ev), None,
                           resolved=3)
    assert rec.resolved_first()
    assert (rec.groups != []) == grouped
    assert len(stats) == N_EPOCHS
    assert stats[0]["parked_resolved"] == 3
    assert not any("parked_resolved" in s for s in stats[1:])


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
    rec, stats, _ = _drive(how, spark, tmp_path, monkeypatch, ev, None,
                           merge_mode="mor")
    epochs = list(range(N_EPOCHS))
    assert rec.groups == [epochs] and rec.epochs == []
    assert [s["epoch"] for s in stats] == epochs
    assert all(not s["skipped"] and s["group"] == epochs
               and s["version"] == 1 for s in stats)
    assert [s["wall_sec"] for s in stats] == [0.4 / N_EPOCHS] * N_EPOCHS
    assert rec.resolved_first()


def test_mor_group_compacts_once(spark, tmp_path, monkeypatch, log):
    """A group compacts once, after the whole group, if any of its epochs
    crossed a ``compact_every`` boundary."""
    ev = _rename_free(log)
    rec, stats, compacts = _drive("run_stream", spark, tmp_path,
                                  monkeypatch, ev, None, compact_every=2,
                                  merge_mode="mor")
    assert compacts == [[0, 1, 2, 3]]
    assert [s["epoch"] for s in stats if "compact" in s] == [N_EPOCHS - 1]


@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_mor_aborted_group_falls_back(spark, tmp_path, monkeypatch, log,
                                      how):
    """An aborted group applies its epochs one by one under the per-epoch
    rules: in order, compaction per epoch."""
    ev = _rename_free(log)
    rec, stats, compacts = _drive(
        how, spark, tmp_path, monkeypatch, ev, None,
        compact_every=2 if how == "run_stream" else 0, merge_mode="mor",
        abort_groups=True)
    epochs = list(range(N_EPOCHS))
    assert rec.groups == [epochs]
    assert rec.epochs == epochs
    assert [s["epoch"] for s in stats] == epochs
    assert rec.resolved_first()
    if how == "run_stream":
        assert compacts == [[0, 1] + epochs, epochs + epochs]


def _ddl_at_2(log):
    _ev, ddl = log
    return ddl.assign(epoch=2)


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
@pytest.mark.parametrize("how", ["replay_log", "run_stream"])
def test_one_group_call_per_ddl_run(spark, tmp_path, monkeypatch, log, how,
                                    merge_mode):
    """A DDL epoch starts a run, and each run goes through one group call
    with the DDL, in both merge modes: a CoW run, and a MOR run whose
    files show no rename, through ``apply_epoch``. Stats come once per
    epoch, in epoch order, each with its run's group."""
    rec, stats, _ = _drive(how, spark, tmp_path, monkeypatch,
                           _rename_free(log), _ddl_at_2(log),
                           merge_mode=merge_mode)
    assert rec.groups == [[0, 1], [2, 3]]
    assert rec.general == [] and rec.epochs == []
    assert rec.ddl_seen == [True, True]
    assert [s["epoch"] for s in stats] == [0, 1, 2, 3]
    assert [s["group"] for s in stats] == [[0, 1]] * 2 + [[2, 3]] * 2
    assert rec.resolved_first()


def test_mor_footer_renames_skip_the_fast_path(spark, tmp_path,
                                               monkeypatch, log):
    """``run_stream`` reads each epoch file's footer: a MOR run whose
    files hold renames goes straight to ``_apply_general``, so no
    fast-path write is tried. The log's DDL at epoch 3 makes [3] a run of
    its own: a plain call."""
    ev, ddl = log
    assert set(ev.loc[ev["op"] == "rename", "epoch"]) == set(range(N_EPOCHS))
    rec, stats, _ = _drive("run_stream", spark, tmp_path, monkeypatch, ev,
                           ddl, merge_mode="mor")
    assert rec.general == [[0, 1, 2], [3]] and rec.groups == []
    assert rec.epochs == [3]
    assert [s["epoch"] for s in stats] == list(range(N_EPOCHS))


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_parked_renames_apply_one_by_one(spark, tmp_path, monkeypatch, log,
                                         merge_mode):
    """A lake with parked renames applies a run one by one: the per-epoch
    applies re-inject and resolve them."""
    def park(lake):
        lake._commit_with_rebase(lambda m: LakeTable._set_parked_renames(
            m, [{"repo": "r", "path": "a", "new_path": "b", "commit": "c",
                 "event_seq": 0, "epoch": 9}]) or True)

    rec, stats, _ = _drive("replay_log", spark, tmp_path, monkeypatch,
                           _rename_free(log), None, merge_mode=merge_mode,
                           prepare=park)
    assert rec.groups == [] and rec.general == []
    assert rec.epochs == list(range(N_EPOCHS))
    assert [s["epoch"] for s in stats] == list(range(N_EPOCHS))


def test_cow_aborted_group_falls_back(spark, tmp_path, monkeypatch, log):
    """A CoW group that aborts (malformed rows, a racing writer) applies
    its epochs one by one."""
    rec, stats, _ = _drive("replay_log", spark, tmp_path, monkeypatch,
                           _rename_free(log), None, abort_groups=True)
    epochs = list(range(N_EPOCHS))
    assert rec.groups == [epochs] and rec.epochs == epochs
    assert [s["epoch"] for s in stats] == epochs
