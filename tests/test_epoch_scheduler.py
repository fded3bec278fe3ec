"""The epoch scheduler contract ``replay_log`` and ``run_stream`` share,
and the CLI's wiring into ``run_stream``.

``apply_epoch`` is replaced by a recorder, so these tests pin only the
scheduling rules: one call per epoch with the epoch as the third
positional argument (or ``epoch=``), concurrency only for DDL-free logs,
``parked_resolved`` on the last stats, and the compaction schedule.
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
    """Stands in for ``apply_epoch``: records the epoch, the DDL argument
    and the peak number of applies in flight."""

    def __init__(self):
        self.epochs: list[int] = []
        self.ddl_seen: list[bool] = []
        self.active = self.peak = 0
        self.lock = threading.Lock()

    def __call__(self, *args, **kwargs):
        ep = int(kwargs["epoch"]) if "epoch" in kwargs else int(args[2])
        ddl = kwargs.get("ddl", args[3] if len(args) > 3 else None)
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


def _drive(how, spark, tmp_path, monkeypatch, ev, ddl, max_in_flight,
           compact_every=0):
    rec = _Recorder()
    finalized: list[int] = []
    compacts: list[list[int]] = []
    monkeypatch.setattr(pipeline, "apply_epoch", rec)
    monkeypatch.setattr(
        pipeline, "resolve_parked",
        lambda lake, spark: finalized.append(1) or {"resolved": 3})
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode="mor")
    monkeypatch.setattr(
        lake, "compact",
        lambda **kw: compacts.append(list(rec.epochs)) or {})
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
