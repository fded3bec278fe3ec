"""Out-of-order rename correctness: the parked-rename protocol.

LWW upserts/deletes commute across epochs, renames do not — a rename reads
its source key's state at its ord position. When an epoch applies while an
EARLIER epoch is still missing (late/out-of-order file delivery), any rename
whose source "doesn't exist yet" would silently no-op. The engine parks such
renames in the manifest (atomically with the merge commit) and replays them
through the sequential resolver when a gap-filling epoch lands. Final state
must equal the sequential oracle regardless of epoch arrival order.
"""

from __future__ import annotations

import copy

import pandas as pd
import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    base_spark_schema,
    commit_str,
    event_spark_schema,
)
from skipmap_processor_spark.streaming.pipeline import apply_epoch, bootstrap_base


def _ev_frame(rows: list[dict]) -> pd.DataFrame:
    out = []
    for i, r in enumerate(rows):
        out.append(
            {
                "epoch": r["epoch"],
                "event_seq": 0,
                "commit": commit_str(i + 1),
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(minutes=i),
                "op": r["op"],
                "repo": "org/r",
                "path": r["path"],
                "new_path": r.get("new_path"),
                "lang": "py",
                "content": r.get("content"),
                "schema_ver": 1,
                "extra_cols": None,
            }
        )
    return pd.DataFrame(out)


def _apply(spark, lake, ev: pd.DataFrame, epoch: int) -> dict:
    part = ev[ev["epoch"] == epoch].drop(columns=["epoch"])
    records = part.to_dict("records")
    for r in records:
        r["ts"] = r["ts"].to_pydatetime()
    sub_schema = event_spark_schema()
    sub_schema = type(sub_schema)(
        [f for f in sub_schema.fields if f.name != "epoch"])
    batch = spark.createDataFrame(records, schema=sub_schema)
    return apply_epoch(lake, batch, epoch)


def _final(lake) -> pd.DataFrame:
    pdf = lake.read().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _base(spark):
    return spark.createDataFrame(
        [("org/r", "a.py", commit_str(0), "py", "v0")],
        schema=base_spark_schema(),
    )


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_rename_applied_before_source_epoch(spark, tmp_path, merge_mode):
    """e1 creates b.py (rename a->b + update), e2 renames b->c. Deliver
    e0, e2, THEN e1: e2's rename parks (b.py missing), the late e1 injects
    it, final state matches the sequential oracle and the park list drains."""
    ev = _ev_frame(
        [
            {"epoch": 0, "op": "update", "path": "a.py", "content": "v1"},
            {"epoch": 1, "op": "rename", "path": "a.py", "new_path": "b.py"},
            {"epoch": 1, "op": "update", "path": "b.py", "content": "v2"},
            {"epoch": 2, "op": "rename", "path": "b.py", "new_path": "c.py"},
        ]
    )
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode=merge_mode)
    bootstrap_base(lake, _base(spark))

    _apply(spark, lake, ev, 0)
    _apply(spark, lake, ev, 2)  # ahead of the missing epoch 1
    assert lake.missing_intervals() == [[1, 1]]
    parked = lake.parked_renames()
    assert [(p["path"], p["new_path"], p["epoch"]) for p in parked] == [
        ("b.py", "c.py", 2)
    ]

    _apply(spark, lake, ev, 1)  # gap-filler: injects the parked rename
    assert lake.missing_intervals() == []
    assert lake.parked_renames() == []

    base_pdf = pd.DataFrame(
        [("org/r", "a.py", commit_str(0), "py", "v0")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    oracle = replay(base_pdf, ev)
    engine = _final(lake)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )
    # the whole chain resolved: only c.py is alive
    assert list(engine["path"]) == ["c.py"]


def test_chained_parked_renames_resolve_together(spark, tmp_path):
    """Two parked renames forming a chain (b->c at e2, c->d at e3) both
    resolve when the creating epoch e1 finally lands — the resolver's
    connected component covers injected renames."""
    ev = _ev_frame(
        [
            {"epoch": 0, "op": "update", "path": "a.py", "content": "v1"},
            {"epoch": 1, "op": "rename", "path": "a.py", "new_path": "b.py"},
            {"epoch": 2, "op": "rename", "path": "b.py", "new_path": "c.py"},
            {"epoch": 3, "op": "rename", "path": "c.py", "new_path": "d.py"},
            {"epoch": 3, "op": "update", "path": "d.py", "content": "v9"},
        ]
    )
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode="mor")
    bootstrap_base(lake, _base(spark))

    for ep in (0, 2, 3):  # epoch 1 (the chain's origin) is late
        _apply(spark, lake, ev, ep)
    assert lake.missing_intervals() == [[1, 1]]
    assert {(p["path"], p["new_path"]) for p in lake.parked_renames()} == {
        ("b.py", "c.py"),
        ("c.py", "d.py"),
    }

    _apply(spark, lake, ev, 1)
    assert lake.parked_renames() == []

    base_pdf = pd.DataFrame(
        [("org/r", "a.py", commit_str(0), "py", "v0")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    oracle = replay(base_pdf, ev)
    engine = _final(lake)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )
    assert list(engine["path"]) == ["d.py"]


def test_applied_rename_reinjection_is_noop(spark, tmp_path):
    """A rename that DID apply (source existed) while a gap was open is
    still parked; its later re-injection must not disturb state built by
    higher-ord events (the resolver's ord gate sees its own tombstone)."""
    ev = _ev_frame(
        [
            {"epoch": 0, "op": "update", "path": "a.py", "content": "v1"},
            {"epoch": 1, "op": "update", "path": "x.py", "content": "x1"},
            {"epoch": 2, "op": "rename", "path": "a.py", "new_path": "b.py"},
            {"epoch": 3, "op": "update", "path": "b.py", "content": "v3"},
        ]
    )
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode="mor")
    bootstrap_base(lake, _base(spark))

    for ep in (0, 2, 3):  # epoch 1 late; e2's rename applies but parks
        _apply(spark, lake, ev, ep)
    assert [(p["path"], p["new_path"]) for p in lake.parked_renames()] == [
        ("a.py", "b.py")
    ]
    _apply(spark, lake, ev, 1)
    assert lake.parked_renames() == []

    base_pdf = pd.DataFrame(
        [("org/r", "a.py", commit_str(0), "py", "v0")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    oracle = replay(base_pdf, ev)
    engine = _final(lake)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )
    # b.py carries the post-rename update, not a resurrected rename copy
    b = engine[engine["path"] == "b.py"].iloc[0]
    assert b["content"] == "v3"


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_grouped_replay_matches_oracle(spark, tmp_path, merge_mode):
    """Backfill mode: replay_log applies a DDL-free rename-bearing log as
    one group (one rename resolution, one commit). Final state must equal
    the sequential oracle, with nothing parked and no gap left."""
    from skipmap_processor_spark.sources.events import generate_full
    from skipmap_processor_spark.streaming.pipeline import replay_log

    base, ev, _ddl = generate_full(
        n_repos=8, n_base_paths=60, n_events=500, n_epochs=5)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=8,
                            merge_mode=merge_mode)
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))

    records = ev.to_dict("records")
    for r in records:
        if isinstance(r.get("ts"), pd.Timestamp):
            r["ts"] = r["ts"].to_pydatetime()
    sdf = spark.createDataFrame(records, schema=event_spark_schema())
    replay_log(spark, lake, sdf, ddl=None)
    assert lake.parked_renames() == []
    assert lake.missing_intervals() == []

    oracle = replay(base, ev, None)
    engine = _final(lake)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )


def test_stream_catchup_group_matches_oracle(spark, tmp_path):
    """run_stream: one availableNow trigger delivering all epoch files at
    once (a tail that fell behind) applies them as one group and still
    matches the sequential oracle."""
    from skipmap_processor_spark.sources.events import (
        generate_full,
        write_event_log,
    )
    from skipmap_processor_spark.streaming.pipeline import run_stream

    base, ev, _ddl = generate_full(
        n_repos=8, n_base_paths=60, n_events=500, n_epochs=5)
    events_dir = str(tmp_path / "events")
    write_event_log(events_dir, ev, None)  # DDL-free log
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=8,
                            merge_mode="mor")
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))

    seen: list[dict] = []
    q = run_stream(spark, lake, events_dir, str(tmp_path / "ckpt"),
                   max_files_per_trigger=16, available_now=True,
                   on_batch=seen.append)
    q.awaitTermination(300)
    assert sorted(s["epoch"] for s in seen) == sorted(
        int(e) for e in ev["epoch"].unique())
    assert lake.parked_renames() == []

    oracle = replay(base, ev, None)
    engine = _final(lake)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_two_handle_race_finalizes_parked_rename(spark, tmp_path,
                                                 monkeypatch, merge_mode):
    """Two writer handles on one table, without threads. Handle B reads
    its manifest; handle A applies epoch 2 above the gap at epoch 1, so
    its rename b->c parks; B then fills the gap from its stale snapshot
    (epoch 1 above B's HWM: nothing to re-inject), and its commit keeps
    A's entry. The gap is closed and b->c is left parked. The next
    trigger finalizes it before anything else (``parked_resolved`` on
    its first stats), then applies its epochs as one group, and the lake
    equals the sequential oracle."""
    from skipmap_processor_spark.streaming import pipeline
    from skipmap_processor_spark.streaming.pipeline import replay_log

    ev = _ev_frame(
        [
            {"epoch": 0, "op": "update", "path": "a.py", "content": "v1"},
            {"epoch": 1, "op": "rename", "path": "a.py", "new_path": "b.py"},
            {"epoch": 1, "op": "update", "path": "b.py", "content": "v2"},
            {"epoch": 2, "op": "rename", "path": "b.py", "new_path": "c.py"},
            {"epoch": 3, "op": "update", "path": "x.py", "content": "x3"},
            {"epoch": 4, "op": "update", "path": "y.py", "content": "y4"},
        ]
    )
    path = str(tmp_path / "lake")
    lake_a = LakeTable.create(spark, path, num_buckets=4,
                              merge_mode=merge_mode)
    bootstrap_base(lake_a, _base(spark))
    _apply(spark, lake_a, ev, 0)

    lake_b = LakeTable(spark, path)
    stale = lake_b.manifest()
    _apply(spark, lake_a, ev, 2)  # above the gap: b->c parks
    assert [(p["path"], p["new_path"]) for p in lake_a.parked_renames()] == [
        ("b.py", "c.py")
    ]

    # B reads its pre-race snapshot until its action prep runs
    live = {"stale": True}
    read_manifest = lake_b.manifest

    def b_manifest(version=None):
        if version is None and live["stale"]:
            return copy.deepcopy(stale)
        return read_manifest(version)

    prep = pipeline.prepare_actions

    def prepare_actions(events, lake, *args, **kwargs):
        if lake is lake_b:
            live["stale"] = False
        return prep(events, lake, *args, **kwargs)

    monkeypatch.setattr(lake_b, "manifest", b_manifest)
    monkeypatch.setattr(pipeline, "prepare_actions", prepare_actions)
    _apply(spark, lake_b, ev, 1)  # the gap-filler, from B's snapshot
    assert not live["stale"]
    assert lake_a.missing_intervals() == []
    assert [(p["path"], p["new_path"]) for p in lake_a.parked_renames()] == [
        ("b.py", "c.py")
    ]

    later = ev[ev["epoch"] >= 3].to_dict("records")
    for r in later:
        r["ts"] = r["ts"].to_pydatetime()
    stats = replay_log(spark, lake_a,
                       spark.createDataFrame(later,
                                             schema=event_spark_schema()))
    assert stats[0]["parked_resolved"] == 1
    assert [s["epoch"] for s in stats] == [3, 4]
    assert [s["group"] for s in stats] == [[3, 4], [3, 4]]
    assert lake_a.parked_renames() == []

    base_pdf = pd.DataFrame(
        [("org/r", "a.py", commit_str(0), "py", "v0")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    oracle = replay(base_pdf, ev)
    engine = _final(lake_a)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )
    assert sorted(engine["path"]) == ["c.py", "x.py", "y.py"]
