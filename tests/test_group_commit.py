"""Group commit: several epochs apply as one write and one manifest
commit, and end in the same state as applying them one by one — LWW
upserts and deletes commute across epochs, in-order renames replay in ord
order, and each row keeps its own epoch. On a MOR lake a group tries the
fast path first; the general path groups in both merge modes. A group
that cannot apply as one commits nothing and falls back to per-epoch
applies."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from skipmap_processor_spark.lake import KEY_COLS, LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    base_spark_schema,
    event_spark_schema,
    write_event_log,
)
from skipmap_processor_spark.streaming import pipeline
from skipmap_processor_spark.streaming.pipeline import (
    apply_epoch,
    bootstrap_base,
    replay_log,
    run_stream,
)


def c(i: int) -> str:
    return f"{i:016x}" + "a" * 24


BASE = [
    ("r1", "same.py", c(1), "go", "b-same"),
    ("r1", "del_up.py", c(1), "go", "b-del-up"),
    ("r1", "dup.py", c(1), "go", "b-dup"),
    ("r2", "keep.py", c(1), "rs", "b-keep"),
]

# (epoch, commit, event_seq, op, repo, path, new_path, lang, content)
CASES = {
    "same_key_two_epochs": [
        (0, c(2), 0, "update", "r1", "same.py", None, "go", "e0"),
        (1, c(3), 0, "update", "r1", "same.py", None, "go", "e1"),
        (1, c(3), 1, "insert", "r2", "new.py", None, "rs", "n1"),
    ],
    "delete_then_upsert": [
        (0, c(2), 0, "delete", "r1", "del_up.py", None, None, None),
        (0, c(2), 1, "insert", "r2", "gone.py", None, "rs", "g0"),
        (1, c(3), 0, "update", "r1", "del_up.py", None, "py", "revived"),
        (1, c(3), 1, "delete", "r2", "gone.py", None, None, None),
    ],
    "verbatim_duplicate": [
        (0, c(2), 0, "update", "r1", "dup.py", None, "go", "d"),
        (0, c(2), 1, "update", "r1", "same.py", None, "go", "s0"),
        (1, c(2), 0, "update", "r1", "dup.py", None, "go", "d"),
    ],
    # epoch 0 applies alone first; the group [2, 3] leaves epoch 1 missing
    "gap_below": [
        (0, c(2), 0, "update", "r1", "same.py", None, "go", "e0"),
        (2, c(3), 0, "update", "r1", "same.py", None, "go", "e2"),
        (3, c(4), 0, "delete", "r1", "dup.py", None, None, None),
    ],
}


def _events(spark, rows):
    return spark.createDataFrame(
        [(ep, seq, cm, None, op, repo, path, new, lang, content, 1,
          extra[0] if extra else None)
         for ep, cm, seq, op, repo, path, new, lang, content, *extra
         in rows],
        schema=event_spark_schema())


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        [{"epoch": ep, "event_seq": seq, "commit": cm,
          "ts": pd.Timestamp("2024-01-01"), "op": op, "repo": repo,
          "path": path, "new_path": new, "lang": lang, "content": content,
          "schema_ver": 1, "extra_cols": extra[0] if extra else None}
         for ep, cm, seq, op, repo, path, new, lang, content, *extra
         in rows])


def _base_frame() -> pd.DataFrame:
    return pd.DataFrame(BASE, columns=["repo", "path", "commit", "lang",
                                       "content"])


def _lake(spark, path, mode: str = "mor") -> LakeTable:
    lake = LakeTable.create(spark, path, num_buckets=4, merge_mode=mode)
    bootstrap_base(lake, spark.createDataFrame(_base_frame(),
                                               schema=base_spark_schema()))
    return lake


def _state(lake) -> pd.DataFrame:
    got = (lake.read(include_deleted=True, with_engine_cols=True).toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    return _blank_tombstones(got)


def _blank_tombstones(df: pd.DataFrame) -> pd.DataFrame:
    df["event_seq"] = df["event_seq"].astype("int64")
    for col in set(df.columns) - {*KEY_COLS, "commit", "event_seq",
                                  "is_deleted", "_epoch"}:
        df[col] = df[col].where(~df["is_deleted"], None)
    return df


def _assert_oracle_equal(lake, rows, ddl=None) -> None:
    got = _state(lake).drop(columns=["_epoch"])
    want = _blank_tombstones(replay(_base_frame(), _frame(rows), ddl,
                                    include_tombstones=True))
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


def _stray_dirs(lake) -> set[str]:
    """Data dirs on disk that no live manifest entry references (with no
    compaction, every committed MOR write stays referenced)."""
    live = {fe["path"].split("/")[1] for fe in lake.file_entries()}
    return set(os.listdir(os.path.join(lake.path, "data"))) - live


@pytest.mark.parametrize("case", sorted(CASES))
def test_group_equals_one_by_one_and_oracle(spark, warehouse, case):
    rows = CASES[case]
    pre = [r for r in rows if r[0] == 0] if case == "gap_below" else []
    group = sorted({r[0] for r in rows} - {r[0] for r in pre})
    ev = _events(spark, rows)
    lakes = {}
    for how in ("group", "single"):
        lake = _lake(spark, os.path.join(warehouse, how))
        if pre:
            apply_epoch(lake, _events(spark, pre).drop("epoch"), 0)
        if how == "group":
            stats = apply_epoch(lake, ev.filter(F.col("epoch") >= group[0]),
                                group[-1], epochs=group)
            assert not stats["skipped"] and stats["group"] == group
        else:
            for ep in group:
                apply_epoch(lake, ev.filter(F.col("epoch") == ep)
                            .drop("epoch"), ep)
        _assert_oracle_equal(lake, rows)
        assert lake.missing_intervals() == ([[1, 1]] if pre else [])
        assert lake.hwm_epoch == group[-1]
        lakes[how] = lake
    pd.testing.assert_frame_equal(_state(lakes["group"]),
                                  _state(lakes["single"]), check_dtype=False)
    if case == "verbatim_duplicate":
        st = _state(lakes["group"]).set_index("path")
        assert st.loc["dup.py", "_epoch"] == 1

    # one manifest version marks every epoch of the group
    lake, ver = lakes["group"], stats["version"]
    assert all(LakeTable._epoch_applied(lake.manifest(ver), e)
               for e in group)
    assert not any(LakeTable._epoch_applied(lake.manifest(ver - 1), e)
                   for e in group)
    # its ledger rows count the staged files' rows per (epoch, bucket)
    [staged] = glob.glob(os.path.join(lake.path, "data", f"v{ver}-*"))
    counts = (spark.read.parquet(staged).groupBy("_epoch", "_bucket").count()
              .collect())
    want = {(r["_epoch"], r["_bucket"], r["count"]) for r in counts}
    want |= {(e, -1, 0) for e in group if e not in {w[0] for w in want}}
    led = lake.read_ledger().filter(F.col("version") == ver).collect()
    assert {(r["epoch"], r["bucket"], r["rows"]) for r in led} == want
    assert len(led) == len(want)


def test_grouped_stream_redelivery_is_skipped(spark, tmp_path):
    """A trigger's backlog applies as one group; a fresh checkpoint over
    the same log reports every epoch ``skipped``."""
    rows = CASES["same_key_two_epochs"] + [
        (2, c(4), 0, "delete", "r1", "same.py", None, None, None)]
    events_dir = str(tmp_path / "events")
    write_event_log(events_dir, _frame(rows), None)
    lake = _lake(spark, str(tmp_path / "lake"))
    for ckpt, want_skipped in (("ck1", False), ("ck2", True)):
        stats: list[dict] = []
        run_stream(spark, lake, events_dir, str(tmp_path / ckpt),
                   on_batch=stats.append).awaitTermination(300)
        assert [s["epoch"] for s in stats] == [0, 1, 2]
        assert [s["skipped"] for s in stats] == [want_skipped] * 3
        if not want_skipped:
            assert {s["version"] for s in stats} == {lake.manifest()["version"]}
            assert all(s["group"] == [0, 1, 2] and s["wall_sec"] > 0
                       for s in stats)
    _assert_oracle_equal(lake, rows)


@pytest.mark.parametrize("how", ["run_stream", "replay_log"])
def test_rename_epoch_splits_the_group(spark, tmp_path, monkeypatch, how):
    """A rename in the middle epoch no longer splits the group: the three
    epochs apply as one general-path group and one commit. ``run_stream``
    knows the rename from the event files' footers and pays no fast-path
    write; ``replay_log`` tries the fast group first, and its aborted
    write leaves nothing on disk."""
    rows = [
        (0, c(2), 0, "update", "r1", "same.py", None, "go", "e0"),
        (1, c(3), 0, "rename", "r1", "same.py", "moved.py", None, None),
        (2, c(4), 0, "update", "r1", "moved.py", None, "go", "e2"),
        (2, c(4), 1, "update", "r2", "keep.py", None, "rs", "k2"),
    ]
    lake = _lake(spark, str(tmp_path / "lake"))
    calls: list[tuple] = []
    fast: list[list[int]] = []
    orig, orig_fast = pipeline.apply_epoch, pipeline._apply_fast

    def spy(lake_, events, epoch, *args, **kwargs):
        calls.append((kwargs.get("epochs"), epoch))
        return orig(lake_, events, epoch, *args, **kwargs)

    def spy_fast(lake_, events, group, sha_impl):
        fast.append(group)
        return orig_fast(lake_, events, group, sha_impl)

    monkeypatch.setattr(pipeline, "apply_epoch", spy)
    monkeypatch.setattr(pipeline, "_apply_fast", spy_fast)
    if how == "run_stream":
        events_dir = str(tmp_path / "events")
        write_event_log(events_dir, _frame(rows), None)
        stats: list[dict] = []
        run_stream(spark, lake, events_dir, str(tmp_path / "ck"),
                   on_batch=stats.append).awaitTermination(300)
        assert calls == [] and fast == []
    else:
        stats = replay_log(spark, lake, _events(spark, rows))
        assert calls == [([0, 1, 2], 2)] and fast == [[0, 1, 2]]
    assert [s["epoch"] for s in stats] == [0, 1, 2]
    assert not any(s["skipped"] for s in stats)
    assert all(s["group"] == [0, 1, 2] for s in stats)
    assert len({s["version"] for s in stats}) == 1
    assert _stray_dirs(lake) == set()
    _assert_oracle_equal(lake, rows)


def test_row_epoch_outside_the_group_is_not_stamped(spark, warehouse):
    """Rows whose ``epoch`` is not the applied epoch never commit through
    the fast path: a single epoch falls back to the general path, which
    stamps the epoch it was given; a group commits nothing and reports no
    ``bad`` span, so the scheduler applies its epochs one by one."""
    ev = _events(spark, CASES["same_key_two_epochs"])
    one = _lake(spark, os.path.join(warehouse, "one"))
    st = apply_epoch(one, ev.filter(F.col("epoch") == 0)
                     .withColumn("epoch", F.lit(7).cast("bigint")), 0)
    assert not st["skipped"] and "group" not in st
    got = one.read(with_engine_cols=True).filter(F.col("path") == "same.py")
    assert [r["_epoch"] for r in got.collect()] == [0]
    grp = _lake(spark, os.path.join(warehouse, "grp"))
    st = apply_epoch(grp, ev.withColumn("epoch", F.col("epoch") + 5), 1,
                     epochs=[0, 1])
    assert st.get("aborted") and "bad" not in st
    assert grp.hwm_epoch == -1 and _stray_dirs(grp) == set()


@pytest.mark.parametrize("on_malformed", ["error", "quarantine"])
def test_malformed_row_aborts_group(spark, warehouse, on_malformed):
    """A malformed row aborts the group; the per-epoch applies then follow
    the ``on_malformed`` policy, and the aborted write leaves nothing."""
    clean = CASES["delete_then_upsert"]
    bad = (1, c(3), 5, "update", None, "x.py", None, "go", "junk")
    lake = _lake(spark, os.path.join(warehouse, on_malformed))
    ev = _events(spark, clean + [bad])
    if on_malformed == "error":
        with pytest.raises(Exception, match="malformed"):
            replay_log(spark, lake, ev, on_malformed=on_malformed)
        assert lake.hwm_epoch == 0
        _assert_oracle_equal(lake, [r for r in clean if r[0] == 0])
    else:
        stats = replay_log(spark, lake, ev, on_malformed=on_malformed)
        assert [s["epoch"] for s in stats] == [0, 1]
        assert stats[1]["quarantined"] == 1
        _assert_oracle_equal(lake, clean)
    assert _stray_dirs(lake) == set()


def test_epoch_applied_by_another_handle_falls_back(spark, warehouse,
                                                    monkeypatch):
    """Another handle applies epoch 1 after the group's write, before its
    claim: the group commits nothing, and the scheduler applies the other
    epochs exactly once and reports epoch 1 ``skipped``."""
    rows = (CASES["same_key_two_epochs"]
            + [(2, c(4), 0, "update", "r2", "keep.py", None, "rs", "k2")])
    lake = _lake(spark, os.path.join(warehouse, "t"))
    ev = _events(spark, rows)
    orig = LakeTable._scan_written
    raced: list[int] = []

    def scan(self, out_dir, schema_version, count_epochs=False):
        if count_epochs and not raced:
            raced.append(1)
            other = LakeTable.load(spark, lake.path)
            assert not apply_epoch(
                other, ev.filter(F.col("epoch") == 1).drop("epoch"),
                1)["skipped"]
        return orig(self, out_dir, schema_version, count_epochs)

    monkeypatch.setattr(LakeTable, "_scan_written", scan)
    stats = replay_log(spark, lake, ev)
    assert raced == [1]
    assert [(s["epoch"], s["skipped"]) for s in stats] == [
        (0, False), (1, True), (2, False)]
    led = lake.read_ledger().toPandas()
    led = led[led["epoch"] >= 0]
    # one commit per epoch: no ledger row from the group's write
    assert sorted(led.groupby("epoch")["version"].nunique().items()) == [
        (0, 1), (1, 1), (2, 1)]
    assert len(set(led["version"])) == 3
    assert _stray_dirs(lake) == set()
    _assert_oracle_equal(lake, rows)


def test_maxwell_group_stamps_partition_epochs(spark, tmp_path):
    """A text-wire group keeps each row's ``epoch=K`` dir as its epoch
    (Maxwell documents carry none)."""
    events_dir = tmp_path / "mx"
    for ep, path, xid in ((0, "a.py", 1), (1, "b.py", 2)):
        (events_dir / f"epoch={ep}").mkdir(parents=True)
        (events_dir / f"epoch={ep}" / "part-0.txt").write_text(
            '{"database":"hub","table":"repos","type":"insert","ts":10,'
            f'"xid":{xid},"data":{{"repo":"r1","path":"{path}",'
            f'"commit":"{c(xid)}","lang":"go","content":"x",'
            '"schema_ver":1}}\n')
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=2,
                            merge_mode="mor")
    stats: list[dict] = []
    run_stream(spark, lake, str(events_dir), str(tmp_path / "ck"),
               wire_format="maxwell",
               on_batch=stats.append).awaitTermination(300)
    assert [s["group"] for s in stats] == [[0, 1], [0, 1]]
    got = {r["path"]: r["_epoch"]
           for r in lake.read(with_engine_cols=True).collect()}
    assert got == {"a.py": 0, "b.py": 1}


# general-path groups, in both merge modes
GENERAL_CASES = {
    "rename_chain": [
        (0, c(2), 0, "rename", "r1", "same.py", "b.py", None, None),
        (1, c(3), 0, "rename", "r1", "b.py", "c.py", None, None),
        (1, c(3), 1, "update", "r2", "keep.py", None, "rs", "k1"),
    ],
    "rename_then_upsert": [
        (0, c(2), 0, "rename", "r1", "same.py", "moved.py", None, None),
        (1, c(3), 0, "update", "r1", "moved.py", None, "go", "m1"),
    ],
    "rename_then_delete": [
        (0, c(2), 0, "rename", "r1", "same.py", "moved.py", None, None),
        (0, c(2), 1, "update", "r1", "dup.py", None, "go", "d0"),
        (1, c(3), 0, "delete", "r1", "moved.py", None, None, None),
    ],
    # a column first seen in the middle epoch, then carried by a rename
    "promoted_middle": [
        (0, c(2), 0, "update", "r1", "same.py", None, "go", "s0"),
        (1, c(3), 0, "update", "r1", "dup.py", None, "go", "d1",
         {"branch": "dev"}),
        (2, c(4), 0, "rename", "r1", "dup.py", "dup2.py", None, None),
        (2, c(4), 1, "update", "r2", "keep.py", None, "rs", "k2"),
    ],
    "verbatim_duplicate": CASES["verbatim_duplicate"],
}


def _assert_one_commit(spark, lake, stats, group) -> None:
    """One manifest version marks every epoch of the group, and its ledger
    holds one row per (epoch, bucket) of the staged files' rows; rows of
    an epoch outside the group (a CoW rewrite's carried rows) count under
    the group's last epoch."""
    ver = stats["version"]
    assert all(LakeTable._epoch_applied(lake.manifest(ver), e)
               for e in group)
    assert not any(LakeTable._epoch_applied(lake.manifest(ver - 1), e)
                   for e in group)
    [staged] = glob.glob(os.path.join(lake.path, "data", f"v{ver}-*"))
    ep = F.when(F.col("_epoch").isin(group), F.col("_epoch")).otherwise(
        group[-1])
    counts = (spark.read.parquet(staged).groupBy(ep.alias("e"), "_bucket")
              .count().collect())
    want = {(r["e"], r["_bucket"], r["count"]) for r in counts}
    want |= {(e, -1, 0) for e in group if e not in {w[0] for w in want}}
    led = lake.read_ledger().filter(F.col("version") == ver).collect()
    assert {(r["epoch"], r["bucket"], r["rows"]) for r in led} == want
    assert len(led) == len(want)


@pytest.mark.parametrize("case", sorted(GENERAL_CASES))
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_general_group_equals_one_by_one_and_oracle(spark, warehouse, mode,
                                                    case):
    rows = GENERAL_CASES[case]
    group = sorted({r[0] for r in rows})
    ev = _events(spark, rows)
    lakes = {}
    for how in ("group", "single"):
        lake = _lake(spark, os.path.join(warehouse, f"{mode}-{how}"), mode)
        if how == "group":
            stats = pipeline._apply_general(lake, ev, group[-1],
                                            epochs=group)
            assert not stats["skipped"] and stats["group"] == group
        else:
            for ep in group:
                apply_epoch(lake, ev.filter(F.col("epoch") == ep)
                            .drop("epoch"), ep)
        _assert_oracle_equal(lake, rows)
        assert lake.hwm_epoch == group[-1] and lake.parked_renames() == []
        lakes[how] = lake
    pd.testing.assert_frame_equal(_state(lakes["group"]),
                                  _state(lakes["single"]), check_dtype=False)
    if case == "verbatim_duplicate":
        # one by one, CoW keeps the target row, MOR reads the later delta
        st = _state(lakes["group"]).set_index("path")
        assert st.loc["dup.py", "_epoch"] == (0 if mode == "cow" else 1)
    _assert_one_commit(spark, lakes["group"], stats, group)


DDL_ROWS = [
    (0, c(2), 0, "update", "r1", "same.py", None, "go", "e0"),
    (1, c(3), 0, "update", "r1", "dup.py", None, "py", "e1"),
    (2, c(4), 0, "rename", "r1", "dup.py", "dup2.py", None, None),
    (3, c(5), 0, "update", "r2", "keep.py", None, "rs", "e3"),
]


def _ddl_at(epoch: int) -> pd.DataFrame:
    return pd.DataFrame([{"epoch": epoch, "change": "rename_column",
                          "col_from": "lang", "col_to": "language",
                          "col_type": "string"}])


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_ddl_epoch_starts_a_group(spark, warehouse, mode):
    """A DDL may only start a group: ``apply_epoch`` refuses a group with
    DDL at a later epoch before it changes anything, applies the DDL of a
    group's first epoch, and the scheduler splits a run at each DDL epoch
    (here [0] and [1, 2, 3])."""
    ev = _events(spark, DDL_ROWS)
    lake = _lake(spark, os.path.join(warehouse, mode), mode)
    with pytest.raises(ValueError, match="DDL"):
        apply_epoch(lake, ev, 3, _ddl_at(1), epochs=[0, 1, 2, 3])
    assert lake.hwm_epoch == -1
    assert "lang" in lake.current_columns()
    stats = replay_log(spark, lake, ev, _ddl_at(1))
    assert [s["epoch"] for s in stats] == [0, 1, 2, 3]
    assert [s.get("group", [0]) for s in stats] == [[0]] + [[1, 2, 3]] * 3
    assert stats[1]["ddl_applied"] == ["rename_column lang->language"]
    assert len({s["version"] for s in stats}) == 2
    _assert_oracle_equal(lake, DDL_ROWS, _ddl_at(1))
    _assert_one_commit(spark, lake, stats[-1], [1, 2, 3])


def test_grouped_ddl_cow_stream_redelivery_is_skipped(spark, tmp_path):
    """A DDL-bearing CoW log tails uncapped as one group per run; a fresh
    checkpoint over the same log reports every epoch ``skipped``."""
    events_dir = str(tmp_path / "events")
    write_event_log(events_dir, _frame(DDL_ROWS), _ddl_at(2))
    lake = _lake(spark, str(tmp_path / "lake"), "cow")
    for ckpt, want_skipped in (("ck1", False), ("ck2", True)):
        stats: list[dict] = []
        run_stream(spark, lake, events_dir, str(tmp_path / ckpt),
                   on_batch=stats.append).awaitTermination(300)
        assert [s["epoch"] for s in stats] == [0, 1, 2, 3]
        assert [s["skipped"] for s in stats] == [want_skipped] * 4
        if not want_skipped:
            assert [s["group"] for s in stats] == (
                [[0, 1]] * 2 + [[2, 3]] * 2)
    _assert_oracle_equal(lake, DDL_ROWS, _ddl_at(2))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_inorder_rename_storm_group_never_collects(spark, warehouse,
                                                   monkeypatch, mode):
    """Three in-order epochs of rename chains apply as one group: all its
    renames are covered, so none crosses to the driver."""
    def boom(events):
        raise AssertionError("in-order renames reached the driver")

    monkeypatch.setattr(pipeline, "_collect_renames", boom)
    rows = []
    for ep in range(3):
        for k in range(20):
            rows.append((ep, c(10 + ep), k, "rename", "r3", f"d{k}/f{ep}.py",
                         f"d{k}/f{ep + 1}.py", None, None))
        rows.append((ep, c(10 + ep), 99, "update", "r3", f"d0/f{ep + 1}.py",
                     None, "py", f"moved{ep}"))
    base = [("r3", f"d{k}/f0.py", c(1), "py", f"v{k}") for k in range(20)]
    lake = LakeTable.create(spark, os.path.join(warehouse, mode),
                            num_buckets=4, merge_mode=mode)
    bootstrap_base(lake, spark.createDataFrame(
        pd.DataFrame(base, columns=["repo", "path", "commit", "lang",
                                    "content"]),
        schema=base_spark_schema()))
    stats = replay_log(spark, lake, _events(spark, rows))
    assert [s["group"] for s in stats] == [[0, 1, 2]] * 3
    assert lake.parked_renames() == []
    got = _state(lake).drop(columns=["_epoch"])
    want = _blank_tombstones(replay(
        pd.DataFrame(base, columns=["repo", "path", "commit", "lang",
                                    "content"]),
        _frame(rows), include_tombstones=True))
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


FALLBACK_ROWS = [
    (0, c(2), 0, "update", "r1", "same.py", None, "go", "e0"),
    (1, c(3), 0, "update", "r1", "dup.py", None, "go", "e1"),
    (2, c(4), 0, "rename", "r1", "dup.py", "moved.py", None, None),
    (3, c(5), 0, "update", "r1", "moved.py", None, "go", "e3"),
    (4, c(6), 0, "delete", "r2", "keep.py", None, None, None),
]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_gap_and_parked_renames_apply_one_by_one(spark, warehouse, mode):
    """Epochs [2, 3] above the missing epoch 1 apply one by one (epoch 2's
    rename parks); then [1, 4] close the gap with a rename parked, so they
    apply one by one too, and epoch 1 resolves it. Each epoch commits on
    its own, and the end state equals the oracle."""
    ev = _events(spark, FALLBACK_ROWS)
    lake = _lake(spark, os.path.join(warehouse, mode), mode)
    replay_log(spark, lake, ev.filter(F.col("epoch") == 0))
    above = replay_log(spark, lake, ev.filter(F.col("epoch").isin(2, 3)))
    assert len(lake.parked_renames()) == 1
    assert lake.missing_intervals() == [[1, 1]]
    fill = replay_log(spark, lake, ev.filter(F.col("epoch").isin(1, 4)))
    for stats in (above, fill):
        assert not any(s["skipped"] for s in stats)
        assert all(len(s.get("group", [0])) == 1 for s in stats)
        assert len({s["version"] for s in stats}) == 2
    assert lake.parked_renames() == [] and lake.missing_intervals() == []
    _assert_oracle_equal(lake, FALLBACK_ROWS)


def test_failed_cow_group_commit_leaves_nothing(spark, tmp_path,
                                                monkeypatch):
    """A CoW group whose commit raises leaves no staging dir and no epoch
    applied; the stream's retry from the same checkpoint applies every
    epoch exactly once."""
    rows = FALLBACK_ROWS
    events_dir = str(tmp_path / "events")
    write_event_log(events_dir, _frame(rows), None)
    lake = _lake(spark, str(tmp_path / "lake"), "cow")
    data = os.path.join(lake.path, "data")
    before = set(os.listdir(data))
    orig = LakeTable._commit_with_rebase

    def boom(self, mutate, kind="metadata", base=None):
        if kind == "merge":
            raise RuntimeError("injected commit failure")
        return orig(self, mutate, kind, base)

    monkeypatch.setattr(LakeTable, "_commit_with_rebase", boom)
    with pytest.raises(Exception, match="injected commit failure"):
        run_stream(spark, lake, events_dir,
                   str(tmp_path / "ck")).awaitTermination(300)
    assert set(os.listdir(data)) == before
    assert lake.hwm_epoch == -1
    monkeypatch.setattr(LakeTable, "_commit_with_rebase", orig)
    stats: list[dict] = []
    run_stream(spark, lake, events_dir, str(tmp_path / "ck"),
               on_batch=stats.append).awaitTermination(300)
    assert [s["epoch"] for s in stats] == [0, 1, 2, 3, 4]
    assert all(not s["skipped"] and s["group"] == [0, 1, 2, 3, 4]
               for s in stats)
    led = lake.read_ledger().toPandas()
    led = led[led["epoch"] >= 0]
    assert sorted(led.groupby("epoch")["version"].nunique().items()) == [
        (e, 1) for e in range(5)]
    assert lake.fsck()["ok"]
    _assert_oracle_equal(lake, rows)
