"""merge_batch owns last-writer-wins: the CoW merge is one LWW pick over
target + candidate rows, and MOR appends go through the same pick."""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    base_spark_schema,
    event_spark_schema,
)
from skipmap_processor_spark.streaming.pipeline import (
    apply_epoch,
    bootstrap_base,
)


def c(i: int) -> str:
    return f"{i:016x}" + "a" * 24


def _events(spark, rows):
    """rows: (epoch, commit, event_seq, op, repo, path, lang, content)."""
    return spark.createDataFrame(
        [(ep, seq, cm, None, op, repo, path, None, lang, content, 1, None)
         for ep, cm, seq, op, repo, path, lang, content in rows],
        schema=event_spark_schema(),
    )


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(
        [{"epoch": ep, "commit": cm, "event_seq": seq, "op": op, "repo": repo,
          "path": path, "new_path": None, "lang": lang, "content": content,
          "extra_cols": None}
         for ep, cm, seq, op, repo, path, lang, content in rows])


BASE = [
    ("r1", "tie.py", c(1), "go", "target"),
    ("r1", "del_up.py", c(1), "go", "old"),
    ("r1", "up_del.py", c(1), "go", "old"),
    ("r1", "dup.py", c(1), "go", "old"),
    ("r1", "stale.py", c(5), "go", "newer"),
]

EVENTS = [
    # equal ord with the target row, different payload: the target wins
    (1, c(1), 0, "update", "r1", "tie.py", "go", "batch"),
    # delete -> upsert inside one batch: the upsert is newer
    (1, c(2), 0, "delete", "r1", "del_up.py", None, None),
    (1, c(2), 1, "update", "r1", "del_up.py", "py", "revived"),
    # upsert -> delete inside one batch: a tombstone
    (1, c(2), 2, "update", "r1", "up_del.py", "py", "gone soon"),
    (1, c(2), 3, "delete", "r1", "up_del.py", None, None),
    # delete of a key the table never held: writes a tombstone
    (1, c(2), 4, "delete", "r1", "absent.py", None, None),
    # verbatim duplicate deliveries, plus an older candidate for the key
    (1, c(3), 0, "update", "r1", "dup.py", "go", "v3"),
    (1, c(3), 0, "update", "r1", "dup.py", "go", "v3"),
    (1, c(2), 5, "update", "r1", "dup.py", "go", "v2"),
    # older than the target: a stale duplicate
    (1, c(4), 0, "update", "r1", "stale.py", "go", "older"),
    # a fresh key with two candidates
    (1, c(2), 6, "insert", "r2", "new.py", "rs", "first"),
    (1, c(3), 1, "update", "r2", "new.py", "rs", "second"),
]


def test_fused_cow_merge_multi_candidate_matches_oracle(spark, warehouse):
    lake = LakeTable.create(spark, os.path.join(warehouse, "t"),
                            num_buckets=4, merge_mode="cow")
    base = pd.DataFrame(BASE, columns=["repo", "path", "commit", "lang",
                                       "content"])
    bootstrap_base(lake, spark.createDataFrame(base,
                                               schema=base_spark_schema()))
    apply_epoch(lake, _events(spark, EVENTS).drop("epoch"), 1)

    got = (lake.read(include_deleted=True, with_engine_cols=True)
           .drop("_epoch").toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    want = replay(base, _frame(EVENTS), include_tombstones=True)
    cols = sorted(want.columns)
    got, want = got[cols], want[cols]
    for f in (got, want):
        f["event_seq"] = f["event_seq"].astype("int64")
        f["content"] = f["content"].where(~f["is_deleted"], None)
        f["content_sha"] = f["content_sha"].where(~f["is_deleted"], None)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    by_path = got.set_index("path")
    assert by_path.loc["tie.py", "content"] == "target"
    assert bool(by_path.loc["absent.py", "is_deleted"])


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_bootstrap_base_duplicate_keys_one_row_per_key(spark, warehouse,
                                                       merge_mode):
    """A duplicate-keyed base snapshot: the max-commit row wins, and
    equal-ord duplicates resolve by payload, whatever their input order."""
    rows = [
        ("r1", "a.py", c(1), "go", "a-old"),
        ("r1", "a.py", c(2), "go", "a-new"),
        ("r1", "b.py", c(3), "go", "b-y"),
        ("r1", "b.py", c(3), "go", "b-x"),
        ("r1", "b.py", c(3), "go", "b-y"),
        ("r2", "c.py", c(1), "rs", "c"),
    ]
    outs = []
    for i, order in enumerate((rows, rows[::-1])):
        lake = LakeTable.create(
            spark, os.path.join(warehouse, f"{merge_mode}{i}"),
            num_buckets=4, merge_mode=merge_mode)
        bootstrap_base(lake, spark.createDataFrame(
            order, schema=base_spark_schema()).repartition(3))
        got = (lake.read(include_deleted=True, with_engine_cols=True)
               .toPandas().sort_values(["repo", "path"])
               .reset_index(drop=True))
        assert not got.duplicated(["repo", "path"]).any(), got
        assert dict(zip(got["path"], got["content"])) == {
            "a.py": "a-new", "b.py": "b-x", "c.py": "c"}
        outs.append(got.drop(columns=["_epoch"]))
    pd.testing.assert_frame_equal(outs[0], outs[1])


_SHUFFLE = re.compile(
    r"(?<![A-Za-z])Exchange (hashpartitioning|rangepartitioning|"
    r"SinglePartition|RoundRobinPartitioning)")


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_rename_free_epoch_write_has_one_shuffle(spark, warehouse,
                                                 monkeypatch, merge_mode):
    """The epoch's write is the LWW pick's single exchange: no join
    against the target, no separate dedup, no bucket repartition."""
    lake = LakeTable.create(spark, os.path.join(warehouse, merge_mode),
                            num_buckets=4, merge_mode=merge_mode)
    bootstrap_base(lake, spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}.py", c(1), "go", f"v{i}") for i in range(20)],
        schema=base_spark_schema()))
    plans: list[str] = []
    orig = LakeTable._data_writer

    def spy(self, df, mani):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, mani)

    monkeypatch.setattr(LakeTable, "_data_writer", spy)
    ev = [(1, c(2), i, "update", f"r{i % 3}", f"p{i}.py", "go", f"w{i}")
          for i in range(0, 20, 2)]
    stats = apply_epoch(lake, _events(spark, ev + ev[:3]).drop("epoch"), 1)
    assert len(plans) == 1
    assert len(_SHUFFLE.findall(plans[0])) == 1, plans[0]
    assert not stats["skipped"] and stats["mode"] == merge_mode
    assert {"t_write", "t_scan", "t_commit", "t_ledger"} <= set(stats)
    got = {r["path"]: r["content"] for r in lake.read().collect()}
    assert got == {f"p{i}.py": (f"w{i}" if i % 2 == 0 else f"v{i}")
                   for i in range(20)}
