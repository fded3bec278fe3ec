"""The one commit protocol: ``_commit_with_rebase`` claims ``base + 1`` on
every attempt, and ``_commit_staged`` (MOR merge, CoW merge, compaction)
removes its staged ``data/v{N}-…`` dir exactly when the commit certainly
did not happen."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from skipmap_processor_spark.lake import CommitConflict, LakeTable

ACTION_DDL = (
    "repo string, path string, commit string, event_seq bigint, op string, "
    "lang string, content string, content_sha string"
)


def c(i: int) -> str:
    return f"{i:016x}" + "a" * 24


def _actions(spark, ep: int):
    return spark.createDataFrame(
        [("r1", f"f{k}.py", c(ep * 100 + k), 0, "upsert", "py",
          f"v{ep}-{k}", f"s{ep}-{k}") for k in range(12)], ACTION_DDL)


def _versions(path: str) -> list[int]:
    return sorted(int(fn[1:-5]) for fn in os.listdir(
        os.path.join(path, "manifests"))
        if fn.startswith("v") and fn.endswith(".json"))


def test_rebase_keeps_a_commit_that_lands_during_mutate(spark, warehouse):
    """Another handle commits a data epoch after this commit loaded its
    base and before it claims: the claim of ``base + 1`` loses, the edit
    re-runs on the winner's manifest, and both changes survive."""
    path = os.path.join(warehouse, "race")
    lake = LakeTable.create(spark, path, num_buckets=4, merge_mode="mor")
    other = LakeTable.load(spark, path)
    calls = []

    def mutate(mani: dict) -> bool:
        if not calls:
            other.merge_batch(_actions(spark, 7), epoch=7)
        calls.append(int(mani["version"]))
        mani["properties"]["note"] = "mine"
        return True

    got = lake._commit_with_rebase(mutate)
    final = lake.manifest()
    assert calls == [0, 1]
    assert got["version"] == final["version"] == 2
    assert _versions(path) == [0, 1, 2]
    assert final["properties"]["hwm_epoch"] == 7
    assert final["properties"]["note"] == "mine"
    assert final["shards"] == lake.manifest(1)["shards"]
    assert lake.read().count() == 12


def test_racing_metadata_commits_lose_nothing(spark, warehouse):
    """Four handles add five columns each at once: every column lands and
    the versions stay consecutive (one commit per column)."""
    path = os.path.join(warehouse, "ddl-race")
    LakeTable.create(spark, path, num_buckets=4, merge_mode="mor")
    errors: list[Exception] = []

    def adder(t: int) -> None:
        try:
            w = LakeTable.load(spark, path)
            for i in range(5):
                w.add_column(f"c{t}_{i}", "string")
        except Exception as e:  # pragma: no cover - asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=adder, args=(t,))
                   for t in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    lake = LakeTable.load(spark, path)
    assert {f"c{t}_{i}" for t in range(4) for i in range(5)} <= set(
        lake.current_columns())
    assert _versions(path) == list(range(21))


def _writer(spark, path: str, writer: str, **kw):
    """(table, the write under test): a MOR or CoW merge of epoch 1, or a
    compaction of two MOR epochs."""
    lake = LakeTable.create(spark, path, num_buckets=4,
                            merge_mode="cow" if writer == "cow" else "mor")
    lake.merge_batch(_actions(spark, 0), epoch=0)
    if writer == "compact":
        lake.merge_batch(_actions(spark, 1), epoch=1)
        return lake, lambda: lake.compact(**kw)
    return lake, lambda: lake.merge_batch(_actions(spark, 1), epoch=1, **kw)


def _boom(mani: dict) -> None:
    raise RuntimeError("post-commit edit failed")


@pytest.mark.parametrize("writer,failure", [
    ("mor", "post_commit_mutate"),
    ("cow", "post_commit_mutate"),
    ("mor", "every_claim_lost"),
    ("cow", "every_claim_lost"),
    ("compact", "every_claim_lost"),
])
def test_failed_commit_removes_staged_dir(spark, warehouse, monkeypatch,
                                          writer, failure):
    path = os.path.join(warehouse, f"{writer}-{failure}")
    kw = ({"post_commit_mutate": _boom}
          if failure == "post_commit_mutate" else {})
    lake, run = _writer(spark, path, writer, **kw)
    data_before = set(os.listdir(os.path.join(path, "data")))
    version_before = lake._latest_version()
    if failure == "every_claim_lost":
        def lose(self, mani):
            raise CommitConflict(f"manifest v{mani['version']} taken")

        monkeypatch.setattr(LakeTable, "_commit_manifest", lose)
        monkeypatch.setattr(time, "sleep", lambda s: None)
        err = CommitConflict
    else:
        err = RuntimeError
    with pytest.raises(err):
        run()
    assert set(os.listdir(os.path.join(path, "data"))) == data_before
    assert lake._latest_version() == version_before
    assert lake.manifest()["version"] == version_before


def test_error_after_manifest_created_keeps_staged_files(spark, warehouse,
                                                         monkeypatch):
    """An error once the manifest exists must not delete the files it
    references: the committed version reads back whole."""
    path = os.path.join(warehouse, "late-error")
    lake, run = _writer(spark, path, "mor")
    data_before = set(os.listdir(os.path.join(path, "data")))
    orig = LakeTable._commit_manifest

    def commit_then_fail(self, mani):
        orig(self, mani)
        raise OSError("disk hiccup after the manifest landed")

    monkeypatch.setattr(LakeTable, "_commit_manifest", commit_then_fail)
    with pytest.raises(OSError):
        run()
    monkeypatch.undo()
    staged = set(os.listdir(os.path.join(path, "data"))) - data_before
    assert len(staged) == 1
    assert lake.manifest()["version"] == 2
    assert lake.hwm_epoch == 1
    assert lake.fsck()["ok"]
    got = {r["path"]: r["content"] for r in lake.read().collect()}
    assert got == {f"f{k}.py": f"v1-{k}" for k in range(12)}
