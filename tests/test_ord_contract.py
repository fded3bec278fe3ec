"""The ord contract: LWW compares ``commit`` lexicographically, so an epoch
whose commit ids differ in width must fail loudly, apply nothing and leave
no staged files behind — in both merge modes."""

from __future__ import annotations

import os

import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.sources.events import event_spark_schema
from skipmap_processor_spark.streaming.pipeline import apply_epoch


def _data_entries(lake: LakeTable) -> set[str]:
    d = os.path.join(lake.path, "data")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


@pytest.mark.parametrize("merge_mode", ["mor", "cow"])
def test_mixed_width_commits_raise_and_stage_nothing(spark, tmp_path,
                                                     merge_mode):
    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=4,
                            merge_mode=merge_mode)
    schema = type(event_spark_schema())(
        [f for f in event_spark_schema().fields if f.name != "epoch"])
    rows = [
        (0, "0000000001", None, "upsert", "org/r", "a.py", None, "py", "x",
         1, None),
        (1, "000000000002", None, "upsert", "org/r", "b.py", None, "py", "y",
         1, None),
    ]
    batch = spark.createDataFrame(rows, schema=schema)
    before = _data_entries(lake)
    with pytest.raises(ValueError, match="^ord contract violated: "):
        apply_epoch(lake, batch, 0)
    assert not lake.epoch_applied(0)
    assert lake.hwm_epoch == -1
    assert _data_entries(lake) == before
