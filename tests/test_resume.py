"""Structured Streaming: tail -> crash -> resume -> exactly-once redelivery.

Mirrors the reference's resumable run modes
(/root/reference/docs/control-flow.md:115-126, run.sh:7-80): stop after k
epochs, restart from the same checkpoint, assert only the remainder applies
and the final state matches the oracle.
"""

from __future__ import annotations

import os

import pandas as pd

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    base_spark_schema,
    generate_full,
    write_event_log,
)
from skipmap_processor_spark.streaming.pipeline import bootstrap_base, run_stream


def test_stream_crash_resume_and_redelivery(spark, tmp_path):
    base, ev, ddl = generate_full(n_repos=10, n_base_paths=80, n_events=500,
                                  n_epochs=5)
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    epochs = sorted(ev["epoch"].unique())

    lake = LakeTable.create(spark, str(tmp_path / "lake"), num_buckets=8,
                            merge_mode="mor")
    bootstrap_base(lake, spark.createDataFrame(base, schema=base_spark_schema()))

    # phase 1: only the first two epochs exist on disk
    write_event_log(events_dir, ev, ddl, epochs=epochs[:2])
    applied = []
    q = run_stream(spark, lake, events_dir, ckpt,
                   on_batch=lambda s: applied.append(s["epoch"]))
    q.awaitTermination()
    assert applied == epochs[:2]
    assert lake.hwm_epoch == epochs[1]

    # "crash"; remaining epochs arrive; resume from the same checkpoint
    write_event_log(events_dir, ev, ddl, epochs=epochs[2:])
    applied2 = []
    q = run_stream(spark, lake, events_dir, ckpt,
                   on_batch=lambda s: applied2.append(s["epoch"]))
    q.awaitTermination()
    assert applied2 == epochs[2:]

    engine = (
        lake.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    oracle = replay(base, ev, ddl)
    cols = sorted(oracle.columns)
    pd.testing.assert_frame_equal(
        engine[cols].astype({"event_seq": "int64"}),
        oracle[cols].astype({"event_seq": "int64"}),
        check_dtype=False,
    )

    # full redelivery with a FRESH checkpoint: HWM gate skips every epoch
    skipped = []
    q = run_stream(spark, lake, events_dir, str(tmp_path / "ckpt2"),
                   on_batch=lambda s: skipped.append(s.get("skipped", False)))
    q.awaitTermination()
    assert skipped and all(skipped)


def test_epochs_from_source_log_parses_plain_and_compact(tmp_path):
    """The no-job epoch derivation reads the FileStreamSource checkpoint
    log directly: plain batch files, compacted logs, foreign layouts."""
    import json

    from skipmap_processor_spark.streaming.pipeline import (
        files_from_source_log,
    )

    d = tmp_path / "ckpt" / "sources" / "0"
    d.mkdir(parents=True)

    def entry(path, batch):
        return json.dumps({"path": path, "timestamp": 1, "batchId": batch})

    (d / "0").write_text(
        "v1\n" + entry("file:///ev/epoch=0/part-0.parquet", 0) + "\n")
    (d / "1").write_text(
        "v1\n" + entry("file:///ev/epoch=1/part-0.parquet", 1) + "\n"
        + entry("file:///ev/epoch=2/part-0.parquet", 1) + "\n")
    assert sorted(files_from_source_log(str(tmp_path / "ckpt"), 0)) == [0]
    assert sorted(files_from_source_log(str(tmp_path / "ckpt"), 1)) == [1, 2]

    # compacted log: batch 2's entries live in 3.compact alongside older ones
    (d / "3.compact").write_text(
        "v1\n" + entry("file:///ev/epoch=0/part-0.parquet", 0) + "\n"
        + entry("file:///ev/epoch=3/part-0.parquet", 2) + "\n"
        + entry("file:///ev/epoch=4/part-0.parquet", 3) + "\n")
    assert sorted(files_from_source_log(str(tmp_path / "ckpt"), 2)) == [3]
    assert sorted(files_from_source_log(str(tmp_path / "ckpt"), 3)) == [4]

    # unknown batch -> None (fallback scan)
    assert files_from_source_log(str(tmp_path / "ckpt"), 9) is None
    # layout without epoch= dirs -> None
    (d / "5").write_text("v1\n" + entry("file:///ev/part-9.parquet", 5) + "\n")
    assert files_from_source_log(str(tmp_path / "ckpt"), 5) is None
