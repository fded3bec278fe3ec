"""spark-submit entrypoint for the CDC engine.

Cluster usage (the north-rule invocation shape):

    zip -r engine.zip skipmap_processor_spark
    spark-submit --py-files engine.zip skipmap_processor_spark/main.py \\
        --events-dir /data/binlog --lake /lake/repos \\
        --checkpoint /ckpt/repos --mode stream --merge-mode mor \\
        --num-buckets 4096

Local sandbox:

    python -m skipmap_processor_spark.main --events-dir .data/ev \\
        --lake .data/lake --checkpoint .data/ckpt --mode batch
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC binlog -> lake upsert replay")
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--lake", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--mode", choices=["batch", "stream"], default="stream")
    ap.add_argument("--merge-mode", choices=["cow", "mor"], default="mor")
    ap.add_argument("--num-buckets", type=int, default=32)
    ap.add_argument("--sha-impl", choices=["arrow", "jvm"], default="arrow")
    ap.add_argument("--compact-target", type=int, default=0,
                    help="if >0, compact to this many files/bucket at the end")
    ap.add_argument("--master", default=None)
    ap.add_argument("--base-snapshot", default=None,
                    help="parquet dir of the initial repos snapshot")
    args = ap.parse_args(argv)

    from skipmap_processor_spark.lake import LakeTable
    from skipmap_processor_spark.session import get_spark
    from skipmap_processor_spark.sources.events import read_ddl
    from skipmap_processor_spark.streaming.pipeline import (
        bootstrap_base,
        replay_log,
        run_stream,
    )

    spark = get_spark(master=args.master, app_name="skipmap-cdc")

    if LakeTable.exists(args.lake):
        lake = LakeTable.load(spark, args.lake)
    else:
        lake = LakeTable.create(
            spark, args.lake, num_buckets=args.num_buckets,
            merge_mode=args.merge_mode,
        )
        if args.base_snapshot:
            bootstrap_base(lake, spark.read.parquet(args.base_snapshot))

    if args.mode == "stream":
        if not args.checkpoint:
            ap.error("--checkpoint required in stream mode")
        q = run_stream(
            spark, lake, args.events_dir, args.checkpoint,
            on_batch=lambda s: print(json.dumps(s), flush=True),
            sha_impl=args.sha_impl,
        )
        q.awaitTermination()
    else:
        stats = replay_log(
            spark, lake, spark.read.parquet(args.events_dir),
            read_ddl(args.events_dir), sha_impl=args.sha_impl,
        )
        for s in stats:
            print(json.dumps(s), flush=True)

    if args.compact_target > 0:
        print(json.dumps(lake.compact(args.compact_target)), flush=True)
    print(json.dumps({"final_rows": lake.read().count(),
                      "hwm_epoch": lake.hwm_epoch}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
