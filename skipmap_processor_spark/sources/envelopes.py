"""Standard CDC wire-envelope adapters: Debezium and Maxwell.

A real binlog/WAL tail does not arrive in this engine's internal event
schema — it arrives wrapped in a connector envelope (Debezium's
``{before, after, source, op, ts_ms}`` or Maxwell's
``{database, table, type, ts, xid, data, old}``), one JSON document per
change. These adapters translate both directions so the streaming pipeline
can tail a topic of standard envelopes unchanged, and so ``table_changes``
output can be published to downstream consumers in a format they already
speak.

Everything is pure JVM expression work — ``from_json`` / ``to_json`` /
``when`` chains inside whole-stage codegen; no Python UDFs, no shuffles.
Parsing 10^10 envelopes is a map-only pass.

Semantics notes (the non-obvious mappings):

- Debezium ``op``: ``c``(create) and ``r``(snapshot read) → ``insert``;
  ``u`` → ``update``, EXCEPT a key-change update (``before`` key !=
  ``after`` key) → ``rename`` with ``new_path`` — Debezium represents a
  primary-key UPDATE as an update whose before/after keys differ (or as a
  d+c pair, which needs no special handling here); ``d`` → ``delete``.
- Key fields come from ``after`` except for deletes (``before``); a rename
  keeps the OLD path as its key (matching the internal contract: the
  rename event addresses the pre-rename row, ``new_path`` is the target).
- ``source.seq`` / ``source.epoch`` carry the total order and microbatch
  id. Plain Debezium has no epoch concept — when absent, epoch defaults
  to 0 and the streaming tailer stamps the real epoch per microbatch
  (exactly how ``foreachBatch`` already assigns epochs); the LWW order is
  ``(commit, event_seq)``, so epoch is lineage, not ordering.
- Maxwell: ``type`` insert/update/delete (+ ``bootstrap-insert`` →
  insert); an update whose ``old`` contains ``path`` is a key-change →
  rename. ``xid`` is the transaction id → ``event_seq`` within the commit
  stream; Maxwell has no epoch either.
- Malformed documents (unparseable JSON, missing keys) surface as
  null-key rows — exactly what ``streaming.quarantine.malformed_cond``
  catches, so the dead-letter policy composes with no extra code.

Reference parity: the reference consumes Postgres logical rows and
upserts them with ``ON CONFLICT DO UPDATE``
(/root/reference/src/io/PostGISDataStore.ts:829-850); the envelope
adapters are the Spark-first equivalent of its row-adapter layer
(/root/reference/src/transforms/FeatureBuilder.ts) for the two wire
formats actual binlog tails use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "debezium_doc",
    "debezium_value_schema",
    "maxwell_value_schema",
    "parse_debezium",
    "parse_maxwell",
    "to_debezium",
    "write_envelope_log",
]

# the row image carried in before/after (Debezium) and data/old (Maxwell):
# the lake row plus the dynamic extra-column map of FIXTURES.md §2
_IMAGE_FIELDS = [
    StructField("repo", StringType()),
    StructField("path", StringType()),
    StructField("commit", StringType()),
    StructField("lang", StringType()),
    StructField("content", StringType()),
    StructField("schema_ver", IntegerType()),
    StructField("extra_cols", MapType(StringType(), StringType())),
]


def _image() -> StructType:
    return StructType(_IMAGE_FIELDS)


def debezium_value_schema() -> StructType:
    """Schema of one Debezium change document (the Kafka record value)."""
    return StructType(
        [
            StructField("before", _image()),
            StructField("after", _image()),
            StructField(
                "source",
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField("ts_ms", LongType()),
                        StructField("txId", StringType()),
                        StructField("seq", LongType()),
                        StructField("epoch", LongType()),
                    ]
                ),
            ),
            StructField("op", StringType()),
            StructField("ts_ms", LongType()),
        ]
    )


def maxwell_value_schema() -> StructType:
    """Schema of one Maxwell change document."""
    return StructType(
        [
            StructField("database", StringType()),
            StructField("table", StringType()),
            StructField("type", StringType()),
            StructField("ts", LongType()),  # unix seconds
            StructField("xid", LongType()),
            StructField("data", _image()),
            StructField("old", _image()),
        ]
    )


def _null_image():
    """NULL literal typed as the row image struct (for absent before/after)."""
    return F.lit(None).cast(_image())


def _epoch_passthrough(df: DataFrame) -> list:
    """``df``'s ``epoch`` column (a tailer's ``epoch=K`` partition), if it
    has one, carried through the decode as ``_part_epoch``."""
    return ([F.col("epoch").alias("_part_epoch")]
            if "epoch" in df.columns else [])


def parse_debezium(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Debezium JSON documents → internal event rows.

    ``df[value_col]`` holds one Debezium envelope per row as a JSON string.
    Returns the internal event schema (epoch, event_seq, commit, ts, op,
    repo, path, new_path, lang, content, schema_ver, extra_cols). Unknown
    ops and unparseable documents yield null op / null keys for the
    quarantine layer to divert — they are never silently dropped here.
    An ``epoch`` column of ``df`` (the tailer's ``epoch=K`` partition)
    supplies ``epoch`` instead of ``source.epoch``.
    """
    v = F.from_json(F.col(value_col), debezium_value_schema())
    d = df.select(v.alias("v"), *_epoch_passthrough(df))

    before, after, src = F.col("v.before"), F.col("v.after"), F.col("v.source")
    is_del = F.col("v.op") == "d"
    # key-change update: both images present and the key moved
    is_rename = (
        (F.col("v.op") == "u")
        & before.isNotNull()
        & after.isNotNull()
        & (
            (before["path"] != after["path"])
            | (before["repo"] != after["repo"])
        )
    )
    img = F.when(is_del, before).otherwise(after)

    op = (
        F.when(F.col("v.op").isin("c", "r"), F.lit("insert"))
        .when(is_rename, F.lit("rename"))
        .when(F.col("v.op") == "u", F.lit("update"))
        .when(is_del, F.lit("delete"))
    )
    return d.select(
        (F.col("_part_epoch") if "_part_epoch" in d.columns
         else F.coalesce(src["epoch"], F.lit(0))).alias("epoch"),
        src["seq"].alias("event_seq"),
        F.coalesce(img["commit"], src["txId"]).alias("commit"),
        F.timestamp_millis(
            F.coalesce(F.col("v.ts_ms"), src["ts_ms"])
        ).alias("ts"),
        op.alias("op"),
        F.when(is_rename, before["repo"]).otherwise(img["repo"]).alias("repo"),
        F.when(is_rename, before["path"]).otherwise(img["path"]).alias("path"),
        F.when(is_rename, after["path"]).alias("new_path"),
        F.when(is_rename, F.lit(None).cast("string"))
        .otherwise(img["lang"])
        .alias("lang"),
        F.when(is_rename, F.lit(None).cast("string"))
        .otherwise(img["content"])
        .alias("content"),
        img["schema_ver"].alias("schema_ver"),
        F.when(is_rename, F.lit(None).cast("map<string,string>"))
        .otherwise(img["extra_cols"])
        .alias("extra_cols"),
    )


def parse_maxwell(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Maxwell JSON documents → internal event rows.

    ``type`` insert/bootstrap-insert → insert, delete → delete; update →
    update unless ``old`` moved the key (→ rename). Maxwell has no epoch;
    rows parse with epoch 0, or with ``df``'s ``epoch`` column (the
    tailer's ``epoch=K`` partition) when it has one.
    """
    v = F.from_json(F.col(value_col), maxwell_value_schema())
    d = df.select(v.alias("v"), *_epoch_passthrough(df))

    data, old = F.col("v.data"), F.col("v.old")
    is_rename = (
        (F.col("v.type") == "update")
        & old.isNotNull()
        & (old["path"].isNotNull() | old["repo"].isNotNull())
        & (
            (F.coalesce(old["path"], data["path"]) != data["path"])
            | (F.coalesce(old["repo"], data["repo"]) != data["repo"])
        )
    )
    op = (
        F.when(
            F.col("v.type").isin("insert", "bootstrap-insert"),
            F.lit("insert"),
        )
        .when(is_rename, F.lit("rename"))
        .when(F.col("v.type") == "update", F.lit("update"))
        .when(F.col("v.type") == "delete", F.lit("delete"))
    )
    # Maxwell's "old" holds only CHANGED columns: the pre-image key is
    # old.<k> when present, else data.<k>
    old_repo = F.coalesce(old["repo"], data["repo"])
    old_path = F.coalesce(old["path"], data["path"])
    return d.select(
        (F.col("_part_epoch") if "_part_epoch" in d.columns
         else F.lit(0)).cast("long").alias("epoch"),
        F.col("v.xid").alias("event_seq"),
        data["commit"].alias("commit"),
        F.timestamp_seconds(F.col("v.ts")).alias("ts"),
        op.alias("op"),
        F.when(is_rename, old_repo).otherwise(data["repo"]).alias("repo"),
        F.when(is_rename, old_path).otherwise(data["path"]).alias("path"),
        F.when(is_rename, data["path"]).alias("new_path"),
        F.when(is_rename, F.lit(None).cast("string"))
        .otherwise(data["lang"])
        .alias("lang"),
        F.when(is_rename, F.lit(None).cast("string"))
        .otherwise(data["content"])
        .alias("content"),
        data["schema_ver"].alias("schema_ver"),
        F.when(is_rename, F.lit(None).cast("map<string,string>"))
        .otherwise(data["extra_cols"])
        .alias("extra_cols"),
    )


def debezium_doc(source_name: str = "skipmap"):
    """Column: the Debezium envelope document (pre-``to_json``) built from
    the internal event columns of the enclosing DataFrame."""
    is_ren = F.col("op") == "rename"
    is_del = F.col("op") == "delete"
    is_ins = F.col("op") == "insert"

    def image(repo, path, with_data):
        base = [
            repo.alias("repo"),
            path.alias("path"),
            F.col("commit").alias("commit"),
        ]
        if with_data:
            base += [
                F.col("lang").alias("lang"),
                F.col("content").alias("content"),
                F.col("schema_ver").alias("schema_ver"),
                F.col("extra_cols").alias("extra_cols"),
            ]
        else:
            base += [
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("content"),
                F.col("schema_ver").alias("schema_ver"),
                F.lit(None).cast("map<string,string>").alias("extra_cols"),
            ]
        return F.struct(*base)

    before = (
        F.when(is_ren, image(F.col("repo"), F.col("path"), False))
        .when(is_del, image(F.col("repo"), F.col("path"), False))
        .when(is_ins, F.lit(None).cast(_image()))
        .otherwise(image(F.col("repo"), F.col("path"), False))  # update: key image
    )
    after = (
        F.when(is_ren, image(F.col("repo"), F.col("new_path"), False))
        .when(is_del, F.lit(None).cast(_image()))
        .otherwise(image(F.col("repo"), F.col("path"), True))
    )
    dbz_op = (
        F.when(is_ins, F.lit("c"))
        .when(is_del, F.lit("d"))
        .otherwise(F.lit("u"))
    )
    return F.struct(
        before.alias("before"),
        after.alias("after"),
        F.struct(
            F.lit(source_name).alias("name"),
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.col("commit").alias("txId"),
            F.col("event_seq").alias("seq"),
            F.col("epoch").alias("epoch"),
        ).alias("source"),
        dbz_op.alias("op"),
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )


def to_debezium(events: DataFrame, source_name: str = "skipmap") -> DataFrame:
    """Internal event rows → one Debezium JSON document per row
    (column ``value``), the inverse of :func:`parse_debezium`.

    insert → ``c``; update → ``u`` (before = key-only image); delete →
    ``d`` (before = key image, after absent); rename → key-change ``u``
    (before = old key, after = new key; lang/content absent on both sides,
    matching the internal contract that a rename carries no row data).
    ``parse_debezium(to_debezium(e))`` is row-identical to ``e`` —
    proven in tests/test_envelopes.py. (``upsert``, the bulk generator's
    insert/update alias, serializes as ``u`` and parses back as
    ``update`` — semantically identical under the merge.)
    """
    return events.select(F.to_json(debezium_doc(source_name)).alias("value"))


def write_envelope_log(events: DataFrame, out_dir: str,
                       source_name: str = "skipmap") -> None:
    """Write an internal event log as ``epoch=K`` dirs of JSON-lines
    Debezium documents — the wire-format twin of the parquet event log,
    tailed by ``run_stream(wire_format="debezium")``. One distributed
    write, partitioned by epoch (Maxwell has no writer: its envelope
    carries no lineage fields, so a Maxwell log cannot round-trip)."""
    (
        events.select(
            F.to_json(debezium_doc(source_name)).alias("value"),
            F.col("epoch"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("epoch")
        .text(out_dir)
    )
