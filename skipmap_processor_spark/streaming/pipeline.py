"""Epoch orchestration: binlog tail -> dedup -> MERGE, batch or streaming.

The unit of work is ``apply_epoch``: a group of epochs' change events
(one epoch is a group of one) are DDL-evolved, rename-resolved, digested
(Arrow UDF + JVM sha2), and MERGEd into the lake — whose single-exchange
LWW pick dedups them — in one commit, with the epoch HWM gate making
redelivery a no-op. A MOR group tries an optimistic fast path first
(``_apply_fast``); everything else takes the general path
(``_apply_general``). ``run_stream`` wraps it in Structured Streaming
``foreachBatch`` with a checkpoint; ``replay_log`` is the batch-mode
replay of a whole log (same function, no streaming overhead). Both — and
``bench/cdc_bench.py`` — drive epochs through one scheduler,
``_apply_epochs``: it first finalizes parked renames whose gap has
closed (``resolve_parked``), then applies each DDL-delimited run of
epochs as one group in both merge modes, or one by one where a group
would not equal that; then compaction and reporting. Epochs apply
sequentially; separate writer handles on one table may still race, and
the CAS commit, the CoW bucket locks and the parked-rename protocol keep
that equal to the sequential order.

Resume model (mirrors the reference's resumable run modes,
/root/reference/run.sh:7-80 and docs/control-flow.md:115-126):
  - streaming checkpoint replays unacknowledged files after a crash;
  - the lake manifest's ``hwm_epoch`` (committed atomically with data)
    makes any replayed epoch idempotent;
  - the per-partition ledger records applied (epoch, bucket, rows) lineage
    (gap-fill ledger precedent:
    /root/reference/snow-cover/src/snow_cover_sqlite_archive.py:125-155).
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.operators.dedup import _local_frame, prepare_actions
from skipmap_processor_spark.sources.events import event_spark_schema, read_ddl


def _apply_ddl(lake: LakeTable, ddl: pd.DataFrame | None,
               group: list[int]) -> list[str]:
    """Apply the DDL of ``group[0]``, the one epoch of it that may hold any."""
    applied = []
    if ddl is None or not len(ddl):
        return applied
    late = sorted(set(ddl["epoch"].astype(int)) & set(group[1:]))
    if late:
        raise ValueError(f"DDL at epochs {late} inside the group {group}; "
                         "a DDL epoch may only start a group")
    for row in ddl[ddl["epoch"] == group[0]].itertuples(index=False):
        if row.change == "rename_column":
            if lake.rename_column(row.col_from, row.col_to):
                applied.append(f"rename_column {row.col_from}->{row.col_to}")
        elif row.change == "add_column":
            if lake.add_column(row.col_to, row.col_type or "string"):
                applied.append(f"add_column {row.col_to}")
    return applied


def _collect_renames(events: DataFrame) -> list:
    """Driver-side rows of this batch's rename events (5 narrow columns),
    collected ONLY above an open epoch gap, to park them (tests
    monkeypatch this to prove in-order batches never reach it)."""
    return (events.filter(F.col("op") == "rename")
            .select("repo", "path", "new_path", "commit", "event_seq")
            .collect())


def _parked_key(r: dict) -> tuple:
    """Identity of a parked-rename entry (a manifest dict)."""
    return (r["repo"], r["path"], r["new_path"], r["commit"],
            int(r["event_seq"]), int(r["epoch"]))


def _parked_frame(spark: SparkSession, parked: list[dict],
                  schema: StructType) -> DataFrame:
    """Parked-rename entries as ``op='rename'`` event rows in ``schema``'s
    columns (the rest null): an Arrow LocalRelation (``_local_frame``), so
    no Python worker scans it."""
    cols = {k: [r[k] for r in parked]
            for k in ("repo", "path", "new_path", "commit")}
    cols["event_seq"] = [int(r["event_seq"]) for r in parked]
    df = _local_frame(spark, cols, bigint=("event_seq",)).withColumn(
        "op", F.lit("rename"))
    return df.select(*(
        F.col(f.name) if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ))


def bootstrap_base(lake: LakeTable, base: DataFrame) -> dict:
    """Load the initial snapshot (base table) into an empty lake table.

    Runs as an epoch-less merge: the HWM stays -1 so epoch 0 still applies.
    A duplicate-keyed base still yields one row per key: the merge keeps
    the max-``commit`` row, and equal-ord duplicates resolve by payload.
    """
    from skipmap_processor_spark.functions.udfs import content_sha_via_pandas

    actions = base.select(
        "repo",
        "path",
        "commit",
        F.lit(0).cast("bigint").alias("event_seq"),
        F.lit("upsert").alias("op"),
        "lang",
        "content",
        content_sha_via_pandas(F.col("content")).alias("content_sha"),
    )
    return lake.merge_batch(actions, epoch=None)


def _group_of(epoch: int, epochs: list[int] | None) -> list[int]:
    group = [int(e) for e in epochs] if epochs else [int(epoch)]
    if group[-1] != int(epoch) or group != sorted(set(group)):
        raise ValueError(f"epochs={epochs!r} must ascend to epoch={epoch}")
    return group


def _open_below(mani: dict, top: int, group: list[int]) -> bool:
    """True iff some epoch below ``top`` is neither applied in ``mani`` nor
    in ``group`` (the feed promises nothing below its ``epoch_base``)."""
    p = mani["properties"]
    lo = max(int(p["hwm_epoch"]) + 1, int(p.get("epoch_base", 0)))
    for s, e in LakeTable._missing_intervals_of(p) + [[lo, top - 1]]:
        e = min(e, top - 1)
        if e >= s and e - s + 1 > sum(s <= g <= e for g in group):
            return True
    return False


def apply_epoch(
    lake: LakeTable,
    events: DataFrame,
    epoch: int,
    ddl: pd.DataFrame | None = None,
    sha_impl: str = "arrow",
    on_malformed: str = "error",
    epochs: list[int] | None = None,
) -> dict:
    """Apply one epoch exactly once. Safe to call again for any applied epoch.

    The gate tells "already applied" from "older than the newest applied":
    a late-landing epoch below the HWM is APPLIED (the ord-gated LWW merge
    is order-independent); a replay of an applied epoch is a no-op.

    ``on_malformed``: policy for rows violating the event contract (see
    streaming/quarantine.py). ``"error"`` fails the epoch before any data
    is staged; ``"quarantine"`` diverts them to
    ``<table>/_quarantine/epoch=N/`` and applies the clean remainder.
    Detection rides the one-pass batch aggregates.

    ``epochs`` (ascending, ending in ``epoch``; ``events`` keeps its
    ``epoch`` column) applies a GROUP of epochs in one commit that marks
    every epoch of the group applied; rows keep their own epoch. Only the
    group's first epoch may carry DDL. A single epoch is a group of one.
    On a MOR lake the group first tries the fast path (``_apply_fast``),
    then the general path (``_apply_general``); a CoW lake takes the
    general path. A group of several that cannot apply as one commits
    nothing and returns ``aborted``; the caller then applies its epochs
    one by one (``_apply_epochs``)."""
    if on_malformed not in ("error", "quarantine"):
        raise ValueError(f"on_malformed={on_malformed!r}")
    t0 = time.monotonic()
    group = _group_of(epoch, epochs)
    mani = lake.manifest()
    if len(group) == 1 and LakeTable._epoch_applied(mani, epoch):
        return LakeTable._skipped(mani, epoch)
    ddl_applied = _apply_ddl(lake, ddl, group)
    stats = _apply_fast(lake, events, group, sha_impl) or _apply_general(
        lake, events, epoch, None, sha_impl, on_malformed, epochs)
    if not stats.get("skipped") and not stats.get("aborted"):
        stats.setdefault("auto_promoted", [])
        stats["ddl_applied"] = ddl_applied
    stats["wall_sec"] = time.monotonic() - t0
    return stats


def _apply_fast(lake: LakeTable, events: DataFrame, group: list[int],
                sha_impl: str) -> dict | None:
    """The MOR fast path: one observe-validated write job, rows keeping
    their own epoch, and one commit (it may sit above an epoch gap:
    without renames, LWW upserts and deletes commute). None, nothing
    committed, when the group needs the general path: not MOR, renames
    parked (for one epoch: above it), the observe check failed, or an
    epoch of a group of several became applied before the commit."""
    from pyspark.sql import Observation

    from skipmap_processor_spark.operators.dedup import (
        prepare_actions_fast,
        probe_aggs,
    )

    mani = lake.manifest()
    if mani["properties"].get("merge_mode") != "mor":
        return None
    epoch = group[-1]
    parked = lake.parked_renames(mani)
    if len(group) == 1 and epoch > int(mani["properties"]["hwm_epoch"]):
        parked = []  # only a late epoch re-injects the renames above it
    if any(len(group) > 1 or int(r["epoch"]) > epoch for r in parked):
        return None
    # OPTIMISTIC single-pass fast path: assume the group is rename-free and
    # carries no unseen extra columns (true for every steady-state epoch);
    # validate via observe() metrics computed DURING the one pass, and roll
    # back the uncommitted staging dir if violated.
    if "epoch" not in events.columns:
        events = events.withColumn("epoch", F.lit(epoch).cast("bigint"))
    known = sorted(lake.payload_name_map())
    known_list = ", ".join(f"'{k}'" for k in known) or "''"
    unknown = F.size(F.expr(
        "map_filter(CAST(extra_cols AS MAP<STRING,STRING>), "
        f"(k, v) -> NOT k IN ({known_list}))")) > 0
    obs = Observation()
    ev_obs = events.observe(
        obs,
        *probe_aggs(),
        F.sum(unknown.cast("long")).alias("n_unknown_extras"),
        F.collect_set("epoch").alias("epochs"),
    )
    actions = prepare_actions_fast(ev_obs, lake, sha_impl=sha_impl)

    def valid() -> bool:
        # any violation aborts (the staged files roll back): the general
        # path applies the on_malformed policy and raises the ord contract
        # error; a row whose epoch is outside the group would be stamped
        # and ledgered under the wrong epoch
        m = obs.get
        return (not m["n_renames"] and not m["n_unknown_extras"]
                and not m["n_malformed"] and m["min_cw"] == m["max_cw"]
                and set(m["epochs"]) <= set(group))

    stats = lake.merge_batch(actions, epoch, pre_partitioned=True,
                             pre_commit_check=valid, epochs=group)
    if stats.get("aborted") or (stats["skipped"] and len(group) > 1):
        return None
    if not stats["skipped"]:
        stats["group"] = group
    return stats


def _apply_general(lake: LakeTable, events: DataFrame, epoch: int,
                   ddl: pd.DataFrame | None = None, sha_impl: str = "arrow",
                   on_malformed: str = "error",
                   epochs: list[int] | None = None) -> dict:
    """The general path, ``apply_epoch`` without the fast path: one
    ``batch_profile`` pass (extra keys, rename count, buckets), schema
    promotion, rename resolution and one ``merge_batch``, which picks each
    key's LWW winner. Takes the arguments of ``apply_epoch``.

    A group of several (``epochs``) applies as one only where that equals
    applying its epochs one by one. So it commits nothing and returns
    ``aborted`` when renames are parked, when some epoch below the
    group's last is neither applied nor in the group (renames above a gap
    must park), when an epoch of it is or becomes applied, when
    ``batch_profile`` finds malformed rows (quarantine stays per epoch) or
    rows of an epoch outside the group."""
    from skipmap_processor_spark.operators.dedup import batch_profile
    from skipmap_processor_spark.streaming.quarantine import malformed_cond

    t0 = time.monotonic()
    group = _group_of(epoch, epochs)
    mani = lake.manifest()
    aborted = {"aborted": True, "epoch": epoch, "group": group}
    if len(group) == 1 and LakeTable._epoch_applied(mani, epoch):
        return LakeTable._skipped(mani, epoch)
    if len(group) > 1 and (
            lake.parked_renames(mani) or _open_below(mani, epoch, group)
            or any(LakeTable._epoch_applied(mani, e) for e in group)):
        return {**aborted, "wall_sec": time.monotonic() - t0}
    ddl_applied = _apply_ddl(lake, ddl, group)
    if ddl_applied:
        mani = lake.manifest()
    promoted: list[str] = []

    # ---- out-of-order rename handling (parked renames) ----------------
    # LWW upserts/deletes commute across epochs, renames do NOT: a rename
    # reads its source key's state at its ord, so one applied while an
    # EARLIER epoch is missing may see a source that "does not exist yet"
    # and silently no-op. So every rename applied above a gap is PARKED in
    # the manifest (atomically with the merge commit); a gap-FILLING epoch
    # re-injects the parked renames above it into its sequential resolver,
    # which replays them at their true ord (re-injecting an applied rename
    # is a no-op: the resolver's ord gate sees its own tombstone). An entry
    # is dropped once no gap remains below its epoch. A group of several
    # has neither a gap below nor anything parked (checked above).
    hwm = int(mani["properties"]["hwm_epoch"])
    parked = lake.parked_renames(mani)
    inject = (
        [r for r in parked if int(r["epoch"]) > epoch]
        if (parked and epoch <= hwm)
        else []
    )

    # no persist() of the batch: a parquet re-scan is ~10x cheaper than a
    # multi-GB columnar cache per epoch (6-10s + GC vs 0.6s, 2M rows)
    if len(group) == 1:
        events = events.drop("epoch")  # merge_batch stamps ``epoch``
    elif "epoch" not in events.columns:
        raise ValueError("a group's events need their `epoch` column")
    if inject:
        events = events.unionByName(
            _parked_frame(events.sparkSession, inject, events.schema))
    profile = batch_profile(events, int(mani["num_buckets"]))
    if len(group) > 1 and (profile["n_malformed"]
                           or not set(profile["epochs"]) <= set(group)):
        return {**aborted, "wall_sec": time.monotonic() - t0}
    n_quarantined = 0
    if profile["n_malformed"]:
        from skipmap_processor_spark.streaming.quarantine import (
            quarantine_epoch,
            raise_malformed,
        )

        bad = events.filter(malformed_cond())
        if on_malformed == "error":
            raise_malformed(lake, bad, epoch)  # before anything stages
        n_quarantined = quarantine_epoch(lake, bad, epoch)
        events = events.filter(~malformed_cond())
        # re-profile the CLEAN rows: a malformed row must not promote a
        # junk extra column or force the rename slow path (rare path —
        # only an epoch that actually contains malformed rows pays it)
        profile = batch_profile(events, int(mani["num_buckets"]))
    known_orig = set(lake.payload_name_map())
    for k in profile["extra_keys"]:
        if k not in known_orig:
            lake.add_column(k, "string", src_key=k)
            promoted.append(k)
    park_hook = None
    if profile["n_renames"] or parked:
        # A rename's resolution is final iff every epoch below it was
        # applied in the SNAPSHOT the resolver seeded from (`mani`), with
        # this batch's epochs counting as applied — not in the commit-time
        # state: a racing epoch may commit in between, closing a gap while
        # our resolution was computed WITHOUT its effects.
        def _covered_below(ep: int) -> bool:
            return not _open_below(mani, ep, group)

        # Whether this batch's own renames resolve finally is one
        # row-independent predicate (a group has no gap below its last
        # epoch). In the covered case (every in-order batch, whatever its
        # rename count) none is parked, so none crosses to the driver: a
        # rename storm costs the driver nothing (guide §5). Only an epoch
        # applied ABOVE an open gap collects its renames to park them — a
        # list bounded by the out-of-order window's rename count.
        if _covered_below(int(epoch)):
            fresh: list[dict] = []
        else:
            inj_keys = {_parked_key(r) for r in inject}
            fresh = [
                {"repo": r["repo"], "path": r["path"],
                 "new_path": r["new_path"], "commit": r["commit"],
                 "event_seq": int(r["event_seq"]), "epoch": int(epoch)}
                for r in _collect_renames(events)
            ]
            fresh = [r for r in fresh if _parked_key(r) not in inj_keys]

        resolved_keys = {
            _parked_key(r) for r in fresh + inject
            if _covered_below(int(r["epoch"]))
        }

        def park_hook(mani2: dict) -> None:
            seen: set = set()
            kept: list[dict] = []
            # base on mani2's CURRENT list: another writer handle may
            # have parked entries since our snapshot (the CAS rebase replays
            # this hook on the winner's manifest)
            for r in fresh + lake.parked_renames(mani2):
                key = _parked_key(r)
                if key in seen or key in resolved_keys:
                    continue
                seen.add(key)
                kept.append(r)
            LakeTable._set_parked_renames(mani2, kept)

    actions = prepare_actions(events, lake, sha_impl=sha_impl,
                              n_renames=profile["n_renames"])
    stats = lake.merge_batch(
        actions, epoch, affected_buckets=profile["affected_buckets"],
        post_commit_mutate=park_hook,
        epochs=group if len(group) > 1 else None,
    )
    if len(group) > 1:
        if stats["skipped"]:  # another writer applied one of its epochs
            return {**aborted, "wall_sec": time.monotonic() - t0}
        stats["group"] = group
    stats["ddl_applied"] = ddl_applied
    stats["auto_promoted"] = promoted
    if n_quarantined:
        stats["quarantined"] = n_quarantined
    stats["wall_sec"] = time.monotonic() - t0
    return stats


def resolve_parked(lake: LakeTable, spark: SparkSession) -> dict:
    """Replay parked renames whose gap below has closed, outside any epoch.

    With another writer handle on the table, epoch K+1 may park a rename
    while K is still uncommitted; K's commit then closes the gap with no
    later apply left to re-inject it. ``_apply_epochs`` therefore calls
    this at the start of every trigger. Entries with no gap below replay
    through the same resolver in an epoch-less merge; only those replayed
    HERE are dropped (entries a racing writer frees stay parked for their
    own resolution). With nothing parked it is one manifest read."""
    parked = lake.parked_renames()
    if not parked:
        return {"resolved": 0}
    ivs = lake.missing_intervals()

    def gap_below(ep: int) -> bool:
        return any(s < ep for s, _e in ivs)

    ready = [r for r in parked if not gap_below(int(r["epoch"]))]
    if not ready:
        return {"resolved": 0, "still_parked": len(parked)}
    ready_keys = {_parked_key(r) for r in ready}
    schema = StructType([f for f in event_spark_schema().fields
                         if f.name != "epoch"])
    actions = prepare_actions(_parked_frame(spark, ready, schema), lake,
                              n_renames=len(ready))

    def hook(mani2: dict) -> None:
        kept = [r for r in lake.parked_renames(mani2)
                if _parked_key(r) not in ready_keys]
        LakeTable._set_parked_renames(mani2, kept)

    lake.merge_batch(actions, epoch=None, post_commit_mutate=hook)
    return {"resolved": len(ready), "still_parked": len(parked) - len(ready)}


def _compact(lake: LakeTable) -> dict:
    """Compact to one file per bucket; the result carries its wall time."""
    t0 = time.monotonic()
    out = lake.compact(target_files_per_bucket=1)
    return {**out, "wall_sec": round(time.monotonic() - t0, 3)}


def _apply_run(lake: LakeTable, run: list, rows_of, ddl, sha_impl: str,
               on_malformed: str, compact_every: int,
               renames) -> list[dict] | None:
    """Apply the not-yet-applied epochs of ``run`` as ONE group; one
    stats dict per epoch of ``run`` (see ``_apply_epochs``), or None,
    nothing committed, when they must apply one by one."""
    mani = lake.manifest()
    group = [int(ep) for ep in run
             if not LakeTable._epoch_applied(mani, int(ep))]
    stats = None
    if group:
        # a MOR run tries the fast path (``apply_epoch``) unless the event
        # files' footers show renames; on CoW ``apply_epoch`` is the
        # general path
        mor = mani["properties"].get("merge_mode") == "mor"
        general = not mor or (renames is not None and renames(group))
        if len(group) > 1 and (lake.parked_renames(mani) or (
                general and _open_below(mani, group[-1], group))):
            return None
        apply = _apply_general if mor and general else apply_epoch
        stats = apply(lake, rows_of(group), group[-1], ddl, sha_impl,
                      on_malformed, epochs=group if len(group) > 1 else None)
        if stats.get("aborted"):
            return None
    out = []
    for ep in run:
        if int(ep) not in group:
            out.append(LakeTable._skipped(mani, ep))
        elif stats["skipped"]:
            out.append(stats)  # a group of one, applied by another writer
        else:
            per_bucket = stats.get("per_epoch_bucket_rows", {}).get(
                int(ep), stats["per_bucket_rows"])
            out.append({**{k: v for k, v in stats.items()
                           if k != "per_epoch_bucket_rows"},
                        "epoch": ep,
                        "wall_sec": stats["wall_sec"] / len(group),
                        "per_bucket_rows": per_bucket,
                        "rows_written": sum(per_bucket.values())})
    if group and not stats["skipped"] and any(
            _compact_due(ep, compact_every) for ep in group):
        out[-1]["compact"] = _compact(lake)
    return out


def _compact_due(ep, compact_every: int) -> bool:
    return compact_every > 0 and (int(ep) + 1) % compact_every == 0


def _apply_epochs(lake: LakeTable, epochs: list, rows_of, ddl, sha_impl: str,
                  on_malformed: str, compact_every: int, on_batch,
                  renames=None) -> list[dict]:
    """The one epoch scheduler: applies ``epochs`` (ascending), with
    ``rows_of(eps)`` building the events of the epochs ``eps`` (``epoch``
    column kept); returns one stats dict per epoch, in epoch order.
    ``renames(eps)``, when given, says whether the event files of ``eps``
    hold renames (``run_stream`` reads their footers).

    - FIRST ``resolve_parked``: renames parked above a gap that has since
      closed (another writer handle filled it) are finalized, so the runs
      below can group. A non-zero count rides on the first stats as
      ``parked_resolved``. With nothing parked this is one manifest read.
    - RUNS: ``epochs`` split at DDL epochs (a schema change takes effect
      from its epoch, so a DDL epoch only starts a run). A run's epochs
      not applied yet go through ONE group call in both merge modes
      (``_apply_run``): one profile, one rename resolution, one
      ``merge_batch``, one commit marking them all. A MOR run tries the
      fast path first (``apply_epoch``) unless its files show renames
      (``_apply_general``); a CoW run's ``apply_epoch`` is the general
      path. Epochs applied before report ``skipped``; a group epoch's
      stats carry the shared ``version``, ``group`` and ``wall_sec`` =
      group wall / group size.
    - ONE BY ONE, one ``apply_epoch`` per epoch, nothing of the group
      committed, when renames are still parked, an epoch below the run's
      last is neither applied nor in the group (a fast MOR group may sit
      above such a gap), or the group aborted (malformed rows — quarantine
      stays per epoch — or a racing writer applied one of its epochs).
    - Compaction (``stats["compact"]``): one by one, after each applied
      epoch with ``(ep + 1) % compact_every == 0``; after a group at most
      once (on the last stats), if any applied epoch crossed such a
      boundary.
    - ``on_batch(stats)`` per epoch, in epoch order.
    """
    resolved = resolve_parked(lake, lake.spark)["resolved"]
    starts = (set() if ddl is None or not len(ddl)
              else set(ddl["epoch"].astype(int)))
    runs: list[list] = []
    for ep in epochs:
        if runs and int(ep) not in starts:
            runs[-1].append(ep)
        else:
            runs.append([ep])
    out: list[dict] = []

    def report(stats: dict) -> None:
        if resolved and not out:
            stats["parked_resolved"] = resolved
        out.append(stats)
        if on_batch is not None:
            on_batch(stats)

    for run in runs:
        group = _apply_run(lake, run, rows_of, ddl, sha_impl, on_malformed,
                           compact_every, renames)
        if group is not None:
            for stats in group:
                report(stats)
            continue
        for ep in run:  # one by one
            stats = apply_epoch(lake, rows_of([ep]), int(ep), ddl, sha_impl,
                                on_malformed)
            if not stats.get("skipped") and _compact_due(ep, compact_every):
                stats["compact"] = _compact(lake)
            report(stats)
    return out


def replay_log(
    spark: SparkSession,
    lake: LakeTable,
    events: DataFrame,
    ddl: pd.DataFrame | None = None,
    sha_impl: str = "arrow",
    on_malformed: str = "error",
) -> list[dict]:
    """Batch-mode replay of every epoch of ``events`` through
    ``_apply_epochs``, one stats dict per epoch: parked renames whose gap
    has closed are finalized first, then one group per DDL-delimited
    run."""
    epochs = sorted(
        r["epoch"] for r in events.select("epoch").distinct().collect()
    )
    return _apply_epochs(
        lake, epochs, lambda eps: _epoch_slice(events, eps, epochs),
        ddl, sha_impl, on_malformed, 0, None)


def _epoch_slice(events: DataFrame, eps: list, all_eps: list) -> DataFrame:
    """The rows of ``events`` (epochs ``all_eps``) in epochs ``eps``."""
    if set(eps) == set(all_eps):
        return events
    return events.filter(F.col("epoch").isin([int(e) for e in eps]))


def _holds_renames(paths: list[str]) -> bool:
    """Whether any of these parquet event files holds a non-null
    ``new_path`` (a rename), by their footers' null counts: a driver-side
    read, no Spark job. A file without such statistics counts as
    rename-free; the fast path's own check stays the authority."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    for p in paths:
        md = pq.read_metadata(urlparse(p).path)
        i = md.schema.names.index("new_path")
        if any((st := md.row_group(r).column(i).statistics) is not None
               and st.has_null_count
               and st.null_count < md.row_group(r).num_rows
               for r in range(md.num_row_groups)):
            return True
    return False


def files_from_source_log(checkpoint_dir: str,
                          batch_id: int) -> dict[int, list[str]] | None:
    """Each epoch of a micro-batch with its files, read from the
    checkpoint's FileStreamSource log (one JSON entry per delivered file,
    tagged with its batchId): a driver-side read, no Spark job — the
    foreachBatch DF has no inputFiles and no partition pruning. None if
    the log or the epoch= layout is absent (then scan the column)."""
    import glob
    import json

    d = os.path.join(checkpoint_dir, "sources", "0")
    cands = [os.path.join(d, str(batch_id))]
    # a compacted log folds earlier batch files into <K>.compact
    cands += sorted(
        (p for p in glob.glob(os.path.join(d, "*.compact"))
         if int(os.path.basename(p).split(".")[0]) >= batch_id),
        key=lambda p: int(os.path.basename(p).split(".")[0]),
    )[:1]
    for p in cands:
        if not os.path.exists(p):
            continue
        eps: dict[int, list[str]] = {}
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                if int(e.get("batchId", -1)) != batch_id:
                    continue
                seg = [s for s in e.get("path", "").split("/")
                       if s.startswith("epoch=")]
                if not seg:
                    return None  # layout has no epoch dirs; use the scan
                eps.setdefault(int(seg[-1].split("=", 1)[1]),
                               []).append(e["path"])
        if eps:
            return eps
    return None


def run_stream(
    spark: SparkSession,
    lake: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_batch=None,
    compact_every: int = 0,
    sha_impl: str = "arrow",
    on_malformed: str = "error",
    wire_format: str = "parquet",
):
    """Tail the event directory as a Structured Streaming file source.

    One epoch == one ``epoch=K`` partition dir == one file, so
    ``maxFilesPerTrigger`` bounds epochs per micro-batch. Its default
    (``None``) is no cap, in both merge modes, with or without DDL: a
    trigger's backlog applies as one group per DDL-delimited run. Each
    micro-batch goes through ``_apply_epochs``, which first finalizes the
    parked renames whose gap has closed; ``on_batch`` gets each epoch's
    stats, in epoch order. A group that is part of a micro-batch
    reads only its epochs' files, named by the checkpoint's source log
    (``files_from_source_log``). For parquet events their footers also
    show whether a group holds renames (``_holds_renames``): a MOR group
    with renames skips the fast path's doomed write.

    ``wire_format``: ``"parquet"`` (the internal event schema, default) or
    ``"debezium"`` / ``"maxwell"`` — JSON-lines connector envelopes in the
    same ``epoch=K`` layout, decoded per micro-batch by
    ``sources.envelopes`` (malformed documents become null-key rows for
    ``on_malformed``). The epoch of record is the partition dir.
    """
    if wire_format not in ("parquet", "debezium", "maxwell"):
        raise ValueError(f"unknown wire_format: {wire_format!r}")
    ddl = read_ddl(events_dir)
    cap = ({} if max_files_per_trigger is None
           else {"maxFilesPerTrigger": max_files_per_trigger})

    # Declare the partition column LAST: the file source appends partition
    # values after the data columns, and a stream started over an EMPTY
    # directory cannot detect `epoch` as a partition column, so it keeps
    # the declared order while batches arrive in physical order — epoch
    # first would bind every name to the wrong value (seen: extra_cols
    # read as BIGINT). Epoch-last makes the two orders equal.
    full = event_spark_schema()
    if wire_format == "parquet":
        schema = StructType(
            [f for f in full.fields if f.name != "epoch"]
            + [f for f in full.fields if f.name == "epoch"]
        )
        fmt, decode = "parquet", None
    else:
        from pyspark.sql.types import LongType, StringType, StructField

        from skipmap_processor_spark.sources.envelopes import (
            parse_debezium,
            parse_maxwell,
        )

        # same epoch-last rationale as the parquet branch
        schema = StructType([StructField("value", StringType()),
                             StructField("epoch", LongType())])
        fmt = "text"
        decode = parse_debezium if wire_format == "debezium" else parse_maxwell
    sdf = spark.readStream.format(fmt).schema(schema).options(**cap).load(
        events_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        try:
            files = files_from_source_log(checkpoint_dir, int(batch_id))
        except Exception:
            files = None

        def renames(eps) -> bool:
            try:
                return _holds_renames([p for e in eps for p in files[e]])
            except (OSError, ValueError):  # footer unreadable: no hint
                return False

        if files is None:  # fallback: partition-column scan (one job)
            epochs = sorted(r["epoch"] for r in
                            batch_df.select("epoch").distinct().collect())
        else:
            epochs = sorted(files)

        def rows_of(eps):
            if files is None or set(eps) == set(epochs):
                rows = _epoch_slice(batch_df, eps, epochs)
            else:
                # the foreachBatch DF cannot prune partitions: read only
                # these epochs' files
                rows = (batch_df.sparkSession.read.format(fmt).schema(schema)
                        .option("basePath", events_dir)
                        .load([p for e in eps for p in files[e]]))
            # the partition dir is the epoch of record; the envelope's own
            # lineage field (source.epoch / absent in Maxwell) is advisory
            return rows if decode is None else decode(rows)

        _apply_epochs(lake, epochs, rows_of, ddl, sha_impl, on_malformed,
                      compact_every, on_batch,
                      renames if fmt == "parquet" and files else None)

    writer = (sdf.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
