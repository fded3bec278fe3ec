"""Batch preparation: candidate action rows + rename-chain resolution.

Turns one epoch's raw change events into action rows
(``op in {upsert, delete}``) ready for ``LakeTable.merge_batch``, which
owns the last-writer-wins pick per key (``lake.lww_pick``).

Semantics source: the in-batch "last occurrence wins, matching ON CONFLICT DO
UPDATE semantics" dedup of the reference
(/root/reference/src/io/PostGISDataStore.ts:75-85) generalized to the total
order ``(commit, event_seq)``, plus connected-segment merging for rename
chains (reference precedent: endpoint-graph component merge,
/root/reference/src/transforms/normalization/PointGraph.ts:79-131).

Scale design:
- Rename-free keys need no preparation beyond the column mapping: their
  events go to the merge un-deduped, and its single ``(_bucket, _salt)``
  exchange picks each key's winner — the salt spreads a hot bucket over
  several tasks (explicit salting per the north rule, on top of AQE).
- Rename resolution is sequential only over the *rename-affected* key set
  (renames are ~5% of events; FIXTURES.md §2). Each ``applyInPandas`` group
  replays its few events through the same ``oracle.apply_event`` function the
  golden replayer uses, so the two paths cannot diverge. All heavy per-row
  work (normalization, sha256) stays in vectorized pandas/Arrow UDFs and JVM
  expressions; the tiny rename loop is control flow, not row processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skipmap_processor_spark.functions.udfs import (
    content_sha_expr,
    content_sha_via_pandas,
)
from skipmap_processor_spark.lake import (
    KEY_COLS,
    LakeTable,
    bucket_expr,
    lww_pick,
    salt_fanout,
)

# rename-edge count up to which the resolver's graph work runs on the
# driver: ~a few MB of heap, kept small on purpose so a pathological epoch
# (repo-wide `git mv`) can't blow the driver at exactly the moment it needs
# headroom
MAX_EDGES_ON_DRIVER = 50_000

_ACTION_SCHEMA = (
    "repo string, path string, commit string, event_seq bigint, op string, "
    "lang string, content string, extra_cols map<string,string>, "
    "_epoch bigint"
)


def _with_map_extras(events: DataFrame) -> DataFrame:
    """Normalize extra_cols to map<string,string> (all-null batches infer
    VOID, which breaks map functions)."""
    if "extra_cols" in events.columns and not str(
        events.schema["extra_cols"].dataType
    ).startswith("MapType"):
        return events.withColumn(
            "extra_cols", F.col("extra_cols").cast("map<string,string>")
        )
    return events


def probe_aggs() -> list:
    """The probe aggregates both apply paths compute in their one pass over
    the batch (``batch_profile``'s ``agg()``, the MOR fast path's
    ``observe()``): rename count, malformed-row count, and min/max
    ``commit`` width over WELL-FORMED rows — a quarantine-bound row must
    not abort the epoch via a garbage commit id. Read the result with
    ``check_ord``."""
    from skipmap_processor_spark.streaming.quarantine import malformed_cond

    bad = malformed_cond()
    return [
        F.sum((F.col("op") == "rename").cast("long")).alias("n_renames"),
        F.sum(bad.cast("long")).alias("n_malformed"),
        F.min(F.when(~bad, F.length("commit"))).alias("min_cw"),
        F.max(F.when(~bad, F.length("commit"))).alias("max_cw"),
    ]


def check_ord(m) -> None:
    """Raise if the ``probe_aggs`` result ``m`` breaks the ord contract:
    LWW compares ``commit`` lexicographically, which is only a total order
    for fixed-width ids (the binlog's zero-padded gseq prefix). Mixed
    widths would silently pick wrong LWW winners (ADVICE r1)."""
    if m["min_cw"] is not None and m["min_cw"] != m["max_cw"]:
        raise ValueError(
            "ord contract violated: variable-width `commit` ids "
            f"(len {m['min_cw']}..{m['max_cw']}) are not lexicographically "
            "ordered; feed fixed-width monotone commit ids (e.g. "
            "zero-padded sequence prefix)"
        )


def batch_profile(events: DataFrame, num_buckets: int) -> dict:
    """One-pass batch profile: fuses what would otherwise be three separate
    driver jobs per epoch (extra-column discovery, rename detection,
    affected-bucket probe) into a single aggregation, next to the shared
    ``probe_aggs``. Per-epoch serial driver time is the Amdahl term of the
    whole pipeline at scale — every fused job buys scaling efficiency.

    Returns {extra_keys, n_renames, affected_buckets, n_malformed}, plus
    ``epochs`` (the distinct ``epoch`` values) when the batch has that
    column.
    """
    events = _with_map_extras(events)
    has_ep = "epoch" in events.columns
    row = events.agg(
        F.array_distinct(
            F.flatten(F.collect_set(F.map_keys("extra_cols")))
        ).alias("ek"),
        F.collect_set(bucket_expr(num_buckets)).alias("b1"),
        F.collect_set(
            F.when(
                F.col("new_path").isNotNull(),
                F.pmod(
                    F.xxhash64(F.col("repo"), F.col("new_path")),
                    F.lit(num_buckets),
                ),
            )
        ).alias("b2"),
        *probe_aggs(),
        *([F.collect_set("epoch").alias("epochs")] if has_ep else []),
    ).first()
    check_ord(row)
    out = {
        "extra_keys": sorted(row["ek"] or []),
        "n_renames": int(row["n_renames"] or 0),
        "affected_buckets": sorted(set(row["b1"] or []) | set(row["b2"] or [])),
        "n_malformed": int(row["n_malformed"] or 0),
    }
    if has_ep:
        out["epochs"] = sorted(int(e) for e in row["epochs"])
    return out


def _local_frame(spark, columns: dict[str, list],
                 bigint: tuple = ()) -> DataFrame:
    """String columns (``bigint`` names the int64 ones) as a LocalRelation
    (an Arrow createDataFrame under
    ``spark.sql.execution.arrow.localRelationThreshold``). The planner
    knows its size, so joins against it broadcast; and scanning it runs no
    Python worker, unlike createDataFrame(list), whose RDD scan does —
    per task, every time a plan re-reads it."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(
        {k: pa.array(v, pa.int64() if k in bigint else pa.string())
         for k, v in columns.items()}))


def _label_components(edges) -> dict:
    """Driver-side union-find over ``(repo, path, new_path)`` rename edges:
    (repo, path) -> component label (the root's repo and path, NUL-joined)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for repo, a, b in edges:
        for v in ((repo, a), (repo, b)):
            parent.setdefault(v, v)
        ra, rb = find((repo, a)), find((repo, b))
        if ra != rb:
            parent[rb] = ra
    return {v: "\x00".join(find(v)) for v in parent}


def rename_components(renames: DataFrame, max_iters: int = 12) -> DataFrame:
    """Connected components of the in-epoch rename graph: (repo, path) ->
    component label. Iterative min-label propagation over the (small)
    rename edge set — the distributed analog of the reference's endpoint
    graph walk (/root/reference/src/transforms/normalization/PointGraph.ts:79-131).

    Rename chains are short (A->B->C), so this converges in a few rounds;
    grouping the sequential resolver by component instead of by repo bounds
    each applyInPandas group to one chain's keys — a hot repo with one
    rename no longer funnels its whole epoch slice into a single group.
    ``prepare_actions`` runs it only above ``MAX_EDGES_ON_DRIVER`` renames;
    smaller sets take the driver union-find, ``_label_components``.
    """
    edges = renames.select(
        "repo",
        F.col("path").alias("a"),
        F.col("new_path").alias("b"),
    ).distinct()
    verts = (
        edges.select("repo", F.col("a").alias("path"))
        .union(edges.select("repo", F.col("b").alias("path")))
        .distinct()
    )
    labels = verts.withColumn(
        "label", F.concat_ws("\x00", F.col("repo"), F.col("path"))
    )
    both = edges.union(
        edges.select("repo", F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # localCheckpoint: each round used to stack joins on the previous
    # round's plan, so round k re-executed rounds 1..k-1 (quadratic
    # re-compute) and the analysis tree grew without bound. Truncating
    # lineage per round makes each round O(V+E) work on materialized input.
    both = both.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iters):
        # 1-hop neighbor min-label pass
        neigh = (
            both.join(
                labels.select(
                    "repo", F.col("path").alias("b"), F.col("label").alias("nl")
                ),
                ["repo", "b"],
            )
            .groupBy("repo", F.col("a").alias("path"))
            .agg(F.min("nl").alias("nl"))
        )
        updated = labels.join(neigh, ["repo", "path"], "left").select(
            "repo", "path",
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                "label"
            ),
            F.col("label").alias("_round_start"),
        )
        # pointer-jump pass (label(v) <- label(label(v))): labels are vertex
        # keys "repo\x00path", so a self-join dereferences one more hop —
        # together with the neighbor pass the reachable-min distance doubles
        # per round, making an L-hop chain converge in O(log L) rounds
        # instead of L (a 9-hop `git mv` chain: 4 rounds, not 9).
        lrepo = F.split(F.col("label"), "\x00").getItem(0)
        lpath = F.split(F.col("label"), "\x00").getItem(1)
        jump = (
            updated.withColumn("_lr", lrepo).withColumn("_lp", lpath)
            .join(
                updated.select(
                    F.col("repo").alias("_lr"),
                    F.col("path").alias("_lp"),
                    F.col("label").alias("_ll"),
                ),
                ["_lr", "_lp"],
                "left",
            )
            .select(
                "repo", "path",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("new_label"),
                F.col("_round_start"),
            )
        )
        jump = jump.localCheckpoint(eager=True)
        # converged only when NEITHER pass moved any label this round —
        # comparing against the jump-pass input alone would break early on
        # graphs where the neighbor pass still propagated (e.g. a chain
        # whose in-use labels are all local minima)
        n_changed = jump.filter(F.col("new_label") != F.col("_round_start")).count()
        labels = jump.select("repo", "path", F.col("new_label").alias("label"))
        if n_changed == 0:
            break
    return labels.select("repo", "path", "label")


def _resolve_rename_groups(
    ev_aff: DataFrame, name_map: dict, cc: DataFrame, seeds: DataFrame
) -> DataFrame:
    """Sequentially replay events on rename-affected keys, seeded with the
    current table state for those keys (``seeds``, a bucket-pruned
    lookup). Groups are rename-graph connected components (``cc``: repo,
    path, _cc), not repos. ``name_map``: original -> current payload
    column names. Each resolved key's row takes the ``_epoch`` of the last
    event that changed its state."""
    promoted = [
        (orig, cur)
        for orig, cur in name_map.items()
        if orig not in ("lang", "content", "content_sha")
    ]
    extra_entries: list = []
    for orig, cur in promoted:
        extra_entries += [F.lit(orig), F.col(cur)]
    seeds = seeds.select(
        *KEY_COLS,
        "commit",
        F.col("event_seq"),
        F.lit("__seed__").alias("op"),
        F.lit(None).cast("string").alias("new_path"),
        F.col(name_map["lang"]).alias("lang"),
        F.col(name_map["content"]).alias("content"),
        (
            F.map_filter(
                F.create_map(*extra_entries), lambda _, v: v.isNotNull()
            )
            if extra_entries
            else F.lit(None).cast("map<string,string>")
        ).alias("extra_cols"),
        F.col("is_deleted"),
        F.lit(None).cast("bigint").alias("epoch"),
    )
    ev = ev_aff.select(
        *KEY_COLS,
        "commit",
        "event_seq",
        "op",
        "new_path",
        "lang",
        "content",
        "extra_cols",
        F.lit(False).alias("is_deleted"),
        F.col("_epoch").alias("epoch"),
    )
    both = seeds.unionByName(ev).join(F.broadcast(cc), KEY_COLS)

    def resolve(pdf):
        import pandas as pd

        from skipmap_processor_spark.oracle import _State, apply_event

        state: dict = {}
        seeds_pdf = pdf[pdf["op"] == "__seed__"]
        for r in seeds_pdf.itertuples(index=False):
            state[(r.repo, r.path)] = _State(
                commit=r.commit,
                event_seq=int(r.event_seq),
                deleted=bool(r.is_deleted),
                lang=r.lang,
                content=r.content,
                extra=dict(r.extra_cols) if r.extra_cols is not None else {},
            )
        evs = pdf[pdf["op"] != "__seed__"].sort_values(
            ["commit", "event_seq"], kind="stable"
        )
        touched: dict = {}  # changed key -> epoch of its last change
        for r in evs.itertuples(index=False):
            for key in apply_event(
                state,
                op=r.op,
                repo=r.repo,
                path=r.path,
                new_path=r.new_path,
                commit=r.commit,
                event_seq=int(r.event_seq),
                lang=r.lang,
                content=r.content,
                extra=dict(r.extra_cols) if r.extra_cols is not None else {},
            ):
                touched[key] = None if pd.isna(r.epoch) else int(r.epoch)
        rows = []
        for repo, path in sorted(touched):
            st = state[(repo, path)]
            rows.append(
                {
                    "repo": repo,
                    "path": path,
                    "commit": st.commit,
                    "event_seq": st.event_seq,
                    "op": "delete" if st.deleted else "upsert",
                    "lang": st.lang,
                    "content": st.content,
                    "extra_cols": st.extra or None,
                    "_epoch": touched[(repo, path)],
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "repo", "path", "commit", "event_seq", "op",
                "lang", "content", "extra_cols", "_epoch",
            ],
        )

    return both.groupBy("_cc").applyInPandas(resolve, schema=_ACTION_SCHEMA)


def _action_op():
    return (F.when(F.col("op") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert")).alias("op"))


def _payload_cols(lake: LakeTable, mani: dict, sha_impl: str) -> list:
    """The current payload columns, built from an action row's ``lang``,
    ``content`` and ``extra_cols``. ``sha_impl``: 'arrow' = Arrow-vectorized
    pandas_udf normalization + JVM sha2 (the BASELINE.json contract path);
    'jvm' = pure built-in expressions (whole-stage codegen, no Python
    workers). Both are proven byte-identical in tests/test_udfs.py."""
    cur_to_orig = {v: k for k, v in lake.payload_name_map(mani).items()}
    sha = (content_sha_expr if sha_impl == "jvm"
           else content_sha_via_pandas)(F.col("content"))
    out = []
    for cur in lake.payload_columns(mani):
        orig = cur_to_orig.get(cur, cur)
        if orig in ("lang", "content"):
            out.append(F.col(orig).alias(cur))
        elif orig == "content_sha":
            out.append(sha.alias(cur))
        else:
            out.append(F.element_at(F.col("extra_cols"), F.lit(orig)).alias(cur))
    return out


def prepare_actions_fast(
    events: DataFrame, lake: LakeTable, sha_impl: str = "arrow",
    files_per_bucket: int = 1
) -> DataFrame:
    """Single-exchange action preparation for rename-free MOR batches of
    one or more epochs.

    ``lww_pick`` runs first, so normalization + sha follow as per-row
    expressions over the winners only (no further exchange), and the write
    proceeds without re-shuffling. Each row carries its event's ``epoch``
    as ``_epoch``; equal-ord rows of different epochs resolve to the later
    epoch, as ``lake.lww_fold`` does at read time. Returns a DataFrame
    already partitioned by ``_bucket`` — pass ``pre_partitioned=True`` and
    the batch's ``epochs`` to ``merge_batch``.
    """
    mani = lake.manifest()
    nb = int(mani["num_buckets"])
    ev = _with_map_extras(events).select(
        *KEY_COLS, "commit", "event_seq", "op", "lang", "content", "extra_cols",
        F.col("epoch").cast("bigint").alias("_epoch"),
        bucket_expr(nb).alias("_bucket"),
    )
    picked = lww_pick(ev, salt_fanout(events.sparkSession, nb,
                                      files_per_bucket),
                      [F.col("_epoch").desc()])
    return picked.select(
        *KEY_COLS, "commit", "event_seq", _action_op(),
        *_payload_cols(lake, mani, sha_impl), "_epoch", "_bucket",
    )


def prepare_actions(
    events: DataFrame, lake: LakeTable, sha_impl: str = "arrow",
    n_renames: int | None = None
) -> DataFrame:
    """Raw epoch events -> candidate action rows in the lake's current
    column names, with ``content_sha`` computed (see ``_payload_cols``).

    Rename-free keys pass through un-deduped: ``merge_batch`` picks each
    key's LWW winner, and on CoW that pick is the merge itself, so the
    sha UDF sees batch rows only, never target rows. Verbatim duplicate
    deliveries tie in that pick and are identical, so no dropDuplicates
    pass is needed. Keys a rename touches are resolved here, one action
    row each, by the sequential per-component resolver.

    A batch with an ``epoch`` column (a group of epochs) keeps each
    row's epoch as ``_epoch``: a passed-through row its event's, a
    resolved key the epoch of the last event that changed its state.

    ``n_renames``: the batch's rename count (``batch_profile`` has it);
    counted here when not given. Up to ``MAX_EDGES_ON_DRIVER`` renames the
    resolver's inputs come from ONE driver collect of the rename edges:
    component labels, the affected-key set and the seed lookup's prune
    lists all derive from it — no probe, count or limit job, and the
    joins broadcast local relations, not relations computed from the
    events. Larger sets take the distributed path.
    """
    mani = lake.manifest()
    has_ep = "epoch" in events.columns
    ev = _with_map_extras(events).withColumn(
        "_epoch", F.col("epoch").cast("bigint") if has_ep
        else F.lit(None).cast("bigint"))
    renames = ev.filter(F.col("op") == "rename")
    if n_renames is None:
        n_renames = renames.count()
    seq_actions = None
    if n_renames:
        if n_renames <= MAX_EDGES_ON_DRIVER:
            edges = renames.select(
                "repo", "path", "new_path",
                F.xxhash64("repo", "path").alias("h_src"),
                F.xxhash64("repo", "new_path").alias("h_dst"),
            ).collect()
            hashes = {}
            for r in edges:
                hashes[(r["repo"], r["path"])] = r["h_src"]
                hashes[(r["repo"], r["new_path"])] = r["h_dst"]
            labels = _label_components(
                (r["repo"], r["path"], r["new_path"]) for r in edges)
            cc = _local_frame(ev.sparkSession, {
                "repo": [k[0] for k in labels],
                "path": [k[1] for k in labels],
                "_cc": list(labels.values())})
            aff_keys = cc.select(*KEY_COLS)
            n_aff = len(labels)
            seeds = lake.lookup(aff_keys, known=[
                (repo, path, h) for (repo, path), h in hashes.items()])
        else:
            aff_keys = (
                renames.select("repo", "path")
                .union(renames.select("repo", F.col("new_path").alias("path")))
                .distinct()
            )
            n_aff = aff_keys.count()
            cc = rename_components(renames).withColumnRenamed("label", "_cc")
            seeds = lake.lookup(aff_keys)
        # guard: the per-component resolver replays its slice through the
        # sequential oracle (interpreted Python, correctness-critical for
        # interleaved rename chains). A pathological epoch (repo-wide
        # `git mv` of a vendored tree) can balloon that slice — surface it
        # loudly so operators see the degradation instead of a mystery-slow
        # epoch.
        if n_aff > 1_000_000:
            import warnings

            warnings.warn(
                f"rename-affected key slice is {n_aff} keys; the sequential "
                "per-component resolver will dominate this epoch — consider "
                "splitting the rename burst across epochs",
                RuntimeWarning,
                stacklevel=2,
            )
        seq_actions = _resolve_rename_groups(
            ev.join(aff_keys, KEY_COLS, "left_semi"),
            lake.payload_name_map(mani), cc, seeds)
        ev = ev.join(aff_keys, KEY_COLS, "left_anti")

    actions = ev.select(*KEY_COLS, "commit", "event_seq", _action_op(),
                        "lang", "content", "extra_cols", "_epoch")
    if seq_actions is not None:
        actions = actions.unionByName(seq_actions)
    return actions.select(*KEY_COLS, "commit", "event_seq", "op",
                          *_payload_cols(lake, mani, sha_impl),
                          *(["_epoch"] if has_ep else []))
