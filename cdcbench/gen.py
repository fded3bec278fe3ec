"""Seeded, vectorized change-log generator for the CDC benchmark.

The engine never sees this module's state: the benchmark writes each epoch
with ``sources.events.write_event_log`` (``epoch=K/part-0.parquet`` plus
``_ddl/ddl.parquet``) and hands the engine only that directory.

Epochs are produced strictly in order, one numpy draw per column, so an
epoch of 20k events takes a fraction of a second. Key liveness is a boolean array over
integer key ids, updated from each epoch's last event per key; the
sequential generator in ``sources.events`` instead scans the live set per
event, which is quadratic at benchmark size.

Semantics the generator guarantees (the correctness checks rely on them):

- ``(commit, event_seq)`` is a strict total order over distinct events:
  commit ids are a 16-hex global sequence plus a fixed 24-hex suffix;
- a duplicate delivery is a verbatim copy of an event of the previous epoch,
  so the lake must treat it as a no-op;
- renames only happen in maintenance epochs and always move a key that the
  epoch's upserts and deletes leave live to a never-used key id of its repo.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from skipmap_processor_spark.sources.events import DDL_FIELDS

_T0 = pd.Timestamp("2026-01-01")
_SUFFIX = "0" * 24
N_REPOS = 64
HOT_SHARE = 0.35  # of new events, on repo 0
DELETE_SHARE = 0.10
DUP_SHARE = 0.02  # verbatim redeliveries of the previous epoch's events
RENAME_SHARE = 0.05  # of a maintenance epoch's events

# Content templates: CRLF, lone-CR and trailing blanks make the normalize
# step non-trivial, so the Arrow UDF does real work on every row.
_POOL = np.array(
    [
        ("\r\n" if t % 5 == 0 else "\n").join(
            f"def fn_{j}(x):{' ' * (t % 3)}\n    return x * {j + t}"
            + ("\t" if (j + t) % 7 == 0 else "")
            for j in range(4 + t % 5)
        )
        + ("\r# tail" if t % 11 == 0 else "")
        for t in range(64)
    ],
    dtype=object,
)


class ChangeLog:
    """One workload's event stream, deterministic in ``seed``.

    ``maintenance_every > 0`` makes every such epoch (epoch % N == N - 1) a
    maintenance epoch: ``RENAME_SHARE`` of its events are renames, a quarter
    of them extended into A->B->C chains, and a tenth of its upserts carry a
    never-seen ``extra_cols`` key (schema promotion)."""

    def __init__(self, seed: int, n_keys: int, events_per_epoch: int,
                 maintenance_every: int = 0):
        self.seed = seed
        self.n_keys = n_keys
        self.events_per_epoch = events_per_epoch
        self.maintenance_every = maintenance_every
        rng = np.random.default_rng((seed, 0xC0DE))
        self.repo_names = np.array(
            [f"org{i % 7}/repo{i:03d}" for i in range(N_REPOS)], dtype=object)
        # repo 0 is the hot repo; the rest share the cold keys Zipf-style
        ranks = np.arange(1, N_REPOS, dtype=float)
        p = (1.0 / ranks**1.1) / (1.0 / ranks**1.1).sum()
        cap = n_keys * 2
        self.key_repo = np.zeros(cap, dtype=np.int64)
        self.key_repo[:n_keys] = 1 + rng.choice(N_REPOS - 1, size=n_keys, p=p)
        self.hot_keys = rng.choice(n_keys, size=max(n_keys // 10, 1),
                                   replace=False)
        self.key_repo[self.hot_keys] = 0
        self.cold_keys = np.setdiff1d(np.arange(n_keys), self.hot_keys)
        self.live = np.zeros(cap, dtype=bool)
        self.next_id = n_keys
        self.gseq = 1_000_000
        self.next_epoch = 0
        self.prev: pd.DataFrame | None = None

    # ------------------------------------------------------------ helpers
    def _paths(self, ids: np.ndarray) -> np.ndarray:
        return np.char.add(np.char.add("src/m", ids.astype(str)), ".py").astype(object)

    def _content(self, ids: np.ndarray, gseq: np.ndarray) -> np.ndarray:
        tag = np.char.add("\n# v", gseq.astype(str)).astype(object)
        return _POOL[ids % len(_POOL)] + tag + np.where(gseq % 3 == 0, "  ", "")

    def _commits(self, n: int, rng: np.random.Generator):
        """Commit ids for n events: commits of 1-3 events, event_seq 0..k."""
        sizes = rng.integers(1, 4, size=n)
        owner = np.repeat(np.arange(n), sizes)[:n]
        first = np.searchsorted(owner, owner)
        seq = np.arange(n) - first
        gseq = self.gseq + owner
        self.gseq = int(gseq[-1]) + 1
        commit = np.char.add(
            np.char.zfill(np.char.lower(np.array([f"{g:x}" for g in gseq])), 16),
            _SUFFIX).astype(object)
        return commit, seq.astype(np.int64), gseq

    def _frame(self, epoch: int, ids: np.ndarray, ops: np.ndarray,
               new_ids: np.ndarray | None, rng: np.random.Generator,
               extra: np.ndarray | None = None) -> pd.DataFrame:
        n = len(ids)
        commit, seq, gseq = self._commits(n, rng)
        upsert = np.isin(ops, ("insert", "update"))
        content = np.where(upsert, self._content(ids, gseq), None)
        lang = np.where(upsert, np.where(ids % 4 == 0, "go", "python"), None)
        new_path = (np.where(ops == "rename", self._paths(new_ids), None)
                    if new_ids is not None else np.full(n, None, dtype=object))
        return pd.DataFrame({
            "epoch": np.full(n, epoch, dtype=np.int64),
            "event_seq": seq,
            "commit": commit,
            "ts": _T0 + pd.to_timedelta(gseq - 1_000_000, unit="s"),
            "op": ops.astype(object),
            "repo": self.repo_names[self.key_repo[ids]],
            "path": self._paths(ids),
            "new_path": new_path,
            "lang": lang.astype(object),
            "content": content.astype(object),
            "schema_ver": np.full(n, 1 if extra is None else 2, dtype=np.int32),
            "extra_cols": (extra if extra is not None
                           else np.full(n, None, dtype=object)),
            "_id": ids,
            "_new_id": new_ids if new_ids is not None else np.full(n, -1),
        })

    # ------------------------------------------------------------- public
    def base(self, n_rows: int) -> pd.DataFrame:
        """Initial snapshot: the first ``n_rows`` key ids, all live."""
        ids = np.arange(min(n_rows, self.n_keys))
        self.live[ids] = True
        g = np.arange(len(ids), dtype=np.int64)
        return pd.DataFrame({
            "repo": self.repo_names[self.key_repo[ids]],
            "path": self._paths(ids),
            "commit": np.char.add(
                np.char.zfill(np.array([f"{x:x}" for x in g]), 16),
                _SUFFIX).astype(object),
            "lang": np.where(ids % 4 == 0, "go", "python").astype(object),
            "content": self._content(ids, g),
        })

    def is_maintenance(self, epoch: int) -> bool:
        m = self.maintenance_every
        return m > 0 and epoch % m == m - 1

    def epoch(self) -> pd.DataFrame:
        """The next epoch's events (internal ``_id``/``_new_id`` columns
        included; drop them before writing)."""
        ep = self.next_epoch
        self.next_epoch += 1
        rng = np.random.default_rng((self.seed, ep))
        n = self.events_per_epoch
        maint = self.is_maintenance(ep)
        n_ren = int(n * RENAME_SHARE) if maint else 0
        n_dup = int(n * DUP_SHARE) if self.prev is not None else 0
        n_new = n - n_ren - n_dup

        hot = rng.random(n_new) < HOT_SHARE
        ids = np.where(hot, rng.choice(self.hot_keys, size=n_new),
                       rng.choice(self.cold_keys, size=n_new))
        dele = rng.random(n_new) < DELETE_SHARE
        ops = np.where(dele, "delete",
                       np.where(self.live[ids], "update", "insert"))
        extra = None
        if maint:
            # a key no earlier epoch carried -> the lake promotes a column
            tag = f"tag_e{ep}"
            extra = np.full(n_new, None, dtype=object)
            pick = (~dele) & (rng.random(n_new) < 0.10)
            extra[pick] = [{tag: f"v{v}"} for v in rng.integers(0, 9, pick.sum())]
        fresh = self._frame(ep, ids, ops, None, rng, extra)
        self._advance_liveness(fresh)
        frames = [fresh]

        if n_ren:
            # sources are keys this epoch's upserts and deletes leave live;
            # the renames carry the epoch's highest commits, so they apply
            # after every upsert and delete of the epoch
            live_ids = np.flatnonzero(self.live[: self.next_id])
            n_chain = n_ren // 4
            n_src = n_ren - n_chain
            src = rng.choice(live_ids, size=n_src, replace=False)
            dst = np.arange(self.next_id, self.next_id + n_src)
            self.next_id += n_src
            self.key_repo[dst] = self.key_repo[src]
            # chains: the first n_chain targets move again (B -> C)
            src2 = dst[:n_chain]
            dst2 = np.arange(self.next_id, self.next_id + n_chain)
            self.next_id += n_chain
            self.key_repo[dst2] = self.key_repo[src2]
            r_ids = np.concatenate([src, src2])
            r_new = np.concatenate([dst, dst2])
            frames.append(self._frame(ep, r_ids, np.full(len(r_ids), "rename"),
                                      r_new, rng))
            # a chain's middle key is both a target and a source: dead
            self.live[r_new] = True
            self.live[r_ids] = False
        if n_dup:
            # stale copies: a key's newer state is already applied, so they
            # never change liveness
            dup = self.prev.iloc[rng.choice(len(self.prev), size=n_dup,
                                            replace=False)].copy()
            dup["epoch"] = ep
            frames.append(dup)

        df = pd.concat(frames, ignore_index=True)
        df = df.sort_values(["commit", "event_seq"], kind="stable",
                            ignore_index=True)
        self.prev = df[df["op"] != "rename"]
        return df

    def _advance_liveness(self, fresh: pd.DataFrame) -> None:
        """Apply the net effect of an epoch's upserts and deletes (already
        in commit order) to ``live``: each key's last event decides."""
        last = fresh.drop_duplicates("_id", keep="last")
        self.live[last["_id"].to_numpy()] = last["op"].to_numpy() != "delete"

    @staticmethod
    def ddl_rename(epoch: int) -> pd.DataFrame:
        """One DDL entry: ``lang`` renamed to ``language`` from ``epoch``."""
        return pd.DataFrame(
            [{"epoch": epoch, "change": "rename_column", "col_from": "lang",
              "col_to": "language", "col_type": "string"}],
            columns=[f for f, _ in DDL_FIELDS])
