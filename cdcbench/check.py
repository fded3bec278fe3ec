"""Reference results the benchmark checks the engine against.

``LwwModel`` is a dict keyed by ``(repo, path)`` that applies each epoch's
rename-free events in ``(commit, event_seq)`` order, last writer wins. It
also predicts the row count of ``table_changes`` between two points, because
it knows every touched key's state at both. The CoW workload carries renames
and a DDL column rename, so it is checked against ``oracle.replay`` instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from skipmap_processor_spark.functions.udfs import sha256_py

STATE_COLS = ["repo", "path", "commit", "event_seq", "lang", "content",
              "content_sha"]


class LwwModel:
    def __init__(self, base: pd.DataFrame):
        # key -> (commit, event_seq, deleted, lang, content)
        self._pre: dict[tuple[str, str], tuple | None] = {}
        self.state: dict[tuple[str, str], tuple] = {
            (r, p): (c, 0, False, la, co)
            for r, p, c, la, co in zip(base["repo"], base["path"],
                                       base["commit"], base["lang"],
                                       base["content"])
        }

    def apply(self, ev: pd.DataFrame) -> None:
        """Apply one epoch's events."""
        ev = ev.sort_values(["commit", "event_seq"], kind="stable")
        ev = ev.drop_duplicates(["repo", "path"], keep="last")
        st = self.state
        for repo, path, commit, seq, op, lang, content in zip(
                ev["repo"], ev["path"], ev["commit"], ev["event_seq"],
                ev["op"], ev["lang"], ev["content"]):
            key = (repo, path)
            cur = st.get(key)
            if cur is not None and (commit, seq) <= (cur[0], cur[1]):
                continue  # stale duplicate delivery
            self._pre.setdefault(key, cur)
            st[key] = ((commit, int(seq), True, None, None) if op == "delete"
                       else (commit, int(seq), False, lang, content))

    def take_changes(self) -> int:
        """Rows ``table_changes`` must emit between the previous call and
        now (net per key: insert 1, delete 1, update 2 for the pre- and
        post-image), found by diffing the two snapshots' live rows."""
        n = 0
        for key, pre in self._pre.items():
            was = pre is not None and not pre[2]
            now = not self.state[key][2]
            n += 2 if (was and now) else int(was or now)
        self._pre = {}
        return n

    def live_in_repo(self, repo: str) -> int:
        return sum(1 for (r, _), v in self.state.items()
                   if r == repo and not v[2])

    def frame(self) -> pd.DataFrame:
        rows = [(r, p, c, s, la, co, sha256_py(co))
                for (r, p), (c, s, d, la, co) in self.state.items() if not d]
        return pd.DataFrame(rows, columns=STATE_COLS)


def diff_frames(engine: pd.DataFrame, ref: pd.DataFrame,
                key: tuple = ("repo", "path")) -> list[str]:
    """Row-exact comparison after sorting by key; returns mismatch notes."""
    notes = []
    if sorted(engine.columns) != sorted(ref.columns):
        return [f"columns {sorted(engine.columns)} != {sorted(ref.columns)}"]
    if len(engine) != len(ref):
        notes.append(f"rows {len(engine)} != {len(ref)}")
        return notes
    cols = sorted(ref.columns)
    e = engine[cols].sort_values(list(key), ignore_index=True)
    r = ref[cols].sort_values(list(key), ignore_index=True)
    for c in cols:
        a = e[c].to_numpy(dtype=object)
        b = r[c].to_numpy(dtype=object)
        if pd.api.types.is_integer_dtype(ref[c]) or c == "event_seq":
            a, b = a.astype(np.int64), b.astype(np.int64)
        bad = ~((a == b) | (pd.isna(a) & pd.isna(b)))
        if bad.any():
            notes.append(f"column {c}: {int(bad.sum())} rows differ")
    return notes
