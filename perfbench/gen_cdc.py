"""Seeded change stream over an orders table, with a pandas model.

The stream cycles through a fixed commit mix, so every run of every seed
sees the same proportions; the seed draws the keys and values:

    merge_cow, append, delete_dv, update, merge_dv, compact

Each cycle has a hot key window (a fifth of one base file's key range, away
from its edges). The cycle's merges, delete and update change keys in it,
and the reads read it, as in CDC traffic where a batch of related orders
changes and is read back. That keeps the physical shape of a cycle the
same for every seed (which files are rewritten, carry deletion vectors or
are pruned), so runs are comparable; the seed picks the window and values.
After each commit :class:`CdcModel` holds the
table the engine must return; it keeps the last few versions for
time-travel and change-feed reads.

Timestamps are carried as epoch microseconds in the model and converted
with ``timestamp_micros`` on the way in and ``unix_micros`` on the way out.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pandas as pd

CYCLE = ("merge_cow", "append", "delete_dv", "update", "merge_dv", "compact")
READS = ("range", "point", "time_travel", "changes")
BASE_FILES = 8  # the base table is range-partitioned by key into this many files
KEY = "o_orderkey"
COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass
class Op:
    kind: str
    rows: pd.DataFrame | None = None  # merge source / appended rows
    lo: int = 0  # key window for delete / update
    hi: int = 0

    @property
    def input_bytes(self) -> int:
        """Bytes of user input in the change: its rows as JSON lines, or
        the predicate's parameters."""
        if self.rows is not None:
            return sum(
                len(json.dumps(r, separators=(",", ":")))
                for r in self.rows.to_dict("records")
            ) + len(self.rows)
        return len(json.dumps({"kind": self.kind, "lo": self.lo, "hi": self.hi}))


@dataclass
class Read:
    kind: str
    lo: int = 0
    hi: int = 0
    keys: tuple[int, ...] = ()


def orders_frame(path: str) -> pd.DataFrame:
    """The generated orders parquet as the model's frame (dates in us)."""
    df = pd.read_parquet(path, columns=list(COLUMNS))
    df["o_orderdate"] = df["o_orderdate"].astype("datetime64[us]").astype("int64")
    return df.sort_values(KEY).reset_index(drop=True)


class CdcModel:
    """The table after every commit, and the stream that changes it."""

    KEEP = 3  # versions kept for time travel and change reads

    def __init__(self, base: pd.DataFrame, seed: int, version: int = 0):
        self.rng = np.random.default_rng(seed)
        self.table = base.set_index(KEY, drop=False)
        self.next_key = int(base[KEY].max()) + 1
        self.key_span = self.next_key
        self.version = version
        self.history = {version: self.table}
        self.i = 0
        self.hot = self._hot_window()

    # --- the stream ------------------------------------------------------------

    def _hot_window(self) -> tuple[int, int]:
        span = self.key_span // BASE_FILES
        width = span // 5
        f = int(self.rng.integers(0, BASE_FILES))
        lo = f * span + span // 5 + int(self.rng.integers(0, span * 3 // 5 - width))
        return lo, lo + width

    def _window(self, width: int) -> tuple[int, int]:
        """A ``width``-key window inside the hot window."""
        lo, hi = self.hot
        start = int(self.rng.integers(lo, hi - width))
        return start, start + width

    def _rows(self, keys: np.ndarray) -> pd.DataFrame:
        n = len(keys)
        r = self.rng
        return pd.DataFrame({
            "o_orderkey": keys.astype("int64"),
            "o_custkey": r.integers(1, 7500, n).astype("int64"),
            "o_orderstatus": [STATUSES[i] for i in r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(850, 550_000, n), 2),
            "o_orderdate": (
                788_918_400_000_000 + r.integers(0, 2400, n) * 86_400_000_000
            ).astype("int64"),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)],
        })

    def next_op(self, kind: str | None = None) -> Op:
        """The next op of the cycle, or one of ``kind`` (for warm-up)."""
        if kind is None:
            kind = CYCLE[self.i % len(CYCLE)]
            self.i += 1
        if kind == CYCLE[0]:
            self.hot = self._hot_window()
        if kind in ("merge_cow", "merge_dv"):
            lo, hi = self.hot
            live = self.table.index[(self.table.index >= lo) & (self.table.index < hi)]
            upd = self.rng.choice(live, size=min(150, len(live)), replace=False)
            new = np.arange(self.next_key, self.next_key + 50)
            self.next_key += 50
            return Op(kind, rows=self._rows(np.sort(np.concatenate([upd, new]))))
        if kind == "append":
            new = np.arange(self.next_key, self.next_key + 400)
            self.next_key += 400
            return Op(kind, rows=self._rows(new))
        if kind == "delete_dv":
            lo, hi = self._window(100)
            return Op(kind, lo=lo, hi=hi)
        if kind == "update":
            lo, hi = self._window(300)
            return Op(kind, lo=lo, hi=hi)
        return Op(kind)

    def next_read(self, j: int) -> Read:
        kind = READS[j % len(READS)]
        lo, hi = self.hot
        if kind in ("range", "time_travel"):
            return Read(kind, lo=lo, hi=hi)
        if kind == "point":
            keys = self.rng.integers(lo, hi, 20)
            return Read(kind, keys=tuple(sorted(int(k) for k in keys)))
        return Read(kind)

    # --- the model ---------------------------------------------------------------

    def apply(self, op: Op, version: int | None) -> None:
        """Advance the model past ``op``, committed as ``version`` (None:
        the op committed nothing, as a compaction that was not needed)."""
        t = self.table
        if op.kind in ("merge_cow", "merge_dv", "append"):
            src = op.rows.set_index(KEY, drop=False)
            t = pd.concat([t[~t.index.isin(src.index)], src]).sort_index()
        elif op.kind == "delete_dv":
            t = t[(t.index < op.lo) | (t.index >= op.hi)]
        elif op.kind == "update":
            hit = (t.index >= op.lo) & (t.index < op.hi) & (t["o_orderstatus"] == "O")
            t = t.copy()
            t.loc[hit, "o_orderpriority"] = "1-URGENT"
            t.loc[hit, "o_totalprice"] = t.loc[hit, "o_totalprice"] + 1.0
        if version is None:
            return
        self.table, self.version = t, version
        self.history[version] = t
        for v in sorted(self.history)[: -self.KEEP]:
            del self.history[v]

    def rows(self, version: int | None = None, lo: int | None = None,
             hi: int | None = None, keys: tuple[int, ...] = ()) -> list[tuple]:
        t = self.history[self.version if version is None else version]
        if lo is not None:
            t = t[(t.index >= lo) & (t.index < hi)]
        if keys:
            t = t[t.index.isin(keys)]
        return sorted(t[list(COLUMNS)].itertuples(index=False, name=None))

    def changes(self, v_from: int, v_to: int) -> list[tuple]:
        """(change_type, row...) multiset between two kept versions."""
        a = self.history[v_from][list(COLUMNS)]
        b = self.history[v_to][list(COLUMNS)]
        old = set(a.itertuples(index=False, name=None))
        new = set(b.itertuples(index=False, name=None))
        return sorted(
            [("delete", *r) for r in old - new] + [("insert", *r) for r in new - old]
        )
