"""Seeded CDC drop generator for the benchmark.

Every input is a pure function of ``(profile, seed)``: the base table is
an ``orders``-shaped table (the TPC-H ``orders`` columns at sf0.1 row
count), and each drop is one DMS-style change batch over it — the
``Op``/``timestamp`` envelope followed by the full post-image of the
row. A batch mixes inserts (fresh keys), updates and deletes (live
keys), and carries in-batch duplicate keys:

- *tie* duplicates share the original's timestamp and differ in ``Op``,
  so the engine's op-rank tie-break (I < U < D) decides the winner;
- *later* duplicates carry a later timestamp and win outright.

Two rows of one key never share both ``timestamp`` and ``Op``, so the
latest-wins outcome is fully determined by the data.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY = "o_orderkey"
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DAY_US = 86_400_000_000
_DATE0_US = 788_918_400_000_000  # 1995-01-01 00:00 UTC
_DATE_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_T0_US = 1_693_526_400_000_000  # 2023-09-01 00:00 UTC, first drop's hour
_HOUR_US = 3_600_000_000

SCHEMA = pa.schema(
    [
        ("Op", pa.string()),
        ("timestamp", pa.timestamp("us")),
        (KEY, pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
BASE_SCHEMA = pa.schema(list(SCHEMA)[2:])


@dataclass(frozen=True)
class Profile:
    """Shape of one workload's drop stream."""

    name: str
    why: str
    base_rows: int
    batch_rows: int
    insert_share: float  # of a batch's primary (non-duplicate) rows
    delete_share: float  # updates take the rest
    dup_share: float  # of all batch rows: extra rows for an existing batch key
    hot_share: float | None  # P(update/delete key from newest quarter); None = uniform

    @property
    def op_mix(self) -> dict[str, float]:
        u = 1.0 - self.insert_share - self.delete_share
        return {"I": self.insert_share, "U": round(u, 6), "D": self.delete_share}


PROFILES = {
    "cdc_managed": Profile(
        name="cdc_managed",
        why=(
            "large OLTP-shaped batches skewed to the newest keys into the managed "
            "copy-on-write and merge-on-read tables: write vs read amplification"
        ),
        # sf0.1 ``orders``; a batch of 4% of it, the "few %" of an hourly drop.
        base_rows=150_000,
        batch_rows=6_000,
        # Op mix of the demo's ``user_data`` drops (I=46 / U=52 / D=2) and
        # the in-batch duplicates of its ``item_data`` drops (13 per 100
        # rows), both from FIXTURES.md.
        insert_share=0.46,
        delete_share=0.02,
        dup_share=0.13,
        # Unsourced choice: the skew's direction (recent orders change most)
        # is the OLTP shape; its size, 80% of changed keys from the newest
        # quarter, is not measured anywhere.
        hot_share=0.8,
    ),
    "cdc_foreign": Profile(
        name="cdc_foreign",
        why=(
            "the reference's own job: demo-sized uniform batches merged into real "
            "Delta (deletion vectors), Iceberg v2 and Hudi merge-on-read tables"
        ),
        base_rows=10_000,  # the reference demo's user_data table
        batch_rows=200,
        # The same FIXTURES.md demo mix and duplicate share as above.
        insert_share=0.46,
        delete_share=0.02,
        dup_share=0.13,
        hot_share=None,
    ),
}


def scaled(profile: Profile, scale: float) -> Profile:
    """``profile`` with base table and drops shrunk by ``scale``."""
    if scale == 1.0:
        return profile
    return replace(
        profile,
        base_rows=max(100, int(profile.base_rows * scale)),
        batch_rows=max(20, int(profile.batch_rows * scale)),
    )


class DropStream:
    """Deterministic base table + endless sequence of CDC drops."""

    def __init__(self, profile: Profile, seed: int) -> None:
        self.profile = profile
        self.rng = np.random.default_rng([seed, sum(map(ord, profile.name))])
        n = profile.base_rows
        self.next_key = n
        cap = n + 4 * profile.batch_rows + 1024
        self.alive = np.zeros(cap, dtype=bool)
        self.alive[:n] = True
        self.cust = np.zeros(cap, dtype=np.int64)
        self.status = np.zeros(cap, dtype=np.int64)
        self.price = np.zeros(cap, dtype=np.float64)
        self.date = np.zeros(cap, dtype=np.int64)
        self.prio = np.zeros(cap, dtype=np.int64)
        self._fill(np.arange(n), newest=False)
        self.batches = 0
        self.keys_seen = self.keys_hot = 0  # distinct keys per batch
        self.live_seen = self.live_hot = 0  # existing (updated or deleted) keys
        self.rows = {"I": 0, "U": 0, "D": 0}
        self.dup_rows = 0
        self.tie_rows = 0
        self.total_rows = 0

    # -- state -------------------------------------------------------------

    def _grow(self, need: int) -> None:
        if need <= len(self.alive):
            return
        size = max(need, 2 * len(self.alive))
        for name in ("alive", "cust", "status", "price", "date", "prio"):
            a = getattr(self, name)
            b = np.zeros(size, dtype=a.dtype)
            b[: len(a)] = a
            setattr(self, name, b)

    def _fill(self, keys: np.ndarray, newest: bool) -> None:
        r, k = self.rng, len(keys)
        self.cust[keys] = r.integers(0, 15_000, k)
        self.status[keys] = r.integers(0, 3, k)
        self.price[keys] = np.round(r.uniform(1000.0, 500_000.0, k), 2)
        days = (
            np.full(k, _DATE_DAYS + self.batches // 24)
            if newest
            else r.integers(0, _DATE_DAYS, k)
        )
        self.date[keys] = _DATE0_US + days * _DAY_US
        self.prio[keys] = r.integers(0, 5, k)

    def _rows(self, keys: np.ndarray) -> dict[str, np.ndarray]:
        return {
            KEY: keys.astype(np.int64),
            "o_custkey": self.cust[keys].copy(),
            "o_orderstatus": STATUSES[self.status[keys]],
            "o_totalprice": self.price[keys].copy(),
            "o_orderdate": self.date[keys].copy(),
            "o_orderpriority": PRIORITIES[self.prio[keys]],
        }

    def base(self) -> pa.Table:
        keys = np.arange(self.next_key)
        cols = self._rows(keys)
        return pa.table(
            {
                **cols,
                "o_orderdate": pa.array(cols["o_orderdate"], pa.timestamp("us")),
            },
            schema=BASE_SCHEMA,
        )

    def _pick_live(self, n: int) -> np.ndarray:
        live = np.flatnonzero(self.alive[: self.next_key])
        if self.profile.hot_share is None:
            return self.rng.choice(live, size=n, replace=False)
        hot = live[live >= int(0.75 * self.next_key)]
        n_hot = min(len(hot), int(self.rng.binomial(n, self.profile.hot_share)))
        chosen = self.rng.choice(hot, size=n_hot, replace=False)
        rest = np.setdiff1d(live, chosen, assume_unique=True)
        return np.concatenate([chosen, self.rng.choice(rest, size=n - n_hot, replace=False)])

    # -- drops -------------------------------------------------------------

    def next_batch(self) -> pa.Table:
        """The next drop. Advances the stream's notion of the source table."""
        p, r = self.profile, self.rng
        n_dup = int(round(p.batch_rows * p.dup_share))
        n_primary = p.batch_rows - n_dup
        # At least one insert and one delete per batch, also in the small
        # warm-up drops: a warm-up without deletes leaves the delete path
        # cold, and its cost then lands in the first measured drop.
        n_ins = max(1, int(round(n_primary * p.insert_share)))
        n_del = max(1, int(round(n_primary * p.delete_share)))
        n_upd = n_primary - n_ins - n_del
        hour = _T0_US + self.batches * _HOUR_US
        quarter = int(0.75 * self.next_key)

        live = r.permutation(self._pick_live(n_upd + n_del))
        upd, dele = live[:n_upd], live[n_upd:]
        self._grow(self.next_key + n_ins + 1)
        ins = np.arange(self.next_key, self.next_key + n_ins)
        self.next_key += n_ins
        keys = np.concatenate([ins, upd, dele])
        ops = np.array(["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del)
        ts = hour + r.integers(0, 3_000, len(keys)) * 1_000_000

        parts = []
        # Inserts and updates carry the new post-image; deletes the last one.
        self.alive[ins] = True
        self._fill(ins, newest=True)
        self.status[upd] = r.integers(0, 3, n_upd)
        self.price[upd] = np.round(r.uniform(1000.0, 500_000.0, n_upd), 2)
        parts.append((ops, ts, self._rows(keys)))

        # Duplicates of distinct primary rows: half share the timestamp
        # (op-rank decides), half land later and win outright. A later
        # duplicate never follows a delete, so it cannot resurrect a key.
        src = r.choice(len(keys), size=n_dup, replace=False)
        tie, later = src[: n_dup // 2], src[n_dup // 2 :]
        tie = np.concatenate([tie, later[ops[later] == "D"]])
        later = later[ops[later] != "D"]

        # Ties: I+U -> U wins with a new image; U+D -> D wins; U+I -> U
        # wins over a stale I image; D+U -> D wins over a stale U image.
        tie_keys, tie_src = keys[tie], ops[tie]
        coin = r.random(len(tie)) < 0.5
        tie_ops = np.where(tie_src == "U", np.where(coin, "D", "I"), "U")
        tie_rows = self._rows(tie_keys)
        stale = (tie_ops == "I") | (tie_src == "D")
        tie_rows["o_totalprice"] = np.where(
            stale, np.round(r.uniform(1000.0, 500_000.0, len(tie)), 2), tie_rows["o_totalprice"]
        )
        wins = tie_keys[tie_src == "I"]
        self.status[wins] = r.integers(0, 3, len(wins))
        self.price[wins] = np.round(r.uniform(1000.0, 500_000.0, len(wins)), 2)
        fresh = self._rows(tie_keys)
        for c in tie_rows:
            tie_rows[c] = np.where(tie_src == "I", fresh[c], tie_rows[c])
        parts.append((tie_ops, ts[tie], tie_rows))

        later_keys = keys[later]
        later_ops = np.where(r.random(len(later)) < 0.2, "D", "U")
        lu = later_keys[later_ops == "U"]
        self.status[lu] = r.integers(0, 3, len(lu))
        self.price[lu] = np.round(r.uniform(1000.0, 500_000.0, len(lu)), 2)
        parts.append(
            (later_ops, ts[later] + r.integers(1, 600, len(later)) * 1_000_000,
             self._rows(later_keys))
        )

        # A key is gone iff its winning row is a delete.
        self.alive[dele] = False
        self.alive[tie_keys[tie_ops == "D"]] = False
        self.alive[later_keys[later_ops == "D"]] = False

        op_all = np.concatenate([p_[0] for p_ in parts])
        ts_all = np.concatenate([p_[1] for p_ in parts])
        cols = {c: np.concatenate([p_[2][c] for p_ in parts]) for c in parts[0][2]}
        order = r.permutation(len(op_all))
        table = pa.table(
            {
                "Op": op_all[order],
                "timestamp": pa.array(ts_all[order], pa.timestamp("us")),
                **{c: v[order] for c, v in cols.items()},
                "o_orderdate": pa.array(cols["o_orderdate"][order], pa.timestamp("us")),
            },
            schema=SCHEMA,
        )

        distinct = np.unique(keys)
        self.keys_seen += len(distinct)
        self.keys_hot += int((distinct >= quarter).sum())
        self.live_seen += len(live)
        self.live_hot += int((live >= quarter).sum())
        for op in ("I", "U", "D"):
            self.rows[op] += int((op_all == op).sum())
        self.dup_rows += len(tie) + len(later)
        self.tie_rows += len(tie)
        self.total_rows += len(op_all)
        self.batches += 1
        return table

    def stats(self) -> dict:
        """What the stream produced so far, for the run record."""
        t = max(1, self.total_rows)
        return {
            "why": self.profile.why,
            "batches": self.batches,
            "batch_rows": self.profile.batch_rows,
            "op_mix_target": self.profile.op_mix,
            "op_mix_measured": {k: round(v / t, 4) for k, v in self.rows.items()},
            "dup_share": round(self.dup_rows / t, 4),
            "tie_share": round(self.tie_rows / t, 4),
            # Inserts always land in the newest quarter; the skew a profile
            # sets shows in the updated/deleted keys.
            "newest_quarter_key_share": round(self.keys_hot / max(1, self.keys_seen), 4),
            "newest_quarter_existing_key_share": round(
                self.live_hot / max(1, self.live_seen), 4
            ),
        }


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one drop/base file; returns its size in bytes."""
    pq.write_table(table, path, compression="snappy")
    import os

    return os.path.getsize(path)
