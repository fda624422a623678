"""The reference's demo ``game`` raw zone, real or seeded (FIXTURES.md).

The ``game_*_cdc_e2e`` gates and the pipeline tests replay the
reference's own job — a DMS full load, then one CDC parquet drop —
over the four ``game`` tables. ``demo_root()`` names the raw zone they
read:

- the reference's ``demo_data`` directory whenever it exists, so the
  real demo drops are used wherever they are checked out;
- otherwise a raw zone generated once, deterministically from
  ``SEED``, to the schemas, value domains, row counts and op mixes
  FIXTURES.md states.

Layout (both cases, reference README.md:31-46)::

    <root>/initial-load/game/<table>/LOAD00000001.parquet
    <root>/cdc-load/game/<table>/20230830-210404.parquet

The generated zone is written to a staging directory and renamed into
place in one ``os.replace``, so a reader in any process sees either
no directory or a complete one, and a complete one is never rewritten.

Generated CDC batches (every row carries the full post-image):

- ``user_data``: 46 ``I`` (user_id 10001..10046, level 1), 52 ``U``
  and 2 ``D`` on distinct existing users — 10,044 rows after apply;
- ``item_data``: 44 ``I`` (item_id 141..184), 53 ``U``, 3 ``D``, with
  13 keys appearing twice (insert→update, update→update and
  delete→update pairs, the later row strictly newer) — 182 rows after
  apply;
- ``play_data`` / ``purchase_data``: 100 ``I`` rows each.

Every row of a batch has its own ``timestamp``, so the timestamp is
distinct per key as FIXTURES.md requires of the default generator.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REFERENCE_DEMO_ROOT = "/root/reference/demo_data"
SEED = 42
# Part of the generated directory's name: bump it whenever the
# generated contents change, so a stale copy is never reused.
GENERATOR_VERSION = 1
GENERATED_ROOT = os.path.join(
    tempfile.gettempdir(), f"tdl_game_demo_v{GENERATOR_VERSION}_seed{SEED}"
)

DATABASE = "game"
INITIAL_FILE = "LOAD00000001.parquet"
# Named after the CDC drop's change time, like the reference's drop.
CDC_FILE = "20230830-210404.parquet"

CATEGORIES = ["sword", "shield", "bow", "staff", "etc"]
EMAIL_DOMAINS = ["gmail", "yahoo", "hotmail", "outlook", "icloud"]
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))

_LOGIN_START = np.datetime64("2023-03-01T00:00:00", "s")
_LOGIN_END = np.datetime64("2023-08-30T00:00:00", "s")
# The CDC drop's change window; its last instant is the latest
# last_login FIXTURES.md allows (2023-08-30 21:04:04).
_CDC_START = np.datetime64("2023-08-30T20:00:00", "s")
_CDC_END = np.datetime64("2023-08-30T21:04:04", "s")

_TS = pa.timestamp("us")
USER_SCHEMA = pa.schema([
    ("user_id", pa.int64()),
    ("email", pa.string()),
    ("dob", pa.date32()),
    ("gender", pa.string()),
    ("cur_level", pa.int64()),
    ("marketing_agreement", pa.string()),
    ("first_login", _TS),
    ("last_login", _TS),
])
ITEM_SCHEMA = pa.schema([
    ("item_id", pa.int64()),
    ("item_name", pa.string()),
    ("category", pa.string()),
    ("price", pa.int64()),
])
PLAY_SCHEMA = pa.schema([
    ("play_id", pa.int64()),
    ("user_id", pa.int64()),
    ("device", pa.string()),
    ("item_used", pa.string()),
    ("game_mode", pa.int64()),
    ("time_spent", pa.int64()),
    ("MultiPoints", pa.int64()),
    ("got_target", pa.int64()),
])
PURCHASE_SCHEMA = pa.schema([
    ("purchase_id", pa.int64()),
    ("user_id", pa.int64()),
    ("purchased_item", pa.string()),
    ("category", pa.string()),
    ("num_item_purchased", pa.int64()),
])
ENVELOPE_SCHEMA = pa.schema([("Op", pa.string()), ("timestamp", _TS)])

N_USERS, N_ITEMS, N_PLAYS, N_PURCHASES, N_CDC = 10_000, 140, 30_000, 30_000, 100


def demo_root() -> str:
    """The raw zone the ``game`` gates read: the reference's demo data
    when present, else the seeded FIXTURES.md zone (generated on first
    use, reused after)."""
    if os.path.isdir(REFERENCE_DEMO_ROOT):
        return REFERENCE_DEMO_ROOT
    if not os.path.isdir(GENERATED_ROOT):
        materialize(GENERATED_ROOT)
    return GENERATED_ROOT


def materialize(root: str) -> str:
    """Write the seeded raw zone to ``root`` atomically: stage in a
    sibling directory, then ``os.replace`` it into place. If another
    process renamed its (identical) copy in first, keep that one."""
    parent = os.path.dirname(os.path.abspath(root))
    os.makedirs(parent, exist_ok=True)
    stage = tempfile.mkdtemp(prefix=".stage_" + os.path.basename(root) + "_", dir=parent)
    try:
        for (zone, table), tbl in game_tables().items():
            d = os.path.join(stage, zone, DATABASE, table)
            os.makedirs(d)
            name = INITIAL_FILE if zone == "initial-load" else CDC_FILE
            pq.write_table(tbl, os.path.join(d, name))
        try:
            os.replace(stage, root)
        except OSError:
            if not os.path.isdir(root):
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return root


def game_tables() -> dict[tuple[str, str], pa.Table]:
    """All eight raw-zone tables, keyed ``(zone, table)``; a pure
    function of ``SEED``."""
    rng = np.random.default_rng(SEED)
    users = _initial_users(rng)
    items = _initial_items(rng)
    item_names = np.array(items.column("item_name").to_pylist())
    item_cats = np.array(items.column("category").to_pylist())
    return {
        ("initial-load", "user_data"): users,
        ("initial-load", "item_data"): items,
        ("initial-load", "play_data"): _plays(rng, 1, N_PLAYS, item_names),
        ("initial-load", "purchase_data"): _purchases(
            rng, 1, N_PURCHASES, item_names, item_cats
        ),
        ("cdc-load", "user_data"): _user_cdc(rng, users),
        ("cdc-load", "item_data"): _item_cdc(rng, items),
        ("cdc-load", "play_data"): _envelope(
            rng, _plays(rng, N_PLAYS + 1, N_CDC, item_names), ["I"] * N_CDC
        ),
        ("cdc-load", "purchase_data"): _envelope(
            rng,
            _purchases(rng, N_PURCHASES + 1, N_CDC, item_names, item_cats),
            ["I"] * N_CDC,
        ),
    }


# -- initial-load tables ------------------------------------------------------


def _emails(rng: np.random.Generator, n: int) -> list[str]:
    local = _ALNUM[rng.integers(0, len(_ALNUM), size=(n, 20))]
    domains = rng.choice(EMAIL_DOMAINS, size=n)
    return [f"{''.join(c)}@{d}.com" for c, d in zip(local, domains)]


def _seconds_between(rng: np.random.Generator, lo, hi, n: int) -> np.ndarray:
    span = (hi - lo).astype(np.int64)
    return lo + rng.integers(0, span, size=n, endpoint=True).astype("timedelta64[s]")


def _user_rows(rng: np.random.Generator, ids: np.ndarray) -> dict:
    n = len(ids)
    dob_lo, dob_hi = date(1980, 1, 1).toordinal(), date(2008, 12, 31).toordinal()
    first = _seconds_between(rng, _LOGIN_START, _LOGIN_END, n)
    # last_login uniform in [first_login, end of the initial window].
    frac = rng.random(n)
    last = first + ((_LOGIN_END - first).astype(np.int64) * frac).astype("timedelta64[s]")
    return {
        "user_id": ids,
        "email": _emails(rng, n),
        "dob": [
            date.fromordinal(int(o))
            for o in rng.integers(dob_lo, dob_hi, size=n, endpoint=True)
        ],
        "gender": rng.choice(["m", "f"], size=n),
        "cur_level": rng.integers(1, 20, size=n, endpoint=True),
        "marketing_agreement": rng.choice(["y", "n"], size=n),
        "first_login": first,
        "last_login": last,
    }


def _initial_users(rng: np.random.Generator) -> pa.Table:
    rows = _user_rows(rng, np.arange(1, N_USERS + 1, dtype=np.int64))
    return pa.table(rows, schema=USER_SCHEMA)


def _name_items(categories, start_counts: dict[str, int]) -> list[str]:
    counts = dict(start_counts)
    names = []
    for c in categories:
        counts[c] = counts.get(c, 0) + 1
        names.append(f"{c}_{counts[c]}")
    return names


def _initial_items(rng: np.random.Generator) -> pa.Table:
    cats = rng.permutation(np.repeat(CATEGORIES, N_ITEMS // len(CATEGORIES)))
    return pa.table(
        {
            "item_id": np.arange(1, N_ITEMS + 1, dtype=np.int64),
            "item_name": _name_items(cats, {}),
            "category": cats,
            "price": rng.integers(10, 100, size=N_ITEMS, endpoint=True),
        },
        schema=ITEM_SCHEMA,
    )


def _plays(rng, first_id: int, n: int, item_names: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "play_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "user_id": rng.integers(1, N_USERS, size=n, endpoint=True),
            "device": rng.choice(["pc", "mobile"], size=n),
            "item_used": rng.choice(item_names, size=n),
            "game_mode": rng.integers(1, 3, size=n, endpoint=True),
            "time_spent": rng.integers(0, 10_000, size=n, endpoint=True),
            "MultiPoints": rng.integers(0, 10, size=n, endpoint=True),
            "got_target": rng.integers(0, 10, size=n, endpoint=True),
        },
        schema=PLAY_SCHEMA,
    )


def _purchases(rng, first_id: int, n: int, item_names, item_cats) -> pa.Table:
    pick = rng.integers(0, len(item_names), size=n)
    return pa.table(
        {
            "purchase_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "user_id": rng.integers(1, N_USERS, size=n, endpoint=True),
            "purchased_item": item_names[pick],
            "category": item_cats[pick],
            "num_item_purchased": rng.integers(1, 120, size=n, endpoint=True),
        },
        schema=PURCHASE_SCHEMA,
    )


# -- CDC batches --------------------------------------------------------------


def _change_times(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct, ascending change instants inside the CDC window,
    ending exactly at its last second."""
    span = int((_CDC_END - _CDC_START).astype(np.int64))
    offs = np.sort(rng.choice(span, size=n - 1, replace=False))
    return np.append(_CDC_START + offs.astype("timedelta64[s]"), _CDC_END)


def _envelope(rng: np.random.Generator, body: pa.Table, ops: list[str]) -> pa.Table:
    """Wrap post-image rows in the DMS envelope. Rows sharing a key (the
    first column) get ascending change times in their given order; the
    batch is then sorted by change time, as DMS writes it."""
    n = body.num_rows
    rank = rng.permutation(n)
    by_key: dict[int, list[int]] = {}
    for i, k in enumerate(body.column(0).to_pylist()):
        by_key.setdefault(k, []).append(i)
    for rows in by_key.values():
        rank[rows] = np.sort(rank[rows])
    ts = _change_times(rng, n)[rank]
    out = pa.table(
        {"Op": pa.array(ops, pa.string()), "timestamp": pa.array(ts, _TS)},
        schema=ENVELOPE_SCHEMA,
    )
    for name in body.column_names:
        out = out.append_column(body.schema.field(name), body.column(name))
    return out.take(pa.array(np.argsort(ts, kind="stable")))


def _user_cdc(rng: np.random.Generator, users: pa.Table) -> pa.Table:
    n_ins, n_upd, n_del = 46, 52, 2
    new = _user_rows(rng, np.arange(N_USERS + 1, N_USERS + n_ins + 1, dtype=np.int64))
    new["cur_level"] = np.ones(n_ins, dtype=np.int64)  # new users start at 1
    touched = rng.choice(N_USERS, size=n_upd + n_del, replace=False)
    upd = users.take(pa.array(touched[:n_upd])).to_pydict()
    upd["cur_level"] = [
        min(20, lvl + int(b))
        for lvl, b in zip(upd["cur_level"], rng.integers(0, 3, size=n_upd, endpoint=True))
    ]
    upd["marketing_agreement"] = [
        ("n" if m == "y" else "y") if flip else m
        for m, flip in zip(upd["marketing_agreement"], rng.random(n_upd) < 0.2)
    ]
    dele = users.take(pa.array(touched[n_upd:])).to_pydict()
    body = pa.concat_tables([
        pa.table(new, schema=USER_SCHEMA),
        pa.table(upd, schema=USER_SCHEMA),
        pa.table(dele, schema=USER_SCHEMA),
    ])
    ops = ["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del
    out = _envelope(rng, body, ops)
    # An insert is the user's first login and an update a later login:
    # both logins move to the change time. A delete keeps its row.
    ts = out.column("timestamp")
    is_ins = pc.equal(out.column("Op"), "I")
    is_login = pc.not_equal(out.column("Op"), "D")
    out = out.set_column(
        out.schema.get_field_index("first_login"), "first_login",
        pc.if_else(is_ins, ts, out.column("first_login")),
    )
    return out.set_column(
        out.schema.get_field_index("last_login"), "last_login",
        pc.if_else(is_login, ts, out.column("last_login")),
    )


def _item_cdc(rng: np.random.Generator, items: pa.Table) -> pa.Table:
    """44 I / 53 U / 3 D rows over 87 keys (13 keys twice):
    - I on 44 new items, 10 of them updated later in the batch;
    - 2 existing items updated twice; 38 existing items updated once;
    - 1 existing item deleted then re-upserted (it survives);
    - 2 existing items deleted (net deletions)."""
    n_ins, n_ins_then_upd = 44, 10
    init = items.to_pydict()
    # Row positions of existing items: 2 updated twice, 38 updated
    # once, 1 deleted then updated, 2 deleted.
    upd_twice, upd_once, del_then_upd, dels = np.split(
        rng.permutation(N_ITEMS)[:43], [2, 40, 41]
    )

    new_cats = rng.choice(CATEGORIES, size=n_ins)
    base_counts = {c: init["category"].count(c) for c in CATEGORIES}
    new = {
        "item_id": list(range(N_ITEMS + 1, N_ITEMS + n_ins + 1)),
        "item_name": _name_items(new_cats, base_counts),
        "category": list(new_cats),
        "price": [int(p) for p in rng.integers(10, 100, size=n_ins, endpoint=True)],
    }

    def row(src: dict, i) -> dict:
        return {k: v[i] for k, v in src.items()}

    # Listed in change order within each key: insert→update,
    # update→update, delete→update.
    rows = (
        [("I", row(new, i)) for i in range(n_ins)]
        + [("U", row(new, i)) for i in range(n_ins_then_upd)]
        + [("D", row(init, p)) for p in del_then_upd]
        + [("U", row(init, p)) for p in [*upd_twice, *upd_twice, *upd_once, *del_then_upd]]
        + [("D", row(init, p)) for p in dels]
    )
    # Updates are price changes; the post-image keeps name and category.
    for op, r in rows:
        if op == "U":
            r["price"] = int(rng.integers(10, 100, endpoint=True))
    body = pa.Table.from_pylist([r for _op, r in rows], schema=ITEM_SCHEMA)
    return _envelope(rng, body, [op for op, _r in rows])
