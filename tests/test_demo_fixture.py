"""The seeded ``game`` raw zone (plans/demo_fixture.py) against FIXTURES.md.

Spark-free: the generated parquet is read back with pyarrow. The
counts pinned here are the ones the pipeline gates assume of the demo
drops (10,000 users, 10,044 after the CDC batch; 182 items after it).
"""

import collections
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from automation_of_building_a_transactional_data_lake_spark.plans import demo_fixture
from automation_of_building_a_transactional_data_lake_spark.spec import GAME_SPECS

TABLES = [s.table_name for s in GAME_SPECS]
PK = {s.table_name: s.primary_key for s in GAME_SPECS}
TS = pa.timestamp("us")
ENVELOPE = [("Op", pa.string()), ("timestamp", TS)]
BUSINESS = {
    "user_data": [
        ("user_id", pa.int64()), ("email", pa.string()), ("dob", pa.date32()),
        ("gender", pa.string()), ("cur_level", pa.int64()),
        ("marketing_agreement", pa.string()), ("first_login", TS),
        ("last_login", TS),
    ],
    "item_data": [
        ("item_id", pa.int64()), ("item_name", pa.string()),
        ("category", pa.string()), ("price", pa.int64()),
    ],
    "play_data": [
        ("play_id", pa.int64()), ("user_id", pa.int64()), ("device", pa.string()),
        ("item_used", pa.string()), ("game_mode", pa.int64()),
        ("time_spent", pa.int64()), ("MultiPoints", pa.int64()),
        ("got_target", pa.int64()),
    ],
    "purchase_data": [
        ("purchase_id", pa.int64()), ("user_id", pa.int64()),
        ("purchased_item", pa.string()), ("category", pa.string()),
        ("num_item_purchased", pa.int64()),
    ],
}


def _read_zone(root):
    """{(zone, table): (file names, table)} read back from disk."""
    out = {}
    for zone in ("initial-load", "cdc-load"):
        for t in TABLES:
            d = os.path.join(root, zone, "game", t)
            names = sorted(os.listdir(d))
            out[(zone, t)] = (names, pq.read_table([os.path.join(d, n) for n in names]))
    return out


@pytest.fixture(scope="module")
def zone(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("demo") / "demo_data")
    assert demo_fixture.materialize(root) == root
    return _read_zone(root)


def test_layout_and_row_counts(zone):
    want = {
        "user_data": 10_000, "item_data": 140,
        "play_data": 30_000, "purchase_data": 30_000,
    }
    for t in TABLES:
        names, init = zone[("initial-load", t)]
        assert names == ["LOAD00000001.parquet"] and init.num_rows == want[t]
        names, cdc = zone[("cdc-load", t)]
        assert len(names) == 1 and names[0].startswith("2023")
        assert names[0].endswith(".parquet") and cdc.num_rows == 100


def test_column_names_and_types(zone):
    for t in TABLES:
        assert zone[("initial-load", t)][1].schema == pa.schema(BUSINESS[t]), t
        assert zone[("cdc-load", t)][1].schema == pa.schema(ENVELOPE + BUSINESS[t]), t
    assert "MultiPoints" in zone[("cdc-load", "play_data")][1].column_names


def _ops(zone, t):
    return collections.Counter(zone[("cdc-load", t)][1].column("Op").to_pylist())


def test_op_mixes(zone):
    assert _ops(zone, "user_data") == {"I": 46, "U": 52, "D": 2}
    assert _ops(zone, "item_data") == {"I": 44, "U": 53, "D": 3}
    assert _ops(zone, "play_data") == {"I": 100}
    assert _ops(zone, "purchase_data") == {"I": 100}


def test_item_batch_has_13_duplicate_keys(zone):
    ids = zone[("cdc-load", "item_data")][1].column("item_id").to_pylist()
    dup = [k for k, n in collections.Counter(ids).items() if n > 1]
    assert len(ids) - len(set(ids)) == 13 and len(dup) == 13


def test_timestamp_distinct_per_key_within_each_batch(zone):
    for t in TABLES:
        cdc = zone[("cdc-load", t)][1]
        pairs = list(zip(cdc.column(PK[t]).to_pylist(), cdc.column("timestamp").to_pylist()))
        assert len(set(pairs)) == len(pairs), t


def test_inserts_continue_ids_and_new_users_start_at_level_1(zone):
    for t, n_init in (("user_data", 10_000), ("item_data", 140),
                      ("play_data", 30_000), ("purchase_data", 30_000)):
        cdc = zone[("cdc-load", t)][1].to_pylist()
        init_keys = set(zone[("initial-load", t)][1].column(PK[t]).to_pylist())
        ins = sorted({r[PK[t]] for r in cdc if r["Op"] == "I"})
        assert ins == list(range(n_init + 1, n_init + len(ins) + 1)), t
        assert all(r[PK[t]] in init_keys for r in cdc if r["Op"] == "D"), t
    users = zone[("cdc-load", "user_data")][1].to_pylist()
    assert {r["cur_level"] for r in users if r["Op"] == "I"} == {1}


def _latest_wins_rows(zone, t):
    """Row count after latest-wins-then-delete (FIXTURES.md oracle)."""
    keys = set(zone[("initial-load", t)][1].column(PK[t]).to_pylist())
    latest = {}
    for r in zone[("cdc-load", t)][1].to_pylist():
        if r[PK[t]] not in latest or r["timestamp"] > latest[r[PK[t]]]["timestamp"]:
            latest[r[PK[t]]] = r
    for k, r in latest.items():
        (keys.discard if r["Op"] == "D" else keys.add)(k)
    return len(keys)


def test_final_state_counts_match_the_demo_drops(zone):
    assert _latest_wins_rows(zone, "user_data") == 10_044
    assert _latest_wins_rows(zone, "item_data") == 182


def test_value_domains(zone):
    users = zone[("initial-load", "user_data")][1].to_pylist()
    assert {r["gender"] for r in users} == {"m", "f"}
    assert {r["marketing_agreement"] for r in users} == {"y", "n"}
    assert all(1 <= r["cur_level"] <= 20 for r in users)
    for r in users + zone[("cdc-load", "user_data")][1].to_pylist():
        local, domain = r["email"].split("@")
        assert len(local) == 20 and local.isalnum()
        assert domain in {f"{d}.com" for d in demo_fixture.EMAIL_DOMAINS}
        assert r["first_login"] <= r["last_login"]
        assert r["last_login"] <= datetime(2023, 8, 30, 21, 4, 4)
    for zone_name in ("initial-load", "cdc-load"):
        for r in zone[(zone_name, "item_data")][1].to_pylist():
            assert r["category"] in demo_fixture.CATEGORIES
            assert r["item_name"].startswith(r["category"] + "_")


def test_two_materialisations_are_identical(zone, tmp_path):
    root = demo_fixture.materialize(str(tmp_path / "again"))
    again = _read_zone(root)
    for key, (names, tbl) in zone.items():
        names2, tbl2 = again[key]
        assert names == names2 and tbl.equals(tbl2), key
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".stage_")]


def test_materialize_keeps_a_complete_copy_already_in_place(tmp_path):
    root = str(tmp_path / "z")
    demo_fixture.materialize(root)
    marker = os.path.join(root, "initial-load", "game", "user_data", "LOAD00000001.parquet")
    before = os.stat(marker).st_ino
    # A process that lost the race renames nothing and leaves no debris.
    demo_fixture.materialize(root)
    assert os.stat(marker).st_ino == before
    assert os.listdir(tmp_path) == ["z"]


def test_demo_root_prefers_the_reference_directory(tmp_path, monkeypatch):
    ref = tmp_path / "reference" / "demo_data"
    for zone_name in ("initial-load", "cdc-load"):
        for t in TABLES:
            (ref / zone_name / "game" / t).mkdir(parents=True)
    monkeypatch.setattr(demo_fixture, "REFERENCE_DEMO_ROOT", str(ref))
    monkeypatch.setattr(demo_fixture, "GENERATED_ROOT", str(tmp_path / "generated"))

    def no_generation(root):
        raise AssertionError("generator ran although the reference data exists")

    monkeypatch.setattr(demo_fixture, "materialize", no_generation)
    assert demo_fixture.demo_root() == str(ref)
    assert not (tmp_path / "generated").exists()


def test_demo_root_generates_once_without_the_reference(tmp_path, monkeypatch):
    monkeypatch.setattr(demo_fixture, "REFERENCE_DEMO_ROOT", str(tmp_path / "absent"))
    monkeypatch.setattr(demo_fixture, "GENERATED_ROOT", str(tmp_path / "generated"))
    calls = []
    real = demo_fixture.materialize

    def counting(root):
        calls.append(root)
        return real(root)

    monkeypatch.setattr(demo_fixture, "materialize", counting)
    assert demo_fixture.demo_root() == str(tmp_path / "generated")
    assert demo_fixture.demo_root() == str(tmp_path / "generated")
    assert calls == [str(tmp_path / "generated")]
