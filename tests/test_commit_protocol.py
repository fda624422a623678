"""Crash points of the one commit primitive, ``formats/atomic.py``.

Every commit of the engine becomes visible through
``atomic.create_file`` or ``atomic.replace_file``: a Delta log entry, an
Iceberg ``v<N>.metadata.json`` and its ``version-hint.text``, a Hudi
completed instant, a managed table's ``_LATEST`` pointer. Each test here
makes commits die at a step of that primitive and checks that

- readers see exactly the old version or the new one;
- no file under a final name holds partial content;
- the next commit succeeds;
- the staged temp files left behind match no log, metadata or timeline
  pattern.

The Delta cases cover an append, a merge, the compaction that purges
deletion vectors and a predicate delete. The Iceberg cases cover an
append, a merge-on-read merge that adds a position-delete manifest, and
the compaction that retires it. The
resolver tests at the end cover a hint left stale or empty by a writer
that died between the metadata file and the hint.
"""

import json
import os
import re

import pytest

from automation_of_building_a_transactional_data_lake_spark.formats import atomic
from automation_of_building_a_transactional_data_lake_spark.formats.interop import (
    _iceberg_current_metadata,
    alter_iceberg_table,
    compact_delta,
    compact_iceberg,
    delete_delta_where,
    merge_delta,
    merge_iceberg,
    read_delta,
    read_hudi,
    read_iceberg,
    write_delta,
    write_hudi,
    write_iceberg,
)
from automation_of_building_a_transactional_data_lake_spark.formats.parquet_cow import (
    ParquetCowTable,
)
from automation_of_building_a_transactional_data_lake_spark.spec import TableSpec

SCHEMA = "id long, val string"

# Names readers resolve: Delta log entries and checkpoint hint, Iceberg
# metadata files and version hint, Hudi completed instants, the managed
# tables' version pointer.
_FINAL = re.compile(
    r"\d{20}\.json|_last_checkpoint"
    r"|v\d+\.metadata\.json|version-hint\.text"
    r"|\d+(?:_\d+)?\.(?:commit|replacecommit|deltacommit)"
    r"|_LATEST"
)
_DELTA_ENTRY = re.compile(r"\d{20}\.json")
_ICE_META = re.compile(r"v\d+\.metadata\.json")
_HUDI_INSTANT = re.compile(r"\d+\.commit")


class Crash(Exception):
    """Stands in for the writing process dying."""


class _Os:
    """``os`` as the primitive sees it, with some calls replaced."""

    def __init__(self, **calls):
        self.__dict__.update(calls)

    def __getattr__(self, name):
        return getattr(os, name)


def _arm(monkeypatch, step: str, target: re.Pattern) -> None:
    """Make the primitive die while publishing a file named like
    ``target``, at ``step``:

    - ``torn``: the temp file holds half of the bytes;
    - ``publish``: before the link or rename onto the final name;
    - ``after``: right after the final name is published.
    """
    real_stage = atomic._stage

    def stage(path, data):
        if step == "torn" and target.fullmatch(os.path.basename(path)):
            real_stage(path, data[: len(data) // 2])
            raise Crash(path)
        return real_stage(path, data)

    def publish(real):
        def call(src, dst):
            hit = target.fullmatch(os.path.basename(dst))
            if hit and step == "publish":
                raise Crash(dst)
            real(src, dst)
            if hit and step == "after":
                raise Crash(dst)

        return call

    monkeypatch.setattr(atomic, "_stage", stage)
    monkeypatch.setattr(
        atomic, "os", _Os(link=publish(os.link), replace=publish(os.replace))
    )


def _crash(monkeypatch, step, target, commit) -> None:
    with monkeypatch.context() as m:
        _arm(m, step, target)
        with pytest.raises(Crash):
            commit()


def _check_tree(root: str) -> int:
    """Every final-named file under ``root`` parses whole; no temp file
    carries a final name. Returns the number of temp files."""
    temps = 0
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".tmp"):
                temps += 1
                assert name.startswith("."), name
                assert not _FINAL.fullmatch(name), name
                continue
            if not _FINAL.fullmatch(name):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                body = f.read()
            if name in ("_LATEST", "version-hint.text"):
                int(body)
            elif _DELTA_ENTRY.fullmatch(name):
                assert body.endswith("\n"), name
                for line in body.splitlines():
                    json.loads(line)
            else:
                json.loads(body)
    return temps


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _crash_then_commit(monkeypatch, root, target, commit, state, old, new):
    """``commit`` dies torn and at publish (the table stays at ``old``),
    then commits cleanly (the table moves to ``new``)."""
    for step in ("torn", "publish"):
        _crash(monkeypatch, step, target, commit)
        assert state() == old, step
        _check_tree(root)
    commit()
    assert state() == new
    # The torn crash left its temp file behind; no reader resolved it.
    assert _check_tree(root) >= 1


def test_delta_append_and_merge_survive_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "delta")
    write_delta(_df(spark, [(1, "a"), (2, "b")]), root)

    def state():
        return _rows(read_delta(spark, root))

    _crash_then_commit(
        monkeypatch, root, _DELTA_ENTRY,
        lambda: write_delta(_df(spark, [(3, "c")]), root, mode="append"),
        state,
        old=[(1, "a"), (2, "b")],
        new=[(1, "a"), (2, "b"), (3, "c")],
    )
    _crash_then_commit(
        monkeypatch, root, _DELTA_ENTRY,
        lambda: merge_delta(
            _df(spark, [(2, "B"), (4, "d")]), root, key="id", mode="upsert"
        ),
        state,
        old=[(1, "a"), (2, "b"), (3, "c")],
        new=[(1, "a"), (2, "B"), (3, "c"), (4, "d")],
    )
    log = os.path.join(root, "_delta_log")
    assert sorted(f for f in os.listdir(log) if _DELTA_ENTRY.fullmatch(f)) == [
        f"{v:020d}.json" for v in range(3)
    ]


def _delta_state(spark, root):
    """The rows readers see and the newest commit's operation."""
    log = os.path.join(root, "_delta_log")
    head = max(f for f in os.listdir(log) if _DELTA_ENTRY.fullmatch(f))
    with open(os.path.join(log, head), encoding="utf-8") as f:
        info = json.loads(f.read().splitlines()[-1])["commitInfo"]
    return _rows(read_delta(spark, root)), info["operation"]


def _delta_dv_table(spark, root):
    """A deletion-vector table at version 1: a merge marked one row."""
    write_delta(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), root,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    merge_delta(_df(spark, [(2, "B")]), root, key="id", strategy="dv")


def _delta_next_commit_lands_at(spark, root, version, rows):
    """An append after the crashes commits as log entry ``version``."""
    write_delta(_df(spark, rows), root, mode="append")
    log = os.path.join(root, "_delta_log")
    assert sorted(f for f in os.listdir(log) if _DELTA_ENTRY.fullmatch(f)) == [
        f"{v:020d}.json" for v in range(version + 1)
    ]


def test_delta_compact_survives_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "delta")
    _delta_dv_table(spark, root)
    rows = [(1, "a"), (2, "B"), (3, "c")]
    _crash_then_commit(
        monkeypatch, root, _DELTA_ENTRY, lambda: compact_delta(spark, root),
        lambda: _delta_state(spark, root),
        old=(rows, "MERGE"),
        new=(rows, "REORG"),
    )
    assert compact_delta(spark, root) is None  # no deletion vector left
    _delta_next_commit_lands_at(spark, root, 3, [(4, "d")])
    assert _rows(read_delta(spark, root)) == rows + [(4, "d")]


def test_delta_delete_where_survives_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "delta")
    _delta_dv_table(spark, root)
    _crash_then_commit(
        monkeypatch, root, _DELTA_ENTRY,
        lambda: delete_delta_where(spark, root, [("id", "=", 3)]),
        lambda: _delta_state(spark, root),
        old=([(1, "a"), (2, "B"), (3, "c")], "MERGE"),
        new=([(1, "a"), (2, "B")], "DELETE"),
    )
    # Dying right after the entry is published: the delete is committed.
    _crash(
        monkeypatch, "after", _DELTA_ENTRY,
        lambda: delete_delta_where(spark, root, [("id", "=", 1)]),
    )
    assert _delta_state(spark, root) == ([(2, "B")], "DELETE")
    _check_tree(root)
    _delta_next_commit_lands_at(spark, root, 4, [(4, "d")])
    assert _rows(read_delta(spark, root)) == [(2, "B"), (4, "d")]


def test_iceberg_append_and_alter_survive_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "ice")
    write_iceberg(_df(spark, [(1, "a")]), root)

    def state():
        df = read_iceberg(spark, root)
        return (tuple(df.columns), _rows(df))

    cols = ("id", "val")
    _crash_then_commit(
        monkeypatch, root, _ICE_META,
        lambda: write_iceberg(_df(spark, [(2, "b")]), root, mode="append"),
        state,
        old=(cols, [(1, "a")]),
        new=(cols, [(1, "a"), (2, "b")]),
    )
    # Dying between the metadata file and the hint: the published
    # version is committed, and the next commit lands after it.
    _crash(
        monkeypatch, "after", _ICE_META,
        lambda: write_iceberg(_df(spark, [(3, "c")]), root, mode="append"),
    )
    assert state() == (cols, [(1, "a"), (2, "b"), (3, "c")])
    _check_tree(root)

    wide = ("id", "val", "note")
    _crash_then_commit(
        monkeypatch, root, _ICE_META,
        lambda: alter_iceberg_table(root, add_columns=[("note", "string")]),
        state,
        old=(cols, [(1, "a"), (2, "b"), (3, "c")]),
        new=(wide, [(1, "a", None), (2, "b", None), (3, "c", None)]),
    )
    _crash(
        monkeypatch, "after", _ICE_META,
        lambda: alter_iceberg_table(root, drop_columns=["note"]),
    )
    assert state() == (cols, [(1, "a"), (2, "b"), (3, "c")])
    write_iceberg(_df(spark, [(4, "d")]), root, mode="append")
    assert state() == (cols, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    mdir = os.path.join(root, "metadata")
    assert sorted(f for f in os.listdir(mdir) if _ICE_META.fullmatch(f)) == sorted(
        f"v{v}.metadata.json" for v in range(1, 7)
    )
    with open(os.path.join(mdir, "version-hint.text"), encoding="ascii") as f:
        assert f.read() == "6"


def _ice_state(spark, root):
    """The rows readers see and the current snapshot's operation."""
    meta = _iceberg_current_metadata(root)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    return _rows(read_iceberg(spark, root)), snap["summary"]["operation"]


def _ice_next_commit_lands_at(spark, root, version, rows):
    """An append after the crashes commits as ``v<version>``."""
    write_iceberg(_df(spark, rows), root, mode="append")
    mdir = os.path.join(root, "metadata")
    assert sorted(f for f in os.listdir(mdir) if _ICE_META.fullmatch(f)) == sorted(
        f"v{v}.metadata.json" for v in range(1, version + 1)
    )
    with open(os.path.join(mdir, "version-hint.text"), encoding="ascii") as f:
        assert f.read() == str(version)


def test_iceberg_mor_merge_survives_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "ice")
    write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), root)

    def mor_upsert(rows):
        return lambda: merge_iceberg(
            _df(spark, rows), root, key="id", strategy="mor"
        )

    _crash_then_commit(
        monkeypatch, root, _ICE_META, mor_upsert([(2, "B")]),
        lambda: _ice_state(spark, root),
        old=([(1, "a"), (2, "b"), (3, "c")], "append"),
        new=([(1, "a"), (2, "B"), (3, "c")], "overwrite"),
    )
    summary = _iceberg_current_metadata(root)["snapshots"][-1]["summary"]
    assert summary["added-delete-files"] == "1"
    # Dying between the metadata file and the hint: the merge is
    # committed, and the next commit lands after it.
    _crash(monkeypatch, "after", _ICE_META, mor_upsert([(3, "C")]))
    assert _ice_state(spark, root) == ([(1, "a"), (2, "B"), (3, "C")], "overwrite")
    _check_tree(root)
    _ice_next_commit_lands_at(spark, root, 4, [(4, "d")])
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (2, "B"), (3, "C"), (4, "d")]


def test_iceberg_compact_survives_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "ice")
    write_iceberg(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), root)
    merge_iceberg(_df(spark, [(2, "B")]), root, key="id", strategy="mor")
    rows = [(1, "a"), (2, "B"), (3, "c")]
    _crash_then_commit(
        monkeypatch, root, _ICE_META, lambda: compact_iceberg(spark, root),
        lambda: _ice_state(spark, root),
        old=(rows, "overwrite"),
        new=(rows, "replace"),
    )
    merge_iceberg(_df(spark, [(3, "C")]), root, key="id", strategy="mor")
    _crash(monkeypatch, "after", _ICE_META, lambda: compact_iceberg(spark, root))
    rows = [(1, "a"), (2, "B"), (3, "C")]
    assert _ice_state(spark, root) == (rows, "replace")
    _check_tree(root)
    assert compact_iceberg(spark, root) is None  # no live delete left
    _ice_next_commit_lands_at(spark, root, 6, [(4, "d")])
    assert _rows(read_iceberg(spark, root)) == rows + [(4, "d")]


def test_hudi_upsert_survives_commit_crashes(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "hudi")
    write_hudi(_df(spark, [(1, "a"), (2, "b")]), root, record_key="id", num_buckets=1)

    def state():
        return _rows(read_hudi(spark, root).select("id", "val"))

    _crash_then_commit(
        monkeypatch, root, _HUDI_INSTANT,
        lambda: write_hudi(
            _df(spark, [(2, "B"), (3, "c")]), root, record_key="id",
            mode="upsert", num_buckets=1,
        ),
        state,
        old=[(1, "a"), (2, "b")],
        new=[(1, "a"), (2, "B"), (3, "c")],
    )


def test_managed_cow_merge_survives_commit_crashes(spark, tmp_path, monkeypatch):
    tbl = ParquetCowTable(spark, str(tmp_path), TableSpec("t_crash", "id", None, None, "db"))
    tbl.create(_df(spark, [(1, "a"), (2, "b")]))

    def state():
        return _rows(tbl.read().select("id", "val"))

    _crash_then_commit(
        monkeypatch, tbl.path, re.compile("_LATEST"),
        lambda: tbl.merge_upsert(_df(spark, [(2, "B"), (3, "c")])),
        state,
        old=[(1, "a"), (2, "b")],
        new=[(1, "a"), (2, "B"), (3, "c")],
    )


def test_create_file_is_put_if_absent(tmp_path):
    path = str(tmp_path / "00000000000000000000.json")
    atomic.create_file(path, "first\n")
    with pytest.raises(FileExistsError):
        atomic.create_file(path, "second\n")
    with open(path, encoding="utf-8") as f:
        assert f.read() == "first\n"
    assert os.listdir(tmp_path) == ["00000000000000000000.json"]


# -- Iceberg: a stale or broken version-hint.text --------------------------


def test_iceberg_stale_hint_rolls_forward(spark, tmp_path):
    """A writer killed after publishing v2.metadata.json but before the
    hint leaves the hint at 1. Readers take v2, and later commits land at
    v3 and v4 instead of failing on the taken v2 name."""
    root = str(tmp_path / "ice")
    write_iceberg(_df(spark, [(1, "a")]), root)
    write_iceberg(_df(spark, [(2, "b")]), root, mode="append")
    hint = os.path.join(root, "metadata", "version-hint.text")
    with open(hint, "w", encoding="ascii") as f:
        f.write("1")
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (2, "b")]
    assert alter_iceberg_table(root, add_columns=[("note", "string")]) == 3
    write_iceberg(_df(spark, [(3, "c", "x")], SCHEMA + ", note string"), root, mode="append")
    assert _rows(read_iceberg(spark, root)) == [
        (1, "a", None), (2, "b", None), (3, "c", "x"),
    ]
    with open(hint, encoding="ascii") as f:
        assert f.read() == "4"


@pytest.mark.parametrize("body", ["", "\n", "garbage"])
def test_iceberg_unusable_hint_falls_back_to_listing(spark, tmp_path, body):
    root = str(tmp_path / "ice")
    write_iceberg(_df(spark, [(1, "a")]), root)
    write_iceberg(_df(spark, [(2, "b")]), root, mode="append")
    with open(os.path.join(root, "metadata", "version-hint.text"), "w", encoding="ascii") as f:
        f.write(body)
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (2, "b")]
