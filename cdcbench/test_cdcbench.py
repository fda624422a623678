"""Tests of the CDC-lake benchmark itself, at sf0.001 scale.

    python3 -m pytest cdcbench -q

They start Spark (in process and in a subprocess) and take a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import metrics  # noqa: E402
import run  # noqa: E402
from drops import KEY, PROFILES, DropStream, scaled, write_parquet  # noqa: E402

SCALE = 0.01  # sf0.1 -> sf0.001


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _stream_bytes(tmp_path, name: str, seed: int, tag: str) -> list[bytes]:
    s = DropStream(scaled(PROFILES[name], SCALE), seed)
    tables = [s.base()] + [s.next_batch() for _ in range(3)]
    out = []
    for i, t in enumerate(tables):
        path = tmp_path / f"{tag}-{i}.parquet"
        write_parquet(t, str(path))
        out.append(path.read_bytes())
    return out


@pytest.mark.parametrize("name", sorted(PROFILES))
def test_same_seed_gives_byte_identical_drops(tmp_path, name):
    a = _stream_bytes(tmp_path, name, 5, "a")
    assert a == _stream_bytes(tmp_path, name, 5, "b")
    assert a != _stream_bytes(tmp_path, name, 6, "c")


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (u, _d) in metrics.E2E.items()
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _d) in metrics.PER_LAYER.items()
    }
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("cdcbench"))
    run._env(work)
    b = run.Bench("cdc_managed", 3, work, scale=SCALE)
    b.start()
    try:
        b.setup()
        m = b.measure(0)
        yield b, m
    finally:
        b.stop()


def test_end_to_end_metrics_are_the_declared_ones(bench):
    b, m = bench
    values = run.end_to_end(b, m)
    assert list(values) == list(metrics.E2E)
    assert all(v > 0 for v in values.values()), values


def test_oracle_passes_then_fails_on_a_corrupted_table(bench):
    b, _m = bench
    assert [r["mismatched_rows"] for r in b.verify()] == [0, 0]
    assert b.failed == 0, b.errors

    cow, mor = b.tg
    spark = b.spark
    row = cow.read("cow").orderBy(KEY).first()
    # CoW loses a live key; MoR gets one wrong value.
    cow.catalog.table(cow.spec).merge_delete(
        spark.createDataFrame([(row[KEY],)], f"{KEY} long")
    )
    bad = mor.read("mor").filter(F.col(KEY) == row[KEY]).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    mor.catalog.table(mor.spec).merge_upsert(bad)
    assert [r["mismatched_rows"] for r in b.verify()] == [1, 1]
    assert b.failed == 2


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "cdcbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_traced_run_prints_every_per_layer_metric():
    p = _run(
        ROOT, "--workload", "cdc_foreign", "--seed", "4", "--seconds", "0",
        "--trace", "1", "--scale", str(SCALE),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in _benchmark_json()["per_layer"]]
    assert out["metrics"]["delta.merge_s"]["value"] > 0
    assert out["metrics"]["delta.read_s"]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "cdcbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "cdc_managed", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
