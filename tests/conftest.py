import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automation_of_building_a_transactional_data_lake_spark.session import SessionFactory

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "deep: sf0.01 tail-pipeline tier (opt-in: TDL_DEEP_TESTS=1; the "
        "weekly/deep CI lane — demoted composed gates keep "
        "nontrivial-scale coverage, r16)",
    )


# --- Two-lane test budget (r18, verdict #1) --------------------------------
# The full suite grew to ~48 min and the r17 driver verify TRUNCATED at 32%
# (tests_ok=false) — an incomplete run protects nothing. The DEFAULT lane is
# sized to finish comfortably inside the driver's budget and keeps:
#   - the full oracle-parity registry drive (every declared query vs DuckDB
#     at sf0.001, three at sf0.01, one rotating deep pipeline),
#   - the optimization guards (plan shapes / numeric contracts),
#   - every operator's fast unit tier,
#   - the rotation-log pins that must assert every session
#     (_DEFAULT_LANE_KEEP below).
# Everything else — the format-interop matrix, write-path/e2e fuzz tiers,
# lifecycle/maintenance sequences — runs under TDL_DEEP_TESTS=1 (the
# weekly/deep CI lane), where NOTHING is skipped. The e2e format surface
# keeps per-session value-oracle coverage through the parity drive itself
# (the game_*_cdc_e2e / dml / pruning / changelog queries execute the same
# write→merge→read machinery end to end against DuckDB).

_DEEP_LANE_FILES = {
    "test_interop.py",
    "test_write_path.py",
    "test_sql_surface.py",
    "test_sql_fuzz.py",
    "test_extensions.py",
    "test_lake_datasource.py",
    "test_mor_format.py",
    "test_cdc_properties.py",
    "test_ann_index.py",
    "test_dedup_index.py",
}

# Heavy singletons inside otherwise-default files (each >= ~10 s; their
# properties stay covered per session by the sf0.001 oracle-parity twins
# against DuckDB's exact brute-force oracles).
_DEEP_LANE_TESTS = {
    "test_operators.py::test_simhash_near_dups_have_small_hamming",
    "test_operators.py::test_minhash_matches_exact_on_real_docs",
    "test_operators.py::test_prefix_filter_matches_exact_on_real_docs",
    "test_operators.py::test_prefix_filter_fuzz_equals_bruteforce",
    "test_operators.py::test_connected_components_long_chain_escalates",
    "test_operators.py::test_connected_components_fuzz_vs_union_find",
}

# Rotation-log pins cited as "asserted in pytest each session" — these run
# in the DEFAULT lane even though their file is deep-gated.
_DEFAULT_LANE_KEEP = {
    "test_interop.py::test_iceberg_v1_upgrade_then_full_write_surface",
    "test_interop.py::test_read_iceberg_hidden_partition_pruning",
    "test_interop.py::test_iceberg_v3_deletion_vectors_read",
}


def _unmatched_lane_keep(items) -> list[str]:
    """`_DEFAULT_LANE_KEEP` entries naming a test their collected file
    does not define. A renamed or removed pin would otherwise match
    nothing and quietly move to the deep lane; the check looks the name
    up in the module, so ``-k`` and node-id selections pass."""
    modules = {
        os.path.basename(str(i.fspath)): i.module
        for i in items
        if getattr(i, "module", None) is not None
    }
    unmatched = []
    for entry in sorted(_DEFAULT_LANE_KEEP):
        fname, name = entry.split("::")
        if fname in modules and not hasattr(modules[fname], name):
            unmatched.append(entry)
    return unmatched


def pytest_collection_modifyitems(config, items):
    unmatched = _unmatched_lane_keep(items)
    if unmatched:
        raise pytest.UsageError(
            f"_DEFAULT_LANE_KEEP entries match no test: {unmatched}; "
            "update tests/conftest.py with the pin's new name"
        )
    if os.environ.get("TDL_DEEP_TESTS", "0") == "1":
        return
    skip = pytest.mark.skip(
        reason="deep lane: set TDL_DEEP_TESTS=1 (weekly/deep CI; the "
        "default lane is budgeted to the driver's verify window, r18)"
    )
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = f"{fname}::{item.name.split('[')[0]}"
        if base in _DEFAULT_LANE_KEEP:
            continue
        if fname in _DEEP_LANE_FILES or base in _DEEP_LANE_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = SessionFactory(
        master="local[4]",
        app_name="tdl_tests",
        shuffle_partitions=4,
    ).create()
    yield spark
    spark.stop()
