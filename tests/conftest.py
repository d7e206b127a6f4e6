from __future__ import annotations

import os
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

#: Two-tier suite (r14, VERDICT r13 item 2): the full suite outgrew the
#: external verify budget (~2,200 s measured; the r13 verify run was
#: truncated at ~80% with zero failures). The DEFAULT tier keeps every
#: test FILE and every protocol invariant live but shrinks the
#: multi-minute batteries — registry-wide sweeps run a fixed
#: deterministic quarter-subset, seeded stress batteries run a quarter
#: of their seeds, and a handful of pure brute-force crosschecks are
#: skipped outright. Set SPARK_GRAFT_SLOW_TESTS=1 for the full tier
#: (run at least once per round; the round artifacts record it).
FULL_TIER = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"


def battery_subset(names, residue: int):
    """Deterministic quarter-subset of a registry-wide sweep for the
    default tier (full list in the full tier): the names whose crc32 is
    ``residue`` mod 4. Fixed across runs and hosts — not a random
    sample. Each registry-wide sweep takes a different residue, so
    together the default tier covers three quarters of the ops."""
    names = list(names)
    if FULL_TIER:
        return names
    return [n for n in names if zlib.crc32(str(n).encode()) % 4 == residue]


def battery_n(fast: int, full: int) -> int:
    """Iteration/seed count for a stress battery: `full` in the full
    tier, `fast` in the default tier."""
    return full if FULL_TIER else fast


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow_battery: multi-minute brute-force battery; skipped in the "
        "default tier (SPARK_GRAFT_SLOW_TESTS=1 runs it)",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_TIER:
        return
    skip = pytest.mark.skip(
        reason="slow battery: default tier keeps the suite inside the "
        "verify budget; set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow_battery" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from xlsx_to_database_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
