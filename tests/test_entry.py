"""Smoke tests for the driver contract surface."""

from __future__ import annotations


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"l_returnflag", "l_linestatus", "revenue", "avg_qty", "cnt"}


def test_queries_oracle_keys_align():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query impl
    assert set(oracles) <= set(qs)


#: Op count and sha256 digests of the joined `all_queries()` keys,
#: `all_oracles()` keys and oracle SQL texts. Update them only when an op
#: is added, renamed or re-oracled on purpose.
PINNED_REGISTRY = [
    "476",
    "347322cbe2112cea352e45adbde37393571fe8116c2747eb8f6466c2cc343d6d",
    "d84b5cdad65e64fa891762f34d06694a0b0716683afda2c4bd96eb982a369e43",
    "78e692d47728dac5d2f4c899c79da7ccf59a4c38bcc8451bdeb6dc68fab48091",
]


def _registry_digests(q, o):
    import hashlib

    def h(parts):
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()

    return [str(len(q)), h(q), h(o), h(o.values())]


def test_registry_order_and_oracles_pinned():
    """The driver's 50-op window reads `all_queries()` in order, so the
    key order is a hard invariant: refactors that move or rewrite ops
    must leave the op count, the key order and every oracle's SQL text
    byte-identical.

    The registry is read in a fresh interpreter, the way the driver
    imports `__spark_entry__`."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import hashlib\n"
        "import __spark_entry__ as e\n"
        "q, o = e.queries(), e.oracle_sql()\n"
        "h = lambda parts: hashlib.sha256('\\n'.join(parts).encode()).hexdigest()\n"
        "print(len(q), h(q), h(o), h(o.values()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert out == PINNED_REGISTRY


def test_registry_order_ignores_import_order(monkeypatch):
    """The registry order is data (`_ATTESTED`), not import order: a
    process that imports query modules before `all_queries()` (as
    tests and tools do) sees the driver's order. The registry is
    emptied and its query modules are imported afresh, a few first in
    reverse alphabetical order, in this process."""
    import importlib
    import sys

    from xlsx_to_database_spark import queries
    from xlsx_to_database_spark import registry as r

    r.all_queries()  # every query module loaded, so teardown restores each
    monkeypatch.setattr(r, "_QUERIES", {})
    monkeypatch.setattr(r, "_ORACLES", {})
    monkeypatch.setattr(r, "_LOADED", False)
    for name in list(sys.modules):
        if name.startswith("xlsx_to_database_spark.queries."):
            monkeypatch.delitem(sys.modules, name)
            monkeypatch.delattr(queries, name.rsplit(".", 1)[1], raising=False)
    for mod in ("windows", "streaming", "llm_ops", "geo_ops", "etl"):
        importlib.import_module(f"xlsx_to_database_spark.queries.{mod}")
    assert _registry_digests(r.all_queries(), r.all_oracles()) == PINNED_REGISTRY


def test_all_queries_run_sf0001(spark, sf_dir):
    """Default tier: a fixed deterministic quarter of the registry
    (~120 ops); full registry with SPARK_GRAFT_SLOW_TESTS=1 (r14 —
    the 476-op sweep alone was ~330 s of the suite's verify budget;
    full coverage stays via the full tier + the round's MIRROR
    artifacts, which execute every op against its oracle)."""
    import __spark_entry__ as e

    from tests.conftest import battery_subset

    qs = e.queries()
    for name in battery_subset(qs, residue=1):
        df = qs[name](spark, sf_dir)
        # force execution; smoke-level assertion only
        assert df.count() >= 0, name


def test_doc_counts_match_registry():
    """SURVEY §2.12's running total and README's oracle counts are the
    driver/judge's checklist — they must never lag the registry (round-5
    verdict #2). Parses both docs and compares against the live counts."""
    import re

    import __spark_entry__ as e

    n_total = len(e.queries())
    n_oracled = len(e.oracle_sql())
    n_rows_only = n_total - n_oracled

    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    survey = open(os.path.join(root, "SURVEY.md")).read()
    m = re.search(
        r"Running total: \*\*(\d+) operator ids\*\* registered.*?"
        r"(\d+) with exact DuckDB hash-match oracles and (\d+)\s+rows-only",
        survey,
        re.S,
    )
    assert m, "SURVEY.md running-total sentence not found"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_total, n_oracled, n_rows_only,
    ), "SURVEY.md §2.12 running total is stale vs the registry"

    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"\((\d+) of (\d+) ops; the other (\d+) are rows-only", readme)
    assert m, "README oracle-count sentence not found"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_oracled, n_total, n_rows_only,
    ), "README op counts are stale vs the registry"


def test_driver_window_composition():
    """The attestation mill (round-4/5 verdicts): while never-attested
    ops remain, the driver's 50-op window must contain ONLY ops without
    a green driver row (never-attested or reopened) — an attested op in
    the window wastes a slot and stalls the backlog. Also pins the fold
    hygiene: _ATTESTED names must exist, be unique, and not overlap
    _REOPENED semantics wrongly (reopened ops must be previously
    attested, else they'd be in the window anyway)."""
    from xlsx_to_database_spark import registry as r

    order = list(r.all_queries())
    attested = set(r._ATTESTED)
    assert len(r._ATTESTED) == len(attested), "duplicate _ATTESTED entry"
    unknown = attested - set(order)
    assert not unknown, f"_ATTESTED names not in registry: {unknown}"
    assert r._REOPENED <= attested, (
        "_REOPENED must be a subset of _ATTESTED (a never-attested op "
        "needs no reopening)"
    )
    backlog = [n for n in order if n not in attested or n in r._REOPENED]
    window = order[: r._DRIVER_WINDOW]
    wasted = [
        n for n in window if n in attested and n not in r._REOPENED
    ]
    if len(backlog) >= r._DRIVER_WINDOW:
        assert not wasted, f"attested ops wasting window slots: {wasted}"


def test_round_artifacts_cover_the_live_registry():
    """Round-11 verdict #2: the three per-round artifacts (sf0.01
    mirror, sf0.1 mirror, determinism audit) must be regenerated
    TOGETHER after the last registry-growing commit — r11 shipped a
    mirror at 457 ops beside an sf0.1 mirror at 455 and a determinism
    audit at 436, a two-op evidence hole. Guard: the NEWEST committed
    round of each family must cover exactly the live registry (mirrors:
    every registered op; determinism: every oracled op). Fails until
    this round's artifacts are (re)generated — the same deliberate
    lifecycle pressure as the attestation-fold test above."""
    import glob
    import json
    import os
    import re

    from xlsx_to_database_spark import registry as r

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def newest(pattern: str) -> dict:
        paths = glob.glob(os.path.join(root, pattern))
        assert paths, f"no committed {pattern} artifacts"
        def rnum(p):
            return int(re.search(r"_r(\d+)\.json$", p).group(1))
        return json.load(open(max(paths, key=rnum)))

    registered = set(r.all_queries())
    oracled = set(r.all_oracles())
    mirror = newest("MIRROR_r*.json")
    sf01 = newest("MIRROR_SF01_r*.json")
    det = newest("DETERMINISM_r*.json")
    assert set(mirror["results"]) == registered, (
        "sf0.01 mirror stale: regenerate tools/check_correctness.py "
        f"(missing {sorted(registered - set(mirror['results']))[:5]})"
    )
    assert set(sf01["results"]) == registered, (
        "sf0.1 mirror stale: regenerate "
        f"(missing {sorted(registered - set(sf01['results']))[:5]})"
    )
    assert set(det["results"]) == oracled, (
        "determinism audit stale: regenerate "
        f"(missing {sorted(oracled - set(det['results']))[:5]})"
    )


def test_attested_fold_complete():
    """Round-6 verdict #2: the _ATTESTED fold is manual, so guard it with
    a test — parse every committed CORRECTNESS_r*.json and assert every
    green op id is folded into _ATTESTED (or deliberately held out in
    _REOPENED because its implementation changed after attestation).
    Forgetting the fold now fails pytest instead of wasting up to 50
    driver-window slots the next round."""
    import glob
    import json
    import os

    from xlsx_to_database_spark import registry as r

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert files, "no driver CORRECTNESS files found in repo root"

    def green(row: dict) -> bool:
        # exact green: rows+schema+hash all true; rows-only green: the
        # driver recorded no_oracle with a row count (declared rows-only).
        if row.get("err") == "no_oracle":
            return row.get("spark_rows") is not None
        return bool(
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )

    greens: set[str] = set()
    for path in files:
        for op, row in json.load(open(path)).items():
            if green(row):
                greens.add(op)
    # ops renamed/retired since attestation would be absent from the
    # registry; there are none today and this asserts it stays that way.
    registered = set(r.all_queries())
    unfolded = greens & registered - set(r._ATTESTED)
    assert not unfolded, (
        f"driver-green ops missing from _ATTESTED (fold forgotten): "
        f"{sorted(unfolded)}"
    )
    orphaned = greens - registered
    assert not orphaned, f"driver-green ops no longer registered: {sorted(orphaned)}"
