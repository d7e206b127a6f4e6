"""Protocol-domain guard (round-8 verdict #5).

The driver's correctness comparator canonicalizes values on both
engines' fetch paths; an INTEGER-VALUED numeric whose magnitude exceeds
2^53 cannot survive a float64 round-trip, so even a cross-engine-exact
result hash-mismatches in that protocol. Round 8 hit this once:
``dq_table_checksum``'s single 48-bit-hash sum (2.09e17 at sf0.01) was
the registry's only such value and produced the round's only red row,
while the repo's own exact-Decimal mirror matched. The fix (hi/mid/lo
16-bit limb sums) removed it; this guard keeps the count at zero —
including at future scale bumps, where SUM-shaped outputs grow ~10x per
sf step.

The guard runs every oracled op's DuckDB oracle at sf0.01 (DuckDB side
only — the mirror already proves Spark agrees with these values; what's
checked here is the VALUES' protocol safety, which is engine-independent
once they agree) and asserts no result cell, at any nesting depth, holds
an integer-valued numeric with |v| > 2^53.
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb

FLOAT_EXACT_MAX = 2**53

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _violations(v, out):
    """Collect integer-valued numerics beyond the float64-exact range,
    recursing into arrays/structs (cells can be LIST/STRUCT-typed)."""
    if isinstance(v, bool) or v is None:
        return
    if isinstance(v, (int, decimal.Decimal)):
        if not isinstance(v, int) and not v.is_finite():
            out.append(v)  # non-finite Decimal: outside the domain too
        elif v == int(v) and abs(int(v)) > FLOAT_EXACT_MAX:
            out.append(v)
    elif isinstance(v, float):
        if not math.isfinite(v):
            # int(v) would raise; NaN is protocol-legal (comparators
            # canonicalize it explicitly) but ±inf is not — the mirror's
            # own _norm_cell would crash on it — so inf is a violation.
            if not math.isnan(v):
                out.append(v)
        elif v == int(v) and abs(v) > FLOAT_EXACT_MAX:
            out.append(v)
    elif isinstance(v, (list, tuple)):
        for x in v:
            _violations(x, out)
    elif isinstance(v, dict):
        for x in v.values():
            _violations(x, out)


def test_no_oracle_emits_float_unsafe_integers():
    import __spark_entry__ as e
    from tools.check_correctness import BOUNDED_INPUT_OPS, _bounded_dir

    sf_dir = os.environ.get("SPARK_GRAFT_GUARD_SF", "/root/testdata/sf0.01")
    at_oracle_scale = sf_dir.rstrip("/").endswith("sf0.01")

    def connect(d):
        c = duckdb.connect()
        for t in _TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet')"
            )
        return c

    from tests.conftest import battery_subset

    con = connect(sf_dir)
    bounded_cons: dict[int, object] = {}
    offenders: dict[str, list] = {}
    oracles = e.oracle_sql()
    # Default tier: fixed quarter-subset of the 457 oracles (~25 s
    # instead of ~100 s of DuckDB compute); full sweep with
    # SPARK_GRAFT_SLOW_TESTS=1 (r14).
    for name in battery_subset(oracles, residue=0):
        sql = oracles[name]
        op_con = con
        if not at_oracle_scale and name in BOUNDED_INPUT_OPS:
            # Above oracle scale the deliberately-quadratic reference
            # oracles (all-pairs Jaccard, recursive closure) get the
            # mirror's bounded documents prefix — same device as
            # MIRROR_BOUNDED; the guard checks VALUE magnitudes, which
            # the bound does not shrink for the SUM-shaped families
            # this guard exists for (they run unbounded).
            cap = BOUNDED_INPUT_OPS[name]
            if cap not in bounded_cons:
                bounded_cons[cap] = connect(_bounded_dir(sf_dir, cap))
            op_con = bounded_cons[cap]
        rows = op_con.execute(sql).fetchall()
        bad: list = []
        for r in rows:
            for v in r:
                _violations(v, bad)
        if bad:
            offenders[name] = bad[:3]
    assert not offenders, (
        "ops emitting integer-valued numerics beyond 2^53 — outside the "
        f"driver comparator's value-exact domain: {offenders}"
    )


def test_no_oracle_emits_decimal_columns():
    """No oracled op may emit a DECIMAL-typed RESULT column (round-9
    verdict #3). Round 9's three red rows (udf_sql, dq_double_charge,
    udf_pandas_iter) were cross-engine value-identical, but the driver
    comparator fetches one engine's DECIMAL as ``Decimal`` and the
    other's as float64, so any fractional cell with a trailing zero
    canonicalizes differently ('X.90' vs 'X.9') and hash-mismatches.
    DECIMAL is the right INTERNAL type (order-independent sums); the
    protocol-safe OUTPUT type is DOUBLE (or exact integers/strings).

    Coverage argument: DuckDB ``DESCRIBE`` over every oracle catches
    the oracle side without executing it (nesting included — a
    ``DECIMAL`` anywhere in a LIST/STRUCT type string matches). A
    Spark-side decimal column paired with a DOUBLE oracle cannot hide
    either: the mirror's ``_norm_cell`` renders Decimal via str()
    ('0.50') and float via repr ('0.5'), so that pairing hash-fails in
    tools/check_correctness.py. Together the two checks close the
    class on every oracled op; rows-only ops are never value-hashed.
    """
    import __spark_entry__ as e

    sf_dir = os.environ.get("SPARK_GRAFT_GUARD_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    offenders: dict[str, list[str]] = {}
    for name, sql in e.oracle_sql().items():
        cols = con.execute(f"DESCRIBE ({sql})").fetchall()
        bad = [f"{c}: {typ}" for c, typ, *_ in cols if "DECIMAL" in typ.upper()]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "ops whose oracle emits DECIMAL-typed result columns — outside "
        "the driver comparator's canonical domain (trailing-zero "
        f"fractionals hash-mismatch): {offenders}"
    )
