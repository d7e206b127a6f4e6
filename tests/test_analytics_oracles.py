"""Edge-case semantics of the single-pass ``funnel_steps`` and
``join_range_bucketed`` against their DuckDB oracles.

The testdata exercises neither op's corner cases (no NULL timestamps,
no events at exact range edges), so each case here writes a small
hand-made ``events`` table, runs the registry op on Spark and the op's
oracle SQL in DuckDB over the same parquet file, and requires the same
rows — and the hand-computed answer.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xlsx_to_database_spark.registry import all_oracles, all_queries

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

T0 = datetime.datetime(2030, 1, 1)


def _at(minute):
    return None if minute is None else T0 + datetime.timedelta(minutes=minute)


def _write_events(d: str, rows: list[tuple]) -> None:
    """rows: (event_id, minute or None, user_id, event_type, value)."""
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": list(cols[0]),
                "ts": [_at(m) for m in cols[1]],
                "user_id": list(cols[2]),
                "event_type": list(cols[3]),
                "value": list(cols[4]),
                "props": ["{}"] * len(rows),
            },
            schema=EVENTS_SCHEMA,
        ),
        os.path.join(d, "events.parquet"),
    )


def _both(spark, d: str, op: str) -> tuple[list, list]:
    """Sorted result rows of the registry op and of its DuckDB oracle."""
    got = sorted(tuple(r) for r in all_queries()[op](spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'events.parquet')}')"
    )
    want = sorted(con.execute(all_oracles()[op]).fetchall())
    return got, want


def _funnel(n1: int, n2: int, n3: int) -> list[tuple]:
    return [("1_signup", n1), ("2_click", n2), ("3_purchase", n3)]


#: case -> (events of one user, expected (signup, click, purchase) counts).
FUNNEL_CASES = {
    "click_before_signup": (
        [(1, 1, 7, "click", None), (2, 2, 7, "signup", None)],
        (1, 0, 0),
    ),
    "click_without_signup": (
        [(1, 1, 7, "click", None), (2, 2, 7, "purchase", None)],
        (0, 0, 0),
    ),
    "equal_ts_advances": (
        [(1, 5, 7, "signup", None), (2, 5, 7, "click", None),
         (3, 5, 7, "purchase", None)],
        (1, 1, 1),
    ),
    "purchase_before_click": (
        [(1, 1, 7, "signup", None), (2, 2, 7, "purchase", None),
         (3, 3, 7, "click", None)],
        (1, 1, 0),
    ),
    "duplicate_events": (
        [(1, 1, 7, "signup", None), (1, 1, 7, "signup", None),
         (2, 2, 7, "click", None), (2, 2, 7, "click", None),
         (3, 3, 7, "purchase", None), (3, 3, 7, "purchase", None)],
        (1, 1, 1),
    ),
    "null_ts_signup_counts_but_never_advances": (
        [(1, None, 7, "signup", None), (2, 2, 7, "click", None),
         (3, 3, 7, "purchase", None)],
        (1, 0, 0),
    ),
    "null_ts_click_and_purchase_ignored": (
        [(1, 1, 7, "signup", None), (2, None, 7, "click", None),
         (3, 4, 7, "click", None), (4, None, 7, "purchase", None)],
        (1, 1, 0),
    ),
    "later_signup_does_not_reset": (
        [(1, 10, 7, "signup", None), (2, 20, 7, "signup", None),
         (3, 11, 7, "click", None), (4, 12, 7, "purchase", None),
         (5, 1, 7, "view", None)],
        (1, 1, 1),
    ),
    # The oracle's GROUP BY keeps a NULL user as one stage-1 group, but
    # its stage-2 and stage-3 equi-joins drop it.
    "null_user_counts_at_signup_only": (
        [(1, 1, None, "signup", None), (2, 2, None, "click", None),
         (3, 3, None, "purchase", None)],
        (1, 0, 0),
    ),
}


@pytest.mark.parametrize("case", sorted(FUNNEL_CASES))
def test_funnel_steps_edge_case_matches_oracle(spark, tmp_path, case):
    rows, expected = FUNNEL_CASES[case]
    _write_events(str(tmp_path), rows)
    got, want = _both(spark, str(tmp_path), "funnel_steps")
    assert got == want, (got, want)
    assert got == _funnel(*expected), got


def test_funnel_steps_all_cases_together_match_oracle(spark, tmp_path):
    """Every case at once, each under its own user id (NULL stays NULL),
    so per-user partitioning is what separates them."""
    rows = []
    for i, case in enumerate(sorted(FUNNEL_CASES)):
        for eid, minute, user, etype, value in FUNNEL_CASES[case][0]:
            uid = None if user is None else 100 + i
            rows.append((1000 * i + eid, minute, uid, etype, value))
    _write_events(str(tmp_path), rows)
    got, want = _both(spark, str(tmp_path), "funnel_steps")
    totals = [sum(c) for c in zip(*(e for _, e in FUNNEL_CASES.values()))]
    assert got == want == _funnel(*totals), (got, want)


#: case -> (events, expected {purchase event_id: n_similar}).
RANGE_CASES = {
    # |e - p| == r exactly is a match on both sides; just beyond is not.
    "exact_radius_edges": (
        [(1, 0, 1, "purchase", 1.0), (2, 0, 1, "click", 0.5),
         (3, 0, 1, "click", 1.5), (4, 0, 1, "click", 0.4999),
         (5, 0, 1, "click", 1.5001)],
        {1: 2},
    ),
    "negative_values": (
        [(1, 0, 1, "purchase", -1.25), (2, 0, 1, "click", -1.75),
         (3, 0, 1, "click", -0.75), (4, 0, 1, "click", -1.76),
         (5, 0, 1, "click", -0.74), (6, 0, 1, "purchase", -0.5)],
        {1: 2, 6: 2},
    ),
    # Values on multiples of r sit on bucket boundaries: floor(v / r) is
    # the bucket that starts there, and matches reach both neighbours.
    "bucket_boundaries": (
        [(1, 0, 1, "purchase", 2.0), (2, 0, 1, "click", 2.5),
         (3, 0, 1, "click", 1.5), (4, 0, 1, "click", 2.0),
         (5, 0, 1, "click", 3.0), (6, 0, 1, "click", 1.0),
         (7, 0, 1, "purchase", 0.0), (8, 0, 1, "click", -0.5),
         (9, 0, 1, "click", 0.5), (10, 0, 1, "click", -0.0)],
        {1: 3, 7: 3},
    ),
    # p ± r rounds in binary: 0.184 + 0.5 is 0.6839999999999999, so
    # 0.684 falls outside; 0.033 - 0.5 is -0.46699999999999997, so
    # -0.467 falls outside; 0.206 - 0.5 is -0.29400000000000004, so
    # -0.294 falls inside. Both engines must compare against the same
    # rounded bound.
    "rounded_bounds": (
        [(1, 0, 1, "purchase", 0.184), (2, 0, 1, "click", 0.684),
         (3, 0, 1, "click", 0.6839999999999999),
         (4, 0, 1, "purchase", 0.033), (5, 0, 1, "click", -0.467),
         (6, 0, 1, "purchase", 0.206), (7, 0, 1, "click", -0.294)],
        {1: 4, 4: 3, 6: 5},
    ),
    "no_match_keeps_zero_row": (
        [(1, 0, 1, "purchase", 10.0), (2, 0, 1, "click", 20.0),
         (3, 0, 1, "purchase", -10.0)],
        {1: 0, 3: 0},
    ),
}


@pytest.mark.parametrize("case", sorted(RANGE_CASES))
def test_range_bucketed_edge_case_matches_oracle(spark, tmp_path, case):
    rows, expected = RANGE_CASES[case]
    _write_events(str(tmp_path), rows)
    got, want = _both(spark, str(tmp_path), "join_range_bucketed")
    assert got == want, (got, want)
    assert dict(got) == expected, got
