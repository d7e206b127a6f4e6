"""Independent cross-checks of shared numeric kernels.

The geo/zorder kernels are SQL expression strings (or codegen column
chains) shared VERBATIM by the Spark plan and the DuckDB oracle — so
oracle parity alone can never catch a defect in the kernel itself
(both engines would agree on the same wrong answer). These tests pin
each kernel against a reference derived a DIFFERENT way: classic
bisection for geohash, per-bit interleave for the Morton key, known
geodesic distances for haversine. The IVF probe ranking exists in two
forms, a query-row expression and a driver-side helper; they are
checked against each other.

All checks batch their sample points into ONE literal frame per test
(a single Spark job), not one job per example.
"""

from __future__ import annotations

import random

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _ref_geohash5(lat: float, lon: float) -> str:
    """Classic geohash by interval bisection (lon bit first), 25 bits
    → 5 base32 chars. Independent of the production quantize-and-
    interleave formulation."""
    lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
    bits = []
    even = True
    while len(bits) < 25:
        rng, v = (lon_r, lon) if even else (lat_r, lat)
        mid = (rng[0] + rng[1]) / 2
        if v >= mid:
            bits.append(1)
            rng[0] = mid
        else:
            bits.append(0)
            rng[1] = mid
        even = not even
    out = []
    for t in range(5):
        q = 0
        for b in bits[5 * t:5 * t + 5]:
            q = q * 2 + b
        out.append(_B32[q])
    return "".join(out)


def test_geohash5_matches_independent_bisection(spark):
    from xlsx_to_database_spark.queries.geo_ops import geohash5_expr

    rng = random.Random(421)
    # Multiples of 1/64 degree: exactly representable binary fractions,
    # so the floor-multiply quantizer and the bisection reference see
    # bit-identical inputs and cannot disagree by a ULP at a cell
    # boundary (on-boundary points land in the upper cell under BOTH
    # `>= mid` and `floor`). Domain is half-open ([-90, 90) x
    # [-180, 180)) — +90/+180 are out of the 12/13-bit quantizer's
    # range by construction, as they are for every geohash coder.
    pts = [
        (k_lat / 64.0, k_lon / 64.0)
        for k_lat, k_lon in (
            (rng.randrange(-90 * 64, 90 * 64),
             rng.randrange(-180 * 64, 180 * 64))
            for _ in range(400)
        )
    ]
    pts += [(0.0, 0.0), (-90.0, -180.0), (89.984375, 179.984375),
            (45.0, -135.0), (-45.0, 135.0)]  # cell-corner boundaries
    df = spark.createDataFrame(pts, "lat double, lon double").selectExpr(
        "lat", "lon", f"{geohash5_expr('lat', 'lon')} AS gh"
    )
    for r in df.collect():
        assert r.gh == _ref_geohash5(r.lat, r.lon), (r.lat, r.lon, r.gh)


def test_zvalue_matches_bit_interleave_and_is_injective(spark):
    from xlsx_to_database_spark.operators.global_order import _zvalue

    rng = random.Random(422)
    pairs = list({(rng.randrange(2 ** 16), rng.randrange(2 ** 16))
                  for _ in range(500)})
    pairs += [(0, 0), (2 ** 16 - 1, 2 ** 16 - 1), (0, 2 ** 16 - 1),
              (2 ** 16 - 1, 0), (1, 0), (0, 1)]
    pairs = list(dict.fromkeys(pairs))
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", _zvalue("a", "b").alias("z")
    )
    got = df.collect()

    def ref(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for r in got:
        assert r.z == ref(r.a, r.b), (r.a, r.b, r.z)
    # Injective on the 16-bit x 16-bit domain: distinct inputs must
    # map to distinct keys, or Z-ordered files would interleave rows
    # from unrelated cells and min/max pruning would widen silently.
    assert len({r.z for r in got}) == len(got)


def test_haversine_matches_known_geodesics(spark):
    from xlsx_to_database_spark.queries.geo_ops import haversine_expr

    import math

    cases = [
        # (lat1, lon1, lat2, lon2, expected_km)
        (0.0, 0.0, 0.0, 1.0, 2 * math.pi * 6371.0 / 360),  # 1 deg equator
        (0.0, 0.0, 0.0, 180.0, math.pi * 6371.0),          # antipodal
        (90.0, 0.0, -90.0, 0.0, math.pi * 6371.0),         # pole to pole
        (0.0, 0.0, 0.0, 90.0, math.pi * 6371.0 / 2),       # quarter arc
        (12.5, 44.25, 12.5, 44.25, 0.0),                   # identity
        (0.0, 0.0, 90.0, 123.0, math.pi * 6371.0 / 2),     # lon-free pole
    ]
    df = spark.createDataFrame(
        [c[:4] for c in cases],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    ).selectExpr(
        f"{haversine_expr('lat1', 'lon1', 'lat2', 'lon2')} AS km"
    )
    got = [r.km for r in df.collect()]
    for (_, _, _, _, want), km in zip(cases, got):
        assert abs(km - want) < 0.01, (want, km)


def _probe_both_sides(spark, cents, queries, nprobe):
    """(driver-side cells, query-row expression cells) per query."""
    from xlsx_to_database_spark.operators.similarity import (
        _probe_cells,
        _probe_cells_expr,
    )

    rows = spark.createDataFrame(
        list(enumerate(queries)), "qid int, embedding array<double>"
    ).select("qid", _probe_cells_expr(cents, "embedding", nprobe).alias("p"))
    expr = {r.qid: list(r.p) for r in rows.collect()}
    return [
        (_probe_cells(cents, q, nprobe), expr[i])
        for i, q in enumerate(queries)
    ]


def test_probe_cells_agree_on_ivf_centroids(spark, sf_dir):
    """The driver-side probe (serving ops) and the query-row probe
    expression (ops whose query is a row) pick the same cells, in the
    same order, for the sf0.001 positional and trained IVF centroids
    against 50 seeded query vectors."""
    from xlsx_to_database_spark.catalog import table
    from xlsx_to_database_spark.operators.similarity import (
        _collect_codebook,
        ivf_train_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    rng = random.Random(2024)
    for cents in (
        _collect_codebook(e, 8, "vec_id", "embedding"),
        ivf_train_centroids(e, 8),
    ):
        d = len(cents[0][1])
        queries = [
            [round(rng.uniform(-1, 1), 4) for _ in range(d)] for _ in range(50)
        ]
        for nprobe in (2, len(cents)):
            for host, expr in _probe_both_sides(spark, cents, queries, nprobe):
                assert host == expr and len(host) == nprobe, (host, expr)


def test_probe_cells_agree_on_ties(spark):
    """Ties at 6 decimal places and exact ties both rank by centroid
    id, on both sides of the probe contract."""
    cents = sorted([
        (7, [1.0, 0.0, 0.0]),
        (2, [1.0, 1e-4, 0.0]),   # cosine 1 - 5e-9: 1.000000 at 6dp
        (4, [2.0, 4e-4, 0.0]),   # 1 - 2e-8, scaled: 1.000000 at 6dp
        (1, [0.0, 1.0, 0.0]),
        (6, [1.0, 1.0, 0.0]),
        (3, [3.0, 3.0, 0.0]),    # same direction as 6: an exact tie
        (8, [-1.0, 0.0, 0.0]),
        (5, [1.0, 1.0, 1e-4]),   # 0.707107 at 6dp, ties with 3 and 6
    ])
    queries = [[1.0, 0.0, 0.0], [0.5, 0.0, 0.0], [0.0, 1.0, 0.0]]
    pairs = _probe_both_sides(spark, cents, queries, len(cents))
    assert pairs[0][0] == [2, 4, 7, 3, 5, 6, 1, 8]
    assert pairs[1][0] == pairs[0][0]
    for host, expr in pairs:
        assert host == expr, (host, expr)
    for nprobe in (1, 3, 5):
        for host, expr in _probe_both_sides(spark, cents, queries, nprobe):
            assert host == expr, (host, expr)
