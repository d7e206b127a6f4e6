"""Property-based laws (SURVEY.md §5.5, Hypothesis).

Pure-Python properties (xlsx round-trip, type-inference lattice, identifier
sanitization) run at full example counts; Spark-backed laws (dedup
idempotence, union additivity, window-vs-group consistency) use a handful
of examples each since every example pays a distributed-execution round.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xlsx_to_database_spark.sources.infer import (
    _merge,
    infer_column_kinds,
    sanitize_headers,
    sanitize_identifier,
)
from xlsx_to_database_spark.sources.xlsx_io import read_workbook, write_workbook

# ---------------------------------------------------------------------------
# xlsx write -> read identity
# ---------------------------------------------------------------------------

_cell = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),  # exact in xlsx doubles
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        max_size=40,
    ),
)


@given(
    header=st.lists(st.text(min_size=1, max_size=10), min_size=1, max_size=5, unique=True),
    nrows=st.integers(min_value=0, max_value=8),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_xlsx_round_trip_identity(tmp_path_factory, header, nrows, data):
    ncols = len(header)
    rows = [
        tuple(data.draw(_cell) for _ in range(ncols)) for _ in range(nrows)
    ]
    path = str(tmp_path_factory.mktemp("wb") / "t.xlsx")
    write_workbook(path, {"s": (header, rows)})
    wb = read_workbook(path)
    got = list(wb.iter_rows("s"))
    wb.close()
    assert got[0] == list(header)
    assert len(got) == nrows + 1
    for want_row, got_row in zip(rows, got[1:]):
        # Trailing Nones are indistinguishable from absent cells in xlsx
        # (a row simply ends); the reader pads to the widest row seen, so
        # compare with padding applied to the expected row too.
        padded = list(want_row) + [None] * (len(got_row) - len(want_row))
        for want, gv in zip(padded, got_row):
            if isinstance(want, float):
                assert isinstance(gv, float) and math.isclose(gv, want, rel_tol=0, abs_tol=0) or gv == want
            elif isinstance(want, str) and want == "":
                assert gv in ("", None)  # empty string cell == empty cell
            else:
                assert gv == want, (want, gv)


# ---------------------------------------------------------------------------
# inference lattice laws
# ---------------------------------------------------------------------------

_kind = st.sampled_from([None, "bool", "long", "double", "timestamp", "string"])


@given(a=_kind, b=_kind)
def test_merge_commutative(a, b):
    assert _merge(a, b) == _merge(b, a)


@given(a=_kind, b=_kind, c=_kind)
def test_merge_associative(a, b, c):
    assert _merge(_merge(a, b), c) == _merge(a, _merge(b, c))


@given(a=_kind)
def test_merge_idempotent(a):
    assert _merge(a, a) == a


@given(
    rows=st.lists(st.lists(_cell, min_size=2, max_size=2), min_size=1, max_size=10)
)
def test_inferred_kinds_are_stable_under_duplication(rows):
    # Scanning the data twice must infer the same schema (merge is a
    # semilattice, so re-folding the same values is a no-op).
    once = infer_column_kinds(rows, 2)
    twice = infer_column_kinds(rows + rows, 2)
    assert once == twice


@given(name=st.text(max_size=30))
def test_sanitize_identifier_is_valid_sql_and_idempotent(name):
    out = sanitize_identifier(name)
    import re

    assert re.fullmatch(r"[a-z_][a-z0-9_]*", out), out
    assert sanitize_identifier(out) == out


@given(headers=st.lists(st.one_of(st.none(), st.text(max_size=15)), max_size=8))
def test_sanitize_headers_unique(headers):
    out = sanitize_headers(headers)
    assert len(out) == len(headers)
    assert len(set(out)) == len(out)  # deduplicated


# ---------------------------------------------------------------------------
# Spark algebraic laws (few examples; each pays a Spark round)
# ---------------------------------------------------------------------------

_spark_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # group key (collisions likely)
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_spark_rows)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int")
    once = df.dropDuplicates(["k", "v"])
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, once.dropDuplicates(["k", "v"]).collect())
    )


@given(rows=_spark_rows, rows2=_spark_rows)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_union_all_count_additive(spark, rows, rows2):
    a = spark.createDataFrame(rows, "k int, v int")
    b = spark.createDataFrame(rows2, "k int, v int")
    assert a.unionAll(b).count() == a.count() + b.count()


@given(rows=_spark_rows)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_window_running_sum_matches_group_sum(spark, rows):
    # The last value of a per-group running sum equals the group total —
    # ties the §2.5 window frames to the §2.4 aggregates.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)], "k int, seq int, v int"
    )
    w = Window.partitionBy("k").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    running_last = (
        df.withColumn("rs", F.sum("v").over(w))
        .groupBy("k")
        .agg(F.max_by("rs", "seq").alias("total"))
    )
    direct = df.groupBy("k").agg(F.sum("v").alias("total"))
    assert sorted(map(tuple, running_last.collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---------------------------------------------------------------------------
# PNG codec: encode -> decode identity on arbitrary pixel arrays
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_encode_decode_identity(w, h, c, seed):
    """PNG round-trip is the identity for any 8-bit gray/RGB/RGBA array —
    every scanline filter participates (encode cycles them), arbitrary
    geometry, including 1-pixel edges where left/up neighbors vanish."""
    import numpy as np

    from xlsx_to_database_spark.operators.multimodal import PngCodec

    rng = np.random.Generator(np.random.Philox(seed))
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    out, pw, ph, pc, pf = PngCodec.decode(PngCodec.encode_pixels(px))
    assert (pw, ph, pc, pf) == (w, h, c, 1)
    assert np.array_equal(out.reshape(h, w, c), px)


# ---------------------------------------------------------------------------
# Distributed global order == naive global window (bucketed path, NULLs)
# ---------------------------------------------------------------------------


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # driving key (dup-heavy)
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
        ),
        min_size=1,
        max_size=60,
    ),
    n_buckets=st.integers(min_value=2, max_value=7),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_global_running_sums_law(spark, vals, n_buckets):
    """For ANY (key, nullable value) multiset and ANY bucket count, the
    bucketed running sums equal the single-partition window — including
    all-NULL prefixes, all-NULL buckets, and duplicate driving keys
    collapsing bucket boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.operators.global_order import (
        with_global_running_sums,
    )

    df = spark.createDataFrame(
        [(i, float(k), v) for i, (k, v) in enumerate(vals)],
        "id long, k double, v long",
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    naive = {
        r["id"]: r["cum"]
        for r in df.select(
            "id",
            F.sum("v")
            .over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("cum"),
        ).collect()
    }
    got = {
        r["id"]: r["cum"]
        for r in with_global_running_sums(
            df, order, "k", {"cum": "v"}, n_buckets=n_buckets
        ).collect()
    }
    assert got == naive


# ---------------------------------------------------------------------------
# Round-5 operator laws
# ---------------------------------------------------------------------------


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    tau=st.sampled_from([0.5, 0.7, 0.9]),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_containment_matches_brute_force_python(spark, docs, tau):
    """Blocked containment == the set-arithmetic definition, for random
    corpora and thresholds (incl. thresholds whose t*n products sit on
    float boundaries — the epsilon-guard territory)."""
    from xlsx_to_database_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(f"w{t}" for t in toks), "en") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, threshold=tau, shingle=3).collect()
    }
    sh = {
        i: {tuple(toks[j : j + 3]) for j in range(len(toks) - 2)}
        for i, toks in enumerate(docs)
    }
    want = {}
    for a, sa in sh.items():
        if not sa:
            continue
        for b, sb in sh.items():
            if a == b or not sb:
                continue
            c = round(len(sa & sb) / len(sa), 6)
            if c >= tau:
                want[(a, b)] = c
    assert got == want


@given(
    toks=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=80),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_split_reconstructs_document(spark, toks, tmp_path_factory):
    """Concatenating the NON-overlapped halves of consecutive chunks
    reconstructs the document exactly: chunk i contributes tokens
    [i*S, (i+1)*S) except the last chunk, which runs to the end."""
    import os

    from xlsx_to_database_spark.queries.corpus_ops import text_chunk_split

    d = str(tmp_path_factory.mktemp("cs"))
    text = " ".join(f"t{t}" for t in toks)
    spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    chunks = sorted(
        text_chunk_split(spark, d).collect(), key=lambda r: r.chunk_id
    )
    S = 16
    rebuilt = []
    for r in chunks[:-1]:
        rebuilt.extend(r.chunk.split(" ")[:S])
    rebuilt.extend(chunks[-1].chunk.split(" "))
    assert rebuilt == text.split(" ")
    # every chunk except the last spans a full stride
    for r in chunks[:-1]:
        assert r.n_tok >= S


# ---------------------------------------------------------------------------
# Fractional-rank law: 2·franks over any multiset are a permutation-invariant
# relabeling with mean exactly n+1 (so Spearman's centering is exact)
# ---------------------------------------------------------------------------


@given(
    values=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_frank2_matches_reference_ranks(spark, values):
    from xlsx_to_database_spark.queries.stats import _frank2

    df = spark.createDataFrame([(v,) for v in values], "x int")
    got = {r.x: int(r.r2) for r in _frank2(df, "x", "r2").collect()}
    # reference: 2*frank = 2*cnt_less + cnt_eq + 1
    import collections

    cnt = collections.Counter(values)
    for v, c in cnt.items():
        less = sum(k for x, k in cnt.items() if x < v)
        assert got[v] == 2 * less + c + 1
    # mean of 2*frank over the MULTISET is exactly n+1
    n = len(values)
    assert sum(got[v] * cnt[v] for v in cnt) == n * (n + 1)


# ---------------------------------------------------------------------------
# URL canonicalization is idempotent and case/tracking-invariant
# ---------------------------------------------------------------------------


@given(
    host=st.text(alphabet="abcDEF", min_size=1, max_size=8),
    path=st.lists(st.text(alphabet="abc123", min_size=1, max_size=5),
                  max_size=3),
    params=st.lists(
        st.tuples(st.text(alphabet="abxy", min_size=1, max_size=4),
                  st.text(alphabet="0189", min_size=1, max_size=3)),
        max_size=4, unique_by=lambda kv: kv[0],
    ),
    utm=st.booleans(),
    frag=st.booleans(),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_url_canonicalize_idempotent_and_invariant(spark, host, path, params, utm, frag):
    from pyspark.sql import functions as F

    from xlsx_to_database_spark.queries.corpus_ops import _canon_url

    q = "&".join(f"{k}={v}" for k, v in params)
    raw = f"HTTPS://{host}.Example.COM:443/" + "/".join(path)
    if q or utm:
        raw += "?" + "&".join(
            ([q] if q else []) + (["utm_source=x"] if utm else [])
        )
    if frag:
        raw += "#frag"
    df = spark.createDataFrame([(raw,)], "u string")
    c1 = df.select(_canon_url(F.col("u")).alias("c")).collect()[0].c
    # idempotent: canonicalizing the canonical form is a fixpoint
    df2 = spark.createDataFrame([(c1,)], "u string")
    c2 = df2.select(_canon_url(F.col("u")).alias("c")).collect()[0].c
    assert c1 == c2
    # invariants: lowercase host, no fragment/utm/port
    assert c1.startswith(f"https://{host.lower()}.example.com")
    assert "#" not in c1 and "utm_" not in c1 and ":443" not in c1
    # surviving params are sorted
    if "?" in c1:
        ps = c1.split("?", 1)[1].split("&")
        assert ps == sorted(ps)
