"""Independent cross-check of the winnowing fingerprint kernel.

Like the geo/zorder kernels, dedup_winnowing's k-gram hash arithmetic
is replicated VERBATIM in its DuckDB oracle, so oracle parity cannot
catch a defect in the kernel itself. This test reimplements the whole
pipeline — md5-prefix token hashes, the modular 3-gram combination,
window-of-4 minima, distinct fingerprints, pair overlap counts — in
plain Python over the real sf0.001 documents and requires the op's
output to match EXACTLY (every pair, every shared count).

It also asserts the winnowing guarantee on the reference: any window
of w=4 consecutive k-gram hashes contributes its minimum, so a shared
token run of >= k+w-1 = 6 tokens between two documents is CERTAIN to
share a fingerprint (checked constructively on a synthetic pair).
"""

from __future__ import annotations

import hashlib

import duckdb

from xlsx_to_database_spark.queries.llm_ops import (
    _WIN_C1,
    _WIN_C2,
    _WIN_M,
)

SF_DIR = "/root/testdata/sf0.001"


def _ref_fps(text: str) -> set[int]:
    # Mirrors F.split(lower(text), ' ') — single-space split, empty
    # tokens preserved, docs under 6 tokens excluded upstream.
    toks = text.lower().split(" ")
    if len(toks) < 6:
        return set()
    h = [
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks
    ]
    g = [
        (
            (h[j] % _WIN_M) * _WIN_C1 % _WIN_M
            + (h[j + 1] % _WIN_M) * _WIN_C2 % _WIN_M
            + (h[j + 2] % _WIN_M)
        )
        % _WIN_M
        for j in range(len(h) - 2)
    ]
    return {min(g[j:j + 4]) for j in range(len(g) - 3)}


def _ref_pairs(docs: dict[int, str]) -> dict[tuple[int, int], int]:
    fps = {d: _ref_fps(t) for d, t in docs.items()}
    ids = sorted(fps)
    out: dict[tuple[int, int], int] = {}
    for i, a in enumerate(ids):
        if not fps[a]:
            continue
        for b in ids[i + 1:]:
            shared = len(fps[a] & fps[b])
            if shared >= 3:
                out[(a, b)] = shared
    return out


def test_winnowing_op_matches_python_reimplementation(spark):
    from xlsx_to_database_spark.registry import all_queries

    docs = dict(
        duckdb.connect().execute(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    want = _ref_pairs(docs)
    got = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in all_queries()["dedup_winnowing"](spark, SF_DIR).collect()
    }
    assert got == want, (
        f"op != reference: only-op={sorted(set(got) - set(want))[:5]}, "
        f"only-ref={sorted(set(want) - set(got))[:5]}"
    )
    assert want, "vacuous check: reference found no pairs at sf0.001"


def test_winnowing_guarantee_shared_run_shares_fingerprint():
    # k=3, w=4: a shared run of k+w-1=6 tokens yields >= 1 shared
    # 3-gram window in both docs, hence a shared window-minimum.
    run = "alpha bravo charlie delta echo foxtrot"
    a = "one two three four five " + run + " six seven eight nine"
    b = "red green blue yellow " + run + " purple orange pink"
    assert _ref_fps(a) & _ref_fps(b), (
        "winnowing guarantee violated on a 6-token shared run"
    )
