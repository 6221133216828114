"""Round-10 property tests for the native-histogram merge primitives.

The Python twins (`_py_nh_downscale` / `_py_nh_align_add` — the
streaming folds' driver-side algebra, pinned equal to the Column forms
by the r9 restart tests and the differential below) carry the
hypothesis load at full example counts; one batched Spark differential
pins the SQL-template forms against them over seeded-random and edge
cases in a single job (per-example Spark jobs would be prohibitively
slow)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prom_etl_db_spark.streaming.stateful import (
    _py_nh_align_add,
    _py_nh_downscale,
)

counts_st = st.lists(st.integers(min_value=0, max_value=1000),
                     min_size=0, max_size=12)
offset_st = st.integers(min_value=-20, max_value=20)


@given(offset_st, counts_st, st.integers(min_value=0, max_value=6))
@settings(max_examples=200, deadline=None)
def test_downscale_conserves_mass_and_brute_force(offset, counts, d):
    """Downscaling never creates or loses observations, and every fine
    bucket i lands in coarse ⌈i/2^d⌉ — checked against a brute-force
    dict accumulation."""
    o2, c2 = _py_nh_downscale(offset, counts, d)
    assert sum(c2) == sum(counts)
    brute: dict[int, int] = {}
    m = 1 << d
    for k, c in enumerate(counts):
        j = -(-(offset + k) // m)  # ceil division
        brute[j] = brute.get(j, 0) + c
    for j, c in enumerate(c2):
        assert brute.get(o2 + j, 0) == c
    assert sum(brute.values()) == sum(c2)


@given(offset_st, counts_st,
       st.integers(min_value=0, max_value=3),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=200, deadline=None)
def test_downscale_composes(offset, counts, d1, d2):
    """downscale(d1) ∘ downscale(d2) == downscale(d1+d2) — the rule
    that makes the min-schema group merge order-independent."""
    o_a, c_a = _py_nh_downscale(*_py_nh_downscale(offset, counts, d1), d2)
    o_b, c_b = _py_nh_downscale(offset, counts, d1 + d2)
    # normalize: strip leading/trailing zero runs (representations may
    # differ in span when counts are empty-ish)
    def norm(o, c):
        while c and c[0] == 0:
            o, c = o + 1, c[1:]
        while c and c[-1] == 0:
            c = c[:-1]
        return (o, c) if c else (None, [])
    assert norm(o_a, c_a) == norm(o_b, c_b)


@given(offset_st, counts_st, offset_st, counts_st)
@settings(max_examples=200, deadline=None)
def test_align_add_commutes_and_conserves(o1, c1, o2, c2):
    oa, ca = _py_nh_align_add(o1, c1, o2, c2)
    ob, cb = _py_nh_align_add(o2, c2, o1, c1)
    assert sum(ca) == sum(c1) + sum(c2)
    # commutative up to the empty-side offset convention
    if c1 and c2:
        assert (oa, ca) == (ob, cb)
    # every absolute index holds the sum of both sides' values there
    for j, c in enumerate(ca):
        i = oa + j
        a = c1[i - o1] if 0 <= i - o1 < len(c1) else 0
        b = c2[i - o2] if 0 <= i - o2 < len(c2) else 0
        assert c == a + b


def test_sql_templates_match_python_twins(spark):
    """Batched differential: seeded-random cases plus the edge rows —
    every d in 0..6 over negative offsets, empty arrays, and a
    4,096-bucket row (the decoder's guard) — through the SQL-template
    `_nh_downscale` / `_nh_align_add` in ONE Spark job, compared
    against the Python twins row by row."""
    from prom_etl_db_spark.operators.native_hist import (
        _nh_align_add,
        _nh_downscale,
    )

    rng = np.random.RandomState(7)
    rows = []
    for i in range(60):
        n1, n2 = rng.randint(0, 9), rng.randint(0, 9)
        rows.append((
            i,
            int(rng.randint(-15, 15)),
            [int(x) for x in rng.randint(0, 50, n1)],
            int(rng.randint(-15, 15)),
            [int(x) for x in rng.randint(0, 50, n2)],
            int(rng.randint(0, 5)),
        ))
    for d in range(7):
        for off in (-37, -8, -1, 0, 5):
            rows.append((len(rows), off,
                         [int(x) for x in rng.randint(0, 50, 11)],
                         -off, [], d))
        rows.append((len(rows), -3, [], 4, [1, 2], d))
    big = [int(x) for x in rng.randint(0, 1000, 4096)]
    for d in (1, 6):
        rows.append((len(rows), -2049, big, 7, big[:5], d))
    df = spark.createDataFrame(
        rows, "i int, o1 int, c1 array<bigint>, o2 int, "
              "c2 array<bigint>, d int")
    do, dc = _nh_downscale("o1", "c1", "d")
    ao, ac = _nh_align_add("o1", "c1", "o2", "c2")
    got = {
        r["i"]: r for r in df.selectExpr(
            "i", f"{do} AS do", f"{dc} AS dc",
            f"{ao} AS ao", f"{ac} AS ac").collect()
    }
    for i, o1, c1, o2, c2, d in rows:
        r = got[i]
        assert (r["do"], list(r["dc"])) == _py_nh_downscale(o1, c1, d), \
            f"case {i}"
        qo, qc = _py_nh_align_add(o1, c1, o2, c2)
        assert list(r["ac"] or []) == qc, f"case {i}"
        if qc:
            assert r["ao"] == qo, f"case {i}"
