"""Round-13 Spark-side regression pins: the suffix-array dense-rank
partitioner rework (deterministic pair buckets; ADVICE r12 hazards)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prom_etl_db_spark.functions.suffix import (
    _dense_rank,
    _dense_rank_pairs,
    suffix_array_with_lcp,
)


def _brute_rank(rows):
    """(key -> 0-based dense rank) from plain Python."""
    keys = sorted(set(rows))
    return {k: i for i, k in enumerate(keys)}


def _pair_frame(spark, n, m, seed):
    import random

    rng = random.Random(seed)
    rows = [(i, rng.randrange(m), rng.randrange(-1, m)) for i in range(n)]
    df = spark.createDataFrame(rows, "gpos long, r1 long, r2 long")
    return df, rows


@pytest.mark.parametrize("n,m,seed", [(500, 7, 1), (2000, 97, 2), (300, 1, 3)])
def test_dense_rank_pairs_matches_bruteforce(spark, n, m, seed):
    df, rows = _pair_frame(spark, n, m, seed)
    want = _brute_rank([(r1, r2) for _, r1, r2 in rows])
    got = {r["gpos"]: r["rank"] for r in _dense_rank_pairs(df, m).collect()}
    for gpos, r1, r2 in rows:
        assert got[gpos] == want[(r1, r2)], (gpos, r1, r2)


def test_dense_rank_pairs_matches_range_form(spark):
    df, _ = _pair_frame(spark, 3000, 211, 7)
    a = {r["gpos"]: r["rank"]
         for r in _dense_rank_pairs(df, 211).collect()}
    b = {r["gpos"]: r["rank"] for r in _dense_rank(df, ["r1", "r2"]).collect()}
    assert a == b


def test_dense_rank_correct_with_exchange_reuse_disabled(spark):
    """ADVICE r12: the range-form _dense_rank's rank branch and offsets
    branch must agree on partition boundaries even when the physical
    exchange is NOT shared (range sampling is seeded per upstream
    partition, so identical inputs give identical boundaries)."""
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df, rows = _pair_frame(spark, 2000, 53, 11)
        want = _brute_rank([(r1, r2) for _, r1, r2 in rows])
        got = {r["gpos"]: r["rank"]
               for r in _dense_rank(df, ["r1", "r2"]).collect()}
        for gpos, r1, r2 in rows:
            assert got[gpos] == want[(r1, r2)]
        # the array-key (round-0) path, same conf
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{(i * j) % 5}" for j in range(6)))
             for i in range(40)],
            "doc_id long, text string",
        )
        sa = suffix_array_with_lcp(docs).collect()
        assert len({r["sa_rank"] for r in sa}) == len(sa)  # a permutation
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


def test_sa_lcp_bruteforce_with_new_partitioner(spark):
    """End-to-end SA + LCP differential against a brute-force suffix
    sort on a corpus with ties deeper than SA_INIT_SPAN (forces the
    doubling rounds through _dense_rank_pairs)."""
    texts = [
        # 20-token repeat -> ties deeper than SA_INIT_SPAN=16
        "a b c d e f g h i j k l m n o p q r s t "
        "a b c d e f g h i j k l m n o p q r s t u",
        "a b c d e f g h i j k l m n o p q r s t x y z",
        "z " * 40,                                      # deep self-ties
        "",
        "q",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted(
        (r["sa_rank"], r["gpos"], r["lcp_prev"])
        for r in suffix_array_with_lcp(docs).collect()
    )

    # brute force over the same token stream (sentinel per doc)
    stream = []
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        toks.append("\x02" + str(i))
        stream.extend(toks)
    n = len(stream)
    suffixes = sorted(range(n), key=lambda p: stream[p:])
    want = []
    for rank, p in enumerate(suffixes):
        if rank == 0:
            lcp = 0
        else:
            q = suffixes[rank - 1]
            lcp = 0
            while (p + lcp < n and q + lcp < n
                   and stream[p + lcp] == stream[q + lcp]):
                lcp += 1
        want.append((rank, p, lcp))
    assert got == want


# ---------------------------------------------------------------------------
# native_hist_sum_by group_stats="join" (the 100 TB low-cardinality-window
# skew shape, VERDICT r12 task #3) must be result-identical to the default
# window shape, refusals included.
# ---------------------------------------------------------------------------

import pytest as _pytest

from prom_etl_db_spark.functions import remote_write as RW
from prom_etl_db_spark.operators import native_hist as NH


def _nh_df(spark, rows):
    base = {
        "metric_name": "m", "labels": {}, "timestamp_ms": 0,
        "count": 0, "sum": None, "schema": 0, "zero_threshold": 0.001,
        "zero_count": 0, "pos_offset": 0, "pos_counts": [],
        "neg_offset": 0, "neg_counts": [], "custom_values": [],
    }
    return spark.createDataFrame(
        [dict(base, **r) for r in rows], schema=RW.NATIVE_HIST_SCHEMA)


def test_sum_by_join_stats_matches_window(spark):
    rows = []
    for g in range(3):
        for i in range(8):
            rows.append({
                "metric_name": f"m{g}",
                "count": 10 + i, "sum": float(i), "schema": (i % 3),
                "zero_count": i % 2,
                "pos_offset": (i % 4) - 1, "pos_counts": [2, 1 + i, 3],
                "neg_offset": i % 2, "neg_counts": [1, i],
            })
    # one NHCB-only group (same custom_values throughout)
    for i in range(4):
        rows.append({
            "metric_name": "nhcb", "schema": -53, "count": 5 + i,
            "zero_threshold": 0.0,
            "pos_offset": 0, "pos_counts": [1, i], "custom_values": [0.5, 2.0],
        })
    df = _nh_df(spark, rows)

    def canon(frame):
        return sorted(
            (r["metric_name"], r["schema"], r["zero_threshold"],
             r["zero_count"], r["count"], r["sum"],
             r["pos_offset"], tuple(r["pos_counts"]),
             r["neg_offset"], tuple(r["neg_counts"]),
             tuple(r["custom_values"]), r["n_series"])
            for r in frame.collect())

    w = canon(NH.native_hist_sum_by(df, ("metric_name",)))
    j = canon(NH.native_hist_sum_by(df, ("metric_name",),
                                    group_stats="join"))
    assert w == j and len(w) == 4


def test_sum_by_join_stats_refusals_match_window(spark):
    cases = [
        ([{"metric_name": "m", "count": 1, "schema": -53,
           "pos_offset": 0, "pos_counts": [1], "custom_values": [0.5]},
          {"metric_name": "m", "count": 1, "schema": 1,
           "pos_offset": 0, "pos_counts": [1]}], "bucket families"),
        ([{"metric_name": "m", "count": 1, "schema": -53,
           "pos_offset": 0, "pos_counts": [1], "custom_values": [0.5]},
          {"metric_name": "m", "count": 1, "schema": -53,
           "pos_offset": 0, "pos_counts": [1], "custom_values": [0.75]}],
         "custom_values differ"),
        ([{"metric_name": "m", "count": 1, "schema": 1,
           "zero_threshold": 0.001, "pos_offset": 0, "pos_counts": [1]},
          {"metric_name": "m", "count": 1, "schema": 1,
           "zero_threshold": 0.01, "pos_offset": 0, "pos_counts": [1]}],
         "zero_threshold differs"),
    ]
    for rows, msg in cases:
        df = _nh_df(spark, rows)
        for gs in ("window", "join"):
            with _pytest.raises(Exception, match=msg):
                NH.native_hist_sum_by(
                    df, ("metric_name",), group_stats=gs).collect()


def test_sum_by_pinned_rows_both_group_stats(spark):
    """The fused side pipeline's output, pinned: both group_stats
    shapes give the same five rows across mixed schemas, an entirely
    empty neg side (m2), an NHCB group, and NULL sums."""
    rows = []
    for g in range(4):
        for i in range(6):
            rows.append({
                "metric_name": f"m{g}", "count": 10 + i, "sum": float(i),
                "schema": i % 3, "zero_count": i % 2,
                "pos_offset": (i % 4) - 1, "pos_counts": [2, 1 + i, 3],
                "neg_offset": i % 2,
                # one group with an ENTIRELY empty neg side
                "neg_counts": [] if g == 2 else [1, i],
            })
    for i in range(3):
        rows.append({
            "metric_name": "nhcb", "schema": -53, "count": 5 + i,
            "zero_threshold": 0.0, "pos_offset": 0, "pos_counts": [1, i],
            "custom_values": [0.5, 2.0],
        })
    df = _nh_df(spark, rows)

    def canon(frame):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in frame.collect())

    exp_row = (0, 0.001, 3, 75, 15.0, -1, (2, 12, 28, 2, 4, 3), 0)
    want = [
        ("m0", *exp_row, (3, 15, 3), (), 6),
        ("m1", *exp_row, (3, 15, 3), (), 6),
        ("m2", *exp_row, (), (), 6),
        ("m3", *exp_row, (3, 15, 3), (), 6),
        ("nhcb", -53, 0.0, 0, 18, None, 0, (3, 3), 0, (), (0.5, 2.0), 3),
    ]
    for gs in ("window", "join"):
        assert canon(NH.native_hist_sum_by(
            df, ("metric_name",), group_stats=gs)) == want, gs
