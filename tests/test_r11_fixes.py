"""Round-11 regression tests: the ADVICE fixes.

1. ``native_hist_increase`` over the FLOAT-flavor decode frame
   (NATIVE_HIST_FLOAT_SCHEMA, array<double> counts) — the r10 negative
   path pinned array<bigint> (empty-array coalesce, default-elem
   downscale calls, the diff otherwise-casts), so increase/delta/
   irate/rate over float histograms failed plan resolution while
   sum_by (made type-generic in r10) worked.
2. An EMPTY negative side (the decoders emit offset 0 + [] when a
   histogram has no negative spans) adopts the other endpoint's
   offset for alignment instead of widening the span to
   [min(0, off), hi) with dense materialized zeros.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Row

T0 = datetime(2024, 1, 29, 0, 0)
T1 = datetime(2024, 1, 29, 0, 5)

FLOAT_NH = (
    "labels map<string,string>, ts timestamp, schema int, "
    "zero_count double, pos_offset int, pos_counts array<double>, "
    "neg_offset int, neg_counts array<double>"
)


def test_float_flavor_increase_resolves_and_matches(spark):
    """increase() over array<double> counts (wire FLOAT flavor) must
    resolve and produce the same aligned diff the integer path does."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=1.0,
            pos_offset=0, pos_counts=[2.0, 3.0],
            neg_offset=1, neg_counts=[4.0, 5.0]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=2.0,
            pos_offset=0, pos_counts=[3.0, 5.0],
            neg_offset=0, neg_counts=[7.0, 6.0, 8.0]),
    ]
    (r,) = native_hist_increase(
        spark.createDataFrame(rows, FLOAT_NH)).collect()
    assert r["reset"] is False
    assert list(r["pos_counts"]) == [1.0, 2.0]
    assert r["neg_offset"] == 0
    assert list(r["neg_counts"]) == [7.0, 2.0, 3.0]


def test_float_flavor_downscale_schema_change(spark):
    """The downscale fold's zero value follows the element type — a
    float frame with a mid-series schema change exercises it."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=1, zero_count=0.0,
            pos_offset=1, pos_counts=[2.0, 2.0],
            neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0.0,
            pos_offset=1, pos_counts=[6.0],
            neg_offset=0, neg_counts=[]),
    ]
    (r,) = native_hist_increase(
        spark.createDataFrame(rows, FLOAT_NH)).collect()
    # schema-1 buckets 1..2 fold into coarse bucket 1 (4.0 total);
    # increase at schema 0 = [6.0 - 4.0] = [2.0]
    assert r["schema"] == 0
    assert list(r["pos_counts"]) == [2.0]


def test_float_flavor_rate_delta_irate_idelta(spark):
    """The whole family that rides increase() must resolve over the
    float frame (ADVICE named increase/delta/irate/rate)."""
    from prom_etl_db_spark.operators import native_hist as NH

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0.0,
            pos_offset=0, pos_counts=[1.0, 2.0],
            neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0.0,
            pos_offset=0, pos_counts=[4.0, 6.0],
            neg_offset=0, neg_counts=[]),
    ]
    df = spark.createDataFrame(rows, FLOAT_NH)
    (rt,) = NH.native_hist_rate(df).collect()
    assert [round(x, 6) for x in rt["pos_rates"]] == [0.01, 0.013333]
    (d,) = NH.native_hist_delta(df).collect()
    assert list(d["pos_counts"]) == [3.0, 4.0]
    (ir,) = NH.native_hist_irate(df).collect()
    assert [round(x, 6) for x in ir["pos_rates"]] == [0.01, 0.013333]
    (idl,) = NH.native_hist_idelta(df).collect()
    assert list(idl["pos_counts"]) == [3.0, 4.0]


def test_empty_neg_side_adopts_other_offset(spark):
    """One endpoint with NO negative mass (offset 0 + []) against a
    far-offset other endpoint must NOT widen the aligned span to
    [0, hi) — the empty side adopts the other side's offset, so the
    output array covers only the occupied span."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[2],
            neg_offset=500, neg_counts=[3, 4]),
    ]
    schema = (
        "labels map<string,string>, ts timestamp, schema int, "
        "zero_count long, pos_offset int, pos_counts array<long>, "
        "neg_offset int, neg_counts array<long>"
    )
    (r,) = native_hist_increase(
        spark.createDataFrame(rows, schema)).collect()
    assert r["neg_offset"] == 500
    assert list(r["neg_counts"]) == [3, 4]
    # NULL neg side coalesces the same way
    rows_null = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1],
            neg_offset=None, neg_counts=None),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[2],
            neg_offset=500, neg_counts=[3, 4]),
    ]
    (r2,) = native_hist_increase(
        spark.createDataFrame(rows_null, schema)).collect()
    assert r2["neg_offset"] == 500
    assert list(r2["neg_counts"]) == [3, 4]


def test_increase_span_bomb_guard(spark):
    """r11: the endpoint diff refuses a union index span > 4096 (the
    sum_by dense-expansion bomb guard applied to increase) — two
    far-apart offsets from a buggy producer must not materialize a
    dense array spanning the gap."""
    import pytest as _pt

    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    schema = (
        "labels map<string,string>, ts timestamp, schema int, "
        "zero_count long, pos_offset int, pos_counts array<long>"
    )
    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=10_000, pos_counts=[2]),
    ]
    with _pt.raises(Exception, match="bomb guard"):
        native_hist_increase(
            spark.createDataFrame(rows, schema)).collect()
    # a legal far-but-bounded span still evaluates (growth across a
    # wide occupied range — no drop, no reset)
    ok = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1] + [0] * 99 + [2]),
    ]
    (r,) = native_hist_increase(
        spark.createDataFrame(ok, schema)).collect()
    assert r["reset"] is False
    assert len(r["pos_counts"]) == 101 and r["pos_counts"][100] == 2
