"""Round-10: negative-bucket support in ``native_hist_increase`` /
``native_hist_rate`` (the r9 verdict's weak finding — the endpoint
snapshot was positive-side-only, silently dropping the negative mass
the wire decoders emit and missing resets visible only there)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row


def _nh_df(spark, rows, with_neg=True):
    schema = (
        "labels map<string,string>, ts timestamp, schema int, "
        "zero_count long, pos_offset int, pos_counts array<long>"
    )
    if with_neg:
        schema += ", neg_offset int, neg_counts array<long>"
    return spark.createDataFrame(rows, schema)


T0 = datetime(2024, 1, 29, 0, 0)
T1 = datetime(2024, 1, 29, 0, 5)


def test_neg_increase_aligned_diff(spark):
    """Growth on both sides: the increase is the aligned diff on BOTH
    sides, including a neg offset shift (absent buckets count 0)."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=1,
            pos_offset=0, pos_counts=[2, 3],
            neg_offset=1, neg_counts=[4, 5]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=2,
            pos_offset=0, pos_counts=[3, 5],
            neg_offset=0, neg_counts=[7, 6, 8]),  # grew a lower bucket
    ]
    (r,) = native_hist_increase(_nh_df(spark, rows)).collect()
    assert r["reset"] is False
    assert r["zero_count"] == 1
    assert list(r["pos_counts"]) == [1, 2] and r["pos_offset"] == 0
    # neg aligned on [0, 3): b=[7,6,8] at 0, a=[4,5] at 1 → [7,2,3]
    assert r["neg_offset"] == 0
    assert list(r["neg_counts"]) == [7, 2, 3]


def test_neg_only_reset_detected(spark):
    """A drop visible ONLY in the negative buckets (pos grows, zero
    holds) is a counter reset: increase = the LAST sample verbatim on
    both sides. Pre-r10 this went undetected."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=1,
            pos_offset=0, pos_counts=[2, 3],
            neg_offset=0, neg_counts=[4, 5]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=1,
            pos_offset=0, pos_counts=[3, 4],     # grows
            neg_offset=0, neg_counts=[1, 1]),    # drops → reset
    ]
    (r,) = native_hist_increase(_nh_df(spark, rows)).collect()
    assert r["reset"] is True
    assert list(r["pos_counts"]) == [3, 4]
    assert list(r["neg_counts"]) == [1, 1]
    assert r["zero_count"] == 1


def test_neg_increase_downscales_with_schema_change(spark):
    """A mid-series schema change downscales BOTH sides to the coarser
    schema before subtracting (fine bucket i folds into ⌈i/2^d⌉)."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        # schema 1 (fine): neg buckets at indices 1..2
        Row(labels={"n": "s"}, ts=T0, schema=1, zero_count=0,
            pos_offset=1, pos_counts=[2, 2],
            neg_offset=1, neg_counts=[3, 3]),
        # schema 0 (coarse): same absolute coverage, bigger counts
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=1, pos_counts=[10],
            neg_offset=1, neg_counts=[9]),
    ]
    (r,) = native_hist_increase(_nh_df(spark, rows)).collect()
    assert r["schema"] == 0 and r["reset"] is False
    # fine [2,2]@1 folds into coarse index 1 (⌈1/2⌉=⌈2/2⌉=1) → 4
    assert r["pos_offset"] == 1 and list(r["pos_counts"]) == [6]
    assert r["neg_offset"] == 1 and list(r["neg_counts"]) == [3]


def test_neg_increase_null_neg_arrays_read_as_empty(spark):
    """Rows decoded from sources without a negative side may carry
    NULL neg arrays — they read as empty (count 0), not NULL-poison."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1],
            neg_offset=None, neg_counts=None),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[2],
            neg_offset=0, neg_counts=[5]),
    ]
    (r,) = native_hist_increase(_nh_df(spark, rows)).collect()
    assert r["reset"] is False
    assert list(r["neg_counts"]) == [5]


def test_pos_only_input_schema_unchanged(spark):
    """A frame WITHOUT neg columns keeps the r9 output schema exactly
    (existing call sites select pos-only columns first)."""
    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[2]),
    ]
    out = native_hist_increase(_nh_df(spark, rows, with_neg=False))
    assert out.columns == [
        "labels", "schema", "reset", "zero_count",
        "pos_offset", "pos_counts", "dt_seconds",
    ]


def test_rate_carries_neg_rates(spark):
    """native_hist_rate propagates the negative side as per-second
    ``neg_rates`` when the input carries it."""
    from prom_etl_db_spark.operators.native_hist import native_hist_rate

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[2],
            neg_offset=0, neg_counts=[3]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=0,
            pos_offset=0, pos_counts=[5],
            neg_offset=0, neg_counts=[9]),
    ]
    (r,) = native_hist_rate(_nh_df(spark, rows)).collect()
    assert r["pos_rates"][0] == pytest.approx(3 / 300)
    assert r["neg_rates"][0] == pytest.approx(6 / 300)


def test_increase_range_grid_windows(spark):
    """The grid form: per instant, the endpoint increase over
    [t-frame, t] inclusive; single-sample windows drop."""
    from datetime import datetime

    from prom_etl_db_spark.operators.native_hist import (
        native_hist_increase_range,
    )

    t = lambda m: datetime(2024, 1, 29, 0, m)  # noqa: E731
    rows = [
        Row(labels={"n": "s"}, ts=t(0), schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1, 1],
            neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=t(5), schema=0, zero_count=1,
            pos_offset=0, pos_counts=[3, 2],
            neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=t(10), schema=0, zero_count=1,
            pos_offset=0, pos_counts=[4, 6],
            neg_offset=0, neg_counts=[]),
    ]
    df = _nh_df(spark, rows)
    out = native_hist_increase_range(
        df, frame="10m", step="5m", start=t(5), end=t(15))
    got = {r["bucket_start"].minute: (list(r["pos_counts"]),
                                      r["zero_count"])
           for r in out.collect()}
    # t=:05 covers samples @0,@5 → [2,1]; t=:10 covers @0..@10 → [3,5];
    # t=:15 covers @5,@10 → [1,4]
    assert got == {5: ([2, 1], 1), 10: ([3, 5], 1), 15: ([1, 4], 0)}
    # a grid whose every window holds <2 samples yields nothing
    out2 = native_hist_increase_range(
        df, frame="2m", step="5m", start=t(5), end=t(15))
    assert out2.count() == 0


def test_rate_range_divides_per_instant(spark):
    from datetime import datetime

    from prom_etl_db_spark.operators.native_hist import (
        native_hist_rate_range,
    )

    t = lambda m: datetime(2024, 1, 29, 0, m)  # noqa: E731
    rows = [
        Row(labels={"n": "s"}, ts=t(0), schema=0, zero_count=0,
            pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=t(5), schema=0, zero_count=0,
            pos_offset=0, pos_counts=[4], neg_offset=0, neg_counts=[]),
        Row(labels={"n": "s"}, ts=t(10), schema=0, zero_count=0,
            pos_offset=0, pos_counts=[6], neg_offset=0, neg_counts=[]),
    ]
    out = native_hist_rate_range(
        _nh_df(spark, rows), frame="10m", step="5m",
        start=t(5), end=t(10))
    got = {r["bucket_start"].minute: r["pos_rates"][0]
           for r in out.collect()}
    # t=:05 → inc 3 over 300 s; t=:10 → inc 5 over 600 s
    assert got[5] == pytest.approx(3 / 300)
    assert got[10] == pytest.approx(5 / 600)


def test_native_hist_delta_no_reset_rule(spark):
    """Gauge delta: a dropping bucket is a NEGATIVE diff, never a
    reset-verbatim snapshot."""
    from prom_etl_db_spark.operators.native_hist import native_hist_delta

    rows = [
        Row(labels={"n": "s"}, ts=T0, schema=0, zero_count=3,
            pos_offset=0, pos_counts=[5, 2],
            neg_offset=0, neg_counts=[4]),
        Row(labels={"n": "s"}, ts=T1, schema=0, zero_count=1,
            pos_offset=0, pos_counts=[2, 6],
            neg_offset=0, neg_counts=[1]),
    ]
    (r,) = native_hist_delta(_nh_df(spark, rows)).collect()
    assert r["reset"] is False
    assert r["zero_count"] == -2
    assert list(r["pos_counts"]) == [-3, 4]
    assert list(r["neg_counts"]) == [-3]
