"""PromQL combinator tests against hand-computed values (SURVEY.md §2.B).

Small fixed fixtures where every expected number is computable by eye —
the per-operator unit layer under the sf0.01 DuckDB oracle gate.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from prom_etl_db_spark.operators.promql import (
    bool_cmp,
    gapfill_locf,
    instant_selector,
    max_without,
    resample,
    sum_by,
    sum_over_time,
)
from prom_etl_db_spark.schema import METRICS_SCHEMA

T0 = datetime(2024, 3, 15, 12, 0, 0)


def _samples(spark, rows):
    """rows: (labels, value, ts_offset_seconds)"""
    data = [
        ("q", "m", labels, float(v), T0 + timedelta(seconds=off), "instant", T0)
        for labels, v, off in rows
    ]
    return spark.createDataFrame(data, METRICS_SCHEMA)


def test_instant_selector_staleness_and_latest_wins(spark):
    df = _samples(
        spark,
        [
            ({"host": "a"}, 1, -600),  # 10 min old → outside 5m staleness
            ({"host": "a"}, 2, -120),
            ({"host": "a"}, 3, -60),  # latest in window → wins
            ({"host": "b"}, 9, -240),
            ({"host": "c"}, 5, 30),  # after eval time → excluded
        ],
    )
    out = instant_selector(df, "m", at=T0)
    got = {r["labels"]["host"]: r["value"] for r in out.collect()}
    assert got == {"a": 3.0, "b": 9.0}


def test_instant_selector_label_filter_pushdown(spark):
    df = _samples(spark, [({"host": "a"}, 1, -60), ({"host": "b"}, 2, -60)])
    out = instant_selector(df, "m", at=T0, label_filters={"host": "b"})
    assert [r["value"] for r in out.collect()] == [2.0]


def test_sum_by_regroups_label_subsets(spark):
    df = _samples(
        spark,
        [
            ({"job": "x", "host": "a"}, 1, 0),
            ({"job": "x", "host": "b"}, 2, 0),
            ({"job": "y", "host": "a"}, 10, 0),
        ],
    )
    out = sum_by(df, ["job"])
    got = {r["labels"]["job"]: r["value"] for r in out.collect()}
    assert got == {"x": 3.0, "y": 10.0}
    # grouped labels carry ONLY the by-keys (PromQL `by` projection)
    assert all(set(r["labels"].keys()) == {"job"} for r in out.collect())


def test_sum_by_empty_collapses_all(spark):
    df = _samples(spark, [({"a": "1"}, 1, 0), ({"a": "2"}, 2, 0)])
    out = sum_by(df, [])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["value"] == 3.0


def test_max_without_drops_and_collapses(spark):
    df = _samples(
        spark,
        [
            ({"pod": "p1", "node": "n1"}, 4, 0),
            ({"pod": "p2", "node": "n1"}, 7, 0),  # same node after dropping pod
            ({"pod": "p1", "node": "n2"}, 5, 0),
        ],
    )
    out = max_without(df, ["pod"])
    got = {r["labels"]["node"]: r["value"] for r in out.collect()}
    assert got == {"n1": 7.0, "n2": 5.0}


def test_bool_cmp_is_arithmetic_not_filter(spark):
    df = _samples(spark, [({"h": "a"}, 999999, 0), ({"h": "b"}, 3, 0)])
    out = bool_cmp(df, "!=", 999999)
    got = {r["labels"]["h"]: r["value"] for r in out.collect()}
    assert got == {"a": 0.0, "b": 1.0}  # rows kept, values 0/1


def test_resample_last_point_per_step_wins(spark):
    df = _samples(
        spark,
        [
            ({"h": "a"}, 1, 0),
            ({"h": "a"}, 2, 30),  # same 1-minute bucket → last wins
            ({"h": "a"}, 5, 60),
        ],
    )
    out = resample(df, "1 minute")
    got = sorted((r["bucket_start"], r["value"]) for r in out.collect())
    assert got == [(T0, 2.0), (T0 + timedelta(minutes=1), 5.0)]


def test_sum_over_time_frame(spark):
    df = _samples(
        spark,
        [
            ({"h": "a"}, 1, 0),
            ({"h": "a"}, 2, 60),
            ({"h": "a"}, 4, 120),  # outside frame end → excluded
            ({"h": "b"}, 10, 0),
        ],
    )
    out = sum_over_time(
        resample(df, "1 minute"),
        frame_start=T0,
        frame_end=T0 + timedelta(minutes=2),
    )
    got = {r["labels"]["h"]: r["value"] for r in out.collect()}
    assert got == {"a": 3.0, "b": 10.0}


def test_gapfill_locf_fills_interior_gaps(spark):
    df = _samples(
        spark,
        [({"h": "a"}, 1, 0), ({"h": "a"}, 7, 180)],  # minutes 1,2 missing
    )
    out = gapfill_locf(resample(df, "1 minute"), "1 minute")
    vals = [
        r["value"]
        for r in out.orderBy("bucket_start").collect()
    ]
    assert vals == [1.0, 1.0, 1.0, 7.0]  # carried forward across the gap


def test_flagship_composition_small(spark):
    """The full flagship pipeline (B3→B6→B5→B2→B7) on a 2-series fixture:
    max without(pod) (m != bool 999999)[frame:1m] → sum_over_time → sum by
    (node) → *60/3600 (migrate.sql:105)."""
    from pyspark.sql import functions as F

    df = _samples(
        spark,
        [
            # node n1: two pods; sentinel 999999 on one pod at min 0
            ({"node": "n1", "pod": "p1"}, 999999, 0),
            ({"node": "n1", "pod": "p2"}, 50, 0),
            ({"node": "n1", "pod": "p1"}, 60, 60),
        ],
    )
    flagged = bool_cmp(df, "!=", 999999)
    collapsed = max_without(flagged, ["pod"], extra_keys=("timestamp",))
    # per-minute: min0 max(0,1)=1, min1 max(1)=1 → sum_over_time = 2
    stepped = resample(collapsed, "1 minute")
    total = sum_over_time(stepped)
    out = sum_by(total, ["node"]).withColumn("value", F.col("value") * 60 / 3600)
    got = {r["labels"]["node"]: r["value"] for r in out.collect()}
    assert got == {"n1": pytest.approx(2 * 60 / 3600)}


def test_increase_with_counter_reset(spark):
    from prom_etl_db_spark.operators.promql import increase, rate

    # counter: 10 → 25 → 3 (reset!) → 8. increase = 15 + 3 + 5 = 23.
    df = _samples(
        spark,
        [
            ({"job": "x"}, 10, 0),
            ({"job": "x"}, 25, 60),
            ({"job": "x"}, 3, 120),
            ({"job": "x"}, 8, 180),
            ({"job": "y"}, 100, 0),  # single sample → increase 0
        ],
    )
    out = increase(df, frame_start=T0, frame_end=T0 + timedelta(seconds=300))
    got = {r["labels"]["job"]: r["value"] for r in out.collect()}
    assert got == {"x": 23.0, "y": 0.0}

    # rate = increase / frame seconds
    r = rate(df, frame_start=T0, frame_end=T0 + timedelta(seconds=300))
    got = {row["labels"]["job"]: row["value"] for row in r.collect()}
    assert got["x"] == pytest.approx(23.0 / 300)


def test_increase_frame_bounds_are_half_open(spark):
    from prom_etl_db_spark.operators.promql import increase

    df = _samples(spark, [({"j": "a"}, 1, 0), ({"j": "a"}, 5, 60), ({"j": "a"}, 9, 120)])
    # frame [T0, T0+120) excludes the third sample
    out = increase(df, frame_start=T0, frame_end=T0 + timedelta(seconds=120))
    assert out.first()["value"] == 4.0


def test_avg_max_count_over_time(spark):
    from prom_etl_db_spark.operators.promql import (
        avg_over_time,
        count_over_time,
        max_over_time,
        min_over_time,
    )

    df = _samples(
        spark,
        [({"h": "a"}, 2, 0), ({"h": "a"}, 4, 3600), ({"h": "a"}, 9, 7200)],
    )
    stepped = resample(df, "1 hour")
    assert avg_over_time(stepped).first()["value"] == 5.0
    assert max_over_time(stepped).first()["value"] == 9.0
    assert min_over_time(stepped).first()["value"] == 2.0
    assert count_over_time(stepped).first()["value"] == 3.0


def test_sliding_over_time_window(spark):
    from prom_etl_db_spark.operators.promql import sliding_over_time

    # hourly samples 1,2,3,4 — sliding 2h sum = [1, 3, 5, 7]
    df = _samples(
        spark,
        [({"h": "a"}, v, i * 3600) for i, v in enumerate([1, 2, 3, 4])],
    )
    stepped = resample(df, "1 hour")
    from pyspark.sql import functions as F
    out = sliding_over_time(stepped, F.sum("value"), "2h")
    vals = [r["value"] for r in out.orderBy("bucket_start").collect()]
    assert vals == [1.0, 3.0, 5.0, 7.0]
    with pytest.raises(ValueError):
        sliding_over_time(stepped, F.sum("value"), "500ms")


def test_vector_binop_matching(spark):
    from prom_etl_db_spark.operators.promql import vector_binop

    a = _samples(spark, [({"job": "x", "inst": "1"}, 10, 0), ({"job": "y", "inst": "2"}, 6, 0)])
    b = _samples(spark, [({"job": "x", "inst": "1"}, 2, 0), ({"job": "z", "inst": "3"}, 7, 0)])
    # full-label match: only job=x pairs up
    out = vector_binop(a, b, "/")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["value"] == 5.0
    assert rows[0]["labels"] == {"job": "x", "inst": "1"}

    # on(job): match by job only, result labels = {job}
    out = vector_binop(a, b, "-", on=["job"])
    assert {(r["labels"]["job"], r["value"]) for r in out.collect()} == {("x", 8.0)}

    # ignoring(inst): same match set as on(job) here
    out = vector_binop(a, b, "+", ignoring=["inst"])
    assert [r["value"] for r in out.collect()] == [12.0]

    with pytest.raises(ValueError):
        vector_binop(a, b, "**")
    with pytest.raises(ValueError):
        vector_binop(a, b, "/", on=["job"], ignoring=["inst"])


# -- extended function surface ---------------------------------------------


def test_label_replace_full_match_and_backref(spark):
    from prom_etl_db_spark.operators.promql import label_replace

    df = _samples(spark, [({"k": "69"}, 1, 0), ({"k": "x"}, 2, 0)])
    out = label_replace(df, "dec", "d$1", "k", r"(\d)\d*")
    got = {r["value"]: dict(r["labels"]) for r in out.collect()}
    assert got[1.0] == {"k": "69", "dec": "d6"}
    assert got[2.0] == {"k": "x"}  # regex must match ENTIRE value → unchanged


def test_label_replace_empty_expansion_removes_dst(spark):
    from prom_etl_db_spark.operators.promql import label_replace

    df = _samples(spark, [({"k": "a", "dec": "stale"}, 1, 0)])
    out = label_replace(df, "dec", "", "k", r"a")
    assert dict(out.collect()[0]["labels"]) == {"k": "a"}


def test_label_join_missing_sources_contribute_empty(spark):
    from prom_etl_db_spark.operators.promql import label_join

    df = _samples(spark, [({"a": "x", "b": "y"}, 1, 0), ({"a": "only"}, 2, 0)])
    out = label_join(df, "j", "-", ["a", "b"])
    got = {r["value"]: r["labels"]["j"] for r in out.collect()}
    assert got == {1.0: "x-y", 2.0: "only-"}


def test_count_values_counts_per_distinct_value(spark):
    from prom_etl_db_spark.operators.promql import count_values

    df = _samples(
        spark,
        [({"h": "a"}, 5, 0), ({"h": "a"}, 5, 1), ({"h": "a"}, 7, 2), ({"h": "b"}, 5, 3)],
    )
    out = count_values(df, "v")
    got = {(r["labels"]["h"], r["labels"]["v"]): r["value"] for r in out.collect()}
    # integer-valued doubles drop the trailing .0, PromQL-repr style
    assert got == {("a", "5"): 2.0, ("a", "7"): 1.0, ("b", "5"): 1.0}


def test_delta_last_minus_first(spark):
    from prom_etl_db_spark.operators.promql import delta

    df = _samples(spark, [({"h": "a"}, 10, 0), ({"h": "a"}, 4, 60), ({"h": "a"}, 7, 120)])
    out = delta(df, frame_start=T0, frame_end=T0 + timedelta(hours=1))
    assert out.collect()[0]["value"] == -3.0  # 7 - 10; dips don't reset gauges


def test_deriv_exact_slope_on_a_line(spark):
    from prom_etl_db_spark.operators.promql import deriv

    # value = 2·t_seconds + 5 → slope exactly 2/s
    df = _samples(spark, [({"h": "a"}, 5 + 2 * t, t) for t in (0, 30, 60, 90)])
    out = deriv(df, frame_start=T0, frame_end=T0 + timedelta(hours=1))
    assert out.collect()[0]["value"] == pytest.approx(2.0)


def test_deriv_drops_single_point_series(spark):
    from prom_etl_db_spark.operators.promql import deriv

    df = _samples(spark, [({"h": "solo"}, 5, 0)])
    out = deriv(df, frame_start=T0, frame_end=T0 + timedelta(hours=1))
    assert out.count() == 0


def test_predict_linear_extrapolates_the_line(spark):
    from prom_etl_db_spark.operators.promql import predict_linear

    df = _samples(spark, [({"h": "a"}, 5 + 2 * t, t) for t in (0, 30, 60, 90)])
    # frame ends at +600s; predict 60s past it → value at t=660 is 5+2·660
    out = predict_linear(
        df, 60.0, frame_start=T0, frame_end=T0 + timedelta(seconds=600)
    )
    assert out.collect()[0]["value"] == pytest.approx(5 + 2 * 660)


def test_histogram_quantile_interpolates_crossing_bucket(spark):
    from prom_etl_db_spark.operators.promql import histogram_quantile

    # one histogram: cum counts 10/60/100 at le 1/2/+Inf; q=0.5 → target 50,
    # crosses in (1,2]: 1 + (2-1)·(50-10)/(60-10) = 1.8
    df = _samples(
        spark,
        [
            ({"h": "a", "le": "1"}, 10, 0),
            ({"h": "a", "le": "2"}, 60, 0),
            ({"h": "a", "le": "+Inf"}, 100, 0),
        ],
    )
    out = histogram_quantile(df, 0.5)
    row = out.collect()[0]
    assert dict(row["labels"]) == {"h": "a"}
    assert row["value"] == pytest.approx(1.8)


def test_histogram_quantile_first_and_inf_buckets(spark):
    from prom_etl_db_spark.operators.promql import histogram_quantile

    df = _samples(
        spark,
        [
            ({"h": "a", "le": "4"}, 80, 0),
            ({"h": "a", "le": "8"}, 90, 0),
            ({"h": "a", "le": "+Inf"}, 100, 0),
        ],
    )
    # q=0.4 → target 40, lands in the FIRST bucket: 0 + 4·40/80 = 2.0
    assert histogram_quantile(df, 0.4).collect()[0]["value"] == pytest.approx(2.0)
    # q=0.99 → target 99, lands in +Inf → highest finite bound
    assert histogram_quantile(df, 0.99).collect()[0]["value"] == pytest.approx(8.0)


def test_absent_emits_one_row_only_when_empty(spark):
    from prom_etl_db_spark.operators.promql import absent

    df = _samples(spark, [({"h": "a"}, 1, 0)])
    assert absent(df.where("value > 999")).collect()[0]["value"] == 1.0
    assert absent(df).count() == 0


def test_clamp_and_offset(spark):
    from prom_etl_db_spark.operators.promql import clamp, offset

    df = _samples(spark, [({"h": "a"}, 5, 0), ({"h": "a"}, 50, 1)])
    assert sorted(r["value"] for r in clamp(df, 10, 20).collect()) == [10.0, 20.0]
    shifted = offset(df, "1 HOUR").collect()
    assert all(r["timestamp"] >= T0 + timedelta(hours=1) for r in shifted)


def test_quantile_and_last_over_time(spark):
    from prom_etl_db_spark.operators.promql import (
        last_over_time,
        quantile_over_time,
        resample,
    )

    df = _samples(
        spark, [({"h": "a"}, v, i * 60) for i, v in enumerate([1, 2, 3, 4])]
    )
    stepped = resample(df, "1 minute")
    assert last_over_time(stepped).collect()[0]["value"] == 4.0
    # exact linear interpolation: q=0.5 of [1,2,3,4] → 2.5
    assert quantile_over_time(stepped, 0.5).collect()[0]["value"] == pytest.approx(2.5)


def test_stdvar_by_and_present_over_time(spark):
    from prom_etl_db_spark.operators.promql import (
        present_over_time,
        resample,
        stdvar_by,
    )

    df = _samples(spark, [({"h": "a"}, v, i) for i, v in enumerate([2, 4, 6])])
    # population variance of [2,4,6] = 8/3
    assert stdvar_by(df, ["h"]).collect()[0]["value"] == pytest.approx(8 / 3)
    stepped = resample(df, "1 minute")
    assert present_over_time(stepped).collect()[0]["value"] == 1.0


def test_cardinality_sketches_bounded_error(spark, sf_dir):
    from pyspark.sql import functions as F

    from prom_etl_db_spark.queries import QUERIES
    from prom_etl_db_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: (r["users"], r["q90"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.percentile("value", 0.9).alias("q90"),
        )
        .collect()
    }
    for r in QUERIES["cardinality_sketches"](spark, sf_dir).collect():
        users, q90 = exact[r["event_type"]]
        assert abs(r["approx_users"] - users) <= max(3, 0.05 * users)
        # GK sketch: rank error ≤ 1/accuracy — value stays near the true q90
        assert abs(r["approx_q90"] - q90) <= 0.15 * max(abs(q90), 1.0)


def test_changes_and_resets(spark):
    from prom_etl_db_spark.operators.promql import changes, resets

    # values 1,1,3,2,2,5 → changes at 3,2,5 = 3; resets (drops) at 2 = 1
    df = _samples(
        spark, [({"h": "a"}, v, i * 10) for i, v in enumerate([1, 1, 3, 2, 2, 5])]
    )
    frame = dict(frame_start=T0, frame_end=T0 + timedelta(hours=1))
    assert changes(df, **frame).collect()[0]["value"] == 3.0
    assert resets(df, **frame).collect()[0]["value"] == 1.0


def test_raw_over_time_aggregates_every_sample(spark):
    from prom_etl_db_spark.operators.promql import raw_agg_over_time
    from pyspark.sql import functions as F

    # two samples in the SAME minute — the subquery form would collapse
    # them to one step; the raw range-vector form must sum both
    df = _samples(spark, [({"h": "a"}, 5, 0), ({"h": "a"}, 7, 10)])
    out = raw_agg_over_time(
        df, F.sum("value"), frame_start=T0, frame_end=T0 + timedelta(hours=1)
    )
    assert out.collect()[0]["value"] == 12.0


def test_irate_idelta_last_two_samples(spark):
    from prom_etl_db_spark.operators.promql import idelta, irate

    # series: 10@0s, 40@60s, 25@90s — last two are 40→25 (a reset)
    df = _samples(
        spark, [({"h": "a"}, 10, 0), ({"h": "a"}, 40, 60), ({"h": "a"}, 25, 90)]
    )
    frame = dict(frame_start=T0, frame_end=T0 + timedelta(hours=1))
    assert idelta(df, **frame).collect()[0]["value"] == -15.0  # gauge: raw diff
    # counter: reset → post-reset value 25 over 30s
    assert irate(df, **frame).collect()[0]["value"] == pytest.approx(25 / 30)
    # single-sample series drop out
    solo = _samples(spark, [({"h": "s"}, 5, 0)])
    assert irate(solo, **frame).count() == 0


def test_double_exponential_smoothing(spark):
    from prom_etl_db_spark.operators.promql import double_exponential_smoothing

    frame = dict(frame_start=T0, frame_end=T0 + timedelta(hours=1))
    # analytic invariant: on perfectly linear data the Holt recurrence
    # tracks exactly (s_i = v_i by induction), for ANY factors
    lin = _samples(spark, [({"h": "lin"}, 5 + 3 * i, i * 10) for i in range(6)])
    out = double_exponential_smoothing(lin, 0.37, 0.21, **frame)
    assert out.collect()[0]["value"] == pytest.approx(5 + 3 * 5)
    # constant series → the constant
    const = _samples(spark, [({"h": "c"}, 7, i * 10) for i in range(4)])
    assert double_exponential_smoothing(const, 0.5, 0.5, **frame).collect()[0][
        "value"
    ] == pytest.approx(7.0)
    # hand calc: v=[0,10,0], sf=tf=0.5 → s1=10·.5+.5·10=10, b1=.5·10+.5·10=10
    # s2=0·.5+.5·20=10, final s=10
    three = _samples(spark, [({"h": "t"}, v, i * 10) for i, v in enumerate([0, 10, 0])])
    assert double_exponential_smoothing(three, 0.5, 0.5, **frame).collect()[0][
        "value"
    ] == pytest.approx(10.0)
    # <2 points drops out; bad factors raise
    solo = _samples(spark, [({"h": "s"}, 1, 0)])
    assert double_exponential_smoothing(solo, 0.5, 0.5, **frame).count() == 0
    with pytest.raises(ValueError):
        double_exponential_smoothing(lin, 1.5, 0.5, **frame)


def test_increase_range_events_equals_explode_and_hand_values(spark):
    """The difference-array strategy must be value-identical to the grid
    explode on a fixture with resets, gaps, multiple series, off-grid
    timestamps and window-boundary pairs — and match hand-computed
    windows."""
    import random

    from prom_etl_db_spark.operators.promql import increase_range

    rng = random.Random(42)
    rows = []
    for host in ("a", "b", "c"):
        v = 0.0
        for i in range(120):
            v += rng.uniform(0, 5)
            if rng.random() < 0.05:
                v = rng.uniform(0, 2)  # counter reset
            # off-grid, jittered, with occasional gaps
            off = -7200 + i * 60 + rng.randint(-11, 11)
            if rng.random() < 0.1:
                continue
            rows.append(({"host": host}, round(v, 3), off))
    df = _samples(spark, rows)
    kw = dict(
        frame="30m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
    )
    a = increase_range(df, method="explode", **kw)
    b = increase_range(df, method="events", **kw)

    def key(r):
        return (r["labels"]["host"], r["bucket_start"])

    ra = {key(r): r["value"] for r in a.collect()}
    rb = {key(r): r["value"] for r in b.collect()}
    assert set(ra) == set(rb) and ra
    assert all(abs(ra[k] - rb[k]) <= 1e-9 * max(1.0, abs(ra[k])) for k in ra)

    # hand-check one window per series against a pure-python replay
    frame_s, step_s = 1800, 300
    t0 = (T0 - timedelta(seconds=3600)).timestamp()
    by_host = {}
    for labels, v, off in rows:
        by_host.setdefault(labels["host"], []).append((T0.timestamp() + off, v))
    for host, pts in by_host.items():
        pts.sort()
        t = t0 + 4 * step_s
        inside = [(ts, v) for ts, v in pts if t - frame_s <= ts < t]
        expect = sum(
            (cur if cur < prev else cur - prev)
            for (_, prev), (_, cur) in zip(inside, inside[1:])
        )
        if len(inside) >= 2:
            got = ra[(host, datetime.fromtimestamp(t))]
            assert got == pytest.approx(expect, abs=1e-9)


def test_increase_range_quantize_makes_strategies_bit_identical(spark):
    """quantize=1e-6 must make both strategies agree EXACTLY (integer-
    multiple sums are associative), not just to float tolerance."""
    from prom_etl_db_spark.operators.promql import increase_range

    rows = [
        ({"host": h}, 0.1 + i * 0.37 + (0.0 if i % 7 else -i * 0.2), -3000 + i * 45)
        for h in ("a", "b")
        for i in range(80)
    ]
    df = _samples(spark, rows)
    kw = dict(
        frame="40m",
        step="1m",  # ratio 40 > threshold -> auto would pick events
        start=T0 - timedelta(seconds=1800),
        end=T0,
        quantize=1e-6,
    )
    a = increase_range(df, method="explode", **kw)
    b = increase_range(df, method="events", **kw)

    def vals(out):
        return {
            (r["labels"]["host"], r["bucket_start"]): r["value"]
            for r in out.collect()
        }

    ra, rb = vals(a), vals(b)
    assert ra == rb and ra  # exact equality, not approx


def test_increase_range_auto_dispatch_and_bad_method(spark):
    from prom_etl_db_spark.operators.promql import (
        _RANGE_EXPLODE_MAX_RATIO,
        increase_range,
    )

    df = _samples(spark, [({"h": "a"}, 1.0, -60), ({"h": "a"}, 2.0, -30)])
    kw = dict(start=T0 - timedelta(seconds=600), end=T0)
    wide = increase_range(df, frame="600s", step="10s", **kw)  # ratio 60
    narrow = increase_range(df, frame="60s", step="30s", **kw)  # ratio 2
    # events plan has >= 2 Window phases; explode exactly 1
    assert wide._jdf.queryExecution().executedPlan().toString().count("Window") >= 2
    assert narrow._jdf.queryExecution().executedPlan().toString().count("Window") == 1
    assert _RANGE_EXPLODE_MAX_RATIO == 32
    with pytest.raises(ValueError):
        increase_range(df, frame="60s", step="30s", method="nope", **kw)


def test_delta_range_strategies_agree_and_match_hand_values(spark):
    """delta_range: telescoping events strategy equals the exact
    last-minus-first explode strategy; a hand-checked window confirms the
    gauge-change semantics (and <2-sample windows drop)."""
    import random

    from prom_etl_db_spark.operators.promql import delta_range

    rng = random.Random(7)
    rows = []
    for host in ("a", "b"):
        for i in range(100):
            if rng.random() < 0.15:
                continue  # gaps
            v = 50 + 30 * rng.random() - i * 0.1
            rows.append(({"host": host}, round(v, 3), -5400 + i * 60))
    df = _samples(spark, rows)
    kw = dict(
        frame="30m",
        step="1m",  # ratio 30 -> explode under auto; force both below
        start=T0 - timedelta(seconds=3600),
        end=T0,
    )
    a = delta_range(df, method="explode", **kw)
    b = delta_range(df, method="events", **kw)

    def vals(out):
        return {
            (r["labels"]["host"], r["bucket_start"]): r["value"]
            for r in out.collect()
        }

    ra, rb = vals(a), vals(b)
    assert set(ra) == set(rb) and ra
    assert all(abs(ra[k] - rb[k]) <= 1e-9 * max(1.0, abs(ra[k])) for k in ra)

    # hand window: series with points 10, 14, 3 -> delta = 3 - 10 = -7
    hand = _samples(
        spark,
        [({"h": "x"}, 10.0, -250), ({"h": "x"}, 14.0, -150), ({"h": "x"}, 3.0, -50),
         ({"h": "y"}, 99.0, -50)],  # single sample -> no output
    )
    out = vals2 = {
        r["labels"]["h"]: r["value"]
        for r in delta_range(
            hand, frame="5m", step="5m", start=T0, end=T0
        ).collect()
    }
    assert out == {"x": -7.0}


def test_agg_over_time_range_strategies_and_hand_values(spark):
    """Sliding sum/count/avg_over_time range mode: the per-sample
    difference-array strategy equals the explode strategy, and both
    match a pure-python sliding-window replay."""
    import random

    from prom_etl_db_spark.operators.promql import agg_over_time_range

    rng = random.Random(7)
    rows = []
    raw = {}
    for host in ("a", "b"):
        raw[host] = []
        for i in range(90):
            if rng.random() < 0.1:
                continue  # gaps
            off = -5400 + i * 60 + rng.randint(-9, 9)
            v = round(rng.uniform(-3, 10), 3)
            rows.append(({"host": host}, v, off))
            raw[host].append((off, v))
    df = _samples(spark, rows)
    kw = dict(
        frame="30m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
    )
    for agg in ("sum", "count", "avg", "stdvar", "stddev"):
        a = agg_over_time_range(df, agg=agg, method="explode", **kw)
        b = agg_over_time_range(df, agg=agg, method="events", **kw)
        ra = {(r["labels"]["host"], r["bucket_start"]): r["value"] for r in a.collect()}
        rb = {(r["labels"]["host"], r["bucket_start"]): r["value"] for r in b.collect()}
        assert set(ra) == set(rb) and ra, agg
        assert all(
            abs(ra[k] - rb[k]) <= 1e-9 * max(1.0, abs(ra[k])) for k in ra
        ), agg
        # python replay: window (t-1800, t] ... actually [t-1800, t) on
        # the second offsets relative to T0
        for (host, bucket), got in ra.items():
            t = (bucket - T0).total_seconds()
            vals = [v for (off, v) in raw[host] if t - 1800 <= off < t]
            if not vals:
                continue
            mean = sum(vals) / len(vals)
            pvar = max(sum(v * v for v in vals) / len(vals) - mean * mean, 0.0)
            want = {
                "sum": sum(vals),
                "count": float(len(vals)),
                "avg": mean,
                "stdvar": pvar,
                "stddev": pvar ** 0.5,
            }[agg]
            assert got == pytest.approx(want, rel=1e-9, abs=1e-9), (agg, host, bucket)


def test_agg_over_time_range_empty_windows_drop(spark):
    from prom_etl_db_spark.operators.promql import agg_over_time_range

    df = _samples(spark, [({"h": "x"}, 5.0, -3000)])
    out = agg_over_time_range(
        df,
        frame="5m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0,
        agg="count",
        method="events",
    ).collect()
    # one sample covers exactly the grid instants within (ts, ts+300]
    assert len(out) == 1 and out[0]["value"] == 1.0


def test_extrema_over_time_range_buckets_equals_explode(spark):
    """Sliding max/min range mode: the two-phase bucket strategy must be
    value-identical to the explode strategy (max/min are exact — no
    float tolerance needed), including windows whose newest bucket is
    empty (the densify step exists for exactly that case)."""
    import random

    from prom_etl_db_spark.operators.promql import extrema_over_time_range

    rng = random.Random(11)
    rows = []
    for host in ("a", "b"):
        for i in range(80):
            if 30 <= i < 45 and host == "a":
                continue  # long gap: windows with empty recent buckets
            off = -5400 + i * 60 + rng.randint(-9, 9)
            rows.append(({"host": host}, round(rng.uniform(-5, 50), 3), off))
    df = _samples(spark, rows)
    kw = dict(
        frame="40m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
    )
    a = extrema_over_time_range(df, method="explode", **kw)
    b = extrema_over_time_range(df, method="buckets", **kw)

    def d(out):
        return {
            (r["labels"]["host"], r["bucket_start"]): (
                r["vmax"], r["vmin"], r["vlast"], r["vfirst"],
            )
            for r in out.collect()
        }

    ra, rb = d(a), d(b)
    assert ra and set(ra) == set(rb)
    assert ra == rb
    # first <= window: vfirst is the OLDEST in-window sample's value —
    # spot-verify one window against a brute-force python replay
    key = sorted(ra)[3]
    host, t = key
    lo = t - timedelta(minutes=40)
    win = sorted(
        (T0 + timedelta(seconds=off), v)
        for labels, v, off in rows
        if labels["host"] == host and lo <= T0 + timedelta(seconds=off) < t
    )
    assert ra[key][3] == win[0][1] and ra[key][2] == win[-1][1]

    with pytest.raises(ValueError):
        extrema_over_time_range(df, method="buckets", frame="7m", step="2m",
                                start=T0, end=T0 + timedelta(seconds=600))


def test_quantile_sketch_over_time_range_tracks_exact(spark):
    """Sliding histogram-quantile: within one bin width of the exact
    sliding q90 computed by a pure-python replay, at every grid step."""
    import math
    import random

    from prom_etl_db_spark.operators.promql import quantile_sketch_over_time_range

    rng = random.Random(5)
    raw = []
    for i in range(200):
        off = -5400 + i * 30 + rng.randint(-5, 5)
        raw.append((off, round(rng.uniform(0, 480), 3)))
    df = _samples(spark, [({"h": "x"}, v, off) for off, v in raw])
    kw = dict(
        frame="30m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
        q=0.9,
        bins=64,
        lo=0.0,
        hi=500.0,
    )
    out = quantile_sketch_over_time_range(df, **kw)
    got = {r["bucket_start"]: (r["n_values"], r["q_estimate"]) for r in out.collect()}
    assert got
    width = 500.0 / 64
    for bucket, (n, est) in got.items():
        t = (bucket - T0).total_seconds()
        vals = sorted(v for off, v in raw if t - 1800 <= off < t)
        assert n == len(vals) and vals
        exact = vals[math.ceil(0.9 * len(vals)) - 1]
        assert abs(est - exact) <= width, (bucket, est, exact)

    with pytest.raises(ValueError):
        quantile_sketch_over_time_range(
            df, frame="7m", step="2m", start=T0, end=T0 + timedelta(seconds=600)
        )


def test_changes_range_strategies_and_replay(spark):
    """Sliding changes/resets: events strategy equals explode (counts
    are integers — exact equality), and both match a python replay."""
    import random

    from prom_etl_db_spark.operators.promql import changes_range

    rng = random.Random(3)
    raw = []
    v = 5.0
    for i in range(150):
        if rng.random() < 0.3:
            v = float(rng.choice([3, 5, 5, 7, 9]))  # changes incl. drops
        off = -5400 + i * 40 + rng.randint(-5, 5)
        raw.append((off, v))
    df = _samples(spark, [({"h": "x"}, v, off) for off, v in raw])
    kw = dict(
        frame="30m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
    )
    for kind in ("changes", "resets"):
        a = changes_range(df, kind=kind, method="explode", **kw)
        b = changes_range(df, kind=kind, method="events", **kw)
        ra = {r["bucket_start"]: r["value"] for r in a.collect()}
        rb = {r["bucket_start"]: r["value"] for r in b.collect()}
        assert ra and ra == rb, kind
        for bucket, got in ra.items():
            t = (bucket - T0).total_seconds()
            window = sorted((off, v) for off, v in raw if t - 1800 <= off < t)
            pairs = list(zip(window, window[1:]))
            want = sum(
                1
                for (_, p), (_, c) in pairs
                if (c != p if kind == "changes" else c < p)
            )
            assert got == float(want), (kind, bucket)


def test_regression_range_strategies_and_replay(spark):
    """Sliding deriv/predict_linear: five-moment difference array equals
    explode and a python least-squares replay at every grid step."""
    import random

    from prom_etl_db_spark.operators.promql import regression_range

    rng = random.Random(9)
    raw = []
    for i in range(120):
        if rng.random() < 0.1:
            continue
        off = -5400 + i * 45 + rng.randint(-8, 8)
        raw.append((off, 3.0 + 0.01 * off + rng.uniform(-2, 2)))
    df = _samples(spark, [({"h": "x"}, v, off) for off, v in raw])
    kw = dict(
        frame="30m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
    )
    for po in (None, 600.0):
        a = regression_range(df, predict_offset=po, method="explode", **kw)
        b = regression_range(df, predict_offset=po, method="events", **kw)
        ra = {r["bucket_start"]: r["value"] for r in a.collect()}
        rb = {r["bucket_start"]: r["value"] for r in b.collect()}
        assert ra and set(ra) == set(rb)
        for k in ra:
            assert ra[k] == pytest.approx(rb[k], rel=1e-6, abs=1e-9), (po, k)
        base = (T0 - timedelta(seconds=3600)).timestamp()
        for bucket, got in ra.items():
            t = (bucket - T0).total_seconds()
            pts = [(off, v) for off, v in raw if t - 1800 <= off < t]
            if len(pts) < 2:
                continue
            xs = [off + 3600 for off, _ in pts]  # same centering: x - start
            vs = [v for _, v in pts]
            n = len(pts)
            sx, sv = sum(xs), sum(vs)
            sxv = sum(x * v for x, v in zip(xs, vs))
            sxx = sum(x * x for x in xs)
            slope = (n * sxv - sx * sv) / (n * sxx - sx * sx)
            if po is None:
                want = slope
            else:
                want = sv / n + slope * ((t + 3600) - sx / n + po)
            assert got == pytest.approx(want, rel=1e-6), (po, bucket)


def test_quantile_sketch_packed_equals_explode(spark):
    """The packed (bin-array) strategy must be BIT-IDENTICAL to the
    per-bin-row explode — same integer counts regrouped, same
    interpolation; also pins the zero-count-bin filter (a crossing row
    with c=0 would divide by zero)."""
    import random

    from prom_etl_db_spark.operators.promql import quantile_sketch_over_time_range

    rng = random.Random(11)
    raw = [
        (-7000 + i * 37 + rng.randint(-4, 4), round(rng.uniform(0, 480), 3))
        for i in range(300)
    ]
    df = _samples(spark, [({"h": "x"}, v, off) for off, v in raw])
    kw = dict(
        frame="40m",
        step="5m",
        start=T0 - timedelta(seconds=3600),
        end=T0 + timedelta(seconds=1800),
        q=0.9,
        bins=32,
        lo=0.0,
        hi=500.0,
    )
    key = lambda r: (r["bucket_start"], r["n_values"], r["q_estimate"])  # noqa: E731
    a = sorted(map(key, quantile_sketch_over_time_range(df, method="explode", **kw).collect()))
    b = sorted(map(key, quantile_sketch_over_time_range(df, method="packed", **kw).collect()))
    assert a == b and a

    with pytest.raises(ValueError):
        quantile_sketch_over_time_range(
            df, frame="30m", step="5m", start=T0,
            end=T0 + timedelta(seconds=600), method="nope",
        )


def test_irate_idelta_range_matches_instant_forms(spark):
    """A one-instant range grid must reproduce the instant
    idelta/irate exactly — including the counter-reset branch (series y
    drops 50 -> 3, so irate counts the post-reset value)."""
    from prom_etl_db_spark.operators.promql import (
        idelta_and_irate,
        irate_idelta_range,
    )

    data = [
        ({"h": "x"}, 10.0, -600),
        ({"h": "x"}, 16.0, -120),
        ({"h": "y"}, 50.0, -300),
        ({"h": "y"}, 3.0, -60),  # reset
    ]
    df = _samples(spark, data)
    rng = {
        r["labels"]["h"]: (r["virate"], r["videlta"])
        for r in irate_idelta_range(
            df, frame="15m", step="5m", start=T0, end=T0
        ).collect()
    }
    inst = {
        r["labels"]["h"]: (r["irate"], r["idelta"])
        for r in idelta_and_irate(
            df, frame_start=T0 - timedelta(seconds=900), frame_end=T0
        ).collect()
    }
    assert rng == inst
    assert rng["x"] == (pytest.approx(6.0 / 480), 6.0)
    assert rng["y"] == (pytest.approx(3.0 / 240), -47.0)


def test_sum_by_handles_backslash_and_quote_label_keys(spark):
    """Label keys are arbitrary map keys spliced into F.expr SQL — a
    trailing backslash or an embedded quote must survive the literal
    escaping (regression: an unescaped backslash ate the closing quote)."""
    from prom_etl_db_spark.operators.promql import sum_by

    df = _samples(
        spark,
        [
            ({"a\\": "1", "it's": "x"}, 1, 0),
            ({"a\\": "1", "it's": "y"}, 2, 0),
            ({"a\\": "2", "it's": "x"}, 10, 0),
        ],
    )
    out = sum_by(df, ["a\\"])
    got = {r["labels"]["a\\"]: r["value"] for r in out.collect()}
    assert got == {"1": 3.0, "2": 10.0}
    out2 = sum_by(df, ["it's"])
    got2 = {r["labels"]["it's"]: r["value"] for r in out2.collect()}
    assert got2 == {"x": 11.0, "y": 2.0}


def test_histogram_fraction_clamps_out_of_domain_probes(spark):
    """A probe bound below the first bucket's implicit 0 lower bound must
    clamp to cumulative count 0, keeping the fraction inside [0, 1]
    (regression: linear extrapolation produced fractions up to 2.0)."""
    from prom_etl_db_spark.operators.promql import histogram_fraction

    rows = [
        ({"name": "h", "le": "10"}, 100.0, 0),
        ({"name": "h", "le": "+Inf"}, 100.0, 0),
    ]
    df = _samples(spark, rows).select(
        "labels", "value"
    )
    out = histogram_fraction(df, -10.0, 10.0).collect()
    assert len(out) == 1
    assert out[0]["value"] == 1.0


def test_histogram_quantile_negative_first_bucket_returns_bound(spark):
    """Prometheus quantile.go: a first bucket with upper bound <= 0 is
    NOT interpolated from 0 (that would land above the bound); the bound
    itself comes back. Regression for the unconditional interpolation."""
    from prom_etl_db_spark.operators.promql import histogram_quantile

    rows = [
        ({"name": "h", "le": "-1"}, 10.0, 0),
        ({"name": "h", "le": "+Inf"}, 10.0, 0),
    ]
    df = _samples(spark, rows).select("labels", "value")
    out = histogram_quantile(df, 0.5).collect()
    assert len(out) == 1 and out[0]["value"] == -1.0


def test_instant_selector_empty_matcher_and_exclusive_staleness(spark):
    """{k=""} selects series MISSING the label (PromQL missing-is-empty),
    and the lookback window is left-open: a sample exactly `staleness`
    old is already stale."""
    from datetime import timedelta

    from prom_etl_db_spark.operators.promql import instant_selector

    df = _samples(
        spark,
        [
            ({"host": "a", "pod": "x"}, 1, -60),
            ({"host": "b"}, 2, -60),               # no pod label
            ({"host": "c"}, 3, -300),              # exactly 5m old
        ],
    )
    out = instant_selector(df, "m", at=T0, label_filters={"pod": ""})
    got = {r["labels"]["host"] for r in out.collect()}
    assert got == {"b"}  # c is exactly-stale, a carries pod
    # boundary: -300s sits ON the 5m lookback edge -> excluded
    full = instant_selector(df, "m", at=T0)
    assert {r["labels"]["host"] for r in full.collect()} == {"a", "b"}
    # one second fresher and it's in
    almost = instant_selector(df, "m", at=T0 - timedelta(seconds=1))
    assert {r["labels"]["host"] for r in almost.collect()} == {"a", "b", "c"}


def test_label_rewrite_invalidates_series_key(spark):
    """label_replace/label_join after resample (which carries __series)
    must regroup under the REWRITTEN labels — the stale key silently
    reverted the rewrite before."""
    from prom_etl_db_spark.operators.promql import (
        label_replace,
        resample,
        sum_over_time,
    )

    df = _samples(
        spark,
        [({"env": "prod-1"}, 1, -120), ({"env": "prod-2"}, 2, -60)],
    )
    stepped = resample(df, "1 minute")
    rewritten = label_replace(stepped, "env", "prod", "env", "prod-.*")
    out = sum_over_time(rewritten).collect()
    # both series collapse into env=prod under the new identity
    assert len(out) == 1
    assert dict(out[0]["labels"]) == {"env": "prod"} and out[0]["value"] == 3.0


def test_gapfill_locf_until_before_first_bucket_is_empty_not_error(spark):
    from datetime import timedelta

    from prom_etl_db_spark.operators.promql import gapfill_locf, resample

    df = _samples(spark, [({"h": "a"}, 1, -60)])
    stepped = resample(df, "1 minute")
    out = gapfill_locf(stepped, "1 minute", until=T0 - timedelta(hours=2))
    assert out.collect() == []


def test_agg_over_time_range_stats_mode_matches_singletons(spark):
    """agg='stats' exposes (Σv, n, var) from ONE pass — each field must
    equal the corresponding single-agg result."""
    from prom_etl_db_spark.operators.promql import agg_over_time_range

    rows = [
        ({"host": h}, float(v), -3000 + i * 120)
        for h in ("a", "b")
        for i, v in enumerate((3, 7, 1, 9, 4, 6, 2))
    ]
    df = _samples(spark, rows)
    kw = dict(
        frame="20m",
        step="10m",
        start=T0 - timedelta(seconds=1800),
        end=T0,
    )
    stats = {
        (r["labels"]["host"], r["bucket_start"]): r["value"]
        for r in agg_over_time_range(df, agg="stats", **kw).collect()
    }
    for agg, field in (("sum", "vsum"), ("stdvar", "vstdvar")):
        single = {
            (r["labels"]["host"], r["bucket_start"]): r["value"]
            for r in agg_over_time_range(df, agg=agg, **kw).collect()
        }
        assert set(single) == set(stats)
        for k, v in single.items():
            assert stats[k][field] == pytest.approx(v), (agg, k)
    counts = {
        (r["labels"]["host"], r["bucket_start"]): r["value"]
        for r in agg_over_time_range(df, agg="count", **kw).collect()
    }
    for k, v in counts.items():
        assert stats[k]["vcount"] == int(v)


def test_topk_over_time_tiebreak_is_label_value_order(spark):
    """Equal sums tie-break on the series ENTRIES (label value order) —
    k='1' ranks before k='10', which the old string-cast tiebreak got
    backwards ('}' sorts above digits)."""
    from prom_etl_db_spark.operators.promql import resample, topk_over_time

    rows = [
        ({"k": "1"}, 5.0, -600),
        ({"k": "10"}, 5.0, -500),  # identical daily sum
        ({"k": "2"}, 9.0, -400),
    ]
    stepped = resample(_samples(spark, rows), "1 hour")
    out = sorted(
        topk_over_time(stepped, 3).collect(), key=lambda r: r["rnk"]
    )
    assert [r["labels"]["k"] for r in out] == ["2", "1", "10"]


def test_native_hist_increase_alignment_and_reset(spark):
    """r8: increase() over native-histogram series — offset-aligned
    bucket subtraction, Prometheus's reset-takes-last rule, and
    dt_seconds from the endpoint timestamps."""
    from datetime import datetime

    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        # series 'grow': offset shifts down 3->2 as a bucket appears
        ({"__name__": "lat", "s": "grow"}, datetime(2024, 1, 1, 0, 0, 0),
         1, 1, 3, [5, 7]),
        ({"__name__": "lat", "s": "grow"}, datetime(2024, 1, 1, 0, 1, 0),
         1, 2, 2, [4, 6, 9, 1]),   # indices 2..5 vs 3..4
        # series 'reset': bucket 0 decreases -> increase = last verbatim
        ({"__name__": "lat", "s": "reset"}, datetime(2024, 1, 1, 0, 0, 0),
         0, 0, 0, [9, 9]),
        ({"__name__": "lat", "s": "reset"}, datetime(2024, 1, 1, 0, 2, 0),
         0, 0, 1, [3]),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts timestamp, schema int, "
              "zero_count long, pos_offset int, pos_counts array<bigint>")
    got = {r["labels"]["s"]: r for r in native_hist_increase(df).collect()}
    gr = got["grow"]
    # aligned over indices 2..5: last [4,6,9,1] minus first [0,5,7,0]
    assert gr["pos_offset"] == 2 and gr["pos_counts"] == [4, 1, 2, 1]
    assert gr["zero_count"] == 1 and gr["reset"] is False
    assert gr["dt_seconds"] == 60
    rs = got["reset"]
    # index 0: 0(last,absent) - 9(first) < 0 -> reset -> last verbatim
    assert rs["reset"] is True
    assert rs["pos_offset"] == 1 and rs["pos_counts"] == [3]
    assert rs["zero_count"] == 0 and rs["dt_seconds"] == 120


def test_native_hist_increase_downscales_mixed_schemas(spark):
    """r8: a mid-series schema change downscales the FINER endpoint to
    the coarser schema before subtracting (Prometheus's merge rule:
    fine bucket i folds into coarse ceil(i/2^d)) — both directions."""
    from datetime import datetime

    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        # fine (schema 2) first, coarse (schema 1) second:
        # fine idx 4..7 counts [5,7,2,6] -> coarse idx 2..4 [5, 9, 6]
        ({"s": "f2c"}, datetime(2024, 1, 1, 0, 0), 2, 1, 4, [5, 7, 2, 6]),
        ({"s": "f2c"}, datetime(2024, 1, 1, 0, 1), 1, 3, 2, [14, 10, 9]),
        # coarse first, fine second (scrape moved to finer buckets):
        # second downsizes: fine idx -3..0 [1,2,3,4] at schema 0 ->
        # coarse schema -1: j = ceil(i/2): -3->-1, -2->-1, -1->0, 0->0
        # => idx -1..0 counts [3, 7]; first coarse idx -1..0 [1, 2]
        ({"s": "c2f"}, datetime(2024, 1, 1, 0, 0), -1, 0, -1, [1, 2]),
        ({"s": "c2f"}, datetime(2024, 1, 1, 0, 1), 0, 0, -3, [1, 2, 3, 4]),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts timestamp, schema int, "
              "zero_count long, pos_offset int, pos_counts array<bigint>")
    got = {r["labels"]["s"]: r for r in native_hist_increase(df).collect()}
    f2c = got["f2c"]
    assert f2c["schema"] == 1 and f2c["pos_offset"] == 2
    assert f2c["pos_counts"] == [9, 1, 3] and f2c["zero_count"] == 2
    assert f2c["reset"] is False
    c2f = got["c2f"]
    assert c2f["schema"] == -1 and c2f["pos_offset"] == -1
    assert c2f["pos_counts"] == [2, 5] and c2f["reset"] is False


def test_native_hist_increase_zero_reset_and_single_sample(spark):
    """zero_count decrease alone is a reset; a single-sample series
    (first == last) yields a zero increase, not an error."""
    from datetime import datetime

    from prom_etl_db_spark.operators.native_hist import native_hist_increase

    rows = [
        ({"s": "z"}, datetime(2024, 1, 1, 0, 0), 0, 5, 0, [1]),
        ({"s": "z"}, datetime(2024, 1, 1, 0, 5), 0, 2, 0, [4]),  # zero drops
        ({"s": "one"}, datetime(2024, 1, 1), 0, 3, 1, [2, 2]),
    ]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts timestamp, schema int, "
              "zero_count long, pos_offset int, pos_counts array<bigint>")
    got = {r["labels"]["s"]: r for r in native_hist_increase(df).collect()}
    assert got["z"]["reset"] is True and got["z"]["zero_count"] == 2
    one = got["one"]
    assert one["reset"] is False and one["dt_seconds"] == 0
    assert one["pos_counts"] == [0, 0] and one["zero_count"] == 0
