"""Property tests for the sliding-window range family: random sample
sets, random frame/step, every physical strategy (per-instant explode,
the difference-array events path, extrema's buckets, the sketch's
packed arrays) compared against an independent brute-force Python
evaluator that recomputes every window from the definition — a sample at ts belongs to grid instant t iff
t − frame ≤ ts < t, grid = start..end inclusive at step multiples.

The existing unit tests pin hand-computed cases and cross-form equality;
this file drives the same code through adversarial shapes hypothesis
finds (samples exactly on grid edges, before the range start, equal
timestamps collapsing through resample-style dedup is avoided by
construction — offsets are distinct)."""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prom_etl_db_spark.operators import promql

START = datetime(2024, 1, 1, 6, 0, 0)
END = datetime(2024, 1, 1, 12, 0, 0)

# distinct minute offsets (some BEFORE the range start to exercise the
# back-read) with small integer-ish values
_samples_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-120, max_value=360),  # minutes from START
        st.integers(min_value=-5, max_value=50),  # value
    ),
    min_size=1,
    max_size=24,
    unique_by=lambda t: t[0],
)
_frame_step = st.sampled_from([(30, 10), (60, 30), (120, 30), (90, 20)])


def _mk_df(spark, rows):
    data = [
        ("m", {"s": "a"}, float(v), START + timedelta(minutes=off))
        for off, v in rows
    ]
    return spark.createDataFrame(
        data,
        "metric_name string, labels map<string,string>, value double, "
        "timestamp timestamp",
    )


def _ref_windows(rows, frame_min, step_min):
    """{grid_instant: sorted [values]} for non-empty windows."""
    pts = sorted(
        (START + timedelta(minutes=off), float(v)) for off, v in rows
    )
    out = {}
    t = START
    while t <= END:
        lo = t - timedelta(minutes=frame_min)
        win = [(ts, v) for ts, v in pts if lo <= ts < t]
        if win:
            out[t] = win
        t += timedelta(minutes=step_min)
    return out


@pytest.mark.parametrize("method", ["explode", "events"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_samples_strategy, fs=_frame_step)
def test_sliding_agg_matches_bruteforce(spark, method, rows, fs):
    frame_min, step_min = fs
    df = _mk_df(spark, rows)
    ref = _ref_windows(rows, frame_min, step_min)

    out = promql.agg_over_time_range(
        df,
        frame=f"{frame_min}m",
        step=f"{step_min}m",
        start=START,
        end=END,
        agg="sum",
        method=method,
    ).collect()
    got = {r["bucket_start"]: r["value"] for r in out}
    expected = {t: sum(v for _, v in win) for t, win in ref.items()}
    assert set(got) == set(expected)
    for t in expected:
        assert got[t] == pytest.approx(expected[t], abs=1e-9), (t, method)

    # stddev rides the two-sums identity — the numerically risky one
    out2 = promql.agg_over_time_range(
        df,
        frame=f"{frame_min}m",
        step=f"{step_min}m",
        start=START,
        end=END,
        agg="stddev",
        method=method,
    ).collect()
    got2 = {r["bucket_start"]: r["value"] for r in out2}
    for t, win in ref.items():
        vals = [v for _, v in win]
        mean = sum(vals) / len(vals)
        exp = math.sqrt(sum((v - mean) ** 2 for v in vals) / len(vals))
        assert got2[t] == pytest.approx(exp, abs=1e-6), (t, method)


@pytest.mark.parametrize("method", ["explode", "events"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_samples_strategy, fs=_frame_step)
def test_sliding_increase_matches_bruteforce(spark, method, rows, fs):
    frame_min, step_min = fs
    df = _mk_df(spark, rows)
    ref = _ref_windows(rows, frame_min, step_min)

    out = promql.increase_range(
        df,
        frame=f"{frame_min}m",
        step=f"{step_min}m",
        start=START,
        end=END,
        method=method,
    ).collect()
    got = {r["bucket_start"]: r["value"] for r in out}
    expected = {}
    for t, win in ref.items():
        if len(win) < 2:
            continue  # windows with < 1 pair emit no row
        inc = 0.0
        for (_, v1), (_, v2) in zip(win, win[1:]):
            inc += v2 if v2 < v1 else v2 - v1  # reset correction
        expected[t] = inc
    assert set(got) == set(expected), method
    for t in expected:
        assert got[t] == pytest.approx(expected[t], abs=1e-9), (t, method)


_aligned_frame_step = st.sampled_from([(30, 10), (60, 30), (120, 30), (60, 20)])
_PROPS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _run(fn, df, frame_min, step_min, **kw):
    return fn(
        df, frame=f"{frame_min}m", step=f"{step_min}m", start=START, end=END, **kw
    ).collect()


@pytest.mark.parametrize("method", ["explode", "events"])
@settings(**_PROPS)
@given(rows=_samples_strategy, fs=_frame_step)
def test_sliding_delta_matches_bruteforce(spark, method, rows, fs):
    df = _mk_df(spark, rows)
    got = {
        r["bucket_start"]: r["value"]
        for r in _run(promql.delta_range, df, *fs, method=method)
    }
    expected = {
        t: win[-1][1] - win[0][1]
        for t, win in _ref_windows(rows, *fs).items()
        if len(win) >= 2
    }
    assert set(got) == set(expected), method
    for t in expected:
        assert got[t] == pytest.approx(expected[t], abs=1e-9), (t, method)


@pytest.mark.parametrize("method", ["explode", "events"])
@settings(**_PROPS)
@given(rows=_samples_strategy, fs=_frame_step)
def test_sliding_changes_and_resets_match_bruteforce(spark, method, rows, fs):
    df = _mk_df(spark, rows)
    pairs = {  # consecutive (prev, cur) values of windows with ≥ 2 samples
        t: [(a, b) for (_, a), (_, b) in zip(win, win[1:])]
        for t, win in _ref_windows(rows, *fs).items()
        if len(win) >= 2
    }
    for kind, hit in (("changes", lambda a, b: b != a), ("resets", lambda a, b: b < a)):
        got = {
            r["bucket_start"]: r["value"]
            for r in _run(promql.changes_range, df, *fs, kind=kind, method=method)
        }
        expected = {t: float(sum(hit(a, b) for a, b in p)) for t, p in pairs.items()}
        assert got == expected, (kind, method)


@pytest.mark.parametrize("method", ["explode", "events"])
@settings(**_PROPS)
@given(rows=_samples_strategy, fs=_frame_step)
def test_sliding_regression_matches_bruteforce(spark, method, rows, fs):
    """deriv and predict_linear: the least-squares line over each window,
    recomputed two-pass (mean-centered) from the definition; x is seconds
    since the range start."""
    df = _mk_df(spark, rows)
    ref = _ref_windows(rows, *fs)
    for offset in (None, 600.0):
        got = {
            r["bucket_start"]: r["value"]
            for r in _run(
                promql.regression_range, df, *fs,
                predict_offset=offset, method=method,
            )
        }
        expected = {}
        for t, win in ref.items():
            xs = [(ts - START).total_seconds() for ts, _ in win]
            vs = [v for _, v in win]
            mx, mv = sum(xs) / len(xs), sum(vs) / len(vs)
            sxx = sum((x - mx) ** 2 for x in xs)
            if len(win) < 2 or sxx <= 0:
                continue
            slope = sum((x - mx) * (v - mv) for x, v in zip(xs, vs)) / sxx
            if offset is None:
                expected[t] = slope
            else:
                expected[t] = mv + slope * ((t - START).total_seconds() - mx + offset)
        assert set(got) == set(expected), (offset, method)
        for t in expected:
            assert got[t] == pytest.approx(expected[t], rel=1e-9, abs=1e-9), (
                t, offset, method,
            )


@pytest.mark.parametrize("method", ["explode", "buckets"])
@settings(**_PROPS)
@given(rows=_samples_strategy, fs=_aligned_frame_step)
def test_sliding_extrema_match_bruteforce(spark, method, rows, fs):
    df = _mk_df(spark, rows)
    got = {
        r["bucket_start"]: (r["vmax"], r["vmin"], r["vlast"], r["vfirst"])
        for r in _run(promql.extrema_over_time_range, df, *fs, method=method)
    }
    expected = {
        t: (max(v for _, v in win), min(v for _, v in win), win[-1][1], win[0][1])
        for t, win in _ref_windows(rows, *fs).items()
    }
    assert got == expected, method


@pytest.mark.parametrize("method", ["explode", "packed"])
@settings(**_PROPS)
@given(rows=_samples_strategy, fs=_aligned_frame_step)
def test_sliding_quantile_sketch_matches_bruteforce(spark, method, rows, fs):
    """The sketch's own definition replayed: clamped value bins, the first
    bin whose cumulative count reaches ceil(q·n), linear interpolation
    inside it, rounded to 6 places."""
    q, bins, lo, hi = 0.75, 8, -8.0, 56.0
    width = (hi - lo) / bins
    df = _mk_df(spark, rows)
    got = {
        r["bucket_start"]: (r["n_values"], r["q_estimate"])
        for r in _run(
            promql.quantile_sketch_over_time_range, df, *fs,
            q=q, bins=bins, lo=lo, hi=hi, method=method,
        )
    }
    expected = {}
    for t, win in _ref_windows(rows, *fs).items():
        counts = [0] * bins
        for _, v in win:
            counts[min(bins - 1, max(0, math.floor((v - lo) / width)))] += 1
        n, rank, cum = len(win), math.ceil(q * len(win)), 0
        for b, c in enumerate(counts):
            cum += c
            if c and cum >= rank:
                est = lo + b * width + width * (rank - (cum - c)) / c
                expected[t] = (n, round(est, 6))
                break
    assert set(got) == set(expected), method
    for t, (n, est) in expected.items():
        assert got[t][0] == n and got[t][1] == pytest.approx(est, abs=1e-6), (t, method)
