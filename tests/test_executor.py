"""Native config-query execution (executor.py): the reference's
config rows (PromQL text + T1 time expressions) run unchanged against
the stored samples table."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from prom_etl_db_spark.config import QueryConfig
from prom_etl_db_spark.executor import evaluate_config_query, execute_config_query
from prom_etl_db_spark.schema import METRICS_SCHEMA

NOW = datetime(2024, 3, 15, 12, 0, 0)


@pytest.fixture(scope="module")
def samples(spark):
    rows = []
    for h in range(6):  # hourly points for two series, today 06:00-11:00
        ts = NOW - timedelta(hours=6 - h)
        rows.append(("q", "cpu", {"host": "a"}, float(10 + h), ts, "instant", NOW))
        rows.append(("q", "cpu", {"host": "b"}, float(20 + h), ts, "instant", NOW))
    return spark.createDataFrame(rows, METRICS_SCHEMA)


def test_instant_config_executes_at_resolved_time(samples):
    cfg = QueryConfig(
        query_id="g1", name="cpu now", query="sum(cpu) by (host)",
        time_range_type="instant", time_range_time="now-1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "instant"
    got = {r["labels"]["host"]: r["value"] for r in out.collect()}
    # at 11:00, latest sample within 5m staleness is the h=5 point (11:00)
    assert got == {"a": 15.0, "b": 25.0}
    assert all(r["timestamp"] == NOW - timedelta(hours=1) for r in out.collect())


def test_range_config_produces_step_matrix(samples):
    cfg = QueryConfig(
        query_id="g2", name="cpu range", query="cpu",
        time_range_type="range",
        time_range_start="-6h", time_range_end="now", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    assert out.count() == 12  # 2 series × 6 hourly steps
    a_vals = [
        r["value"] for r in
        out.where(F.col("labels")["host"] == "a").orderBy("timestamp").collect()
    ]
    assert a_vals == [10.0, 11.0, 12.0, 13.0, 14.0, 15.0]


def test_scalar_config_yields_one_scalar_row(samples):
    cfg = QueryConfig(query_id="g3", name="k", query="2 * 3")
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "scalar"
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["value"] == 6.0


def test_execute_writes_records_and_audit(spark, samples, tmp_path):
    store = str(tmp_path / "metrics")
    audit = str(tmp_path / "audit")
    cfg = QueryConfig(
        query_id="g4", name="cpu sum", query="sum(cpu) by (host)",
        # the fixture's newest point is 1h old — evaluate there, not at
        # "now" (5m staleness would see nothing)
        time_range_type="instant", time_range_time="now-1h",
    )
    records = execute_config_query(
        spark, samples, cfg, now=NOW, store_path=store, audit_path=audit
    )
    stored = spark.read.parquet(store)
    assert stored.count() == records.count() == 2
    r = stored.first()
    assert r["query_id"] == "g4" and r["result_type"] == "instant"
    assert r["collected_date"] == NOW.date()  # A13 day truncation
    a = spark.read.parquet(audit).collect()
    assert len(a) == 1 and a[0]["status"] == "success" and a[0]["records_count"] == 2


def test_dry_run_writes_nothing(spark, samples, tmp_path):
    cfg = QueryConfig(
        query_id="g5", name="n", query="sum(cpu) by (host)",
        time_range_type="instant", time_range_time="now-1h",
    )
    out = execute_config_query(spark, samples, cfg, now=NOW)
    assert out.count() == 2
    assert not (tmp_path / "metrics").exists()


def test_range_config_offset_reads_the_shifted_window(spark, samples):
    # samples live in [NOW-6h, NOW-1h]; a 3h window offset by 6h reads raw
    # [NOW-9h, NOW-6h] — only the oldest point. Clipping before the shift
    # would instead return the un-offset window's points (13/14/15).
    cfg = QueryConfig(
        query_id="g6", name="cpu offset", query="cpu offset 6h",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now", time_range_step="1h",
    )
    out, _ = evaluate_config_query(samples, cfg, now=NOW)
    a = out.where(F.col("labels")["host"] == "a").collect()
    assert [r["value"] for r in a] == [10.0]


def test_range_config_requires_both_bounds(spark, samples):
    cfg = QueryConfig(
        query_id="g7", name="bad", query="cpu",
        time_range_type="range", time_range_start="-1d",
    )
    with pytest.raises(ValueError, match="requires both"):
        evaluate_config_query(samples, cfg, now=NOW)


def test_audit_without_store_is_rejected(spark, samples, tmp_path):
    cfg = QueryConfig(
        query_id="g8", name="n", query="sum(cpu) by (host)",
        time_range_type="instant", time_range_time="now-1h",
    )
    with pytest.raises(ValueError, match="audit_path requires store_path"):
        execute_config_query(
            spark, samples, cfg, now=NOW, audit_path=str(tmp_path / "a")
        )


def test_range_config_at_pinned_rate_raises_not_silently_sliding(samples):
    """rate(m[1h] @ T) as a RANGE query must raise PromQLError like other
    unsupported range-mode forms — the fast path once rebuilt the
    selector without the @ pin and produced sliding windows instead of
    the pinned one."""
    from prom_etl_db_spark.operators.promql_parser import PromQLError

    for at in ("@ 1710504000", "@ end()"):
        cfg = QueryConfig(
            query_id="g-at", name="pinned rate", query=f"rate(cpu[1h] {at})",
            time_range_type="range",
            time_range_start="-6h", time_range_end="now", time_range_step="1h",
        )
        with pytest.raises(PromQLError):
            evaluate_config_query(samples, cfg, now=NOW)


def test_range_config_delta_evaluates_sliding_windows(samples):
    """delta(cpu[2h]) as a range config: the executor's fast path must
    produce last-minus-first per sliding window at each step."""
    cfg = QueryConfig(
        query_id="g-delta", name="cpu delta", query="delta(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    a = {
        r["timestamp"]: r["value"]
        for r in out.where(F.col("labels")["host"] == "a").collect()
    }
    # hourly counter 10..15 at 06:00..11:00; window [t-2h, t) holds two
    # points with delta exactly 1.0 at each grid step
    assert a and all(v == 1.0 for v in a.values())


def test_range_config_sliding_sum_avg_count(samples):
    """sum/avg/count_over_time(cpu[2h]) as range configs: the executor's
    sliding fast path — hourly points, so every full [t-2h, t) window
    holds two samples and the hand values are exact."""
    for fn, a_vals in (
        ("sum_over_time", lambda lo, hi: lo + hi),
        ("avg_over_time", lambda lo, hi: (lo + hi) / 2),
        ("count_over_time", lambda lo, hi: 2.0),
    ):
        cfg = QueryConfig(
            query_id=f"g-{fn}", name=fn, query=f"{fn}(cpu[2h])",
            time_range_type="range",
            time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
        )
        out, rtype = evaluate_config_query(samples, cfg, now=NOW)
        assert rtype == "range", fn
        a = {
            r["timestamp"]: r["value"]
            for r in out.where(F.col("labels")["host"] == "a").collect()
        }
        # grid 09:00, 10:00, 11:00: window [t-2h, t) holds the samples at
        # t-2h and t-1h — values (10+h) with h = hour-6
        for t, v in a.items():
            h = t.hour
            lo, hi = float(10 + (h - 2 - 6)), float(10 + (h - 1 - 6))
            assert v == pytest.approx(a_vals(lo, hi)), (fn, t)


def test_range_config_sliding_max_min(samples):
    """max/min_over_time(cpu[2h]) as range configs ride the extrema fast
    path: window [t-2h, t) holds the t-2h and t-1h hourly points, so
    max = the newer, min = the older — exact."""
    for fn, pick in (("max_over_time", max), ("min_over_time", min)):
        cfg = QueryConfig(
            query_id=f"g-{fn}", name=fn, query=f"{fn}(cpu[2h])",
            time_range_type="range",
            time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
        )
        out, rtype = evaluate_config_query(samples, cfg, now=NOW)
        assert rtype == "range", fn
        a = {
            r["timestamp"]: r["value"]
            for r in out.where(F.col("labels")["host"] == "a").collect()
        }
        assert a, fn
        for t, v in a.items():
            h = t.hour
            lo, hi = float(10 + (h - 2 - 6)), float(10 + (h - 1 - 6))
            assert v == pick(lo, hi), (fn, t)


def test_range_config_sliding_stddev(samples):
    """stddev_over_time(cpu[2h]) range config: each full window holds
    two consecutive hourly points (gap 1.0) -> population stddev 0.5."""
    cfg = QueryConfig(
        query_id="g-sd", name="sd", query="stddev_over_time(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    vals = [
        r["value"] for r in out.where(F.col("labels")["host"] == "a").collect()
    ]
    assert vals and all(v == pytest.approx(0.5) for v in vals)


def test_range_config_sliding_last(samples):
    """last_over_time(cpu[2h]) range config: the newest sample in each
    window — the t-1h hourly point."""
    cfg = QueryConfig(
        query_id="g-last", name="last", query="last_over_time(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    a = {
        r["timestamp"]: r["value"]
        for r in out.where(F.col("labels")["host"] == "a").collect()
    }
    assert a
    for t, v in a.items():
        assert v == float(10 + (t.hour - 1 - 6)), t


def test_range_config_quantile_present_absent_over_time(samples):
    """quantile_over_time(0.5, cpu[2h]) (two-arg fast path),
    present_over_time, and absent_over_time as range configs."""
    cfg = QueryConfig(
        query_id="g-qot", name="qot", query="quantile_over_time(0.5, cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    a = {
        r["timestamp"]: r["value"]
        for r in out.where(F.col("labels")["host"] == "a").collect()
    }
    # two points per window -> exact median = their midpoint
    for t, v in a.items():
        h = t.hour
        lo, hi = float(10 + (h - 2 - 6)), float(10 + (h - 1 - 6))
        assert v == pytest.approx((lo + hi) / 2), t

    cfg = QueryConfig(
        query_id="g-pot", name="pot", query="present_over_time(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, _ = evaluate_config_query(samples, cfg, now=NOW)
    pres = out.where(F.col("labels")["host"] == "a").collect()
    assert pres and all(r["value"] == 1.0 for r in pres)

    # absent over a selector that matches nothing: 1.0 at EVERY grid step
    cfg = QueryConfig(
        query_id="g-aot", name="aot", query="absent_over_time(nope[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, _ = evaluate_config_query(samples, cfg, now=NOW)
    rows = out.collect()
    assert len(rows) == 3  # -3h, -2h, -1h inclusive grid
    assert all(r["value"] == 1.0 and r["labels"] == {} for r in rows)

    # absent over a live selector: the covered steps drop out
    cfg = QueryConfig(
        query_id="g-aot2", name="aot2", query="absent_over_time(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, _ = evaluate_config_query(samples, cfg, now=NOW)
    assert out.count() == 0  # cpu has points in every window


def test_range_config_mad_and_predict_linear(samples):
    """mad_over_time(cpu[2h]) and predict_linear(cpu[2h], 3600) as range
    configs: two-point windows make the hand values exact — MAD of
    {lo, hi} is (hi-lo)/2; the fitted line through two hourly points has
    slope 1/3600, so one-hour extrapolation adds exactly 1."""
    cfg = QueryConfig(
        query_id="g-mad", name="mad", query="mad_over_time(cpu[2h])",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    a = {
        r["timestamp"]: r["value"]
        for r in out.where(F.col("labels")["host"] == "a").collect()
    }
    assert a and all(v == pytest.approx(0.5) for v in a.values())

    cfg = QueryConfig(
        query_id="g-pl", name="pl", query="predict_linear(cpu[2h], 3600)",
        time_range_type="range",
        time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=NOW)
    assert rtype == "range"
    a = {
        r["timestamp"]: r["value"]
        for r in out.where(F.col("labels")["host"] == "a").collect()
    }
    for t, v in a.items():
        h = t.hour
        lo, hi = float(10 + (h - 2 - 6)), float(10 + (h - 1 - 6))
        # line through the two points, evaluated at t + 1h: the window's
        # newer point sits 1h before t, so prediction = hi + 2
        assert v == pytest.approx(hi + 2.0), (t, lo, hi)


def test_range_config_irate_idelta_sliding(samples):
    """irate/idelta(cpu[2h]) as range configs: window [t-2h, t) holds
    two hourly points exactly one hour apart with unit increase, so
    irate == 1/3600 and idelta == 1 at every grid step."""
    for fn, want in (("irate", 1.0 / 3600.0), ("idelta", 1.0)):
        cfg = QueryConfig(
            query_id=f"g-{fn}", name=fn, query=f"{fn}(cpu[2h])",
            time_range_type="range",
            time_range_start="-3h", time_range_end="now-1h", time_range_step="1h",
        )
        out, rtype = evaluate_config_query(samples, cfg, now=NOW)
        assert rtype == "range", fn
        a = {
            r["timestamp"]: r["value"]
            for r in out.where(F.col("labels")["host"] == "a").collect()
        }
        assert a and all(v == pytest.approx(want) for v in a.values()), fn


def test_instant_scalar_query_stores_one_labelless_record(spark):
    """A config whose query is a top-level scalar() stores exactly one
    label-less record (Prometheus's scalar resultType) — evaluated
    lazily, no driver collect in the plan build."""
    from datetime import datetime

    from prom_etl_db_spark.config import QueryConfig
    from prom_etl_db_spark.executor import evaluate_config_query

    now = datetime(2024, 3, 15, 12, 0, 0)
    samples = spark.createDataFrame(
        [("m", {"h": "a"}, 4.0, now, 1), ("m", {"h": "b"}, 6.0, now, 2)],
        "metric_name string, labels map<string,string>, value double, "
        "timestamp timestamp, event_id long",
    )
    cfg = QueryConfig(
        query_id="scalar-q", name="scalar q", query="scalar(sum(m))", time_range_type="instant",
        time_range_time="now",
    )
    out, rtype = evaluate_config_query(samples, cfg, now=now)
    assert rtype == "scalar"
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 10.0 and dict(rows[0]["labels"]) == {}
    assert rows[0]["timestamp"] == now


def test_bare_selector_config_stores_real_metric_name(spark, samples):
    # A8 (executor.go:232-235): a bare selector's wire result carries
    # __name__ — the stored metric_name must be the metric, not the
    # config id. Computed vectors (agg) rightly fall back to query_id.
    bare = QueryConfig(
        query_id="q42", name="n", query='cpu{host="a"}',
        time_range_type="instant", time_range_time="now-1h",
    )
    out = execute_config_query(spark, samples, bare, now=NOW)
    assert out.select("metric_name").distinct().collect()[0][0] == "cpu"

    computed = QueryConfig(
        query_id="q43", name="n", query="sum(cpu) by (host)",
        time_range_type="instant", time_range_time="now-1h",
    )
    out2 = execute_config_query(spark, samples, computed, now=NOW)
    assert out2.select("metric_name").distinct().collect()[0][0] == "q43"


def test_audit_duration_uses_wall_clock_not_frozen_now(spark, samples, tmp_path):
    # the evaluation `now` is frozen by design, but the audit trail must
    # measure real start/end — a frozen audit clock records 0 ms for
    # every execution, including multi-minute ones
    from datetime import timedelta as _td

    ticks = [NOW, NOW + _td(seconds=3)]

    def fake_clock():
        return ticks.pop(0)

    cfg = QueryConfig(
        query_id="g9", name="n", query="sum(cpu) by (host)",
        time_range_type="instant", time_range_time="now-1h",
    )
    execute_config_query(
        spark, samples, cfg, now=NOW,
        store_path=str(tmp_path / "m"), audit_path=str(tmp_path / "a"),
        audit_clock=fake_clock,
    )
    a = spark.read.parquet(str(tmp_path / "a")).collect()
    assert len(a) == 1
    assert a[0]["duration_ms"] == 3000
    assert a[0]["end_time"] - a[0]["start_time"] == _td(seconds=3)


# -- the lifecycle sink: one toArrow, one pyarrow file per (execution, day) --


def _sink_files(store):
    from pathlib import Path

    return sorted(p for p in Path(store).rglob("*") if p.is_file())


def _audit(spark, audit):
    return spark.read.parquet(audit).orderBy("start_time").collect()


@pytest.fixture(scope="module")
def two_day_samples(spark):
    # one series, hourly from 2024-03-14 06:00 to 2024-03-15 11:00
    rows = [
        ("q", "cpu", {"host": "a"}, float(h), NOW - timedelta(hours=30 - h),
         "instant", NOW)
        for h in range(30)
    ]
    return spark.createDataFrame(rows, METRICS_SCHEMA)


@pytest.mark.parametrize("kind,cfg_kw,want", [
    ("instant", dict(query="sum(cpu) by (host)", time_range_type="instant",
                     time_range_time="now-1h"), 2),
    ("range", dict(query="cpu", time_range_type="range", time_range_start="-6h",
                   time_range_end="now", time_range_step="1h"), 12),
    ("scalar", dict(query="2 * 3"), 1),
    ("empty", dict(query="no_such_metric", time_range_type="instant",
                   time_range_time="now-1h"), 0),
])
def test_audited_count_equals_stored_rows(spark, samples, tmp_path, kind, cfg_kw, want):
    store, audit = str(tmp_path / "m"), str(tmp_path / "a")
    cfg = QueryConfig(query_id=f"s-{kind}", name=kind, **cfg_kw)
    execute_config_query(
        spark, samples, cfg, now=NOW, store_path=store, audit_path=audit)
    (row,) = _audit(spark, audit)
    assert row["status"] == "success" and row["records_count"] == want
    files = _sink_files(store)
    if want == 0:
        assert files == []  # an empty result writes no file
        return
    assert spark.read.parquet(store).count() == want
    # one file, hidden tmp renamed away, in the execution's one day
    assert [(f.parent.name, f.suffix) for f in files] == [
        (f"collected_date={NOW.date().isoformat()}", ".parquet")]


def test_one_execution_writes_one_file_per_day(spark, two_day_samples, tmp_path):
    store, audit = str(tmp_path / "m"), str(tmp_path / "a")
    cfg = QueryConfig(
        query_id="s-2d", name="two days", query="cpu", time_range_type="range",
        time_range_start="-30h", time_range_end="now", time_range_step="1h")
    execute_config_query(
        spark, two_day_samples, cfg, now=NOW, store_path=store, audit_path=audit)
    files = _sink_files(store)
    assert [f.parent.name for f in files] == [
        "collected_date=2024-03-14", "collected_date=2024-03-15"]
    stored = spark.read.parquet(store)
    assert _audit(spark, audit)[0]["records_count"] == stored.count() == 30


def test_skip_existing_audits_the_surviving_count(spark, two_day_samples, tmp_path):
    store, audit = str(tmp_path / "m"), str(tmp_path / "a")
    today = QueryConfig(
        query_id="s-skip", name="today", query="cpu",
        time_range_type="instant", time_range_time="now-1h")
    execute_config_query(
        spark, two_day_samples, today, now=NOW, store_path=store, audit_path=audit)
    both_days = QueryConfig(
        query_id="s-skip", name="both days", query="cpu", time_range_type="range",
        time_range_start="-30h", time_range_end="now", time_range_step="1h")
    execute_config_query(
        spark, two_day_samples, both_days, now=NOW, store_path=store,
        audit_path=audit, mode="skip_existing")
    # the 2024-03-15 slice exists, so only the 18 rows of 03-14 survive
    counts = {r["query_name"]: r["records_count"] for r in _audit(spark, audit)}
    assert counts == {"today": 1, "both days": 18}
    assert spark.read.parquet(store).count() == 19


def test_timed_out_config_is_audited_and_writes_no_file(spark, samples, tmp_path):
    import time as _time

    from prom_etl_db_spark.parallel import QueryTimeout

    slow = F.udf(lambda v: _time.sleep(5) or float(v), "double")
    cfg = QueryConfig(
        query_id="s-slow", name="slow", query="cpu", timeout="2s",
        time_range_type="instant", time_range_time="now-1h")
    store, audit = str(tmp_path / "m"), str(tmp_path / "a")
    with pytest.raises(QueryTimeout):
        execute_config_query(
            spark, samples.withColumn("value", slow("value")), cfg, now=NOW,
            store_path=store, audit_path=audit)
    (row,) = _audit(spark, audit)
    assert row["status"] == "timeout" and row["records_count"] == 0
    assert _sink_files(store) == []


_SUBPROCESS_SESSION = """
import sys
sys.path.insert(0, {repo!r})
from datetime import datetime, timedelta
from pyspark.sql import SparkSession, functions as F
from prom_etl_db_spark.config import QueryConfig
from prom_etl_db_spark.executor import execute_config_query
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         {extra}.getOrCreate())
spark.sparkContext.setLogLevel("OFF")
NOW = datetime(2024, 3, 15, 12, 0, 0)
"""


def _run_session(script: str, tmp_path, *, env=None, extra=""):
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    code = _SUBPROCESS_SESSION.format(repo=repo, extra=extra) + script
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True,
        text=True, timeout=300, env={**os.environ, **(env or {})})
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_audit_timestamps_are_utc_under_any_host_zone(tmp_path):
    """The audit clock's naive UTC values are stored as UTC even when
    the Python process's local zone is not UTC."""
    import pyarrow.parquet as pq

    out = _run_session(f"""
samples = spark.createDataFrame(
    [("cpu", {{"host": "a"}}, 1.0, NOW - timedelta(hours=1))],
    "metric_name string, labels map<string,string>, value double, timestamp timestamp")
ticks = [datetime(2024, 3, 15, 10, 0, 0), datetime(2024, 3, 15, 10, 0, 3)]
cfg = QueryConfig(query_id="tz", name="tz", query="cpu",
                  time_range_type="instant", time_range_time="now-1h")
execute_config_query(spark, samples, cfg, now=NOW, store_path={str(tmp_path / 'm')!r},
                     audit_path={str(tmp_path / 'a')!r}, audit_clock=lambda: ticks.pop(0))
a = spark.read.parquet({str(tmp_path / 'a')!r})
print(a.select(F.date_format("start_time", "HH:mm:ss"),
               F.date_format("end_time", "HH:mm:ss")).first())
""", tmp_path, env={"TZ": "Asia/Kolkata"})
    assert "'10:00:00'" in out and "'10:00:03'" in out, out
    (row,) = pq.read_table(str(tmp_path / "a")).to_pylist()
    assert row["start_time"] == datetime(2024, 3, 15, 10, 0, 0)
    assert row["created_at"] == datetime(2024, 3, 15, 10, 0, 0)
    assert row["duration_ms"] == 3000


def test_result_above_driver_max_result_size_is_audited_failed(tmp_path):
    """The driver-side bound is Spark's own ``spark.driver.maxResultSize``:
    a result above it fails the execution, audited, with no file, and the
    audit ``error_message`` leads with that root cause rather than the
    JVM frames around it."""
    import pyarrow.parquet as pq

    store = tmp_path / "m"
    _run_session(f"""
samples = spark.range(20000).select(
    F.lit("cpu").alias("metric_name"),
    F.create_map(F.lit("host"), F.concat(F.repeat(F.lit("x"), 200),
                                         F.col("id").cast("string"))).alias("labels"),
    F.col("id").cast("double").alias("value"),
    F.lit(NOW - timedelta(hours=1)).alias("timestamp"))
cfg = QueryConfig(query_id="big", name="big", query="cpu",
                  time_range_type="instant", time_range_time="now-1h")
try:
    execute_config_query(spark, samples, cfg, now=NOW, store_path={str(store)!r},
                         audit_path={str(tmp_path / 'a')!r})
except Exception as e:
    assert "spark.driver.maxResultSize" in str(e), str(e)
else:
    raise SystemExit("a ~5 MB result passed a 1m maxResultSize")
""", tmp_path, extra='.config("spark.driver.maxResultSize", "1m")')
    (row,) = pq.read_table(str(tmp_path / "a")).to_pylist()
    assert row["status"] == "failed" and row["records_count"] == 0
    assert "spark.driver.maxResultSize" in row["error_message"][:300], row["error_message"]
    assert not store.exists() or not [p for p in store.rglob("*") if p.is_file()]
