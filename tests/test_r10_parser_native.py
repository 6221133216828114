"""Round-10: PromQL-string reachability for NATIVE histograms (the r9
verdict's What's-missing #2) — `eval_promql(native_hists=...)` routes
selectors over native metrics to the gated combinators:
rate/increase → native_hist_increase/rate, sum by/avg by →
native_hist_sum_by/avg_by, histogram_quantile/fraction/count/sum/avg
collapse back to float vectors. Refusals are loud everywhere else."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import Row

T0 = datetime(2024, 1, 29, 0, 0)
T1 = datetime(2024, 1, 29, 0, 5)
AT = datetime(2024, 1, 29, 0, 6)

_SCHEMA = (
    "metric_name string, labels map<string,string>, ts timestamp, "
    "schema int, zero_threshold double, zero_count long, count long, "
    "sum double, pos_offset int, pos_counts array<long>, "
    "neg_offset int, neg_counts array<long>"
)


def _h(job, inst, ts, z, pos, neg):
    return Row(metric_name="h", labels={"job": job, "inst": inst}, ts=ts,
               schema=0, zero_threshold=0.001, zero_count=z,
               count=z + sum(pos) + sum(neg), sum=float(sum(pos)) * 1.5,
               pos_offset=0, pos_counts=pos, neg_offset=0, neg_counts=neg)


@pytest.fixture(scope="module")
def nh(spark):
    rows = [
        _h("a", "1", T0, 1, [2, 3], [1, 0]),
        _h("a", "1", T1, 2, [4, 6], [2, 1]),
        _h("a", "2", T0, 0, [1, 1], [0, 0]),
        _h("a", "2", T1, 1, [3, 2], [0, 2]),
        _h("b", "1", T0, 0, [5, 0], [0, 0]),
        _h("b", "1", T1, 0, [9, 4], [0, 0]),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


@pytest.fixture(scope="module")
def samples(spark):
    return spark.createDataFrame(
        [], "metric_name string, labels map<string,string>, "
            "value double, timestamp timestamp")


def _eval(samples, nh, q):
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    return eval_promql(samples, q, AT, native_hists=nh,
                       native_metrics=frozenset({"h"}))


def test_flagship_idiom_quantile_over_sum_rate(spark, samples, nh):
    """histogram_quantile(0.5, sum by (job) (rate(h[10m]))) — the full
    lowering chain. Hand walk for job=a: increases merge to pos [4,4],
    neg [1,3], zero 2, count 14; target 7 crosses pos bucket 0 at
    frac 0.25 → 2^(-0.75)."""
    out = _eval(samples, nh,
                "histogram_quantile(0.5, sum by (job) (rate(h[10m])))")
    got = {r["labels"]["job"]: r["value"] for r in out.collect()}
    assert got["a"] == pytest.approx(2 ** -0.75)
    assert got["b"] == pytest.approx(1.0)


def test_rate_then_quantile_per_series(spark, samples, nh):
    out = _eval(samples, nh, "histogram_quantile(0.9, rate(h[10m]))")
    assert out.count() == 3  # one row per series, labels preserved
    row = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
           for r in out.collect()}
    # b/1 increase: pos [4,4], count 8 → target 7.2 crosses bucket
    # k=1 at frac 0.8 → 2^((1-1+0.8)·2^0) = 2^0.8
    assert row[("b", "1")] == pytest.approx(2 ** 0.8)


def test_histogram_count_sum_avg(spark, samples, nh):
    out = _eval(samples, nh,
                "histogram_count(sum by (job) (increase(h[10m])))")
    got = {r["labels"]["job"]: r["value"] for r in out.collect()}
    assert got == {"a": 14.0, "b": 8.0}
    out2 = _eval(samples, nh,
                 "histogram_sum(avg by (job) (increase(h[10m])))")
    got2 = {r["labels"]["job"]: r["value"] for r in out2.collect()}
    assert got2["a"] == pytest.approx(6.0)   # (7.5 + 4.5) / 2
    out3 = _eval(samples, nh,
                 'histogram_avg(increase(h{job="a"}[10m]))')
    got3 = {r["labels"]["inst"]: r["value"] for r in out3.collect()}
    assert got3["1"] == pytest.approx(7.5 / 8)


def test_instant_selector_latest_per_series(spark, samples, nh):
    """histogram_quantile(0.5, h{job="b"}): the latest sample within
    staleness — z 0, pos [9,4], count 13, target 6.5 → frac 6.5/9 in
    bucket index 0."""
    out = _eval(samples, nh, 'histogram_quantile(0.5, h{job="b"})')
    (r,) = out.collect()
    assert r["value"] == pytest.approx(2 ** (6.5 / 9 - 1))


def test_sum_without_by_merges_all(spark, samples, nh):
    out = _eval(samples, nh, "histogram_count(sum(increase(h[10m])))")
    (r,) = out.collect()
    assert dict(r["labels"]) == {} and r["value"] == 22.0


def test_refusals_are_loud(spark, samples, nh):
    from prom_etl_db_spark.operators.promql_parser import PromQLError

    for q, msg in [
        ("topk(1, h)", "not defined over native-histogram"),
        ("rate(h[10m]) + 1", "binary"),
        ("sum(h)", "returns a native-histogram vector"),
        ("deriv(h[10m])", "not defined over native-histogram"),
        ("max by (job) (rate(h[10m]))", "max is not defined"),
        ("h[10m]", "needs a range function"),
    ]:
        with pytest.raises(PromQLError, match=msg):
            _eval(samples, nh, q)


def test_sum_without_merges_remaining_labels(spark, samples, nh):
    """sum without (inst): each series groups by its OWN labels minus
    the excluded keys (and __name__, the PromQL aggregation rule) —
    a/1 and a/2 merge under {job: a}, b/1 stands alone."""
    out = _eval(samples, nh,
                "histogram_count(sum without (inst) (increase(h[10m])))")
    got = {tuple(sorted(dict(r["labels"]).items())): r["value"]
           for r in out.collect()}
    assert got == {(("job", "a"),): 14.0, (("job", "b"),): 8.0}
    # and without() with NO exclusions still drops only __name__
    out2 = _eval(samples, nh,
                 "histogram_count(sum without () (increase(h[10m])))")
    assert out2.count() == 3


def test_scalar_metrics_unaffected(spark, nh):
    """A scalar metric keeps the classic path even when native_hists
    is present."""
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    samples = spark.createDataFrame(
        [Row(metric_name="m", labels={"k": "v"}, value=3.0, timestamp=T1)],
        "metric_name string, labels map<string,string>, value double, "
        "timestamp timestamp")
    out = eval_promql(samples, "m", AT, native_hists=nh,
                      native_metrics=frozenset({"h"}))
    (r,) = out.collect()
    assert r["value"] == 3.0


def test_histogram_scalar_algebra(spark, samples, nh):
    """h*k / h/k / k*h scale counts; quantiles are scale-invariant."""
    base = _eval(samples, nh,
                 "histogram_quantile(0.5, sum by (job) (rate(h[10m])))")
    scaled = _eval(
        samples, nh,
        "histogram_quantile(0.5, sum by (job) (rate(h[10m])) * 300)")
    b = {r["labels"]["job"]: r["value"] for r in base.collect()}
    s = {r["labels"]["job"]: r["value"] for r in scaled.collect()}
    for j in b:
        assert s[j] == pytest.approx(b[j])
    cnt = _eval(samples, nh, "histogram_count(increase(h[10m]) * 2)")
    got = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
           for r in cnt.collect()}
    assert got[("b", "1")] == pytest.approx(16.0)   # 8 * 2
    half = _eval(samples, nh, "histogram_count(increase(h[10m]) / 2)")
    goth = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
            for r in half.collect()}
    assert goth[("b", "1")] == pytest.approx(4.0)
    pre = _eval(samples, nh, "histogram_count(2 * increase(h[10m]))")
    gotp = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
            for r in pre.collect()}
    assert gotp[("b", "1")] == pytest.approx(16.0)


def test_histogram_vector_add_sub(spark, samples, nh):
    """h+h doubles each series against itself (exact label matching);
    h-h is the zero histogram; unmatched label sets drop."""
    dbl = _eval(samples, nh,
                "histogram_count(increase(h[10m]) + increase(h[10m]))")
    got = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
           for r in dbl.collect()}
    assert got[("b", "1")] == pytest.approx(16.0)
    assert got[("a", "2")] == pytest.approx(12.0)
    zero = _eval(samples, nh,
                 "histogram_count(increase(h[10m]) - increase(h[10m]))")
    for r in zero.collect():
        assert r["value"] == pytest.approx(0.0)
    # disjoint label sets (job=a inst=1 vs job=b inst=1) never match
    disj = _eval(
        samples, nh,
        'histogram_count(increase(h{job="a"}[10m]) '
        '+ increase(h{job="b"}[10m]))')
    assert disj.count() == 0


def test_histogram_stddev_stdvar(spark, samples, nh):
    """histogram_stdvar over the latest b sample: pos [9,4] schema 0,
    sum 19.5, count 13 — the geometric-mid moments formula."""
    import math

    out = _eval(samples, nh, 'histogram_stdvar(h{job="b"})')
    (r,) = out.collect()
    mean = 19.5 / 13
    s1 = 9 * 2 ** -0.5 + 4 * 2 ** 0.5
    s2 = 9 * 0.5 + 4 * 2.0
    var = (s2 - 2 * mean * s1 + mean * mean * 13) / 13
    assert r["value"] == pytest.approx(var)
    out2 = _eval(samples, nh, 'histogram_stddev(h{job="b"})')
    (r2,) = out2.collect()
    assert r2["value"] == pytest.approx(math.sqrt(var))


def test_histogram_algebra_refusals(spark, samples, nh):
    from prom_etl_db_spark.operators.promql_parser import PromQLError

    for q in ["increase(h[10m]) + 1",
              "increase(h[10m]) > increase(h[10m])",
              "increase(h[10m]) + group_left increase(h[10m])"]:
        with pytest.raises(PromQLError):
            _eval(samples, nh, q)


def test_histogram_add_on_ignoring(spark, samples, nh):
    """on(...)/ignoring(...) matching for histogram +/-: ignoring(inst)
    pairs a/1 with a/2 within job=a... no — one-to-one requires the
    key unique PER SIDE; with both sides the full vector, job=a holds
    two series and refuses (PromQL's many-to-many error). Narrowed
    selectors make it one-to-one and the merge works."""
    ok = _eval(
        samples, nh,
        'histogram_count(increase(h{inst="1",job="a"}[10m]) '
        '+ ignoring(inst) increase(h{inst="2",job="a"}[10m]))')
    (r,) = ok.collect()
    assert dict(r["labels"]) == {"job": "a"}
    assert r["value"] == pytest.approx(14.0)  # 8 + 6
    ok2 = _eval(
        samples, nh,
        'histogram_count(increase(h{inst="1",job="a"}[10m]) '
        '- on(job) increase(h{inst="2",job="a"}[10m]))')
    (r2,) = ok2.collect()
    assert dict(r2["labels"]) == {"job": "a"} and r2["value"] == 2.0
    # many-to-many refuses loudly at evaluation
    bad = _eval(samples, nh,
                "histogram_count(increase(h[10m]) "
                "+ on(job) increase(h[10m]))")
    with pytest.raises(Exception, match="many-to-many"):
        bad.collect()


def test_histogram_default_matching_drops_name(spark, samples, nh):
    """Default (no modifier) matching ignores __name__ and the result
    labels drop it — the PromQL binop rule."""
    out = _eval(samples, nh,
                'histogram_count(increase(h{job="b"}[10m]) '
                '+ increase(h{job="b"}[10m]))')
    (r,) = out.collect()
    assert "__name__" not in dict(r["labels"])
    assert r["value"] == pytest.approx(16.0)


def test_nhcb_quantile_from_string(spark, samples):
    """A native_hists frame carrying CUSTOM-BUCKET rows (schema -53):
    histogram_quantile splits per family — NHCB rows take the classic
    linear le-rule, exponential rows the native walk — and the string
    form serves both. NHCB hand walk: cv [1,2,4], counts [2,4,2,2]
    (+Inf), target 5 crosses le=2 from cum 2 to 6 -> 1.75."""
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    schema = _SCHEMA + ", custom_values array<double>"
    rows = [
        Row(metric_name="h", labels={"kind": "nhcb"}, ts=T1, schema=-53,
            zero_threshold=0.0, zero_count=0, count=10, sum=20.0,
            pos_offset=0, pos_counts=[2, 4, 2, 2], neg_offset=0,
            neg_counts=[], custom_values=[1.0, 2.0, 4.0]),
        Row(metric_name="h", labels={"kind": "exp"}, ts=T1, schema=0,
            zero_threshold=0.001, zero_count=0, count=13, sum=19.5,
            pos_offset=0, pos_counts=[9, 4], neg_offset=0,
            neg_counts=[], custom_values=None),
    ]
    nh = spark.createDataFrame(rows, schema)
    out = eval_promql(samples, "histogram_quantile(0.5, h)", AT,
                      native_hists=nh, native_metrics=frozenset({"h"}))
    got = {r["labels"]["kind"]: r["value"] for r in out.collect()}
    assert got["nhcb"] == pytest.approx(1.75)
    assert got["exp"] == pytest.approx(2 ** (6.5 / 9 - 1))


def test_executor_config_over_native_metric(spark, samples, nh):
    """The reference's config-driven path: an INSTANT config whose
    PromQL string names a native metric evaluates through the native
    routing and projects storable float records; range-mode and
    bare-histogram-result configs refuse loudly."""
    from prom_etl_db_spark.config import QueryConfig
    from prom_etl_db_spark.executor import (
        evaluate_config_query,
        execute_config_query,
    )
    from prom_etl_db_spark.operators.promql_parser import PromQLError

    cfg = QueryConfig(
        query_id="nh1", name="p50",
        query="histogram_quantile(0.5, sum by (job) (rate(h[10m])))",
        time_range_type="instant", time_range_time="now",
    )
    out, rtype = evaluate_config_query(
        samples, cfg, now=AT,
        native_hists=nh, native_metrics=frozenset({"h"}))
    assert rtype == "instant"
    got = {r["labels"]["job"]: r["value"] for r in out.collect()}
    assert got["a"] == pytest.approx(2 ** -0.75)
    # full lifecycle (dry-run): computed vector -> query_id metric name
    rec = execute_config_query(
        spark, samples, cfg, now=AT,
        native_hists=nh, native_metrics=frozenset({"h"}))
    assert {r["metric_name"] for r in rec.collect()} == {"nh1"}
    # range mode: the supported collapse shapes evaluate per step
    rcfg = QueryConfig(
        query_id="nh2", name="r",
        query="histogram_count(sum by (job) (increase(h[10m])))",
        time_range_type="range", time_range_start="-1m",
        time_range_end="now", time_range_step="1m",
    )
    rout, rt = evaluate_config_query(
        samples, rcfg, now=AT,
        native_hists=nh, native_metrics=frozenset({"h"}))
    assert rt == "range"
    got_r = {(r["labels"]["job"], r["timestamp"].minute): r["value"]
             for r in rout.collect()}
    # both instants' 10m windows hold T0+T1 → the full increases
    assert got_r[("a", 5)] == 14.0 and got_r[("a", 6)] == 14.0
    assert got_r[("b", 6)] == 8.0
    # a range shape that cannot collapse to floats refuses
    bad = QueryConfig(
        query_id="nh2b", name="r", query="rate(h[10m])",
        time_range_type="range", time_range_start="-1h",
        time_range_end="now", time_range_step="5m",
    )
    with pytest.raises(PromQLError, match="collapse to floats"):
        evaluate_config_query(
            samples, bad, now=AT,
            native_hists=nh, native_metrics=frozenset({"h"}))
    # a bare histogram-vector result refuses (records store floats)
    hcfg = QueryConfig(
        query_id="nh3", name="bare", query="rate(h[10m])",
        time_range_type="instant", time_range_time="now",
    )
    with pytest.raises(PromQLError, match="histogram"):
        evaluate_config_query(
            samples, hcfg, now=AT,
            native_hists=nh, native_metrics=frozenset({"h"}))


def test_nhcb_fraction_from_string(spark, samples):
    """histogram_fraction splits per family too: NHCB rows take the
    classic linear CDF. cv [1,2,4], counts [2,4,2,2], count 10 →
    fraction(0, 2) = cum(2)/10 = 6/10."""
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    schema = _SCHEMA + ", custom_values array<double>"
    rows = [
        Row(metric_name="h", labels={"kind": "nhcb"}, ts=T1, schema=-53,
            zero_threshold=0.0, zero_count=0, count=10, sum=20.0,
            pos_offset=0, pos_counts=[2, 4, 2, 2], neg_offset=0,
            neg_counts=[], custom_values=[1.0, 2.0, 4.0]),
        Row(metric_name="h", labels={"kind": "exp"}, ts=T1, schema=0,
            zero_threshold=0.001, zero_count=0, count=13, sum=19.5,
            pos_offset=0, pos_counts=[9, 4], neg_offset=0,
            neg_counts=[], custom_values=None),
    ]
    nh = spark.createDataFrame(rows, schema)
    out = eval_promql(samples, "histogram_fraction(0, 2, h)", AT,
                      native_hists=nh, native_metrics=frozenset({"h"}))
    got = {r["labels"]["kind"]: r["value"] for r in out.collect()}
    assert got["nhcb"] == pytest.approx(0.6)
    # exp leg: clamp-sum CDF — bucket 0 (0.5,1] full (9), bucket 1
    # (1,2] full (4) → 13/13
    assert got["exp"] == pytest.approx(1.0)


def test_eval_native_range_shapes(spark, samples, nh):
    """eval_native_range directly: quantile over sum-by-rate per step,
    count over rate divides per second, unsupported shapes refuse."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError,
        eval_native_range,
        parse,
    )

    k = dict(start=T1, end=AT, step="1m")
    q = eval_native_range(
        nh, frozenset({"h"}),
        parse("histogram_quantile(0.5, sum by (job) (rate(h[10m])))"),
        **k)
    got = {(r["labels"]["job"], r["bucket_start"].minute): r["value"]
           for r in q.collect()}
    # each instant's window holds both pushes → the instant result
    assert got[("a", 5)] == pytest.approx(2 ** -0.75)
    assert got[("a", 6)] == pytest.approx(2 ** -0.75)
    c = eval_native_range(
        nh, frozenset({"h"}), parse("histogram_count(rate(h[10m]))"), **k)
    gc = {(r["labels"]["job"], r["labels"]["inst"],
           r["bucket_start"].minute): r["value"] for r in c.collect()}
    assert gc[("b", "1", 6)] == pytest.approx(8 / 300)
    f = eval_native_range(
        nh, frozenset({"h"}),
        parse("histogram_fraction(0, 8, sum without (inst) "
              "(increase(h[10m])))"), **k)
    assert f.count() == 4  # 2 groups x 2 instants
    for bad in ["rate(h[10m])",
                "histogram_quantile(0.9, max by (j) (rate(h[10m])))",
                "histogram_quantile(0.9, rate(h[10m:1m]))",
                "histogram_quantile(0.9, h)"]:
        with pytest.raises(PromQLError):
            eval_native_range(nh, frozenset({"h"}), parse(bad), **k)


def test_native_range_rate_divides_per_series(spark, samples):
    """Two series in one group scraped over DIFFERENT window spans:
    sum by (job) of rate() must sum each series' increase/ITS dt —
    summing increases first and dividing once would mis-rate the
    group (the r10 review fix)."""
    from prom_etl_db_spark.operators.promql_parser import (
        eval_native_range,
        parse,
    )

    rows = [
        # series p: dt 300 s, count increase 6
        Row(metric_name="h", labels={"job": "j", "i": "p"}, ts=T0,
            schema=0, zero_threshold=0.001, zero_count=0, count=2,
            sum=1.0, pos_offset=0, pos_counts=[2], neg_offset=0,
            neg_counts=[]),
        Row(metric_name="h", labels={"job": "j", "i": "p"}, ts=T1,
            schema=0, zero_threshold=0.001, zero_count=0, count=8,
            sum=2.0, pos_offset=0, pos_counts=[8], neg_offset=0,
            neg_counts=[]),
        # series q: dt 60 s, count increase 3
        Row(metric_name="h", labels={"job": "j", "i": "q"},
            ts=datetime(2024, 1, 29, 0, 4), schema=0,
            zero_threshold=0.001, zero_count=0, count=1, sum=0.5,
            pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[]),
        Row(metric_name="h", labels={"job": "j", "i": "q"}, ts=T1,
            schema=0, zero_threshold=0.001, zero_count=0, count=4,
            sum=1.5, pos_offset=0, pos_counts=[4], neg_offset=0,
            neg_counts=[]),
    ]
    nh = spark.createDataFrame(rows, _SCHEMA)
    out = eval_native_range(
        nh, frozenset({"h"}),
        parse("histogram_count(sum by (job) (rate(h[10m])))"),
        start=T1, end=T1, step="1m")
    (r,) = out.collect()
    assert r["value"] == pytest.approx(6 / 300 + 3 / 60)


def test_sum_by_label_named_like_a_component(spark, samples):
    """A by-label named "schema"/"count"/"sum" (legal PromQL label
    names) must group WITHOUT shadowing the histogram component it
    collides with (r10 review fix: the extracted group column used the
    bare label name and overwrote the real column)."""
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    rows = [
        Row(metric_name="h", labels={"schema": "v1"}, ts=T0, schema=0,
            zero_threshold=0.001, zero_count=0, count=2, sum=1.0,
            pos_offset=0, pos_counts=[2], neg_offset=0, neg_counts=[]),
        Row(metric_name="h", labels={"schema": "v1"}, ts=T1, schema=0,
            zero_threshold=0.001, zero_count=0, count=8, sum=2.0,
            pos_offset=0, pos_counts=[8], neg_offset=0, neg_counts=[]),
    ]
    nh = spark.createDataFrame(rows, _SCHEMA)
    out = eval_promql(
        samples,
        'histogram_count(sum by (schema) (increase(h[10m])))',
        AT, native_hists=nh, native_metrics=frozenset({"h"}))
    (r,) = out.collect()
    assert dict(r["labels"]) == {"schema": "v1"}
    assert r["value"] == 6.0


def test_nhcb_range_quantile(spark, samples):
    """NHCB series through the RANGE path: the per-instant split routes
    schema −53 rows to the classic rule with the grid instant riding
    the labels. cv [1,2,4]; increases per instant: [2,2] (+Inf 0) at
    step 1 and [4,4] at step 2 → q=0.5 targets 2 of 4 → le=2 crossing
    from 2 → 1.5... hand walk below."""
    from datetime import datetime

    from prom_etl_db_spark.operators.promql_parser import (
        eval_native_range,
        parse,
    )

    t = lambda m: datetime(2024, 1, 29, 0, m)  # noqa: E731
    schema = _SCHEMA + ", custom_values array<double>"

    def row(ts, counts, cnt):
        return Row(metric_name="h", labels={"k": "c"}, ts=ts, schema=-53,
                   zero_threshold=0.0, zero_count=0, count=cnt, sum=1.0,
                   pos_offset=0, pos_counts=counts, neg_offset=0,
                   neg_counts=[], custom_values=[1.0, 2.0, 4.0])

    nh = spark.createDataFrame(
        [row(t(0), [1, 1, 0, 0], 2),
         row(t(5), [3, 3, 0, 0], 6),
         row(t(10), [5, 5, 0, 0], 10)], schema)
    out = eval_native_range(
        nh, frozenset({"h"}),
        parse("histogram_quantile(0.5, increase(h[10m]))"),
        start=t(5), end=t(10), step="5m")
    got = {r["bucket_start"].minute: r["value"] for r in out.collect()}
    # step :05 window covers @0,@5: inc [2,2,0,0], count 4, target 2 →
    # cum hits exactly 2 at le=1... classic rule: target 2, cum(1)=2 →
    # crossing bucket le=1, prev 0, interpolate 0 + 1*(2-0)/(2-0) = 1.0
    assert got[5] == pytest.approx(1.0)
    # step :10 covers @0..@10: inc [4,4], count 8, target 4, cum(1)=4
    assert got[10] == pytest.approx(1.0)


def test_histogram_times_float_vector(spark, nh):
    """h / on(job) group_left v: many histograms per job scale by one
    gauge (normalize-by-gauge); one-to-one without a modifier; v/h and
    a many float side refuse."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError,
        eval_promql,
    )

    samples = spark.createDataFrame(
        [Row(metric_name="g", labels={"job": "a"}, value=2.0,
             timestamp=T1),
         Row(metric_name="g", labels={"job": "b"}, value=4.0,
             timestamp=T1)],
        "metric_name string, labels map<string,string>, value double, "
        "timestamp timestamp")

    def ev(q):
        return eval_promql(samples, q, AT, native_hists=nh,
                           native_metrics=frozenset({"h"}))

    out = ev("histogram_count(increase(h[10m]) / on(job) group_left g)")
    got = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
           for r in out.collect()}
    # a/1 count inc 8 ÷ 2; a/2 6 ÷ 2; b/1 8 ÷ 4
    assert got == {("a", "1"): 4.0, ("a", "2"): 3.0, ("b", "1"): 2.0}
    # prefix form v * h
    out2 = ev("histogram_count(g * on(job) group_right increase(h[10m]))")
    got2 = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
            for r in out2.collect()}
    assert got2[("b", "1")] == 32.0
    # one-to-one without a modifier: job=b is unique → works narrowed
    out3 = ev('histogram_count(increase(h{job="b"}[10m]) '
              "* on(job) g)")
    (r3,) = out3.collect()
    assert dict(r3["labels"]) == {"job": "b"} and r3["value"] == 32.0
    # one-to-one with a duplicated histogram key refuses at evaluation
    bad = ev("histogram_count(increase(h[10m]) * on(job) g)")
    with pytest.raises(Exception, match="one-to-one"):
        bad.collect()
    # the float side can never be the many side
    with pytest.raises(PromQLError, match="many side at the FLOAT"):
        ev("histogram_count(increase(h[10m]) * on(job) group_right g)")
    # v / h is undefined
    with pytest.raises(PromQLError, match="binary"):
        ev("histogram_count(g / on(job) increase(h[10m]))")


def test_delta_string_over_native_gauge_histogram(spark, samples, nh):
    """delta(h[10m]) from a string: the gauge endpoint difference —
    a/2's zero bucket moved 0→1 and neg gained [0,2] (all growth in
    this fixture, so delta == increase here); the semantic difference
    (no reset rule) is pinned at the operator level."""
    out = _eval(samples, nh, "histogram_count(delta(h[10m]))")
    got = {(r["labels"]["job"], r["labels"]["inst"]): r["value"]
           for r in out.collect()}
    assert got[("b", "1")] == 8.0


def test_irate_idelta_use_last_two_samples(spark, samples):
    """irate/idelta over THREE samples read only the newest two."""
    from prom_etl_db_spark.operators.promql_parser import eval_promql

    t = lambda m: datetime(2024, 1, 29, 0, m)  # noqa: E731
    rows = [
        Row(metric_name="h", labels={"i": "x"}, ts=t(0), schema=0,
            zero_threshold=0.001, zero_count=0, count=1, sum=0.5,
            pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[]),
        Row(metric_name="h", labels={"i": "x"}, ts=t(4), schema=0,
            zero_threshold=0.001, zero_count=0, count=7, sum=2.0,
            pos_offset=0, pos_counts=[7], neg_offset=0, neg_counts=[]),
        Row(metric_name="h", labels={"i": "x"}, ts=t(5), schema=0,
            zero_threshold=0.001, zero_count=0, count=4, sum=1.0,
            pos_offset=0, pos_counts=[4], neg_offset=0, neg_counts=[]),
    ]
    nh = spark.createDataFrame(rows, _SCHEMA)
    # idelta: last two = @4 (7) -> @5 (4): signed -3 over 60 s
    out = eval_promql(samples, "histogram_count(idelta(h[10m]))", AT,
                      native_hists=nh, native_metrics=frozenset({"h"}))
    (r,) = out.collect()
    assert r["value"] == -3.0
    # irate: the drop IS a counter reset -> last verbatim (4) / 60 s
    out2 = eval_promql(samples, "histogram_count(irate(h[10m]))", AT,
                       native_hists=nh, native_metrics=frozenset({"h"}))
    (r2,) = out2.collect()
    assert r2["value"] == pytest.approx(4 / 60)


_FLAGSHIP = "histogram_quantile(0.9, sum by (job) (rate(h[10m])))"


def _py4j_calls(spark, build):
    """py4j round trips ``build()`` makes, counted on the gateway
    client without py4j's own garbage-collection commands (``m\\nd\\n``)."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return n[0]


def test_flagship_build_py4j_budget(spark, samples, nh):
    """The native kernels and their lowering are SQL text applied in a
    few projections, so building the flagship plan costs ~560 py4j
    round trips (the Column-tree kernels cost ~10k)."""
    _eval(samples, nh, _FLAGSHIP)  # schemas and functions resolved once
    calls = _py4j_calls(spark, lambda: _eval(samples, nh, _FLAGSHIP))
    assert calls <= 750, calls


def test_flagship_prefix_sums_once_in_plan(spark, samples, nh):
    """The quantile's O(n²) prefix-sum fold is a staged column: the
    optimized plan holds it once for the one row pipeline, not once per
    use of the crossing position."""
    plan = (_eval(samples, nh, _FLAGSHIP)._jdf.queryExecution()
            .optimizedPlan().toString())
    assert plan.count("lambdafunction(concat(") == 1
