"""Late-r8 adversarial seam pass: the float/NHCB/exemplar/CT surface
added after the main r8 wave. Pins the seams probed during the pass
(all clean at probe time — this file keeps them that way)."""

import math
import struct

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from prom_etl_db_spark.functions import otlp as O
from prom_etl_db_spark.functions import remote_write as RW
from prom_etl_db_spark.functions.remote_write import (
    _enc_field,
    _enc_len,
    _enc_uvarint,
)
from prom_etl_db_spark.operators import native_hist as NH


def test_float_histogram_count_below_buckets_refuses():
    with pytest.raises(ValueError, match="below the sum"):
        RW.decode_write_request_v2(RW.encode_write_request_v2(
            [{"labels": {}, "samples": [], "histograms": [{
                "flavor": "float", "count": 1.0, "zero_count": 0.0,
                "positive_spans": [(0, 1)], "positive_counts": [2.5]}]}]))


def test_bare_exemplar_gets_proto3_defaults():
    """An exemplar with ONLY a trace_id (v2 labels omitted, value
    omitted) decodes to the proto3 defaults — not a crash, not a
    skip."""
    ex = _enc_len(5, b"\x11" * 16)  # unknown-to-v2 field: otlp trace
    req = _enc_len(4, b"") + _enc_len(5, _enc_len(4, ex))
    (s,) = RW.decode_write_request_v2(req)
    assert s["exemplars"] == [{"labels": {}, "value": 0.0, "timestamp": 0}]


def test_otlp_zero_length_ids_refuse():
    bad = _enc_field(3, 1) + struct.pack("<d", 1.0) + _enc_len(5, b"")
    point = (_enc_field(3, 1) + struct.pack("<Q", 1)
             + _enc_field(4, 1) + struct.pack("<d", 1.0)
             + _enc_len(5, bad))
    metric = _enc_len(1, b"m") + _enc_len(5, _enc_len(1, point))
    req = _enc_len(1, _enc_len(2, _enc_len(2, metric)))
    with pytest.raises(ValueError, match="trace_id is 0 bytes"):
        O.decode_export_metrics(req)


def test_negative_created_timestamp_roundtrips():
    enc = RW.encode_write_request_v2(
        [{"labels": {}, "samples": [(1.0, 5)], "created_timestamp": -1}])
    (s,) = RW.decode_write_request_v2(enc)
    assert s["created_timestamp"] == -1


def test_float_nhcb_decodes_and_le_maps(spark):
    """NHCB + float flavor together (recording rules over classic-
    bucket histograms produce exactly this)."""
    enc = RW.snappy_compress(RW.encode_write_request_v2(
        [{"labels": {"__name__": "m"}, "samples": [], "histograms": [{
            "flavor": "float", "count": 3.5, "zero_count": 0.0,
            "schema": -53, "zero_threshold": 0.0,
            "positive_spans": [(0, 2)], "positive_counts": [2.0, 1.5],
            "custom_values": [1.0]}]}]))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    pts = RW.remote_write_v2_native_histograms(df, flavor="float")
    out = {(r["le"], r["cum"]) for r in NH.nhcb_to_le_buckets(pts).select(
        "le_cum.le", "le_cum.cum").collect()}
    # index 0 -> le 1.0 cum 2.0; index 1 == len(cv) -> +Inf forced 3.5
    assert out == {("1.0", 2.0), ("+Inf", 3.5)}


def test_histogram_stats_missing_sum_yields_nulls(spark):
    """prompb sum is optional; without it avg/stdvar/stddev are NULL
    (unknown), NOT 0 and NOT NaN (NaN means 'empty histogram')."""
    base = {
        "metric_name": "m", "labels": {}, "timestamp_ms": 0,
        "count": 3, "sum": None, "schema": 0, "zero_threshold": 0.0,
        "zero_count": 0, "pos_offset": 0, "pos_counts": [3],
        "neg_offset": 0, "neg_counts": [], "custom_values": [],
    }
    df = spark.createDataFrame([Row(**base)], schema=RW.NATIVE_HIST_SCHEMA)
    (r,) = NH.histogram_stats(df).collect()
    assert r["hist_count"] == 3
    assert r["hist_sum"] is None and r["hist_avg"] is None
    assert r["hist_stdvar"] is None and r["hist_stddev"] is None


def test_ct_aware_increase_null_ct_means_no_zero_injection(spark):
    """A sender without created_timestamp (v1 pushes, old agents) must
    fall back to plain windowed increase — NULL CT is 'unknown birth',
    never 'born in window'."""
    enc = RW.snappy_compress(RW.encode_write_request_v2(
        [{"labels": {"__name__": "c"},
          "samples": [(5.0, 1000), (9.0, 2000)]}]))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    pts = RW.remote_write_v2_samples(df, with_created=True)
    w = Window.partitionBy("push_id").orderBy("timestamp_ms")
    out = pts.withColumn("prev", F.lag("value").over(w)).withColumn(
        "contrib",
        F.when(F.col("prev").isNull(),
               F.when(F.col("created_timestamp_ms") >= F.lit(0),
                      F.col("value")).otherwise(F.lit(0.0)))
        .when(F.col("value") < F.col("prev"), F.col("value"))
        .otherwise(F.col("value") - F.col("prev")),
    ).groupBy("push_id").agg(F.sum("contrib").alias("inc")).collect()
    # NULL >= 0 is NULL -> otherwise(0.0): first sample contributes 0
    assert out[0]["inc"] == 4.0


def test_unpacked_custom_values_accepted():
    """proto3: repeated doubles must parse in unpacked form too."""
    body = (_enc_field(1, 0) + _enc_uvarint(2)  # count_int = 2
            + _enc_field(4, 0) + _enc_uvarint(
                (abs(-53) << 1) - 1 if -53 < 0 else -53 << 1)  # zigzag -53
            + _enc_len(11, _enc_field(1, 0) + _enc_uvarint(0)
                       + _enc_field(2, 0) + _enc_uvarint(1))  # span (0,1)
            + _enc_len(12, _enc_uvarint(2 << 1))  # delta +2 zigzag
            + _enc_field(16, 1) + struct.pack("<d", 0.5))  # UNPACKED cv
    req = _enc_len(4, b"") + _enc_len(5, _enc_len(3, body))
    (s,) = RW.decode_write_request_v2(req)
    (h,) = s["histograms"]
    assert h["schema"] == -53 and h["custom_values"] == [0.5]
    assert h["pos_counts"] == [2]


def test_float_histogram_stats_on_float_surface(spark):
    """histogram_stats runs unchanged on the double-typed surface —
    fractional counts flow through the moment sums."""
    base = {
        "metric_name": "m", "labels": {}, "timestamp_ms": 0,
        "count": 2.5, "sum": 5.0, "schema": 0, "zero_threshold": 0.0,
        "zero_count": 0.5, "pos_offset": 0, "pos_counts": [2.0],
        "neg_offset": 0, "neg_counts": [], "custom_values": [],
    }
    df = spark.createDataFrame(
        [Row(**base)], schema=RW.NATIVE_HIST_FLOAT_SCHEMA)
    (r,) = NH.histogram_stats(df).collect()
    mean = 5.0 / 2.5
    mid = 2 ** -0.5  # schema 0, bucket 0 -> 2^(0-0.5)
    var = (2.0 * mid * mid - 2 * mean * 2.0 * mid
           + mean * mean * 2.5) / 2.5
    assert r["hist_avg"] == pytest.approx(mean)
    assert r["hist_stdvar"] == pytest.approx(var)
    assert r["hist_stddev"] == pytest.approx(math.sqrt(var))


def _nh_series_df(spark, rows):
    from prom_etl_db_spark import session  # noqa: F401

    data = []
    for r in rows:
        data.append(Row(
            labels=r.get("labels", {"__name__": "m"}),
            ts=r["ts"], schema=r.get("schema", -53),
            zero_count=r.get("zero_count", 0),
            pos_offset=r.get("pos_offset", 0),
            pos_counts=r.get("pos_counts", []),
            custom_values=r.get("custom_values", []),
        ))
    return spark.createDataFrame(
        data,
        "labels map<string,string>, ts timestamp, schema int, "
        "zero_count long, pos_offset int, pos_counts array<long>, "
        "custom_values array<double>")


def test_nhcb_increase_matching_boundaries(spark):
    from datetime import datetime

    df = _nh_series_df(spark, [
        {"ts": datetime(2024, 1, 1, 0, 0), "pos_counts": [2, 1, 0],
         "custom_values": [0.5, 2.0]},
        {"ts": datetime(2024, 1, 1, 0, 1), "pos_counts": [5, 1, 2],
         "custom_values": [0.5, 2.0]},
    ])
    (r,) = NH.native_hist_increase(df).collect()
    assert r["schema"] == -53 and r["reset"] is False
    assert r["pos_counts"] == [3, 0, 2]
    assert r["custom_values"] == [0.5, 2.0]


def test_nhcb_increase_changed_boundaries_refuses(spark):
    from datetime import datetime

    df = _nh_series_df(spark, [
        {"ts": datetime(2024, 1, 1, 0, 0), "pos_counts": [2],
         "custom_values": [0.5]},
        {"ts": datetime(2024, 1, 1, 0, 1), "pos_counts": [5],
         "custom_values": [0.75]},
    ])
    with pytest.raises(Exception, match="custom_values changed"):
        NH.native_hist_increase(df).collect()
    mixed = _nh_series_df(spark, [
        {"ts": datetime(2024, 1, 1, 0, 0), "pos_counts": [2],
         "custom_values": [0.5]},
        {"ts": datetime(2024, 1, 1, 0, 1), "schema": 1,
         "pos_counts": [5], "custom_values": []},
    ])
    with pytest.raises(Exception, match="bucket families"):
        NH.native_hist_increase(mixed).collect()


def _otlp_sum_df(spark, series):
    """series: list of (name, temporality, [(ts, value), ...])."""
    rows = []
    for name, temp, pts in series:
        for ts, v in pts:
            rows.append(Row(metric_name=name, temporality=temp,
                            time_unix_nano=ts, value_double=float(v)))
    return spark.createDataFrame(
        rows,
        "metric_name string, temporality int, time_unix_nano long, "
        "value_double double")


def test_delta_to_cumulative_accumulates_and_passes_through(spark):
    from prom_etl_db_spark.operators import promql

    df = _otlp_sum_df(spark, [
        ("d", 1, [(1, 5.0), (2, -2.0), (3, 4.0)]),   # negative delta ok
        ("c", 2, [(1, 5.0), (2, 3.0), (3, 7.0)]),    # passthrough
    ])
    out = promql.otlp_delta_to_cumulative(df)
    got = {(r["metric_name"], r["time_unix_nano"]): r["value_double"]
           for r in out.collect()}
    assert [got[("d", t)] for t in (1, 2, 3)] == [5.0, 3.0, 7.0]
    assert [got[("c", t)] for t in (1, 2, 3)] == [5.0, 3.0, 7.0]
    assert out.select("temporality").distinct().collect()[0][0] == 2


def test_delta_to_cumulative_refuses_unspecified_and_mixed(spark):
    from prom_etl_db_spark.operators import promql

    df = _otlp_sum_df(spark, [("u", 0, [(1, 5.0)])])
    with pytest.raises(Exception, match="UNSPECIFIED"):
        promql.otlp_delta_to_cumulative(df).collect()
    mixed = _otlp_sum_df(spark, [("m", 1, [(1, 5.0)]),
                                 ("m", 2, [(2, 6.0)])])
    with pytest.raises(Exception, match="mixes DELTA"):
        promql.otlp_delta_to_cumulative(mixed).collect()


def test_info_enrich_refusals_and_passthrough(spark):
    from prom_etl_db_spark.operators import promql

    samples = spark.createDataFrame(
        [Row(labels={"__name__": "up", "instance": "i1"}, value=1.0),
         Row(labels={"__name__": "up", "instance": "i9"}, value=2.0)],
        "labels map<string,string>, value double")
    info = spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "instance": "i1",
                     "cluster": "c1"}, value=1.0)],
        "labels map<string,string>, value double")
    out = {r["labels"].get("instance"): dict(r["labels"])
           for r in promql.info_enrich(
               samples, info, identifying=("instance",)).collect()}
    assert out["i1"]["cluster"] == "c1"
    assert "cluster" not in out["i9"]  # unmatched passes through

    conflict = info.union(spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "instance": "i1",
                     "cluster": "OTHER"}, value=1.0)], info.schema))
    with pytest.raises(Exception, match="conflicting info series"):
        promql.info_enrich(
            samples, info=conflict, identifying=("instance",)).collect()

    colliding = spark.createDataFrame(
        [Row(labels={"__name__": "up", "instance": "i1",
                     "cluster": "mine"}, value=1.0)], samples.schema)
    with pytest.raises(Exception, match="collides"):
        promql.info_enrich(
            colliding, info, identifying=("instance",)).collect()

    # data_labels selector restricts the copied payload
    info2 = spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "instance": "i1",
                     "cluster": "c1", "env": "prod"}, value=1.0)],
        info.schema)
    only_env = promql.info_enrich(
        samples, info2, identifying=("instance",),
        data_labels=("env",)).collect()
    lab = next(dict(r["labels"]) for r in only_env
               if r["labels"]["instance"] == "i1")
    assert lab.get("env") == "prod" and "cluster" not in lab


def _otlp_hist_df(spark, series):
    """series: (name, temporality, data_type, [(ts, counts, bounds)])."""
    rows = []
    for name, temp, dtype, pts in series:
        for ts, counts, bounds in pts:
            rows.append(Row(metric_name=name, temporality=temp,
                            data_type=dtype, time_unix_nano=ts,
                            count=sum(counts), sum=float(sum(counts)),
                            bucket_counts=counts,
                            explicit_bounds=bounds))
    return spark.createDataFrame(
        rows,
        "metric_name string, temporality int, data_type string, "
        "time_unix_nano long, count long, sum double, "
        "bucket_counts array<long>, explicit_bounds array<double>")


def test_delta_hist_to_cumulative_accumulates(spark):
    from prom_etl_db_spark.operators import promql

    df = _otlp_hist_df(spark, [
        ("d", 1, "histogram",
         [(1, [2, 1, 0], [0.5, 2.0]), (2, [1, 0, 3], [0.5, 2.0])]),
        ("c", 2, "histogram",
         [(1, [2, 1, 0], [0.5, 2.0]), (2, [3, 1, 3], [0.5, 2.0])]),
    ])
    out = promql.otlp_delta_hist_to_cumulative(df)
    got = {(r["metric_name"], r["time_unix_nano"]):
           (r["bucket_counts"], r["count"]) for r in out.collect()}
    assert got[("d", 2)] == ([3, 1, 3], 7)   # accumulated
    assert got[("c", 2)] == ([3, 1, 3], 7)   # passthrough, same numbers
    assert got[("d", 1)] == ([2, 1, 0], 3)


def test_delta_hist_refusals(spark):
    from prom_etl_db_spark.operators import promql

    changed = _otlp_hist_df(spark, [
        ("b", 1, "histogram",
         [(1, [2], [0.5]), (2, [1], [0.75])]),
    ])
    with pytest.raises(Exception, match="explicit_bounds changed"):
        promql.otlp_delta_hist_to_cumulative(changed).collect()
    exp_delta = spark.createDataFrame(
        [Row(metric_name="e", temporality=1,
             data_type="exponential_histogram", time_unix_nano=1,
             count=1, sum=1.0, bucket_counts=None,
             explicit_bounds=None)],
        "metric_name string, temporality int, data_type string, "
        "time_unix_nano long, count long, sum double, "
        "bucket_counts array<long>, explicit_bounds array<double>")
    with pytest.raises(Exception, match="delta EXPONENTIAL"):
        promql.otlp_delta_hist_to_cumulative(exp_delta).collect()


def _exp_hist_df(spark, rows):
    schema = ("metric_name string, temporality int, time_unix_nano long, "
              "scale int, pos_offset int, pos_counts array<long>, "
              "neg_offset int, neg_counts array<long>, zero_count long, "
              "count long, sum double")
    return spark.createDataFrame([Row(**r) for r in rows], schema)


def test_delta_exp_hist_accumulates_across_scale_change(spark):
    """Delta exponential histograms accumulate offset-aligned; a point
    at a COARSER scale downscales the running state first (fine bucket
    i folds into coarse ceil(i/2^d)) — Prometheus's merge rule."""
    from prom_etl_db_spark.operators import promql

    rows = [
        dict(metric_name="d", temporality=1, time_unix_nano=1, scale=2,
             pos_offset=0, pos_counts=[2, 1], neg_offset=0,
             neg_counts=[], zero_count=1, count=4, sum=3.0),
        dict(metric_name="d", temporality=1, time_unix_nano=2, scale=2,
             pos_offset=1, pos_counts=[1, 3], neg_offset=0,
             neg_counts=[], zero_count=0, count=4, sum=5.0),
        dict(metric_name="d", temporality=1, time_unix_nano=3, scale=1,
             pos_offset=1, pos_counts=[2], neg_offset=0, neg_counts=[],
             zero_count=0, count=2, sum=2.0),
    ]
    out = {r["time_unix_nano"]: r for r in
           promql.otlp_delta_exp_hist_to_cumulative(
               _exp_hist_df(spark, rows)).collect()}
    assert out[2]["pos_counts"] == [2, 2, 3] and out[2]["count"] == 8
    # t3: cum [2,2,3]@scale2 downscales (ceil(i/2)) to [2,5]@scale1,
    # then the scale-1 point adds at index 1 -> [2,7]
    assert out[3]["scale"] == 1
    assert (out[3]["pos_offset"], out[3]["pos_counts"]) == (0, [2, 7])
    assert out[3]["count"] == 10 and out[3]["zero_count"] == 1
    # cumulative series pass through untouched
    rows_c = [dict(r, temporality=2) for r in rows]
    out_c = {r["time_unix_nano"]: r for r in
             promql.otlp_delta_exp_hist_to_cumulative(
                 _exp_hist_df(spark, rows_c)).collect()}
    assert out_c[3]["pos_counts"] == [2] and out_c[3]["scale"] == 1


def test_delta_exp_hist_refusals_and_classic_redirect(spark):
    from prom_etl_db_spark.operators import promql

    mixed = _exp_hist_df(spark, [
        dict(metric_name="m", temporality=1, time_unix_nano=1, scale=0,
             pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[],
             zero_count=0, count=1, sum=1.0),
        dict(metric_name="m", temporality=2, time_unix_nano=2, scale=0,
             pos_offset=0, pos_counts=[1], neg_offset=0, neg_counts=[],
             zero_count=0, count=1, sum=1.0),
    ])
    with pytest.raises(Exception, match="mixes DELTA"):
        promql.otlp_delta_exp_hist_to_cumulative(mixed).collect()
    redirect = spark.createDataFrame(
        [Row(metric_name="e", temporality=1,
             data_type="exponential_histogram", time_unix_nano=1,
             count=1, sum=1.0, bucket_counts=None,
             explicit_bounds=None)],
        "metric_name string, temporality int, data_type string, "
        "time_unix_nano long, count long, sum double, "
        "bucket_counts array<long>, explicit_bounds array<double>")
    with pytest.raises(Exception, match="scale-aware path"):
        promql.otlp_delta_hist_to_cumulative(redirect).collect()


def test_v1_wire_shares_float_and_nhcb_decode():
    """remote-write 1.0 carries the SAME prompb.Histogram message
    (TimeSeries.histograms=4), so the later-r8 float flavor and NHCB
    decode over v1 too — pinned here so the shared-parser claim in
    DIVERGENCES stays true."""
    enc = RW.encode_write_request(
        [{"labels": {"__name__": "m"}, "samples": [], "histograms": [{
            "flavor": "float", "count": 3.5, "zero_count": 0.0,
            "schema": -53, "zero_threshold": 0.0,
            "positive_spans": [(0, 2)], "positive_counts": [2.0, 1.5],
            "custom_values": [1.0]}]}])
    (s,) = RW.decode_write_request(enc)
    (h,) = s["histograms"]
    assert h["flavor"] == "float" and h["schema"] == -53
    assert h["custom_values"] == [1.0] and h["pos_counts"] == [2.0, 1.5]
