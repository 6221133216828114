"""Prometheus remote-write (functions/remote_write.py — round 6):
snappy block-format vectors and fuzz, protobuf wire-format semantics,
and the Spark ingestion plumbing."""

from __future__ import annotations

import random
import struct

import pytest

from prom_etl_db_spark.functions import remote_write as RW


def test_snappy_roundtrips():
    random.seed(11)
    cases = [
        b"",
        b"a",
        b"ab" * 400,                      # repetitive → copy2 path
        b"x" * 1000,                      # RLE overlap
        bytes(random.randrange(256) for _ in range(5000)),  # incompressible
        b"The quick brown fox jumps over the lazy dog. " * 50,
        bytes(range(256)) * 3,
    ]
    for c in cases:
        assert RW.snappy_decompress(RW.snappy_compress(c)) == c
    assert len(RW.snappy_compress(b"ab" * 400)) < 80  # really compresses


def test_snappy_hand_vectors_copy1_copy4_and_long_literal():
    # copy1: tag 01, len-4 in bits 2-4, offset high bits 5-7 + 1 byte
    v = bytes([10, (5 - 1) << 2]) + b"abcab" + bytes([((5 - 4) << 2) | 0x01, 3])
    ref = bytearray(b"abcab")
    for _ in range(5):
        ref.append(ref[-3])  # overlapping copy, byte-at-a-time semantics
    assert RW.snappy_decompress(v) == bytes(ref)
    # copy4: tag 11 with 4-byte little-endian offset
    v4 = bytes([8, (4 - 1) << 2]) + b"wxyz" + bytes([((4 - 1) << 2) | 0x03]) + (
        4
    ).to_bytes(4, "little")
    assert RW.snappy_decompress(v4) == b"wxyzwxyz"
    # literal with 1-byte extended length (tag 60); 200 needs a 2-byte
    # uvarint header (0xC8 0x01)
    body = bytes(range(200))
    v60 = bytes([0xC8, 0x01, 60 << 2, 199]) + body
    assert RW.snappy_decompress(v60) == body
    # copy2: tag 10, len-1 in bits 2-7, 2-byte little-endian offset
    v2 = bytes([9, (3 - 1) << 2]) + b"xyz" + bytes([((6 - 1) << 2) | 0x02]) + (
        3
    ).to_bytes(2, "little")
    assert RW.snappy_decompress(v2) == b"xyz" * 3


def test_snappy_corrupt_fuzz_refuses_loudly():
    data = RW.snappy_compress(b"payload " * 64)
    # every truncation MUST refuse: a truncated block either cuts a
    # varint/element or ends short of the declared length
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            RW.snappy_decompress(data[:cut])
    # byte flips MAY legally decode (e.g. a flipped literal body byte
    # yields a different but valid payload) — assert only that failures
    # are loud ValueErrors, never a crash or a silent length mismatch
    for pos in range(len(data)):
        mutated = bytearray(data)
        mutated[pos] ^= 0xFF
        try:
            out = RW.snappy_decompress(bytes(mutated))
        except ValueError:
            continue
        assert len(out) == len(b"payload " * 64)


def test_write_request_roundtrip_and_negative_timestamp():
    series = [
        {
            "labels": {"__name__": "gpu_util", "host": "h1"},
            "samples": [(0.5, 1706572800000), (-1.25, 1706572860000)],
        },
        {"labels": {"__name__": "mem", "unit": "é中"}, "samples": [(3.14159, -5)]},
    ]
    assert RW.decode_write_request(RW.encode_write_request(series)) == series


def test_v1_exemplars_roundtrip_and_fuzz():
    """r9: prompb.TimeSeries.exemplars = 3 decodes (full-string
    labels, fixed64 value, varint ms timestamp) — previously the only
    push-format wire field silently skipped."""
    series = [{
        "labels": {"__name__": "http_requests", "job": "api"},
        "samples": [(7.0, 1706572800000)],
        "exemplars": [
            {"labels": {"trace_id": "ab" * 16, "span_id": "cd" * 8},
             "value": 0.125, "timestamp": 1706572800001},
            {"labels": {}, "value": -2.5, "timestamp": -7},
        ],
    }]
    got = RW.decode_write_request(RW.encode_write_request(series))
    assert got == series
    # exemplar-free series round-trip without the key (shape parity)
    bare = [{"labels": {"__name__": "m"}, "samples": [(1.0, 1)]}]
    assert RW.decode_write_request(RW.encode_write_request(bare)) == bare
    enc = RW.encode_write_request(series)
    for cut in range(len(enc)):
        try:
            RW.decode_write_request(enc[:cut])
        except ValueError:
            continue
    for pos in range(len(enc)):
        mutated = bytearray(enc)
        mutated[pos] ^= 0xFF
        try:
            RW.decode_write_request(bytes(mutated))
        except (ValueError, UnicodeDecodeError):
            continue


def test_v1_metadata_roundtrip_and_fuzz():
    """r9: WriteRequest.metadata = 3 (prompb.MetricMetadata) decodes —
    request-level per-family typed metadata, the last skipped v1
    field. The series walker is metadata-BLIND (unchanged API) and
    the metadata walker is series-blind."""
    series = [{"labels": {"__name__": "m"}, "samples": [(1.0, 10)]}]
    md = [{"type": 1, "family": "m", "help": "Tracks m", "unit": "s"},
          {"type": 5, "family": "q", "help": None, "unit": None}]
    enc = RW.encode_write_request(series, metadata=md)
    assert RW.decode_write_request(enc) == series  # series walker blind
    got = RW.decode_write_request_metadata(enc)
    assert got == [
        {"type": 1, "family": "m", "help": "Tracks m", "unit": "s"},
        {"type": 5, "family": "q", "help": None, "unit": None}]
    # metadata-free request yields no entries
    assert RW.decode_write_request_metadata(
        RW.encode_write_request(series)) == []
    for cut in range(len(enc)):
        try:
            RW.decode_write_request_metadata(enc[:cut])
        except ValueError:
            continue
    for pos in range(len(enc)):
        mutated = bytearray(enc)
        mutated[pos] ^= 0xFF
        try:
            RW.decode_write_request_metadata(bytes(mutated))
        except (ValueError, UnicodeDecodeError):
            continue


def test_proto_unknown_fields_skipped():
    series = [{"labels": {"__name__": "m"}, "samples": [(1.0, 10)]}]
    enc = bytearray(RW.encode_write_request(series))
    # append an unknown top-level field 9 (varint) and field 7 (fixed32)
    enc += RW._enc_field(9, 0) + RW._enc_uvarint(12345)
    enc += RW._enc_field(7, 5) + b"\x01\x02\x03\x04"
    assert RW.decode_write_request(bytes(enc)) == series


def test_proto_corrupt_fuzz_refuses_loudly():
    enc = RW.encode_write_request(
        [{"labels": {"__name__": "m", "a": "b"}, "samples": [(2.5, 99)]}]
    )
    for cut in range(len(enc)):
        try:
            RW.decode_write_request(enc[:cut])
        except ValueError:
            continue
    for pos in range(len(enc)):
        mutated = bytearray(enc)
        mutated[pos] ^= 0xFF
        try:
            RW.decode_write_request(bytes(mutated))
        except (ValueError, UnicodeDecodeError):
            continue


def test_proto_nested_length_overrun_refuses_loudly():
    """Corrupt nested length prefixes must raise ValueError, never
    silently truncate (ADVICE r6 fix): an oversized label-field length,
    an oversized label/sample length inside a timeseries, and a
    truncated fixed64 sample value."""
    import pytest

    # label submessage: field 1 (name) claims 100 bytes, supplies 3
    bad_label = RW._enc_field(1, 2) + RW._enc_uvarint(100) + b"abc"
    ts_msg = RW._enc_len(1, bad_label)
    with pytest.raises(ValueError, match="overrun"):
        RW.decode_write_request(RW._enc_len(1, bytes(ts_msg)))

    # timeseries: label submessage length overruns the timeseries
    ts_msg2 = RW._enc_field(1, 2) + RW._enc_uvarint(50) + b"xy"
    with pytest.raises(ValueError, match="overrun"):
        RW.decode_write_request(RW._enc_len(1, bytes(ts_msg2)))

    # timeseries: sample submessage length overruns the timeseries
    ts_msg3 = RW._enc_field(2, 2) + RW._enc_uvarint(50) + b"xy"
    with pytest.raises(ValueError, match="overrun"):
        RW.decode_write_request(RW._enc_len(1, bytes(ts_msg3)))

    # sample: fixed64 value truncated mid-double → ValueError, not
    # struct.error
    sm = RW._enc_field(1, 1) + b"\x01\x02\x03"  # 3 of 8 bytes
    ts_msg4 = RW._enc_len(2, sm)
    with pytest.raises(ValueError, match="fixed64"):
        RW.decode_write_request(RW._enc_len(1, bytes(ts_msg4)))


def test_double_bit_exactness():
    # fixed64 carries the exact IEEE bits — including tricky values
    vals = [0.1, -0.0, float("inf"), 2.0**-1074, 1e308]
    series = [{"labels": {"__name__": "m"}, "samples": [(v, 1) for v in vals]}]
    got = RW.decode_write_request(RW.encode_write_request(series))[0]["samples"]
    assert [struct.pack("<d", v) for v, _ in got] == [
        struct.pack("<d", v) for v in vals
    ]


def test_spark_ingestion_shape(spark):
    payload = RW.snappy_compress(
        RW.encode_write_request(
            [
                {
                    "labels": {"__name__": "up", "job": "api"},
                    "samples": [(1.0, 1000), (0.0, 2000)],
                }
            ]
        )
    )
    df = spark.createDataFrame([(7, payload)], "push_id int, body binary")
    rows = RW.remote_write_samples(df).collect()
    assert len(rows) == 2
    assert rows[0]["metric_name"] == "up"
    assert rows[0]["labels"] == {"job": "api"}  # __name__ lifted out
    plan = RW.remote_write_samples(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


# --- remote-write 2.0 (io.prometheus.write.v2.Request) — r8 -----------------


def _v2_series():
    return [
        {"labels": {"__name__": "http_requests_total", "job": "api",
                    "instance": "i-1"},
         "samples": [(1.5, 1706572800000), (2.5, 1706572815000)]},
        {"labels": {"__name__": "http_requests_total", "job": "api",
                    "instance": "i-2"},
         "samples": [(-0.25, 1706572800000)]},
    ]


def test_v2_roundtrip_and_interning():
    enc = RW.encode_write_request_v2(_v2_series())
    got = RW.decode_write_request_v2(enc)
    assert got == _v2_series()
    # interning: repeated strings (metric name, 'job', 'api') appear once
    # in the symbols table — the v2 payload is SMALLER than v1's despite
    # the table, which is the format's point
    v1 = RW.encode_write_request(_v2_series())
    assert len(enc) < len(v1)


def test_v2_symbol_ref_out_of_range_refused():
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)

    # symbols: ["", "a", "b"]; labels_refs (1, 9) — 9 out of range
    req = _enc_len(4, b"") + _enc_len(4, b"a") + _enc_len(4, b"b")
    ts = _enc_len(1, _enc_uvarint(1) + _enc_uvarint(9))
    req += _enc_len(5, ts)
    with pytest.raises(ValueError, match="out of range"):
        RW.decode_write_request_v2(req)


def test_v2_odd_labels_refs_refused():
    from prom_etl_db_spark.functions.remote_write import _enc_len, _enc_uvarint

    req = _enc_len(4, b"") + _enc_len(4, b"a")
    ts = _enc_len(1, _enc_uvarint(1))  # one ref: no value partner
    req += _enc_len(5, ts)
    with pytest.raises(ValueError, match="odd"):
        RW.decode_write_request_v2(req)


def test_v2_missing_leading_empty_symbol_refused():
    from prom_etl_db_spark.functions.remote_write import _enc_len

    req = _enc_len(4, b"notempty") + _enc_len(5, b"")
    with pytest.raises(ValueError, match="empty string"):
        RW.decode_write_request_v2(req)


def _nh(**kw):
    h = {"count": 0, "schema": 0, "zero_count": 0, "timestamp": 1000}
    h.update(kw)
    return h


def test_v2_native_histogram_roundtrip():
    """r8: prompb.Histogram integer flavor — zigzag schema/span offsets,
    packed zigzag DELTA-encoded counts, sparse spans expanded dense."""
    h = _nh(
        count=12, sum=34.5, schema=2, zero_threshold=1e-9, zero_count=2,
        # buckets at indices -1,0 (counts 3,1) and 4 (count 2): two spans
        positive_spans=[(-1, 2), (3, 1)],
        positive_deltas=[3, -2, 1],
        negative_spans=[(1, 1)],
        negative_deltas=[4],
        timestamp=1706572800000,
    )
    enc = RW.encode_write_request_v2(
        [{"labels": {"__name__": "lat"}, "samples": [], "histograms": [h]}])
    (s,) = RW.decode_write_request_v2(enc)
    (g,) = s["histograms"]
    assert g["count"] == 12 and g["sum"] == 34.5 and g["schema"] == 2
    assert g["zero_count"] == 2 and g["zero_threshold"] == 1e-9
    # dense: indices -1..4 -> counts [3,1,0,0,0,2]
    assert (g["pos_offset"], g["pos_counts"]) == (-1, [3, 1, 0, 0, 0, 2])
    assert (g["neg_offset"], g["neg_counts"]) == (1, [4])
    assert g["timestamp"] == 1706572800000


def test_v2_native_histogram_float_flavor_roundtrip():
    """r8 late wave: FLOAT flavor — count_float/zero_count_float
    fixed64 doubles, *_counts packed ABSOLUTE doubles (no deltas)."""
    h = _nh(
        flavor="float", count=7.5, sum=10.25, schema=1, zero_count=0.5,
        positive_spans=[(0, 2), (1, 1)],
        positive_counts=[2.5, 1.0, 3.5],
        timestamp=1706572800000,
    )
    enc = RW.encode_write_request_v2(
        [{"labels": {"__name__": "lat"}, "samples": [], "histograms": [h]}])
    (s,) = RW.decode_write_request_v2(enc)
    (g,) = s["histograms"]
    assert g["flavor"] == "float"
    assert g["count"] == 7.5 and g["zero_count"] == 0.5
    # dense: indices 0,1 then gap 1 -> 0-filled, then 3.5 at index 3
    assert (g["pos_offset"], g["pos_counts"]) == (0, [2.5, 1.0, 0.0, 3.5])


def test_v2_native_histogram_flavor_mix_refused():
    """count_int next to positive_counts (float) is a sender bug."""
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)
    import struct as _st

    body = (_enc_field(1, 0) + _enc_uvarint(5)  # count_int
            + _enc_len(11, _enc_field(1, 0) + _enc_uvarint(0)
                       + _enc_field(2, 0) + _enc_uvarint(1))
            + _enc_len(13, _st.pack("<d", 5.0)))  # positive_counts
    req = _enc_len(4, b"") + _enc_len(5, _enc_len(3, body))
    with pytest.raises(ValueError, match="mixes INTEGER"):
        RW.decode_write_request_v2(req)


def test_v2_native_histogram_float_nan_and_negative_refused():
    for bad in (float("nan"), -1.0):
        req = RW.encode_write_request_v2(
            [{"labels": {}, "samples": [],
              "histograms": [_nh(flavor="float", count=bad)]}])
        with pytest.raises(ValueError, match="negative or non-finite"):
            RW.decode_write_request_v2(req)
    req = RW.encode_write_request_v2(
        [{"labels": {}, "samples": [], "histograms": [_nh(
            flavor="float", count=5.0, positive_spans=[(0, 1)],
            positive_counts=[float("inf")])]}])
    with pytest.raises(ValueError, match="negative or non-finite"):
        RW.decode_write_request_v2(req)


def test_v2_native_histogram_custom_buckets_roundtrip():
    """Schema −53 (NHCB): classic le-buckets over the native wire —
    custom_values carries the finite upper bounds, bucket index
    len(custom_values) is the implicit +Inf bucket."""
    h = _nh(count=10, sum=99.0, schema=-53, zero_count=0,
            zero_threshold=0.0,
            positive_spans=[(0, 4)], positive_deltas=[3, -1, 0, -1],
            custom_values=[0.1, 0.5, 2.5])
    req = RW.encode_write_request_v2(
        [{"labels": {"__name__": "lat"}, "samples": [], "histograms": [h]}])
    (s,) = RW.decode_write_request_v2(req)
    (g,) = s["histograms"]
    assert g["schema"] == -53
    assert g["custom_values"] == [0.1, 0.5, 2.5]
    # index 3 == len(custom_values) is the +Inf bucket: counts 3,2,2,1
    assert (g["pos_offset"], g["pos_counts"]) == (0, [3, 2, 2, 1])


def test_v2_native_histogram_custom_bucket_violations_refused():
    # boundaries not strictly increasing
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=1, schema=-53, zero_threshold=0.0,
            positive_spans=[(0, 1)], positive_deltas=[1],
            custom_values=[1.0, 1.0])]}])
    with pytest.raises(ValueError, match="strictly"):
        RW.decode_write_request_v2(r)
    # non-finite boundary
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=1, schema=-53, zero_threshold=0.0,
            positive_spans=[(0, 1)], positive_deltas=[1],
            custom_values=[float("inf")])]}])
    with pytest.raises(ValueError, match="non-finite"):
        RW.decode_write_request_v2(r)
    # bucket index beyond the +Inf bucket
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=5, schema=-53, zero_threshold=0.0,
            positive_spans=[(0, 3)], positive_deltas=[1, 1, 1],
            custom_values=[1.0])]}])
    with pytest.raises(ValueError, match="beyond the"):
        RW.decode_write_request_v2(r)
    # zero/negative buckets are unused in NHCB
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=5, schema=-53, zero_count=2, zero_threshold=0.0,
            positive_spans=[(0, 1)], positive_deltas=[1],
            custom_values=[1.0])]}])
    with pytest.raises(ValueError, match="NHCB"):
        RW.decode_write_request_v2(r)
    # custom_values next to an exponential schema
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=1, schema=2, positive_spans=[(0, 1)],
            positive_deltas=[1], custom_values=[1.0])]}])
    with pytest.raises(ValueError, match="custom_values given"):
        RW.decode_write_request_v2(r)


def test_v2_native_histogram_custom_schema_refused():
    req = RW.encode_write_request_v2(
        [{"labels": {}, "samples": [],
          "histograms": [_nh(schema=127)]}])
    with pytest.raises(ValueError, match="outside"):
        RW.decode_write_request_v2(req)
    req2 = RW.encode_write_request_v2(
        [{"labels": {}, "samples": [], "histograms": [_nh(schema=9)]}])
    with pytest.raises(ValueError, match="outside"):
        RW.decode_write_request_v2(req2)


def test_v2_native_histogram_span_delta_violations_refused():
    # arity: 2 deltas for a 1-long span
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=3, positive_spans=[(0, 1)], positive_deltas=[1, 2])]}])
    with pytest.raises(ValueError, match="span lengths"):
        RW.decode_write_request_v2(r)
    # negative running count
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=3, positive_spans=[(0, 2)], positive_deltas=[1, -2])]}])
    with pytest.raises(ValueError, match="negative"):
        RW.decode_write_request_v2(r)
    # negative gap on a later span (overlap)
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=3, positive_spans=[(0, 1), (-1, 1)],
            positive_deltas=[1, 1])]}])
    with pytest.raises(ValueError, match="negative gap"):
        RW.decode_write_request_v2(r)
    # count below bucket sum
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=1, zero_count=1, positive_spans=[(0, 1)],
            positive_deltas=[3])]}])
    with pytest.raises(ValueError, match="below the sum"):
        RW.decode_write_request_v2(r)


def test_v2_native_histogram_dense_bomb_guard():
    """Hostile span offsets demanding millions of dense buckets refuse
    (Prometheus's own bucket limit is 160; the guard is 4096)."""
    r = RW.encode_write_request_v2([{"labels": {}, "samples": [], "histograms": [
        _nh(count=2, positive_spans=[(0, 1), (100_000, 1)],
            positive_deltas=[1, 0])]}])
    with pytest.raises(ValueError, match="exceeds"):
        RW.decode_write_request_v2(r)


def test_v2_native_histograms_spark_path(spark):
    h1 = _nh(count=6, schema=1, zero_count=1,
             positive_spans=[(0, 2)], positive_deltas=[2, 1],
             timestamp=1000, sum=9.0)
    h2 = _nh(count=4, schema=0, zero_count=0,
             positive_spans=[(2, 1)], positive_deltas=[4],
             timestamp=2000, sum=40.0)
    enc = RW.snappy_compress(RW.encode_write_request_v2([
        {"labels": {"__name__": "lat", "job": "x"}, "samples": [(1.0, 999)],
         "histograms": [h1, h2]},
    ]))
    df = spark.createDataFrame([(7, enc)], "push_id long, body binary")
    rows = {r["timestamp_ms"]: r
            for r in RW.remote_write_v2_native_histograms(df).collect()}
    assert len(rows) == 2
    assert rows[1000]["pos_counts"] == [2, 3]  # deltas 2, +1 -> 2, 3
    assert rows[2000]["pos_offset"] == 2 and rows[2000]["pos_counts"] == [4]
    assert rows[1000]["labels"] == {"job": "x"}
    assert rows[1000]["metric_name"] == "lat"
    # samples path unaffected by the histograms riding along
    srows = RW.remote_write_v2_samples(df).collect()
    assert len(srows) == 1 and srows[0]["value"] == 1.0


def test_v2_native_histograms_float_surface(spark):
    """flavor='float': float histograms decode natively, integer ones
    UPCAST (ToFloat); the strict integer surface refuses the float."""
    hi = _nh(count=3, schema=0, positive_spans=[(0, 1)],
             positive_deltas=[3], timestamp=1000)
    hf = _nh(flavor="float", count=2.5, schema=0, zero_count=0.5,
             positive_spans=[(0, 1)], positive_counts=[2.0],
             timestamp=2000)
    enc = RW.snappy_compress(RW.encode_write_request_v2([
        {"labels": {"__name__": "lat"}, "samples": [],
         "histograms": [hi, hf]},
    ]))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    out = RW.remote_write_v2_native_histograms(df, flavor="float")
    assert dict(out.dtypes)["count"] == "double"
    rows = {r["timestamp_ms"]: r for r in out.collect()}
    assert rows[1000]["count"] == 3.0 and rows[1000]["pos_counts"] == [3.0]
    assert rows[2000]["count"] == 2.5 and rows[2000]["zero_count"] == 0.5
    import pytest as _pt
    with _pt.raises(Exception, match="integer surface"):
        RW.remote_write_v2_native_histograms(df).collect()


def test_v2_native_histograms_custom_values_column(spark):
    """NHCB rows surface custom_values; exponential rows hold []."""
    hn = _nh(count=4, schema=-53, zero_threshold=0.0,
             positive_spans=[(0, 2)], positive_deltas=[3, -2],
             custom_values=[0.5, 2.0], timestamp=1000)
    he = _nh(count=2, schema=1, positive_spans=[(0, 1)],
             positive_deltas=[2], timestamp=2000)
    enc = RW.snappy_compress(RW.encode_write_request_v2([
        {"labels": {"__name__": "lat"}, "samples": [],
         "histograms": [hn, he]},
    ]))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    rows = {r["timestamp_ms"]: r
            for r in RW.remote_write_v2_native_histograms(df).collect()}
    assert rows[1000]["custom_values"] == [0.5, 2.0]
    assert rows[1000]["pos_counts"] == [3, 1]
    assert rows[2000]["custom_values"] == []


def test_v2_unpacked_labels_refs_accepted():
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)
    import struct as _st

    req = _enc_len(4, b"") + _enc_len(4, b"__name__") + _enc_len(4, b"m")
    sm = _enc_field(1, 1) + _st.pack("<d", 7.5) + _enc_field(2, 0) + _enc_uvarint(5)
    ts = (_enc_field(1, 0) + _enc_uvarint(1)      # unpacked ref entries
          + _enc_field(1, 0) + _enc_uvarint(2)
          + _enc_len(2, sm))
    req += _enc_len(5, ts)
    (s,) = RW.decode_write_request_v2(req)
    assert s == {"labels": {"__name__": "m"}, "samples": [(7.5, 5)]}


def test_v2_auxiliary_fields_decode():
    """exemplars (4) / metadata (5) / created_timestamp (6) DECODE as
    of later r8 (they are data-bearing); unknown fields still skip."""
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)
    import struct as _st

    req = _enc_len(4, b"") + _enc_len(4, b"__name__") + _enc_len(4, b"m")
    sm = _enc_field(1, 1) + _st.pack("<d", 1.0) + _enc_field(2, 0) + _enc_uvarint(9)
    ex = (_enc_len(1, _enc_uvarint(1) + _enc_uvarint(2))  # {__name__: m}
          + _enc_field(2, 1) + _st.pack("<d", 7.5)
          + _enc_field(3, 0) + _enc_uvarint(42))
    ts = (_enc_len(1, _enc_uvarint(1) + _enc_uvarint(2))
          + _enc_len(2, sm)
          + _enc_len(4, ex)
          + _enc_len(5, b"\x08\x02")              # metadata blob
          + _enc_field(6, 0) + _enc_uvarint(123)  # created_timestamp
          + _enc_field(99, 0) + _enc_uvarint(1))  # unknown field skips
    req += _enc_len(5, ts)
    (s,) = RW.decode_write_request_v2(req)
    assert s["samples"] == [(1.0, 9)]
    assert s["exemplars"] == [
        {"labels": {"__name__": "m"}, "value": 7.5, "timestamp": 42}]
    assert s["created_timestamp"] == 123


def test_v2_exemplar_roundtrip_and_ref_violations():
    enc = RW.encode_write_request_v2([
        {"labels": {"__name__": "lat", "job": "x"},
         "samples": [(2.0, 1000)],
         "created_timestamp": 500,
         "exemplars": [
             {"labels": {"trace_id": "abc123"}, "value": 2.5,
              "timestamp": 999},
             {"labels": {}, "value": 1.0, "timestamp": 998},
         ]},
    ])
    (s,) = RW.decode_write_request_v2(enc)
    assert s["created_timestamp"] == 500
    assert s["exemplars"][0]["labels"] == {"trace_id": "abc123"}
    assert s["exemplars"][1]["labels"] == {}
    # out-of-range exemplar symbol ref refuses
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)
    import struct as _st
    ex = (_enc_len(1, _enc_uvarint(7) + _enc_uvarint(8))
          + _enc_field(2, 1) + _st.pack("<d", 1.0))
    req = (_enc_len(4, b"")
           + _enc_len(5, _enc_len(4, ex)))
    with pytest.raises(ValueError, match="exemplar symbol ref"):
        RW.decode_write_request_v2(req)
    # odd exemplar labels_refs refuses
    ex2 = _enc_len(1, _enc_uvarint(0)) + _enc_field(2, 1) + _st.pack("<d", 1.0)
    req2 = _enc_len(4, b"") + _enc_len(5, _enc_len(4, ex2))
    with pytest.raises(ValueError, match="exemplar labels_refs count"):
        RW.decode_write_request_v2(req2)


def test_v2_exemplars_spark_path_and_created_column(spark):
    enc = RW.snappy_compress(RW.encode_write_request_v2([
        {"labels": {"__name__": "lat", "job": "x"},
         "samples": [(2.0, 1000)],
         "created_timestamp": 500,
         "exemplars": [{"labels": {"trace_id": "t1"}, "value": 2.5,
                        "timestamp": 999}]},
        {"labels": {"__name__": "lat", "job": "y"},
         "samples": [(3.0, 1000)]},
    ]))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    ex = RW.remote_write_v2_exemplars(df).collect()
    assert len(ex) == 1
    assert ex[0]["exemplar_labels"] == {"trace_id": "t1"}
    assert ex[0]["labels"] == {"job": "x"} and ex[0]["value"] == 2.5
    sm = {r["labels"]["job"]: r for r in RW.remote_write_v2_samples(
        df, with_created=True).collect()}
    assert sm["x"]["created_timestamp_ms"] == 500
    assert sm["y"]["created_timestamp_ms"] is None


def test_v2_corrupt_fuzz_refuses_loudly():
    enc = RW.encode_write_request_v2(_v2_series())
    for cut in range(len(enc)):
        try:
            RW.decode_write_request_v2(enc[:cut])
        except (ValueError, UnicodeDecodeError):
            continue
    import random

    rng = random.Random(42)
    for _ in range(400):
        b = bytearray(enc)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        try:
            RW.decode_write_request_v2(bytes(b))
        except (ValueError, UnicodeDecodeError):
            continue


def test_v2_samples_spark_path(spark):
    enc = RW.snappy_compress(RW.encode_write_request_v2(_v2_series()))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    rows = RW.remote_write_v2_samples(df).collect()
    assert len(rows) == 3
    by_inst = {(r["labels"]["instance"], r["timestamp_ms"]): r["value"]
               for r in rows}
    assert by_inst[("i-1", 1706572800000)] == 1.5
    assert by_inst[("i-2", 1706572800000)] == -0.25
    assert all(r["metric_name"] == "http_requests_total" for r in rows)


def test_v1_native_histograms_decode_and_spark_path(spark):
    """Native histograms FIRST shipped over remote-write 1.0
    (prompb.TimeSeries.histograms = 4) — the v1 decoder must surface
    them (r8; they were silently skipped before), same parser, same
    dense expansion, via wire_version=1."""
    h = _nh(count=6, schema=1, zero_count=1,
            positive_spans=[(0, 2)], positive_deltas=[2, 1],
            timestamp=5000, sum=9.0)
    series = [{"labels": {"__name__": "lat", "job": "y"},
               "samples": [(2.0, 4999)], "histograms": [h]}]
    (got,) = RW.decode_write_request(RW.encode_write_request(series))
    assert got["labels"] == series[0]["labels"]
    assert got["samples"] == series[0]["samples"]
    (gh,) = got["histograms"]  # decoded to the DENSE shape
    assert (gh["pos_offset"], gh["pos_counts"]) == (0, [2, 3])
    assert (gh["count"], gh["sum"], gh["schema"]) == (6, 9.0, 1)
    enc = RW.snappy_compress(RW.encode_write_request(series))
    df = spark.createDataFrame([(3, enc)], "push_id long, body binary")
    rows = RW.remote_write_v2_native_histograms(df, wire_version=1).collect()
    assert len(rows) == 1
    assert rows[0]["pos_counts"] == [2, 3] and rows[0]["schema"] == 1
    assert rows[0]["metric_name"] == "lat"
    # the v1 samples path unaffected
    srows = RW.remote_write_samples(df).collect()
    assert len(srows) == 1 and srows[0]["value"] == 2.0


def test_v2_metadata_roundtrip_and_spark_columns(spark):
    """r8: v2's Metadata (type enum + interned help/unit refs) decodes
    and surfaces as typed columns; senders omitting it yield nulls."""
    series = [
        {"labels": {"__name__": "http_total", "job": "a"},
         "samples": [(1.0, 10)],
         "metadata": {"type": 1, "help": "Total HTTP requests.",
                      "unit": "requests"}},
        {"labels": {"__name__": "temp", "job": "a"},
         "samples": [(20.5, 10)]},  # no metadata
    ]
    got = RW.decode_write_request_v2(RW.encode_write_request_v2(series))
    assert got[0]["metadata"] == {"type": 1, "help": "Total HTTP requests.",
                                  "unit": "requests"}
    assert "metadata" not in got[1]
    enc = RW.snappy_compress(RW.encode_write_request_v2(series))
    df = spark.createDataFrame([(1, enc)], "push_id long, body binary")
    rows = {r["metric_name"]: r for r in RW.remote_write_v2_samples(df).collect()}
    assert rows["http_total"]["metric_type"] == "counter"
    assert rows["http_total"]["unit"] == "requests"
    assert rows["http_total"]["help"] == "Total HTTP requests."
    assert rows["temp"]["metric_type"] is None and rows["temp"]["unit"] is None


def test_v2_metadata_bad_ref_refused():
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)

    md = _enc_field(1, 0) + _enc_uvarint(2)
    md += _enc_field(3, 0) + _enc_uvarint(99)  # help_ref out of range
    req = _enc_len(4, b"") + _enc_len(5, _enc_len(5, md))
    with pytest.raises(ValueError, match="metadata symbol ref"):
        RW.decode_write_request_v2(req)


def test_snappy_interop_vs_real_libsnappy_both_directions():
    """r8 verification upgrade: pyarrow wraps REAL snappy — gate the
    from-scratch block codec against the reference implementation in
    BOTH directions (the zstd-gate discipline), not just hand vectors
    and self-roundtrip. Includes a generative sweep."""
    from pyarrow import Codec

    codec = Codec("snappy")
    rng = random.Random(17)
    cases = [
        b"", b"a", b"ab" * 400, b"x" * 1000,
        b"The quick brown fox jumps over the lazy dog. " * 50,
        bytes(range(256)) * 3,
    ] + [
        (rng.randbytes(max(1, n // 3)) * 3)[:n]
        for n in (rng.randrange(0, 4000) for _ in range(60))
    ]
    for p in cases:
        ours = RW.snappy_compress(p)
        assert bytes(codec.decompress(ours, len(p))) == p  # ours → libsnappy
        theirs = bytes(codec.compress(p))
        assert RW.snappy_decompress(theirs) == p           # libsnappy → ours
