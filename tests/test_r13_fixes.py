"""Round-13 optimization regression pins.

The r13 decoder fast paths (single-byte varint inlining at the hot call
sites; the canonical-Sample layout shortcut) must be invisible: any
byte stream decodes exactly as the r12 decoder decoded it, including
every refusal. These tests pin the edges the fast paths introduce —
non-canonical field orders that must fall through to the generic loop,
truncations that land exactly on an inlined read, and multi-byte
varints right behind a single-byte fast-path site.
"""

from __future__ import annotations

import struct

import pytest

from prom_etl_db_spark.functions import remote_write as RW


def _uv(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def test_sample_noncanonical_field_order_falls_through():
    # timestamp BEFORE value — legal proto3, misses the fast path
    sm = bytes([0x10]) + _uv(1706572800000) + bytes([0x09]) + struct.pack(
        "<d", 2.5)
    ts_msg = RW._enc_len(2, sm)
    req = RW._enc_len(1, ts_msg)
    out = RW.decode_write_request(req)
    assert out == [{"labels": {}, "samples": [(2.5, 1706572800000)]}]


def test_sample_duplicate_fields_last_wins_like_r12():
    # two value fields then one timestamp: generic loop keeps the LAST
    # (proto3 scalar semantics) — the fast path must not grab the first
    sm = (bytes([0x09]) + struct.pack("<d", 1.0)
          + bytes([0x09]) + struct.pack("<d", 9.0)
          + bytes([0x10]) + _uv(7))
    req = RW._enc_len(1, RW._enc_len(2, sm))
    assert RW.decode_write_request(req) == [
        {"labels": {}, "samples": [(9.0, 7)]}]


def test_sample_trailing_unknown_field_falls_through():
    # canonical prefix + an unknown trailing field: the fast-path varint
    # terminates before the end, so the generic loop must re-parse and
    # skip the unknown field per proto3
    sm = (bytes([0x09]) + struct.pack("<d", 4.25)
          + bytes([0x10]) + _uv(123)
          + bytes([(7 << 3) | 0]) + _uv(5))  # field 7 varint: skipped
    req = RW._enc_len(1, RW._enc_len(2, sm))
    assert RW.decode_write_request(req) == [
        {"labels": {}, "samples": [(4.25, 123)]}]


def test_sample_negative_timestamp_ten_byte_varint():
    # -5 as proto3 int64 = ten 0x80-continuation bytes: the fast path's
    # inline varint must terminate at shift 63 exactly like _uvarint
    series = [{"labels": {"__name__": "m"}, "samples": [(1.5, -5)]}]
    assert RW.decode_write_request(RW.encode_write_request(series)) == series
    assert RW.decode_write_request_v2(
        RW.encode_write_request_v2(series)) == series


def test_truncations_refuse_at_every_cut_v1_and_v2():
    series = [{
        "labels": {"__name__": "gpu_hist", "etype": "a", "eid": "17"},
        "samples": [(0.5, 1706572800000)],
        "histograms": [{
            "schema": 1, "zero_threshold": 0.001, "zero_count": 2,
            "count": 9, "positive_spans": [(-1, 2)],
            "positive_deltas": [3, 1], "timestamp": 1706572800000,
        }],
    }]
    for enc, dec in ((RW.encode_write_request, RW.decode_write_request),
                     (RW.encode_write_request_v2, RW.decode_write_request_v2)):
        data = enc(series)
        full = dec(data)  # histograms decode to the normalized dense shape
        assert full[0]["labels"] == series[0]["labels"]
        assert full[0]["samples"] == series[0]["samples"]
        assert full[0]["histograms"][0]["pos_counts"] == [3, 4]
        for cut in range(len(data)):
            # every proper prefix must refuse or decode fewer fields —
            # never crash with a non-ValueError
            try:
                out = dec(data[:cut])
            except ValueError:
                continue
            assert isinstance(out, list)


def test_multibyte_varint_behind_fast_path_sites():
    # a 200-symbol v2 table forces multi-byte label refs (>127), hitting
    # the _uvarint fallback inside the packed-refs fast-path loop
    series = [{"labels": {f"name_{i}": f"value_{i}" for i in range(90)},
               "samples": [(float(i), 1706572800000 + i)]}
              for i in range(3)]
    data = RW.encode_write_request_v2(series)
    assert RW.decode_write_request_v2(data) == series


def test_histogram_large_counts_multibyte_fallback():
    # bucket counts > 127 force the packed-delta loop's multi-byte path
    h = {"schema": 3, "zero_threshold": 0.001, "zero_count": 1000,
         "count": 90000, "positive_spans": [(0, 3)],
         "positive_deltas": [30000, -15000, 4000],
         "negative_spans": [(2, 1)], "negative_deltas": [20000],
         "timestamp": 1706572800000}
    series = [{"labels": {"__name__": "h"}, "samples": [], "histograms": [h]}]
    out = RW.decode_write_request_v2(RW.encode_write_request_v2(series))
    got = out[0]["histograms"][0]
    assert got["pos_counts"] == [30000, 15000, 19000]
    assert got["neg_counts"] == [20000]
    assert got["zero_count"] == 1000 and got["count"] == 90000


def test_snappy_want_bomb_guard():
    # a header declaring an impossible expansion refuses BEFORE any
    # allocation on the pyarrow path (ADVICE r12) — and the pure path
    # refuses the same stream by its own length check
    bomb = _uv(1 << 40) + bytes([0x00]) + b"x"  # tiny stream, huge claim
    with pytest.raises(ValueError):
        RW.snappy_decompress(bomb)
    with pytest.raises(ValueError):
        RW.snappy_decompress_py(bomb)


def test_zero_length_span_without_counts_is_an_empty_side():
    # one zero-length BucketSpan and no deltas (an empty span
    # submessage) decodes to the empty-side shape, not an IndexError
    assert RW._dense_buckets([(0, 0)], [], "positive") == (0, [])
    assert RW._dense_buckets([(5, 0), (2, 0)], [], "negative") == (0, [])
    h = {"schema": 3, "zero_threshold": 0.001, "zero_count": 2,
         "count": 2, "positive_spans": [(0, 0)], "positive_deltas": [],
         "timestamp": 1706572800000}
    series = [{"labels": {"__name__": "h"}, "samples": [], "histograms": [h]}]
    (out,) = RW.decode_write_request_v2(RW.encode_write_request_v2(series))
    got = out["histograms"][0]
    assert (got["pos_offset"], got["pos_counts"]) == (0, [])
    assert got["zero_count"] == 2


def test_enc_len_field_numbers_past_the_header_table():
    # field numbers >= 32 fall back to the generic field header
    for num in (31, 32, 33, 200, 5000):
        assert RW._enc_len(num, b"ab") == RW._enc_field(num, 2) + b"\x02ab"
