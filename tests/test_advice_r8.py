"""Round-8 ADVICE regression tests.

Findings from the r7 review pinned here:
1. OTLP HistogramDataPoint only accepted PACKED repeated scalars;
   proto3 requires unpacked form too (fields 6/7, wire 1).
2. zstd match offsets reaching across a frame boundary must refuse.
3. OTLP _gunzip_bounded dropped trailing gzip members silently.
4. zstd sequence bitstreams with trailing (unconsumed) bits must
   refuse.

The zstd cases are handcrafted frames fed to ``zstd_decompress``.
"""

from __future__ import annotations

import struct

import pytest

from prom_etl_db_spark.functions import otlp as O
from prom_etl_db_spark.functions.compression import zstd_decompress


def _rle_seq_block(nseq_header: bytes, bitstream: bytes = b"\x01") -> bytes:
    """A compressed block: 0 raw literals, then all-RLE sequence tables
    (ll=0 lit_len 0, of=0 offset_val 1, ml=0 match_len 3) — every
    sequence emits a 3-byte repeat-offset match with zero extra bits, so
    the sequence bitstream is just the init/padding sentinel."""
    body = b"\x00"            # literals: raw, regenerated size 0
    body += nseq_header       # number-of-sequences header under test
    body += b"\x54"           # modes: LL=RLE, OF=RLE, ML=RLE
    body += b"\x00\x00\x00"   # RLE symbols: ll=0, of=0, ml=0
    body += bitstream
    return body


def _frame(blocks: list[tuple[int, bytes]]) -> bytes:
    """Frame: no content size, 2 MiB window. blocks = [(btype, payload)]."""
    out = bytearray(struct.pack("<I", 0xFD2FB528))
    out += b"\x00\x58"  # fhd: nothing optional; window descriptor 2 MiB
    for i, (btype, payload) in enumerate(blocks):
        last = 1 if i == len(blocks) - 1 else 0
        bh = (len(payload) << 3) | (btype << 1) | last
        out += bytes([bh & 0xFF, (bh >> 8) & 0xFF, (bh >> 16) & 0xFF])
        out += payload
    return bytes(out)


def test_cross_frame_match_offset_refused():
    """Frame 2's first sequence resolves to repeat-offset 4 against an
    empty in-frame window — RFC 8878 forbids reaching into frame 1's
    bytes, so the decoder refuses instead of copying frame 1 data."""
    frame1 = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 8])
    frame1 += ((8 << 3) | 1).to_bytes(3, "little") + b"abcdefgh"
    frame2 = _frame([(2, _rle_seq_block(b"\x01"))])  # 1 sequence
    assert zstd_decompress(frame1) == b"abcdefgh"
    # sanity: frame2 alone refuses too (no window at all)
    with pytest.raises(ValueError):
        zstd_decompress(frame2)
    with pytest.raises(ValueError):
        zstd_decompress(frame1 + frame2)


def test_sequence_bitstream_trailing_bits_refused():
    """Same RLE block but the backward bitstream carries a spare content
    byte no sequence consumes — strict decoders refuse (RFC §3.1.1.4)."""
    frame = _frame([(0, b"abcd"), (2, _rle_seq_block(b"\x01", b"\x00\x02"))])
    with pytest.raises(ValueError):
        zstd_decompress(frame)


def test_otlp_unpacked_repeated_bucket_fields():
    """proto3: repeated scalars must parse in packed AND unpacked form.
    Unpacked fixed64 (field 6, wire 1) and double (field 7, wire 1)
    entries were silently _skip-ped before."""
    from prom_etl_db_spark.functions.remote_write import _enc_field, _enc_len

    hp = _enc_field(3, 1) + struct.pack("<Q", 42)      # time
    hp += _enc_field(4, 1) + struct.pack("<Q", 6)      # count
    for c in (1, 2, 3):                                # unpacked counts
        hp += _enc_field(6, 1) + struct.pack("<Q", c)
    for b in (0.5, 2.5):                               # unpacked bounds
        hp += _enc_field(7, 1) + struct.pack("<d", b)
    hist = _enc_len(1, hp) + _enc_field(2, 0) + b"\x02"  # temporality=2
    metric = _enc_len(1, b"h") + _enc_len(9, hist)
    req = _enc_len(1, _enc_len(2, _enc_len(2, metric)))
    (r,) = O.decode_export_metrics(req)
    assert r["bucket_counts"] == [1, 2, 3]
    assert r["explicit_bounds"] == [0.5, 2.5]


def test_otlp_mixed_packed_and_unpacked_concatenate():
    """proto3 also allows a repeated field split across several packed /
    unpacked occurrences — parsers concatenate."""
    from prom_etl_db_spark.functions.remote_write import (
        _enc_field, _enc_len, _enc_uvarint)

    hp = _enc_field(3, 1) + struct.pack("<Q", 1)
    hp += _enc_field(4, 1) + struct.pack("<Q", 10)
    hp += _enc_field(6, 2) + _enc_uvarint(16) + struct.pack("<QQ", 1, 2)
    hp += _enc_field(6, 1) + struct.pack("<Q", 7)
    hp += _enc_field(7, 2) + _enc_uvarint(8) + struct.pack("<d", 0.5)
    hp += _enc_field(7, 1) + struct.pack("<d", 4.5)
    hist = _enc_len(1, hp)
    metric = _enc_len(1, b"h") + _enc_len(9, hist)
    req = _enc_len(1, _enc_len(2, _enc_len(2, metric)))
    (r,) = O.decode_export_metrics(req)
    assert r["bucket_counts"] == [1, 2, 7]
    assert r["explicit_bounds"] == [0.5, 4.5]


def test_gunzip_multi_member_decodes_fully():
    import gzip

    payload = gzip.compress(b"first|") + gzip.compress(b"second")
    assert O._gunzip_bounded(payload) == b"first|second"


def test_gunzip_trailing_garbage_refused():
    import gzip

    with pytest.raises(ValueError, match="trailing garbage"):
        O._gunzip_bounded(gzip.compress(b"ok") + b"NOT GZIP")


def test_gunzip_truncated_second_member_refused():
    import gzip

    second = gzip.compress(b"second-member-payload")
    with pytest.raises(ValueError, match="truncated|expands"):
        O._gunzip_bounded(gzip.compress(b"x") + second[: len(second) // 2])


def test_gunzip_bomb_guard_still_enforced():
    import gzip

    big = gzip.compress(b"\x00" * (1 << 20))
    with pytest.raises(ValueError, match="expands beyond"):
        O._gunzip_bounded(big, max_out=1 << 10)
