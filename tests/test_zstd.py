"""zstd decode (functions/compression.py): libzstd frames across levels
and sizes, handcrafted raw/RLE-block frames, skippable and multi-frame
input, and the refusals of frame-level lies (checksum, content size,
dictionary, reserved block type, output bomb)."""

from __future__ import annotations

import random
import struct

import pytest

from prom_etl_db_spark.functions import compression as C

# XXH64 of the empty string (the public test vector); a frame checksum
# is its low 32 bits.
_XXH64_EMPTY_LO32 = 0xEF46DB3751D8E999 & 0xFFFFFFFF


def zstd_frame(payload: bytes, *, declared: int | None = None,
               checksum: int | None = None, rle: bool = False) -> bytes:
    """A single-segment frame of one raw (or RLE) block, by RFC 8878:
    magic, frame-header descriptor, content size (``declared``, default
    the payload length), block header, block, optional checksum."""
    size = len(payload) if declared is None else declared
    fhd = 0x20 | (0x04 if checksum is not None else 0)
    out = bytearray(struct.pack("<I", 0xFD2FB528))
    if size < 256:
        out += bytes([fhd, size])
    else:
        out += bytes([fhd | 0x80]) + struct.pack("<I", size)
    if rle:
        assert len(set(payload)) == 1
        out += ((len(payload) << 3) | (1 << 1) | 1).to_bytes(3, "little")
        out += payload[:1]
    else:
        out += ((len(payload) << 3) | 1).to_bytes(3, "little") + payload
    if checksum is not None:
        out += struct.pack("<I", checksum)
    return bytes(out)


def _payloads():
    random.seed(0)
    return [
        b"",
        b"a",
        b"hello world",
        b"hello hello hello world " * 100,
        bytes(range(256)) * 50,
        b"\x00" * 10000,
        ("the quick brown fox jumps over the lazy dog. " * 400).encode(),
        bytes([i % 7 for i in range(50000)]),
        bytes(random.getrandbits(8) for _ in range(20000)),
    ]


def test_interop_decode_vs_libzstd_across_levels():
    """Frames produced by libzstd at levels spanning fast to max must
    decode bit-exactly through the streaming decoder."""
    from pyarrow import Codec

    n = 0
    for lvl in (1, 3, 6, 9, 15, 19, 22):
        codec = Codec("zstd", compression_level=lvl)
        for p in _payloads():
            comp = bytes(codec.compress(p))
            assert C.zstd_decompress(comp, max_out=1 << 27) == p
            n += 1
    assert n == 63


def test_raw_rle_encoder_accepted_by_libzstd_and_self():
    """The handcrafted frames the refusal tests corrupt are valid to
    begin with: libzstd's one-shot decoder and ``zstd_decompress``
    both accept the raw-block and RLE-block forms."""
    from pyarrow import Codec

    codec = Codec("zstd")
    for p in _payloads():
        frames = [zstd_frame(p)]
        if p and len(set(p)) == 1:
            frames.append(zstd_frame(p, rle=True))
        for enc in frames:
            assert bytes(codec.decompress(enc, len(p))) == p
            assert C.zstd_decompress(enc) == p


def test_checksum_mismatch_refused():
    # the empty payload's checksum is the public XXH64 vector: the
    # frame decodes with it and refuses with any other value
    assert C.zstd_decompress(zstd_frame(b"", checksum=_XXH64_EMPTY_LO32)) == b""
    bad = zstd_frame(b"", checksum=_XXH64_EMPTY_LO32 ^ 0xFF)
    with pytest.raises(ValueError, match="checksum"):
        C.zstd_decompress(bad)


def test_content_size_mismatch_refused():
    enc = zstd_frame(b"0123456789", declared=9)  # frame says 9, block has 10
    with pytest.raises(ValueError, match="zstd"):
        C.zstd_decompress(enc)


def test_skippable_and_multi_frame():
    skip = struct.pack("<II", 0x184D2A53, 5) + b"junk!"
    f1 = zstd_frame(b"first|")
    f2 = zstd_frame(b"second")
    assert C.zstd_decompress(skip + f1 + skip + f2) == b"first|second"


def test_dictionary_frames_refused():
    # magic + fhd(single-segment, dictionary-id flag 1) + dictionary
    # id 7 + content size 1 + raw block "x"
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20 | 0x01, 7, 1])
    frame += ((1 << 3) | 1).to_bytes(3, "little") + b"x"
    with pytest.raises(ValueError, match="[Dd]ictionary"):
        C.zstd_decompress(frame)


def test_truncation_fuzz_refuses_loudly():
    from pyarrow import Codec

    codec = Codec("zstd", compression_level=3)
    enc = bytes(codec.compress(b"hello hello hello world " * 50))
    for cut in range(len(enc)):
        try:
            C.zstd_decompress(enc[:cut])
        except ValueError:
            continue
        raise AssertionError(f"truncation at {cut} silently accepted")


def test_bitflip_fuzz_never_crashes_unbounded():
    """Every single-bit corruption either raises ValueError or yields
    SOME bounded output — never an unhandled exception or a hang."""
    from pyarrow import Codec

    codec = Codec("zstd", compression_level=1)
    enc = bytes(codec.compress(bytes(range(256)) * 20))
    random.seed(1)
    positions = random.sample(range(len(enc)), min(len(enc), 400))
    for pos in positions:
        mutated = bytearray(enc)
        mutated[pos] ^= 1 << random.randrange(8)
        try:
            out = C.zstd_decompress(bytes(mutated), max_out=1 << 22)
            assert len(out) <= 1 << 22
        except ValueError:
            continue


def test_reserved_block_type_refused():
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20, 0])
    frame += ((3 << 1) | 1).to_bytes(3, "little")  # reserved type 3
    with pytest.raises(ValueError, match="zstd"):
        C.zstd_decompress(frame)


def test_output_bomb_guard():
    # an RLE block regenerating far beyond max_out must refuse
    big = zstd_frame(b"\x00" * 100000, rle=True)
    with pytest.raises(ValueError, match="max_out"):
        C.zstd_decompress(big, max_out=1 << 10)
    assert C.zstd_decompress(big, max_out=100000) == b"\x00" * 100000


def test_roundtrip_features_spark(spark):
    """The three ``payload_*`` query shapes in one job: zstd, doubled
    zstd and lz4_raw, each emitting decode-derived length and md5."""
    import hashlib
    from functools import reduce

    from pyspark.sql import functions as F

    texts = {1: "alpha beta gamma " * 30, 2: "", 3: "zzz" * 1000}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    variants = [("zstd", False), ("zstd", True), ("lz4_raw", False)]
    df = reduce(lambda a, b: a.unionByName(b), [
        C.roundtrip_features(docs, codec, doubled=doubled)
        .withColumn("variant", F.lit(i))
        for i, (codec, doubled) in enumerate(variants)
    ])
    got = {(r["variant"], r["doc_id"]): r for r in df.collect()}
    assert len(got) == len(variants) * len(texts)
    for i, (_, doubled) in enumerate(variants):
        for doc_id, t in texts.items():
            raw = t.encode() * (2 if doubled else 1)
            assert got[i, doc_id]["n_bytes"] == len(raw)
            assert got[i, doc_id]["payload_md5"] == hashlib.md5(raw).hexdigest()


def test_property_interop_random_payloads():
    """Generative interop: arbitrary byte payloads through libzstd at a
    random level must decode bit-exactly."""
    from hypothesis import given, settings, strategies as st
    from pyarrow import Codec

    @settings(max_examples=60, deadline=None)
    @given(
        data=st.one_of(
            st.binary(max_size=4096),
            st.builds(
                lambda unit, n: unit * n,
                st.binary(min_size=1, max_size=16),
                st.integers(min_value=1, max_value=600),
            ),
        ),
        level=st.sampled_from([1, 3, 9, 19]),
    )
    def roundtrip(data: bytes, level: int) -> None:
        comp = bytes(Codec("zstd", compression_level=level).compress(data))
        assert C.zstd_decompress(comp, max_out=1 << 24) == data

    roundtrip()


def test_multi_block_frame_treeless_and_repeat_tables():
    """Payloads past the 128 KiB block ceiling make multi-block frames,
    and past the decoder's 1 MiB read chunk make several reads; both
    must decode bit-exactly, and ``max_out`` equal to the exact size
    must not refuse."""
    from pyarrow import Codec

    random.seed(7)
    words = ["alpha", "beta", "gamma", "delta",
             "epsilon", "zeta", "theta", "lambda"]
    big = (" ".join(random.choice(words) for _ in range(400_000))).encode()
    assert len(big) > 2 * (1 << 20)  # spans several read chunks
    for lvl in (1, 9):
        comp = bytes(Codec("zstd", compression_level=lvl).compress(big))
        assert C.zstd_decompress(comp, max_out=1 << 24) == big
        assert C.zstd_decompress(comp, max_out=len(big)) == big
        with pytest.raises(ValueError, match="max_out"):
            C.zstd_decompress(comp, max_out=len(big) - 1)
