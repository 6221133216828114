"""The engine's decoders of outside codec bytes, snappy (remote-write
payloads) and zstd (``.warc.zst``), refuse bad input with ValueError
and only ValueError: empty input, every truncation, single bit flips,
a declared-size bomb, a dictionary frame and a checksum mismatch."""

from __future__ import annotations

import struct

import pytest
from test_zstd import _XXH64_EMPTY_LO32, zstd_frame

from prom_etl_db_spark.functions import compression as C
from prom_etl_db_spark.functions import remote_write as RW

_PAYLOAD = b"payload words repeat payload words " * 20


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def _zstd_rle_bomb(total: int) -> bytes:
    """A frame with no content size (128 KiB window) of RLE blocks
    regenerating ``total`` bytes from 4 bytes per 128 KiB."""
    block = 1 << 17
    out = bytearray(struct.pack("<I", 0xFD2FB528)) + bytes([0x00, 0x38])
    for i in range(total // block):
        last = int(i == total // block - 1)
        out += ((block << 3) | (1 << 1) | last).to_bytes(3, "little") + b"\x00"
    return bytes(out)


def _encoded(name: str) -> bytes:
    if name == "snappy":
        return RW.snappy_compress(_PAYLOAD)
    from pyarrow import Codec

    return Codec("zstd").compress(_PAYLOAD, asbytes=True)


def _bad_inputs(name: str, case: str) -> list[bytes]:
    enc = _encoded(name)
    if case == "empty":
        return [b""]
    if case == "truncation":
        return [enc[:cut] for cut in range(len(enc))]
    if case == "bomb":
        if name == "snappy":  # a 1 TiB claim on a 3-byte body
            return [_uvarint(1 << 40) + b"\x00x"]
        return [_zstd_rle_bomb(128 << 20)]  # past the 64 MiB default
    if case == "dictionary":
        frame = struct.pack("<I", 0xFD2FB528) + bytes([0x20 | 0x01, 7, 1])
        return [frame + ((1 << 3) | 1).to_bytes(3, "little") + b"x"]
    if case == "checksum":
        return [zstd_frame(b"", checksum=_XXH64_EMPTY_LO32 ^ 1)]
    raise AssertionError(case)


_DECODERS = {"snappy": RW.snappy_decompress, "zstd": C.zstd_decompress}


@pytest.mark.parametrize(
    "name,case",
    [("snappy", c) for c in ("empty", "truncation", "bitflip", "bomb")]
    + [("zstd", c) for c in ("empty", "truncation", "bitflip", "bomb",
                             "dictionary", "checksum")],
)
def test_decoders_refuse_bad_input(name, case):
    decode = _DECODERS[name]
    if case == "bitflip":
        # a flip inside a literal legally decodes to other bytes of the
        # same length; anything else must be a ValueError
        enc = _encoded(name)
        for pos in range(len(enc)):
            for bit in range(8):
                mutated = bytearray(enc)
                mutated[pos] ^= 1 << bit
                try:
                    out = decode(bytes(mutated))
                except ValueError:
                    continue
                assert len(out) == len(_PAYLOAD), (pos, bit)
        return
    for bad in _bad_inputs(name, case):
        with pytest.raises(ValueError):
            decode(bad)
