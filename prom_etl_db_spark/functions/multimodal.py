"""Multimodal column plumbing (SURVEY.md §2.E E4).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. The Spark-side machinery — schema, partition-preserving
``mapInPandas``, Arrow batch shapes, deterministic outputs — is real and
tested. Codecs: 24-bit BMP, 8-bit PNG (stdlib zlib inflate + full
None/Sub/Up/Average/Paeth filter reconstruction), GIF89a (variable-width
LZW implemented from scratch), baseline-sequential JPEG (from-scratch
Huffman + dequant + IDCT + YCbCr, `functions/jpeg.py` — r4, closing the
last lossy-image stub), PCM-16/G.711 WAV decode/encode/resize/decimate,
and — r5 — MPEG-1 Layer I audio (full bitstream-level decode, header/
CRC/allocation/scalefactors/requantization per ISO 11172-3;
`functions/mpeg_audio.py`) plus FLAC (lossless: fixed/LPC predictors,
Rice partitions, stereo decorrelation, CRC-8/16 — `functions/flac.py`,
r5) FULLY from raw bytes here (no libraries
needed); only MPEG Layer II/III (incl. MP3) and inter-frame video
remain behind ``real_decode``'s ``NotImplementedError`` — their specs
bottom out in purely numeric tables (B.2 allocation classes, Layer III
Huffman, H.26x) with no copy in this offline environment —
``decode_features`` substitutes a deterministic fake for those.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prom_etl_db_spark.parallel import balance
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "MEDIA_SCHEMA",
    "as_media",
    "decode_features",
    "sample_frames",
    "real_decode",
    "image_dimensions",
    "image_header_features",
    "synth_bmp",
    "decode_bmp",
    "bmp_pixels",
    "encode_bmp",
    "encode_png",
    "png_pixels",
    "decode_png",
    "png_roundtrip_features",
    "encode_png_palette",
    "encode_png_interlaced",
    "encode_png16",
    "png16_roundtrip_features",
    "png_palette_roundtrip_features",
    "png_interlaced_roundtrip_features",
    "jpeg_roundtrip_features",
    "video_mjpeg_frame_features",
    "encode_gif",
    "gif_pixels",
    "decode_gif",
    "gif_roundtrip_features",
    "resize_bmp",
    "decimate_wav",
    "synth_wav",
    "synth_wav_g711",
    "g711_expansion_features",
    "mpeg1_subband_features",
    "flac_roundtrip_features",
    "synth_au",
    "decode_au",
    "synth_aiff",
    "decode_aiff",
    "au_aiff_roundtrip_features",
    "decode_wav",
    "bmp_roundtrip_features",
    "wav_roundtrip_features",
]

# media table: payload + typed metadata (SURVEY.md §1.2 driver extension)
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), False),
        StructField("n_bytes", IntegerType(), False),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("checksum", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("frame_bytes", BinaryType(), False),
    ]
)


def real_decode(payload: bytes, kind: str):
    """The real codec hook. BMP, PNG (zlib inflate + filter
    reconstruction, stdlib only — see png_pixels), GIF (from-scratch LZW —
    see gif_pixels), baseline JPEG (from-scratch Huffman/IDCT —
    ``functions.jpeg``), WAV (PCM-16 + G.711), MJPEG AVI and MPEG-1
    Layer I audio (bitstream-level — ``functions.mpeg_audio``) decode
    HERE, fully, from raw bytes; MPEG Layer II/III (incl. MP3) and
    inter-frame video need numeric spec tables / libraries absent in
    this environment — ``decode_features`` substitutes a deterministic
    fake for those."""
    if kind == "image" and payload[:2] == b"BM":
        return decode_bmp(payload)
    if kind == "image" and payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if kind == "image" and payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if kind == "image" and payload[:2] == b"\xff\xd8":
        from prom_etl_db_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if kind == "video" and payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from prom_etl_db_spark.functions.jpeg import decode_jpeg
        from prom_etl_db_spark.functions.video import avi_mjpeg_frames

        frames = avi_mjpeg_frames(payload)
        first = decode_jpeg(frames[0])
        return {**first, "format": "avi-mjpeg", "n_frames": len(frames)}
    if kind == "audio" and payload[:4] == b".snd":
        return decode_au(payload)
    if kind == "audio" and payload[:4] == b"FORM" and payload[8:12] == b"AIFF":
        return decode_aiff(payload)
    if kind == "audio" and payload[:4] == b"fLaC":
        import numpy as np

        from prom_etl_db_spark.functions.flac import decode_flac

        data, meta = decode_flac(payload)
        flat = data.astype(np.float64).reshape(-1)
        return {
            "format": "flac",
            "sample_rate": meta["sample_rate"],
            "channels": meta["channels"],
            "n_samples": int(data.shape[0]),
            "rms": float(np.sqrt((flat**2).mean())) if flat.size else 0.0,
            "mean": float(flat.mean()) if flat.size else 0.0,
        }
    if (
        kind == "audio"
        and len(payload) >= 4
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
    ):
        from prom_etl_db_spark.functions.mpeg_audio import (
            decode_mpeg1_layer1,
            parse_header,
        )

        hdr = parse_header(payload)
        if hdr.layer == 1:  # r5: full bitstream-level decode
            import numpy as np

            frames = decode_mpeg1_layer1(payload)
            sub = np.concatenate(
                [f["subbands"].reshape(-1) for f in frames]
            )
            return {
                "format": "mpeg1-layer1",
                "n_frames": len(frames),
                "n_samples": int(sub.size),
                "rms": float(np.sqrt((sub**2).mean())),
                "mean": float(sub.mean()),
            }
        raise NotImplementedError(
            "MPEG-1 Layer %d decode needs purely numeric spec tables "
            "(Layer II: B.2a-d allocation classes; Layer III/'MP3': "
            "Huffman tables) that this offline environment has no copy "
            "of — Layer I decodes for real (functions/mpeg_audio.py)"
            % hdr.layer
        )
    raise NotImplementedError(
        "MPEG Layer II/III audio (incl. MP3) and inter-frame video "
        "codecs (H.26x/VP9/AV1) require numeric spec tables / libraries "
        "not present in this environment; decode_features uses a "
        "deterministic fake for those formats (MPEG-1 Layer I, FLAC, MJPEG "
        "AVI, G.711 and PCM WAV all decode for real)"
    )


# -- real pixel/sample codecs (pure byte-level, no libraries) ---------------


def synth_bmp(width: int, height: int, r: int, g: int, b: int) -> bytes:
    """A real, valid 24-bit uncompressed BMP (BITMAPINFOHEADER), solid
    color — the deterministic fixture generator for the roundtrip oracle
    and a correct writer for any solid tile."""
    row = (bytes((b, g, r)) * width + b"\x00\x00\x00")[
        : (width * 3 + 3) // 4 * 4
    ]  # rows pad to 4-byte boundaries
    pixels = row * height
    info = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")  # positive: bottom-up rows
        + (1).to_bytes(2, "little")     # planes
        + (24).to_bytes(2, "little")    # bpp
        + (0).to_bytes(4, "little")     # BI_RGB (uncompressed)
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    header = (
        b"BM"
        + (14 + 40 + len(pixels)).to_bytes(4, "little")
        + b"\x00" * 4
        + (14 + 40).to_bytes(4, "little")
    )
    return header + info + pixels


def decode_bmp(payload: bytes) -> dict:
    """REAL pixel decode of 24-bit uncompressed BMPs: parses both
    headers, walks the (bottom-up, 4-byte-padded) pixel rows, and returns
    true per-channel means over every pixel — the full decode path, not a
    header peek. Raises ValueError on non-BMP/compressed/other-depth
    input (malformed payloads are the caller's quarantine concern)."""
    px = bmp_pixels(payload)
    height, width = px.shape[:2]
    means = px.reshape(-1, 3).mean(axis=0)
    return {
        "format": "bmp",
        "width": width,
        "height": height,
        "mean_r": float(means[2]),
        "mean_g": float(means[1]),
        "mean_b": float(means[0]),
    }


def synth_wav(
    n_samples: int, amplitude: int, sample_rate: int = 8000, channels: int = 1
) -> bytes:
    """A real, valid PCM-16 WAV of a constant-amplitude square-ish signal
    (alternating ±amplitude, so the decoder's RMS is exactly
    |amplitude|)."""
    import numpy as np

    samples = np.full(n_samples * channels, amplitude, dtype=np.int16)
    samples[1::2] *= -1
    data = samples.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")            # bits/sample
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def synth_wav_g711(data: bytes, law: str, sample_rate: int = 8000) -> bytes:
    """A real, valid single-channel 8-bit G.711 WAV (format code 7 µ-law
    or 6 A-law) whose data chunk is exactly ``data`` — the fixture
    writer for the expansion oracle."""
    code = {"ulaw": 7, "alaw": 6}[law]
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + code.to_bytes(2, "little")
        + (1).to_bytes(2, "little")             # channels
        + sample_rate.to_bytes(4, "little")
        + sample_rate.to_bytes(4, "little")     # byte rate (1 ch × 1 B)
        + (1).to_bytes(2, "little")             # block align
        + (8).to_bytes(2, "little")             # bits/sample
    )
    chunks = fmt + b"data" + len(data).to_bytes(4, "little") + data
    if len(data) % 2:
        chunks += b"\x00"  # RIFF even padding
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


G711_FEATURE_SCHEMA = (
    "media_id long, n_samples int, "
    "ulaw_rms double, alaw_rms double, ulaw_mean double, alaw_mean double"
)


def g711_expansion_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio, telephony formats (r4): per document a µ-law AND an
    A-law WAV are written from closed-form encoded bytes and fully
    decoded back — RIFF walk, format-code dispatch, CCITT table
    expansion to 16-bit linear — in mapInPandas. The expansion formulas
    are pure integer bit algebra, so the oracle recomputes them in SQL
    and the driver hash-checks every table entry the fixture touches."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "n_samples", "ulaw_rms", "alaw_rms",
                    "ulaw_mean", "alaw_mean")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                n = mid % 64 + 16
                i = np.arange(n)
                bu = ((mid + 7 * i) % 256).astype(np.uint8)
                ba = ((mid * 3 + 11 * i) % 256).astype(np.uint8)
                fu = decode_wav(synth_wav_g711(bu.tobytes(), "ulaw"))
                fa = decode_wav(synth_wav_g711(ba.tobytes(), "alaw"))
                assert fu["n_samples"] == fa["n_samples"] == n
                rows["media_id"].append(mid)
                rows["n_samples"].append(n)
                rows["ulaw_rms"].append(round(fu["rms"], 4))
                rows["alaw_rms"].append(round(fa["rms"], 4))
                rows["ulaw_mean"].append(round(fu["mean"], 4))
                rows["alaw_mean"].append(round(fa["mean"], 4))
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, G711_FEATURE_SCHEMA
    )


MPEG1_FEATURE_SCHEMA = (
    "media_id long, frame int, subband int, nb int, sf_idx int, "
    "code_sum long, v0 double, speak double"
)


def mpeg1_subband_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio, MPEG-1 Layer I (r5 — the 'MP3 story' task): per
    document, assemble 1 + doc_id % 3 REAL Layer I frames (448 kbps,
    32 kHz, mono) from closed-form allocation / scalefactor / sample-
    code derivations, then fully decode the byte stream back — frame
    sync + header arithmetic, 4-bit allocation walk, 6-bit scalefactor
    indices, MSB-first sample codes, §2.4.3.3 requantization — in
    mapInPandas, emitting one row per (frame, active subband) with the
    decoded quantizer width, scalefactor index, the EXACT integer sum
    of the 12 recovered sample codes (pins the whole bitstream
    round-trip), and two single-product floats — the dequantized s=0
    sample and the 12-sample peak. Sums of floats are deliberately NOT
    hashed: numpy's pairwise and DuckDB's sequential summation disagree
    in the last ulp and a 24k-row corpus reliably finds a .00005
    rounding boundary (one did). Single products and max() are
    order-free, so both engines produce bit-identical doubles. The
    synthesis filterbank is the one documented non-closed-form step and
    stays out of the hash (see functions/mpeg_audio.py)."""
    import numpy as np

    from prom_etl_db_spark.functions.mpeg_audio import (
        decode_mpeg1_layer1,
        encode_mpeg1_layer1_frame,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "frame", "subband", "nb", "sf_idx",
                    "code_sum", "v0", "speak")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                n_frames = 1 + mid % 3
                payload = b""
                for f in range(n_frames):
                    alloc = np.array(
                        [
                            0 if (mid + f + sb) % 4 == 0
                            else 2 + (mid + 3 * f + sb) % 9
                            for sb in range(32)
                        ]
                    )
                    sfi = np.array(
                        [(mid * 7 + f * 11 + sb * 5) % 63 for sb in range(32)]
                    )
                    codes = [
                        [
                            (mid + 7 * f + 3 * sb + 5 * s)
                            % ((1 << (a + 1)) - 1)
                            if a
                            else 0
                            for s in range(12)
                        ]
                        for sb, a in enumerate(alloc)
                    ]
                    payload += encode_mpeg1_layer1_frame(
                        alloc, sfi, codes,
                        bitrate_idx=14, samplerate_idx=2, protection=True,
                    )
                for f, fr in enumerate(decode_mpeg1_layer1(payload)):
                    al = fr["allocation"][0]
                    sf = fr["scalefactor_idx"][0]
                    sub = fr["subbands"][0]
                    cds = fr["codes"][0]
                    for sb in range(32):
                        if al[sb]:
                            rows["media_id"].append(mid)
                            rows["frame"].append(f)
                            rows["subband"].append(sb)
                            rows["nb"].append(int(al[sb]) + 1)
                            rows["sf_idx"].append(int(sf[sb]))
                            rows["code_sum"].append(int(cds[sb].sum()))
                            rows["v0"].append(round(float(sub[sb, 0]), 6))
                            rows["speak"].append(
                                round(float(np.abs(sub[sb]).max()), 6)
                            )
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, MPEG1_FEATURE_SCHEMA
    )


FLAC_FEATURE_SCHEMA = (
    "media_id long, n_samples int, n_bytes_raw int, ssum long, "
    "smin long, smax long"
)


def flac_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio, FLAC (r5): per document a closed-form integer signal is
    encoded into a REAL FLAC stream (STREAMINFO, FIXED-order-2
    subframes, single-partition Rice residuals, CRC-8/16) and fully
    decoded back — frame sync, coded numbers, predictor reconstruction,
    Rice un-zigzag — in mapInPandas. FLAC is LOSSLESS, so the decoded
    samples equal the closed form exactly and the oracle recomputes
    integer sums/extrema in SQL: one hash checks the whole predictor +
    entropy path bit-for-bit. n_bytes_raw (the 16-bit PCM size) rides
    along so compression actually happening is part of the evidence."""
    import numpy as np

    from prom_etl_db_spark.functions.flac import decode_flac, encode_flac

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "n_samples", "n_bytes_raw", "ssum",
                    "smin", "smax")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                n = 300 + mid % 200
                i = np.arange(n, dtype=np.int64)
                sig = ((mid * 7 + 3 * i * i + 11 * i) % 4001) - 2000
                data, _ = decode_flac(
                    encode_flac(sig, block_size=128, order=2)
                )
                got = data[:, 0]
                assert np.array_equal(got, sig)  # lossless, bit-exact
                rows["media_id"].append(mid)
                rows["n_samples"].append(n)
                rows["n_bytes_raw"].append(2 * n)
                rows["ssum"].append(int(got.sum()))
                rows["smin"].append(int(got.min()))
                rows["smax"].append(int(got.max()))
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, FLAC_FEATURE_SCHEMA
    )


def _g711_tables():
    """256-entry µ-law / A-law expansion tables per ITU-T G.711 (the
    classic CCITT reference formulas). Computed once, scalar math —
    a wrong shift or bias lands kilometers from the known vectors
    (µ-law 0x80 → +32124, A-law 0xAA → +32256), both pinned in tests."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a >> 4) & 0x07
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = None, None


def decode_wav(payload: bytes) -> dict:
    """REAL sample decode of WAV: walks the RIFF chunk list (fmt may be
    followed by LIST/fact/etc. before data), reads every sample, and
    returns count/rate/duration and true RMS amplitude. Formats: PCM-16
    (code 1) and — r4 — ITU-T G.711 µ-law (7) / A-law (6) telephony
    audio, expanded to 16-bit linear through the classic CCITT tables."""
    import numpy as np

    global _ULAW_TABLE, _ALAW_TABLE
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    channels = sample_rate = bits = audio_fmt = None
    data = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            audio_fmt = int.from_bytes(body[0:2], "little")
            if audio_fmt not in (1, 6, 7):
                raise ValueError(f"unsupported WAV format code {audio_fmt}")
            channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        i += 8 + size + (size % 2)  # RIFF chunks pad to even offsets
    if data is None or channels is None:
        raise ValueError("missing fmt/data chunk")
    if audio_fmt == 1 and bits != 16:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    if audio_fmt in (6, 7) and bits != 8:
        raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
    if audio_fmt == 1:
        samples = np.frombuffer(data, dtype="<i2")
    else:
        if _ULAW_TABLE is None:
            _ULAW_TABLE, _ALAW_TABLE = _g711_tables()
        table = _ULAW_TABLE if audio_fmt == 7 else _ALAW_TABLE
        samples = table[np.frombuffer(data, dtype=np.uint8)]
    if channels < 1:
        raise ValueError("WAV fmt declares zero channels")
    n_frames = len(samples) // channels
    rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))) if len(samples) else 0.0
    mean = float(samples.astype(np.float64).mean()) if len(samples) else 0.0
    return {
        "format": "wav",
        "channels": channels,
        "sample_rate": sample_rate,
        "n_samples": n_frames,
        "duration_s": n_frames / sample_rate if sample_rate else 0.0,
        "rms": rms,
        "mean": mean,
    }


def bmp_pixels(payload: bytes):
    """Decode a 24-bit uncompressed BMP to a top-down (h, w, 3) uint8
    array in B,G,R channel order — the array form ``decode_bmp``'s means
    are computed from, exposed for transforms (resize, crop, stats)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    raw = np.frombuffer(payload, dtype=np.uint8, offset=data_off)
    if raw.size < stride * height:
        raise ValueError("truncated BMP pixel array")
    rows = raw[: stride * height].reshape(height, stride)[:, : width * 3]
    px = rows.reshape(height, width, 3)
    return px if top_down else px[::-1]


def encode_bmp(px) -> bytes:
    """General 24-bit BMP writer for a top-down (h, w, 3) B,G,R uint8
    array — the exact inverse of ``bmp_pixels`` (bottom-up rows, 4-byte
    padding), so resize/crop outputs re-enter the decode path."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    height, width = px.shape[:2]
    stride = (width * 3 + 3) // 4 * 4
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * 3] = px.reshape(height, width * 3)
    pixels = rows[::-1].tobytes()  # bottom-up on disk
    info = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    header = (
        b"BM"
        + (14 + 40 + len(pixels)).to_bytes(4, "little")
        + b"\x00" * 4
        + (14 + 40).to_bytes(4, "little")
    )
    return header + info + pixels


def resize_bmp(payload: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resize of a decoded BMP, re-encoded as BMP — the
    standard thumbnail/normalize step of an image pipeline, on real pixel
    data with zero codec libraries. Index map: src = floor(dst·src_n/
    dst_n) (the conventional nearest-neighbor grid)."""
    import numpy as np

    if new_w < 1 or new_h < 1:
        raise ValueError("resize target must be >= 1x1")
    px = bmp_pixels(payload)
    h, w = px.shape[:2]
    rows = (np.arange(new_h) * h) // new_h
    cols = (np.arange(new_w) * w) // new_w
    return encode_bmp(px[np.ix_(rows, cols)])


def decimate_wav(payload: bytes, factor: int) -> bytes:
    """Audio downsampling by integer decimation: keep every ``factor``-th
    frame and divide the declared sample rate — the cheap resample of a
    feature pipeline (no anti-alias filter; document the aliasing trade
    when the source has energy above the new Nyquist). Re-encodes a valid
    PCM-16 WAV via the same chunk layout ``synth_wav`` writes."""
    import numpy as np

    if factor < 1:
        raise ValueError("decimation factor must be >= 1")
    meta = decode_wav(payload)  # validates format; rejects non-PCM16
    # re-walk to the raw data chunk
    i, data = 12, b""
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"data":
            data = payload[i + 8 : i + 8 + size]
        i += 8 + size + (size % 2)
    frames = np.frombuffer(data, dtype="<i2").reshape(-1, meta["channels"])
    kept = frames[::factor]
    rate = max(1, meta["sample_rate"] // factor)
    body = kept.astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + meta["channels"].to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * meta["channels"] * 2).to_bytes(4, "little")
        + (meta["channels"] * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


# -- real PNG codec (stdlib zlib + per-row filter reconstruction) -----------


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + zlib.crc32(ctype + body).to_bytes(4, "big")
    )


def encode_png(px) -> bytes:
    """A real, valid 8-bit PNG writer (truecolor, non-interlaced) from a
    top-down (h, w, 3) R,G,B uint8 array — stdlib ``zlib`` only.

    Each row's filter type is ``row % 5``, deliberately cycling through
    all five PNG filters (None/Sub/Up/Average/Paeth, RFC 2083 §6), so a
    decode of our own output exercises every reconstruction branch — the
    roundtrip oracle then verifies the full filter algebra, not just the
    happy filter-0 path."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    bpp = 3
    raw = px.reshape(h, w * bpp).astype(np.int16)
    lines = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        row = raw[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int16), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int16), prev[:-bpp]])
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        lines.append(f)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes((8, 2, 0, 0, 0))  # depth 8, truecolor, deflate, adaptive, no interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(px) -> bytes:
    """A real, valid 16-bit PNG writer — grayscale (h, w) or truecolor
    (h, w, 3) uint16, big-endian sample pairs per the spec — with the
    same all-five-filters row cycle as ``encode_png``; PNG filters
    operate on BYTES with bpp = 2·channels, which is exactly what this
    exercises in the decoder. Fixture writer for the 16-bit oracle."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint16)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    ch = 1 if gray else px.shape[2]
    bpp = 2 * ch
    # big-endian byte view, rows of w*bpp bytes
    raw = (
        np.frombuffer(px.astype(">u2").tobytes(), dtype=np.uint8)
        .reshape(h, w * bpp)
        .astype(np.int16)
    )
    lines = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int16)
    for y in range(h):
        row = raw[y]
        left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
        f = y % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - ((left + prev) >> 1)
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        lines.append(f)
        lines += (filt & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes((16, 0 if gray else 2, 0, 0, 0))
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def _png_pack_row(samples, depth: int) -> bytes:
    """(width,) index samples -> packed row bytes, MSB-first (the writer
    twin of ``_png_unpack_row``)."""
    import numpy as np

    samples = np.asarray(samples, dtype=np.uint8)
    if depth == 8:
        return samples.tobytes()
    bits = (
        (samples[:, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(-1)
    return np.packbits(bits).tobytes()


def encode_png_palette(indices, palette, depth: int = 8) -> bytes:
    """A real, valid indexed-color PNG writer (color type 3, PLTE) at
    depth 1/2/4/8 from a top-down (h, w) index array + (n, 3) palette —
    the fixture generator for the palette decode oracle. Rows use filter
    0 (sub-byte rows filter on PACKED bytes, so nontrivial filters would
    test byte arithmetic, not the unpack path this exists to verify)."""
    import zlib

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    if int(idx.max(initial=0)) >= len(pal) or len(pal) > (1 << depth):
        raise ValueError("palette index/depth out of range")
    lines = bytearray()
    for y in range(h):
        lines.append(0)
        lines += _png_pack_row(idx[y], depth)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes((depth, 3, 0, 0, 0))
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_interlaced(px) -> bytes:
    """A real, valid Adam7-INTERLACED 8-bit truecolor PNG writer from a
    top-down (h, w, 3) array: the image splits into the seven pass
    sub-images, each filtered per-row cycling through all five filter
    types (like ``encode_png``), then one deflate stream. The decoder
    must defilter each pass independently and scatter it back on the
    Adam7 grid — the fixture generator for the interlace oracle."""
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape[:2]
    bpp = 3
    lines = bytearray()
    for x0, dx, y0, dy in _ADAM7:
        sub = px[y0::dy, x0::dx]
        hp, wp = sub.shape[:2]
        if hp == 0 or wp == 0:
            continue
        raw = sub.reshape(hp, wp * bpp).astype(np.int16)
        prev = np.zeros(wp * bpp, dtype=np.int16)
        for y in range(hp):
            row = raw[y]
            left = np.concatenate([np.zeros(bpp, np.int16), row[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
            f = y % 5
            if f == 0:
                filt = row
            elif f == 1:
                filt = row - left
            elif f == 2:
                filt = row - prev
            elif f == 3:
                filt = row - ((left + prev) >> 1)
            else:
                p = left + prev - upleft
                pa, pb, pc = (
                    np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, upleft),
                )
                filt = row - pred
            lines.append(f)
            lines += (filt & 0xFF).astype(np.uint8).tobytes()
            prev = row
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes((8, 2, 0, 0, 1))  # interlace method 1 = Adam7
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass (RFC 2083
# §2.6) — pass k covers out[y0::dy, x0::dx].
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_defilter(data: bytes, pos: int, nrows: int, stride: int, bpp: int):
    """Reconstruct ``nrows`` filtered rows of ``stride`` bytes starting
    at ``data[pos]``; returns (rows ndarray (nrows, stride), new pos).
    The per-row loop is serial in the left neighbor by definition
    (Sub/Average/Paeth); loop bounds are image height, not corpus size —
    pipelines decode thumbnails inside Arrow-batched mapInPandas."""
    import numpy as np

    out = np.empty((nrows, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(nrows):
        if pos >= len(data):
            raise ValueError("PNG pixel data length mismatch")
        f = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + stride])
        if len(row) != stride:
            raise ValueError("PNG pixel data length mismatch")
        pos += 1 + stride
        if f == 1:  # Sub
            for k in range(bpp, stride):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif f == 2:  # Up
            for k in range(stride):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif f == 3:  # Average
            for k in range(stride):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for k in range(stride):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[k] = (row[k] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
        prev = row
    return out, pos


def _png_unpack_row(row_bytes, width: int, depth: int, channels: int):
    """One defiltered row -> (width, channels) samples: uint8 at depths
    ≤ 8, uint16 (big-endian pairs per the spec) at depth 16. Sub-byte
    depths (palette/gray 1/2/4) pack MSB-first within each byte."""
    import numpy as np

    if depth == 16:
        return np.frombuffer(
            np.asarray(row_bytes, dtype=np.uint8).tobytes(), dtype=">u2"
        )[: width * channels].reshape(width, channels)
    if depth == 8:
        return np.asarray(row_bytes, dtype=np.uint8)[
            : width * channels
        ].reshape(width, channels)
    spb = 8 // depth  # samples per byte
    bits = np.unpackbits(np.asarray(row_bytes, dtype=np.uint8))
    vals = bits.reshape(-1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    samples = (vals * weights).sum(axis=1).astype(np.uint8)
    assert spb * len(np.asarray(row_bytes)) >= width
    return samples[:width].reshape(width, 1)


def png_pixels(payload: bytes):
    """REAL PNG pixel decode, stdlib only: walk the chunk list, inflate
    the concatenated IDAT stream with ``zlib``, and reconstruct every row
    through the five PNG filters (None/Sub/Up/Average/Paeth — the Paeth
    predictor per RFC 2083). Returns a top-down (h, w, channels) array —
    uint8 for depths 1/2/4/8, uint16 for depth-16 images (palette images
    come back as mapped RGB).

    Supported — the FULL static-PNG matrix (r4): grayscale (0) /
    truecolor (2) / gray+alpha (4) / truecolor+alpha (6) at depths 8 and
    16, grayscale additionally at sub-byte depths 1/2/4, palette (3) at
    depths 1/2/4/8; each non-interlaced OR Adam7-interlaced. Malformed
    streams raise ValueError (quarantine is the caller's concern, the
    A12 stance)."""
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w = h = None
    depth = color = interlace = channels = None
    plte = None
    idat = bytearray()
    i = 8
    while i + 8 <= len(payload):
        size = int.from_bytes(payload[i : i + 4], "big")
        ctype = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + size]
        if ctype == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, color, _comp, _filt, interlace = body[8:13]
            channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
            # every legal (color, depth) combination in the spec's table
            # (§11.2.2): gray 1/2/4/8/16, palette 1/2/4/8, others 8/16.
            # Sub-byte gray returns RAW sample values (0..2^d-1) — the
            # 255/(2^d-1) display scaling is presentation, not decode.
            ok = depth in {
                0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)
            }.get(color, (8, 16))
            if channels is None or not ok or interlace not in (0, 1):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={interlace})"
                )
        elif ctype == b"PLTE":
            if len(body) % 3:
                raise ValueError("PNG PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        i += 12 + size
    if w is None or channels is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    try:
        data = zlib.decompress(bytes(idat))
    except zlib.error as e:  # truncated/corrupt IDAT must quarantine (A12)
        raise ValueError(f"PNG IDAT stream corrupt: {e}") from e
    if not w or not h:
        raise ValueError(f"PNG IHDR declares an empty {w}x{h} image")
    bits_px = depth * channels
    bpp = max(1, bits_px // 8)
    passes = []
    for x0, dx, y0, dy in _ADAM7 if interlace == 1 else ((0, 1, 0, 1),):
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp > 0 and hp > 0:  # an empty pass has no bytes (RFC 2083 §2.6)
            passes.append((x0, dx, y0, dy, wp, hp, (wp * bits_px + 7) // 8))
    # the IHDR geometry fixes the inflated length (a filter byte plus
    # the stride per row): check it BEFORE allocating from w and h, which
    # a corrupt header can make arbitrarily large
    if len(data) != sum(hp * (1 + stride) for *_, hp, stride in passes):
        raise ValueError("PNG pixel data length mismatch")
    out = np.zeros(
        (h, w, channels), dtype=np.uint16 if depth == 16 else np.uint8
    )
    pos = 0
    for x0, dx, y0, dy, wp, hp, stride in passes:
        rows, pos = _png_defilter(data, pos, hp, stride, bpp)
        for r in range(hp):
            out[y0 + r * dy, x0::dx] = _png_unpack_row(
                rows[r], wp, depth, channels
            )
    if color == 3:
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    return out


def decode_png(payload: bytes) -> dict:
    """REAL pixel decode of 8-bit PNGs (see ``png_pixels``): true
    per-channel means over every reconstructed pixel — the full inflate +
    defilter path, not a header peek. Channel order is PNG-native R,G,B
    (BMP's ``decode_bmp`` is B,G,R — both report mean_r/g/b keys)."""
    px = png_pixels(payload)
    h, w, ch = px.shape
    flat = px.reshape(-1, ch).astype("float64")
    if ch >= 3:
        mr, mg, mb = flat[:, 0].mean(), flat[:, 1].mean(), flat[:, 2].mean()
    else:
        mr = mg = mb = flat[:, 0].mean()
    return {
        "format": "png",
        "width": w,
        "height": h,
        "mean_r": float(mr),
        "mean_g": float(mg),
        "mean_b": float(mb),
    }


PNG_ROUNDTRIP_SCHEMA = (
    "media_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def png_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 graduated for PNG: per document a real PNG is encoded from the
    closed-form gradient px[y,x] = ((id+3x+5y)%256, (7id+x)%256,
    (13id+y)%256) — filters cycling None/Sub/Up/Average/Paeth by row —
    then fully DECODED (zlib inflate + per-row filter reconstruction)
    inside partition-preserving mapInPandas. The closed forms make the
    channel means SQL-expressible, so the DuckDB oracle hash-checks the
    whole encode→compress→inflate→defilter roundtrip."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 16 + 1, mid % 8 + 1
                xs, ys = np.arange(w), np.arange(h)
                r = (mid + 3 * xs[None, :] + 5 * ys[:, None]) % 256
                g = (mid * 7 + xs[None, :] + 0 * ys[:, None]) % 256
                b = (mid * 13 + 0 * xs[None, :] + ys[:, None]) % 256
                px = np.stack(
                    [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
                ).astype(np.uint8)
                f = decode_png(encode_png(px))
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(round(f["mean_r"], 6))
                out["mean_g"].append(round(f["mean_g"], 6))
                out["mean_b"].append(round(f["mean_b"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, PNG_ROUNDTRIP_SCHEMA
    )


def png_palette_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E4 for indexed-color PNG (r4): per document a real PLTE PNG is
    encoded — bit depth cycling 1/2/4/8 by id, closed-form palette and
    index grid — then fully decoded back (inflate, defilter, MSB-first
    sub-byte unpack, palette map) in mapInPandas. The closed forms make
    the mapped channel means SQL-expressible, so the oracle hash-checks
    the packed-bit algebra at every legal palette depth."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                depth = (1, 2, 4, 8)[mid % 4]
                nc = min(1 << depth, 64)
                w, h = mid % 16 + 1, mid % 8 + 1
                xs, ys = np.arange(w), np.arange(h)
                idx = ((mid + 3 * xs[None, :] + 5 * ys[:, None]) % nc).astype(
                    np.uint8
                )
                ci = np.arange(nc)
                pal = np.stack(
                    [(3 * ci) % 256, (5 * ci) % 256, (7 * ci) % 256], axis=-1
                ).astype(np.uint8)
                px = png_pixels(encode_png_palette(idx, pal, depth))
                flat = px.reshape(-1, 3).astype("float64")
                out["media_id"].append(mid)
                out["width"].append(px.shape[1])
                out["height"].append(px.shape[0])
                out["mean_r"].append(round(float(flat[:, 0].mean()), 6))
                out["mean_g"].append(round(float(flat[:, 1].mean()), 6))
                out["mean_b"].append(round(float(flat[:, 2].mean()), 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, PNG_ROUNDTRIP_SCHEMA
    )


def png16_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 for 16-bit PNG (r4 — closes the decoder's last refusal
    branch): per document a real 16-bit truecolor PNG of closed-form
    full-range gradients (values up to 65535, filters cycling all five
    types on the DOUBLED byte stride) is encoded then fully decoded
    back; channel means stay SQL-expressible so the oracle hash-checks
    the big-endian pair unpack and the bpp=6 filter algebra."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 8 + 1, mid % 6 + 1
                xs, ys = np.arange(w), np.arange(h)
                r = (mid * 257 + 1000 * xs[None, :] + 2000 * ys[:, None]) % 65536
                g = (mid * 4097 + 300 * xs[None, :] + 0 * ys[:, None]) % 65536
                b = (mid * 9973 + 0 * xs[None, :] + 777 * ys[:, None]) % 65536
                px = np.stack(
                    [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
                ).astype(np.uint16)
                f = decode_png(encode_png16(px))
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(round(f["mean_r"], 6))
                out["mean_g"].append(round(f["mean_g"], 6))
                out["mean_b"].append(round(f["mean_b"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, PNG_ROUNDTRIP_SCHEMA
    )


def png_interlaced_roundtrip_features(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """E4 for Adam7 (r4): the same closed-form gradient as
    ``png_roundtrip_features``, but written INTERLACED — seven
    independently-filtered pass sub-images in one deflate stream — and
    decoded back through the pass-scatter path. Same oracle as the
    straight PNG query: a wrong pass grid or per-pass filter reset
    scrambles pixel positions and shifts the means."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 16 + 1, mid % 8 + 1
                xs, ys = np.arange(w), np.arange(h)
                r = (mid + 3 * xs[None, :] + 5 * ys[:, None]) % 256
                g = (mid * 7 + xs[None, :] + 0 * ys[:, None]) % 256
                b = (mid * 13 + 0 * xs[None, :] + ys[:, None]) % 256
                px = np.stack(
                    [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
                ).astype(np.uint8)
                f = decode_png(encode_png_interlaced(px))
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(round(f["mean_r"], 6))
                out["mean_g"].append(round(f["mean_g"], 6))
                out["mean_b"].append(round(f["mean_b"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, PNG_ROUNDTRIP_SCHEMA
    )


JPEG_ROUNDTRIP_SCHEMA = (
    "media_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def jpeg_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 graduated for JPEG (the LOSSY codec, r4): per document a real
    baseline JPEG is encoded from closed-form per-8×8-block constant
    Y/Cb/Cr planes with flat (all-ones) quantization and a 2-MCU restart
    interval, then fully DECODED (marker walk, DHT Huffman, restart
    resync, dequant, IDCT, YCbCr→RGB) inside partition-preserving
    mapInPandas. Blockwise-constant input + flat tables make the lossy
    pipeline BIT-EXACT (only the DC coefficient is nonzero and 8·(v−128)
    quantizes losslessly), so the closed forms stay SQL-expressible and
    the DuckDB oracle hash-checks the entire entropy-coding algebra —
    a single wrong Huffman bit, restart reset, or IDCT scale factor
    shifts a channel mean and breaks the hash."""
    import numpy as np

    from prom_etl_db_spark.functions.jpeg import decode_jpeg, encode_jpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                wb, hb = mid % 3 + 1, mid % 2 + 1
                bxs, bys = np.arange(wb), np.arange(hb)
                y = (mid * 3 + 5 * bxs[None, :] + 7 * bys[:, None]) % 256
                cb = (mid * 11 + 4 * bxs[None, :] + 6 * bys[:, None]) % 256
                cr = (mid * 13 + 2 * bxs[None, :] + 3 * bys[:, None]) % 256
                planes = np.stack(
                    [np.broadcast_to(c, (hb, wb)) for c in (y, cb, cr)], axis=-1
                )
                px = np.repeat(np.repeat(planes, 8, axis=0), 8, axis=1)
                data = encode_jpeg(
                    px.astype(np.uint8),
                    color="ycbcr",
                    qtables="flat",
                    restart_interval=2,
                )
                f = decode_jpeg(data)
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(round(f["mean_r"], 6))
                out["mean_g"].append(round(f["mean_g"], 6))
                out["mean_b"].append(round(f["mean_b"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, JPEG_ROUNDTRIP_SCHEMA
    )


def video_mjpeg_frame_features(
    docs: DataFrame, id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """E4 video path, REAL container + REAL lossy frame codec (r4): per
    document an MJPEG AVI (doc_id%5+2 frames, each a per-block-constant
    flat-quantized baseline JPEG of closed-form Y/Cb/Cr), uniformly
    frame-sampled at k positions, each sampled frame fully decoded —
    RIFF walk, 00dc extraction, JPEG Huffman/IDCT/color — and reduced to
    channel means. Flat tables + constant blocks keep the lossy pipeline
    bit-exact (see jpeg_roundtrip_features), so the sampling arithmetic
    AND the per-frame decode are one SQL-checkable row set. Per-clip
    work is bounded; no shuffle."""
    import numpy as np

    from prom_etl_db_spark.functions.jpeg import encode_jpeg
    from prom_etl_db_spark.functions.video import (
        encode_avi_mjpeg,
        sample_avi_frames,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "n_frames", "frame_pos", "frame_index",
                    "mean_r", "mean_g", "mean_b")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                nf = mid % 5 + 2
                jpegs = []
                for f in range(nf):
                    bxs = np.arange(2)
                    y = (mid * 3 + 5 * bxs + 11 * f) % 256
                    cb = (mid * 11 + 4 * bxs + 3 * f) % 256
                    cr = (mid * 13 + 2 * bxs + 5 * f) % 256
                    planes = np.stack(
                        [np.broadcast_to(c, (1, 2)) for c in (y, cb, cr)],
                        axis=-1,
                    )
                    px = np.repeat(np.repeat(planes, 8, 0), 8, 1)
                    jpegs.append(
                        encode_jpeg(px.astype(np.uint8), color="ycbcr",
                                    qtables="flat")
                    )
                avi = encode_avi_mjpeg(jpegs, fps=10)
                for j, fi, px in sample_avi_frames(avi, k):
                    flat = px.reshape(-1, 3).astype("float64")
                    rows["media_id"].append(mid)
                    rows["n_frames"].append(nf)
                    rows["frame_pos"].append(j)
                    rows["frame_index"].append(fi)
                    rows["mean_r"].append(round(float(flat[:, 0].mean()), 6))
                    rows["mean_g"].append(round(float(flat[:, 1].mean()), 6))
                    rows["mean_b"].append(round(float(flat[:, 2].mean()), 6))
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, VIDEO_FRAME_SCHEMA
    )


# -- GIF (GIF89a, LZW — lossless, so stdlib-implementable like PNG) ---------


def _lzw_encode_gif(min_code_size: int, indices: bytes) -> bytes:
    """GIF-flavor LZW: variable-width codes packed LSB-first, clear/EOI
    codes, width growing when the next assignable code reaches 2^width
    (the standard GIF/giflib rule — TIFF's "early change" variant would
    increment one code sooner), table reset via an explicit clear code
    when the 12-bit space (4096 codes) fills."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table():
        return {bytes([i]): i for i in range(clear)}

    table = fresh_table()
    width = min_code_size + 1
    next_code = eoi + 1
    emit(clear, width)
    buf = b""
    for byte in indices:
        nb = buf + bytes([byte])
        if nb in table:
            buf = nb
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[nb] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = fresh_table()
            width = min_code_size + 1
            next_code = eoi + 1
        buf = bytes([byte])
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(min_code_size: int, data: bytes) -> bytes:
    """Inverse of ``_lzw_encode_gif``. The width counter mirrors the
    ENCODER's assignment counter (incremented on every data code,
    including the first after a clear, the giflib RunningCode scheme) —
    the table itself lags one entry behind by construction, which is what
    makes the code == len(table) "KwK" case reachable. A stream that ends
    without an explicit EOI terminates cleanly (zero-padding tolerance)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1
    enc_next = eoi + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                width = min_code_size + 1
                enc_next = eoi + 1
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # KwK: the code being defined
            else:
                raise ValueError(f"corrupt LZW stream (code {code})")
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
            out += entry
            prev = entry
            if enc_next < 4096:
                enc_next += 1
                if enc_next == (1 << width) and width < 12:
                    width += 1
    return bytes(out)


def encode_gif(indices, palette) -> bytes:
    """A real, valid GIF89a writer from a top-down (h, w) uint8 array of
    palette indices plus an RGB palette (length a power of two, 2..256):
    logical screen descriptor, global color table, one image descriptor,
    LZW-compressed pixel data in ≤255-byte sub-blocks, trailer."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    n = len(palette)
    if n < 2 or n & (n - 1):
        raise ValueError("palette length must be a power of two >= 2")
    log2n = n.bit_length() - 1
    min_code_size = max(2, log2n)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    # GCT present, color resolution 8 bits (0b111 << 4), GCT size field
    out.append(0x80 | 0x70 | (log2n - 1))
    out += b"\x00\x00"  # background color index, pixel aspect ratio
    for r, g, b in palette:
        out += bytes((r, g, b))
    out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor, left=top=0
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x00)  # no local color table, not interlaced
    out.append(min_code_size)
    lzw = _lzw_encode_gif(min_code_size, idx.tobytes())
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator, trailer
    return bytes(out)


def encode_gif_animation(frames, palette, delay_cs: int = 4) -> bytes:
    """A real, valid ANIMATED GIF89a from a list of (h, w) uint8 index
    arrays: logical screen descriptor sized to the largest frame, global
    color table, NETSCAPE2.0 infinite-loop application extension, then
    per frame a graphic control extension (delay in centiseconds) +
    image descriptor + LZW-compressed data. The poor engineer's video
    container — real multi-frame plumbing without an ffmpeg dependency."""
    import numpy as np

    if not frames:
        raise ValueError("need at least one frame")
    n = len(palette)
    if n < 2 or n & (n - 1):
        raise ValueError("palette length must be a power of two >= 2")
    log2n = n.bit_length() - 1
    min_code_size = max(2, log2n)
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    sw = max(a.shape[1] for a in arrs)
    sh = max(a.shape[0] for a in arrs)
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out.append(0x80 | 0x70 | (log2n - 1))
    out += b"\x00\x00"  # background color index, pixel aspect ratio
    for r, g, b in palette:
        out += bytes((r, g, b))
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for a in arrs:
        h, w = a.shape
        out += b"\x21\xf9\x04\x00" + delay_cs.to_bytes(2, "little") + b"\x00\x00"
        out += b"\x2c" + b"\x00\x00\x00\x00"
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out.append(0x00)  # no local color table, not interlaced
        out.append(min_code_size)
        lzw = _lzw_encode_gif(min_code_size, a.tobytes())
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def sample_gif_frames(payload: bytes, k: int):
    """Uniform-K frame sampling from an animated GIF — the video
    "frame-sample" op: position j in 0..k−1 maps to frame index
    floor(j·(F−1)/(k−1)), endpoints included (repeats allowed when
    k > F — the sample grid is the contract, not distinctness, so the
    output shape is fixed per clip). Returns [(j, frame_index,
    (h, w, 3) uint8 array), ...]."""
    frames = gif_frames(payload)
    nf = len(frames)
    if k < 1:
        raise ValueError("k must be >= 1")
    picks = [0] if k == 1 else [(j * (nf - 1)) // (k - 1) for j in range(k)]
    return [(j, fi, frames[fi]) for j, fi in enumerate(picks)]


VIDEO_FRAME_SCHEMA = (
    "media_id long, n_frames int, frame_pos int, frame_index int, "
    "mean_r double, mean_g double, mean_b double"
)


def video_frame_sample_features(
    docs: DataFrame, id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """E4 video path over the synthetic corpus: per document an ANIMATED
    GIF (doc_id%6+2 frames of the closed-form palette grid, frame f
    shifting the pattern by 7f), uniformly frame-sampled at k positions,
    each sampled frame fully decoded and reduced to channel means. The
    frame-index arithmetic and the per-frame means are both SQL
    closed forms, so the oracle hash-checks sampling AND the multi-frame
    LZW decode in one row set. Per-clip work is bounded; no shuffle."""
    import numpy as np

    palette = [((3 * i) % 256, (5 * i) % 256, (7 * i) % 256) for i in range(64)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "n_frames", "frame_pos", "frame_index",
                    "mean_r", "mean_g", "mean_b")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                nf, w, h = mid % 6 + 2, mid % 8 + 2, mid % 4 + 2
                xs, ys = np.arange(w), np.arange(h)
                frames = [
                    ((mid + 7 * f + 3 * xs[None, :] + 5 * ys[:, None]) % 64)
                    .astype(np.uint8)
                    for f in range(nf)
                ]
                payload = encode_gif_animation(frames, palette)
                for j, fi, px in sample_gif_frames(payload, k):
                    flat = px.reshape(-1, 3).astype(np.float64)
                    rows["media_id"].append(mid)
                    rows["n_frames"].append(nf)
                    rows["frame_pos"].append(j)
                    rows["frame_index"].append(fi)
                    rows["mean_r"].append(round(float(flat[:, 0].mean()), 6))
                    rows["mean_g"].append(round(float(flat[:, 1].mean()), 6))
                    rows["mean_b"].append(round(float(flat[:, 2].mean()), 6))
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, VIDEO_FRAME_SCHEMA
    )


def gif_frames(payload: bytes):
    """REAL GIF decode of EVERY frame, stdlib only: parse the logical
    screen descriptor and color tables, skip extension blocks (including
    per-frame graphic control and looping application extensions),
    reassemble each image's sub-blocks, LZW-decompress (variable-width
    LSB-first codes, clear/EOI, KwK case, giflib-style width sync), and
    map indices through the active color table. Returns a list of
    top-down (h, w, 3) uint8 RGB arrays, one per image block — frames
    are decoded INDEPENDENTLY (no disposal-method compositing; fine for
    feature extraction, where each frame is full-size). Interlaced
    images raise ValueError (quarantine is the caller's concern, A12
    stance)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")

    def at(i: int) -> int:  # bounds-checked byte read (A12: ValueError,
        if i >= len(payload):  # never IndexError, on truncated streams)
            raise ValueError("GIF stream truncated")
        return payload[i]

    def table_at(p: int, n: int) -> np.ndarray:
        if p + 3 * n > len(payload):
            raise ValueError("GIF color table truncated")
        return np.frombuffer(
            payload[p : p + 3 * n], dtype=np.uint8
        ).reshape(n, 3)

    sw = int.from_bytes(payload[6:8], "little")  # noqa: F841 — screen dims
    sh = int.from_bytes(payload[8:10], "little")  # noqa: F841
    packed = at(10)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = table_at(pos, n)
        pos += 3 * n
    frames = []
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte then sub-blocks
            pos += 1
            while at(pos):
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        w = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        h = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        ipacked = at(pos + 8)
        pos += 9
        if ipacked & 0x40:
            raise ValueError("interlaced GIF not supported")
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = table_at(pos, n)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code_size = at(pos)
        pos += 1
        lzw = bytearray()
        while at(pos):
            size = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + size]
            pos += 1 + size
        pos += 1
        idx = np.frombuffer(
            _lzw_decode_gif(min_code_size, bytes(lzw)), dtype=np.uint8
        )
        if len(idx) != w * h:
            raise ValueError("GIF pixel data length mismatch")
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("GIF index outside color table")
        frames.append(ct[idx.reshape(h, w)])
    if not frames:
        raise ValueError("GIF contains no image block")
    return frames


def gif_pixels(payload: bytes):
    """First frame of :func:`gif_frames` as a top-down (h, w, 3) uint8
    RGB array — the still-image view of the decoder."""
    return gif_frames(payload)[0]


def decode_gif(payload: bytes) -> dict:
    """REAL pixel decode of non-interlaced GIFs (see ``gif_pixels``):
    per-channel means over every palette-mapped pixel — the full LZW
    inflate path, not the header peek in ``image_dimensions``."""
    px = gif_pixels(payload)
    h, w = px.shape[:2]
    flat = px.reshape(-1, 3).astype("float64")
    return {
        "format": "gif",
        "width": w,
        "height": h,
        "mean_r": float(flat[:, 0].mean()),
        "mean_g": float(flat[:, 1].mean()),
        "mean_b": float(flat[:, 2].mean()),
    }


GIF_ROUNDTRIP_SCHEMA = (
    "media_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


def gif_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 graduated for GIF: per document a real GIF89a is encoded from
    the closed-form 64-color palette[i] = (3i%256, 5i%256, 7i%256) and
    index grid idx[y,x] = (id + 3x + 5y) % 64, then fully DECODED back
    (sub-block reassembly + variable-width LZW + palette mapping) inside
    partition-preserving mapInPandas. The closed forms make the channel
    means SQL-expressible, so the DuckDB oracle hash-checks the whole
    compress→decompress→palette-map roundtrip — a single wrong LZW width
    transition scrambles every later pixel and breaks the hash."""
    import numpy as np

    palette = [((3 * i) % 256, (5 * i) % 256, (7 * i) % 256) for i in range(64)]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 16 + 1, mid % 8 + 1
                xs, ys = np.arange(w), np.arange(h)
                idx = ((mid + 3 * xs[None, :] + 5 * ys[:, None]) % 64).astype(
                    np.uint8
                )  # already (h, w) via broadcasting
                f = decode_gif(encode_gif(idx, palette))
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(round(f["mean_r"], 6))
                out["mean_g"].append(round(f["mean_g"], 6))
                out["mean_b"].append(round(f["mean_b"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, GIF_ROUNDTRIP_SCHEMA
    )


def as_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Fabricate a media table from the documents fixture: UTF-8 bytes of
    the text play the payload role (deterministic; exercises BinaryType
    end-to-end)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.length(F.encode(F.col("text"), "UTF-8")).cast("int").alias("n_bytes"),
    )


def decode_features(media: DataFrame) -> DataFrame:
    """'Decode' each payload into typed features via ``mapInPandas`` —
    Arrow-batched, partition-preserving (no shuffle). The fake decode is
    deterministic: checksum = Σ bytes mod 2^31, width/height derived from
    length, so tests can assert exact values. Swap the body for
    ``real_decode`` on a real cluster."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            n = payloads.map(len)
            checksum = payloads.map(lambda b: sum(b) % (2**31))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n.astype("int32"),
                    "checksum": checksum.astype("int64"),
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                }
            )

    return balance(media, "media_id").mapInPandas(batches, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame sampling for 'video' payloads: emit ≤ max_frames fixed-stride
    byte slices per payload (the real frame decoder would slot into the
    same mapInPandas shape). 1→N row fan-out without a shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frame_nos, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i in range(min(max_frames, max(1, len(payload) // every_n_bytes))):
                    ids.append(mid)
                    frame_nos.append(i)
                    frames.append(bytes(payload[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "frame_bytes": frames}
            )

    return balance(media, "media_id").mapInPandas(batches, FRAME_SCHEMA)


def image_dimensions(payload: bytes) -> "tuple[str, int, int] | None":
    """REAL header-level metadata extraction — (format, width, height)
    from raw bytes, no codec library required:

    - PNG:  IHDR chunk carries big-endian u32 width/height at bytes 16/20
    - JPEG: scan to the first SOF marker (0xC0-0xCF minus C4/C8/CC);
      height/width are big-endian u16 after the precision byte
    - GIF:  little-endian u16 pair right after the 6-byte signature

    Returns None for anything else — unknown payloads are data, not
    errors (the A12 stance).
    """
    def _dims(fmt: str, w: int, h: int) -> "tuple[str, int, int] | None":
        # sanity-bound: a header CLAIMING dimensions outside int32 (or
        # zero) is malformed/adversarial — 33 crafted bytes must yield
        # None, not crash the Arrow batch downstream
        if 0 < w < 2**31 and 0 < h < 2**31:
            return (fmt, w, h)
        return None

    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            return _dims(
                "png",
                int.from_bytes(payload[16:20], "big"),
                int.from_bytes(payload[20:24], "big"),
            )
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            return _dims(
                "gif",
                int.from_bytes(payload[6:8], "little"),
                int.from_bytes(payload[8:10], "little"),
            )
        if payload[:2] == b"\xff\xd8":
            i = 2
            while i + 9 < len(payload):
                if payload[i] != 0xFF:
                    return None  # marker desync — corrupt stream
                marker = payload[i + 1]
                if marker == 0xFF:
                    i += 1  # ITU T.81 allows 0xFF fill bytes before markers
                    continue
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length
                    continue
                seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    height = int.from_bytes(payload[i + 5 : i + 7], "big")
                    width = int.from_bytes(payload[i + 7 : i + 9], "big")
                    return _dims("jpeg", width, height)
                i += 2 + seg_len
    except (IndexError, ValueError):
        return None
    return None


BMP_ROUNDTRIP_SCHEMA = (
    "media_id long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)

WAV_ROUNDTRIP_SCHEMA = (
    "media_id long, channels int, sample_rate int, n_samples int, "
    "duration_s double, rms double"
)


def bmp_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 graduated from stub: REAL pixel data, end to end. Per document a
    valid 24-bit BMP is synthesized from closed-form functions of the id
    (dims/solid color), then fully DECODED — headers parsed, padded
    bottom-up pixel rows walked, channel means computed over every pixel —
    inside partition-preserving mapInPandas. The closed forms make the
    output SQL-expressible, so the driver's DuckDB oracle checks the
    encode→decode roundtrip exactly. Only the id column rides the scan."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "width", "height", "mean_r", "mean_g", "mean_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 16 + 1, mid % 8 + 1
                r, g, b = mid % 256, (mid * 7) % 256, (mid * 13) % 256
                f = decode_bmp(synth_bmp(w, h, r, g, b))
                out["media_id"].append(mid)
                out["width"].append(f["width"])
                out["height"].append(f["height"])
                out["mean_r"].append(f["mean_r"])
                out["mean_g"].append(f["mean_g"])
                out["mean_b"].append(f["mean_b"])
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, BMP_ROUNDTRIP_SCHEMA
    )


BMP_RESIZE_SCHEMA = "media_id long, width int, height int, mean_px double"


def bmp_resize_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 transform path, driver-gated: per document synthesize a REAL
    8-row vertical-gradient BMP (pixel value 30·row in every channel),
    nearest-neighbor-resize it to (2, id%4+1), then fully re-decode. The
    resized mean is the closed form 30·avg(⌊i·8/h'⌋), so the DuckDB
    oracle hash-checks encode→resize→decode — pixel selection arithmetic
    included — not just that some bytes moved."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grad = np.repeat(
            (np.arange(8, dtype=np.uint8) * 30)[:, None, None], 4 * 3, axis=1
        ).reshape(8, 4, 3)
        src = encode_bmp(grad)
        for pdf in it:
            out = {k: [] for k in ("media_id", "width", "height", "mean_px")}
            for mid in pdf[id_col]:
                mid = int(mid)
                h2 = mid % 4 + 1
                px = bmp_pixels(resize_bmp(src, 2, h2))
                out["media_id"].append(mid)
                out["height"].append(px.shape[0])
                out["width"].append(px.shape[1])
                out["mean_px"].append(round(float(px.mean()), 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, BMP_RESIZE_SCHEMA
    )


def wav_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio dual of ``bmp_roundtrip_features``: a valid PCM-16 WAV per
    document (alternating ±amplitude — RMS is exactly |amplitude|), fully
    decoded sample-by-sample; closed-form parameters keep the roundtrip
    DuckDB-checkable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "channels", "sample_rate", "n_samples",
                    "duration_s", "rms")}
            for mid in pdf[id_col]:
                mid = int(mid)
                n, amp = (mid % 50 + 1) * 100, mid % 1000
                f = decode_wav(synth_wav(n, amp))
                out["media_id"].append(mid)
                out["channels"].append(f["channels"])
                out["sample_rate"].append(f["sample_rate"])
                out["n_samples"].append(f["n_samples"])
                out["duration_s"].append(round(f["duration_s"], 6))
                out["rms"].append(round(f["rms"], 6))
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, WAV_ROUNDTRIP_SCHEMA
    )


def audio_features(payload: bytes) -> dict:
    """REAL DSP feature extraction from a PCM-16 WAV: zero-crossing rate,
    peak amplitude, and FFT spectral centroid/bandwidth (numpy rfft —
    no audio library needed). The training-pipeline audio analogue of
    the text quality signals: cheap per-clip scalars for filtering and
    stratification.

    Multi-channel clips are analyzed channel-interleaved as stored (the
    fixture is mono); the empty/silent clip defines centroid/bandwidth 0.
    """
    import numpy as np

    meta = decode_wav(payload)
    # re-extract the raw samples the same way decode_wav did: walk ALL
    # chunks and keep the LAST data chunk (breaking on the first would
    # compute zcr/spectra from a different chunk than decode_wav's rms
    # on a multi-data-chunk file — internally inconsistent features)
    i, data = 12, None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        if cid == b"data":
            data = payload[i + 8 : i + 8 + size]
        i += 8 + size + (size % 2)
    s = np.frombuffer(data, dtype="<i2").astype(np.float64)
    if len(s) < 2:
        return {**meta, "zcr": 0.0, "peak": float(np.max(np.abs(s), initial=0.0)),
                "spectral_centroid_hz": 0.0, "spectral_bandwidth_hz": 0.0}
    zcr = float(np.sum(s[:-1] * s[1:] < 0)) / (len(s) - 1)
    peak = float(np.max(np.abs(s)))
    if not meta["sample_rate"]:
        # sample_rate=0 is tolerated by decode_wav (duration_s 0.0); the
        # frequency axis is undefined there — report the time-domain
        # features and zero spectra instead of dividing by zero and
        # killing the whole Arrow batch
        return {**meta, "zcr": zcr, "peak": peak,
                "spectral_centroid_hz": 0.0, "spectral_bandwidth_hz": 0.0}
    spec = np.abs(np.fft.rfft(s))
    freqs = np.fft.rfftfreq(len(s), d=1.0 / meta["sample_rate"])
    tot = float(spec.sum())
    if tot > 0:
        centroid = float((freqs * spec).sum() / tot)
        bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * spec).sum() / tot))
    else:
        centroid = bandwidth = 0.0
    return {
        **meta,
        "zcr": zcr,
        "peak": peak,
        "spectral_centroid_hz": centroid,
        "spectral_bandwidth_hz": bandwidth,
    }


WAV_SIGNAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("zcr", DoubleType(), False),
        StructField("peak_amplitude", DoubleType(), False),
        StructField("spectral_centroid_hz", DoubleType(), False),
        StructField("spectral_bandwidth_hz", DoubleType(), False),
    ]
)


def wav_signal_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio analysis over the synthetic corpus: every document's WAV
    is the alternating ±amplitude square wave — the pure-Nyquist signal,
    whose features are CLOSED FORM (zcr = 1, all spectral mass at
    fs/2 = 4000 Hz, bandwidth 0; silence → all zeros), so a DuckDB
    oracle can hash-match a genuine FFT pipeline. Rounding absorbs FFT
    leakage into the analytically-zero bins (~1e-3 Hz at fixture sizes,
    vs the 0.05 the 1-dp bandwidth rounding tolerates)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in
                   ("media_id", "zcr", "peak_amplitude",
                    "spectral_centroid_hz", "spectral_bandwidth_hz")}
            for mid in pdf[id_col]:
                mid = int(mid)
                n, amp = (mid % 50 + 1) * 100, mid % 1000
                f = audio_features(synth_wav(n, amp))
                out["media_id"].append(mid)
                out["zcr"].append(round(f["zcr"], 6))
                out["peak_amplitude"].append(round(f["peak"], 6))
                out["spectral_centroid_hz"].append(
                    round(f["spectral_centroid_hz"], 3)
                )
                out["spectral_bandwidth_hz"].append(
                    round(f["spectral_bandwidth_hz"], 1)
                )
            yield pd.DataFrame(out)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, WAV_SIGNAL_SCHEMA
    )


IMAGE_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def image_header_features(media: DataFrame) -> DataFrame:
    """Genuine (non-stub) image metadata over the binary column:
    ``image_dimensions`` per payload via partition-preserving
    ``mapInPandas`` — the exact plumbing a full decoder uses, with the
    header parse standing where pixel decode would go. Unknown formats
    yield nulls, never failures."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [image_dimensions(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": [m[0] if m else None for m in metas],
                    "width": pd.array(
                        [m[1] if m else None for m in metas], dtype="Int32"
                    ),
                    "height": pd.array(
                        [m[2] if m else None for m in metas], dtype="Int32"
                    ),
                }
            )

    return balance(media, "media_id").mapInPandas(batches, IMAGE_META_SCHEMA)


# -- AU (Sun/NeXT) and AIFF containers (r5) ---------------------------------
# The remaining classic PCM-family audio containers beside WAV: AU is a
# six-word big-endian header (encodings 1=u-law, 2=int8, 3=int16-BE,
# 27=A-law — the G.711 expansions reuse the same CCITT tables as WAV
# codes 6/7); AIFF's one interesting construct is the sample rate as an
# 80-bit IEEE-754 EXTENDED float (1 sign + 15-bit exponent biased 16383
# + 64-bit mantissa with an EXPLICIT integer bit) — formula-defined, so
# encode/decode is exact integer algebra for every real-world rate.


def _f80_encode(v: int) -> bytes:
    """Positive integer -> 80-bit extended float (AIFF sampleRate)."""
    if v <= 0:
        raise ValueError("AIFF sample rate must be positive")
    e = v.bit_length() - 1
    mant = v << (63 - e)  # explicit integer bit at position 63
    return (16383 + e).to_bytes(2, "big") + mant.to_bytes(8, "big")


def _f80_decode(b: bytes) -> int:
    if len(b) != 10:
        raise ValueError("AIFF extended float must be 10 bytes")
    se = int.from_bytes(b[0:2], "big")
    mant = int.from_bytes(b[2:10], "big")
    if se & 0x8000:
        raise ValueError("negative AIFF sample rate")
    e = (se & 0x7FFF) - 16383
    if mant == 0:
        return 0
    if not -63 <= e <= 62:
        raise ValueError("AIFF sample rate out of integer range")
    # value = mant * 2^(e-63); require an integral rate
    shift = 63 - e
    if mant & ((1 << shift) - 1):
        raise ValueError("non-integral AIFF sample rate unsupported")
    return mant >> shift


def synth_au(data: bytes, encoding: int, sample_rate: int = 8000,
             channels: int = 1) -> bytes:
    """A real, valid AU file whose data block is exactly ``data``."""
    if encoding not in (1, 2, 3, 27):
        raise ValueError(f"unsupported AU encoding {encoding}")
    return (
        b".snd"
        + (24).to_bytes(4, "big")
        + len(data).to_bytes(4, "big")
        + encoding.to_bytes(4, "big")
        + sample_rate.to_bytes(4, "big")
        + channels.to_bytes(4, "big")
        + data
    )


def decode_au(payload: bytes) -> dict:
    """REAL AU decode: u-law (1) / int8 (2) / int16-BE (3) / A-law (27)
    to linear samples with the decode_wav-style feature dict."""
    import numpy as np

    global _ULAW_TABLE, _ALAW_TABLE
    if payload[:4] != b".snd":
        raise ValueError("not an AU stream")
    if len(payload) < 24:
        raise ValueError("AU header truncated")
    off = int.from_bytes(payload[4:8], "big")
    dsize = int.from_bytes(payload[8:12], "big")
    enc = int.from_bytes(payload[12:16], "big")
    rate = int.from_bytes(payload[16:20], "big")
    channels = int.from_bytes(payload[20:24], "big")
    if off < 24 or off > len(payload):
        raise ValueError("AU data offset out of range")
    if channels < 1:
        raise ValueError("AU declares zero channels")
    data = payload[off:]
    if dsize != 0xFFFFFFFF:
        if dsize > len(data):
            raise ValueError("AU data size exceeds payload")
        data = data[:dsize]
    if enc in (1, 27):
        if _ULAW_TABLE is None:
            _ULAW_TABLE, _ALAW_TABLE = _g711_tables()
        table = _ULAW_TABLE if enc == 1 else _ALAW_TABLE
        samples = table[np.frombuffer(data, dtype=np.uint8)]
    elif enc == 2:
        samples = np.frombuffer(data, dtype=np.int8).astype(np.int16)
    elif enc == 3:
        samples = np.frombuffer(data[: len(data) & ~1], dtype=">i2")
    else:
        raise ValueError(f"unsupported AU encoding {enc}")
    n_frames = len(samples) // channels
    flat = samples.astype(np.float64)
    return {
        "format": "au",
        "channels": channels,
        "sample_rate": rate,
        "n_samples": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": float(np.sqrt((flat**2).mean())) if flat.size else 0.0,
        "mean": float(flat.mean()) if flat.size else 0.0,
    }


def synth_aiff(samples, sample_rate: int = 8000) -> bytes:
    """A real, valid mono 16-bit AIFF (FORM/COMM/SSND; sample rate as
    the 80-bit extended float)."""
    import numpy as np

    s = np.asarray(samples, dtype="<i2").astype(">i2")
    comm = (
        (1).to_bytes(2, "big")
        + len(s).to_bytes(4, "big")
        + (16).to_bytes(2, "big")
        + _f80_encode(sample_rate)
    )
    ssnd = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + s.tobytes()
    chunks = (
        b"AIFF"
        + b"COMM" + len(comm).to_bytes(4, "big") + comm
        + b"SSND" + len(ssnd).to_bytes(4, "big") + ssnd
    )
    return b"FORM" + len(chunks).to_bytes(4, "big") + chunks


def decode_aiff(payload: bytes) -> dict:
    """REAL AIFF decode: FORM walk, COMM (incl. the 80-bit extended
    sample rate), big-endian 16-bit SSND samples."""
    import numpy as np

    if payload[:4] != b"FORM" or payload[8:12] != b"AIFF":
        raise ValueError("not an AIFF stream")
    i = 12
    channels = rate = bits = nframes = None
    data = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "big")
        body = payload[i + 8 : i + 8 + size]
        if len(body) != size:
            raise ValueError("AIFF chunk truncated")
        if cid == b"COMM":
            if size < 18:
                raise ValueError("AIFF COMM chunk too short")
            channels = int.from_bytes(body[0:2], "big")
            nframes = int.from_bytes(body[2:6], "big")
            bits = int.from_bytes(body[6:8], "big")
            rate = _f80_decode(body[8:18])
        elif cid == b"SSND":
            if size < 8:
                raise ValueError("AIFF SSND chunk too short")
            off = int.from_bytes(body[0:4], "big")
            if 8 + off > size:
                raise ValueError("AIFF SSND offset out of range")
            data = body[8 + off :]
        i += 8 + size + (size % 2)  # IFF chunks pad to even
    if channels is None or data is None:
        raise ValueError("AIFF missing COMM/SSND chunk")
    if bits != 16:
        raise ValueError(f"unsupported AIFF bit depth {bits}")
    if channels < 1:
        raise ValueError("AIFF declares zero channels")
    samples = np.frombuffer(data[: len(data) & ~1], dtype=">i2")
    n_frames = len(samples) // channels
    if nframes is not None:
        n_frames = min(n_frames, nframes)
        samples = samples[: n_frames * channels]
    flat = samples.astype(np.float64)
    return {
        "format": "aiff",
        "channels": channels,
        "sample_rate": rate,
        "n_samples": n_frames,
        "duration_s": n_frames / rate if rate else 0.0,
        "rms": float(np.sqrt((flat**2).mean())) if flat.size else 0.0,
        "mean": float(flat.mean()) if flat.size else 0.0,
    }


AU_AIFF_FEATURE_SCHEMA = (
    "media_id long, au_n int, au_sum long, au_sumsq long, aiff_n int, "
    "aiff_sum long, aiff_sumsq long, aiff_rate int"
)


def au_aiff_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 audio containers (r5): per document an AU file (u-law bytes
    from the same closed form as the G.711 WAV fixture — expansion is
    exact CCITT table algebra) and an AIFF (16-bit PCM with the sample
    rate through the 80-bit extended-float encode/decode) are written
    and fully decoded back in mapInPandas. Every hashed column is
    DECODE-derived (sums from mean*n, second moments from rms^2*n —
    both exact for integer sums below 2^53) and exact integer
    arithmetic on both engines."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cols = ("media_id", "au_n", "au_sum", "au_sumsq", "aiff_n",
                    "aiff_sum", "aiff_sumsq", "aiff_rate")
            rows = {c: [] for c in cols}
            for mid in pdf[id_col]:
                mid = int(mid)
                n = mid % 64 + 16
                i = np.arange(n)
                bu = ((mid + 7 * i) % 256).astype(np.uint8)
                fa = decode_au(synth_au(bu.tobytes(), 1))
                pcm = (((mid * 13 + 17 * i * i) % 60001) - 30000).astype(
                    np.int16
                )
                rate = 8000 + (mid % 7) * 1225  # exercises f80 encode
                fi = decode_aiff(synth_aiff(pcm, rate))
                assert fi["n_samples"] == n and fi["sample_rate"] == rate
                rows["media_id"].append(mid)
                rows["au_n"].append(fa["n_samples"])
                rows["au_sum"].append(int(round(fa["mean"] * n)))
                rows["au_sumsq"].append(int(round(fa["rms"] ** 2 * n)))
                rows["aiff_n"].append(fi["n_samples"])
                rows["aiff_sum"].append(int(round(fi["mean"] * n)))
                rows["aiff_sumsq"].append(int(round(fi["rms"] ** 2 * n)))
                rows["aiff_rate"].append(rate)
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, AU_AIFF_FEATURE_SCHEMA
    )


Y4M_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("fps_den", IntegerType()),
        StructField("rsum", LongType()),
        StructField("gsum", LongType()),
        StructField("bsum", LongType()),
    ]
)


def y4m_roundtrip_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 video, RAW interchange format (r5): per document a YUV4MPEG2
    clip (closed-form 4:2:0 planes, doc-varying frame count and frame
    rate) is written by the real writer and fully re-parsed from bytes
    — header tag grammar, FRAME markers, plane slicing — then every
    frame is converted to RGB through the exact integer BT.601
    fixed-point form (`video.yuv_to_rgb_bt601`). Y4M is uncompressed,
    so parsed planes EQUAL the closed form (asserted), and the channel
    sums are pure integer arithmetic a SQL oracle recomputes verbatim —
    one hash pins header parsing (fps fields ride along), plane
    geometry, chroma upsampling, and the colorimetry. Raw video is the
    pipeline's pre/post-codec interchange surface; the MJPEG-AVI twin
    covers the lossy-codec container."""
    import numpy as np

    from prom_etl_db_spark.functions.video import (
        encode_y4m,
        parse_y4m,
        yuv_to_rgb_bt601,
    )

    W, H = 16, 8

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {f.name: [] for f in Y4M_FEATURE_SCHEMA}
            for mid in pdf[id_col]:
                mid = int(mid)
                nf = 2 + mid % 3
                fps = (24 + mid % 6, 1001)
                r_y = np.arange(H, dtype=np.int64)[:, None]
                c_y = np.arange(W, dtype=np.int64)[None, :]
                r_c = np.arange(H // 2, dtype=np.int64)[:, None]
                c_c = np.arange(W // 2, dtype=np.int64)[None, :]
                frames = []
                for f in range(nf):
                    yp = (mid * 3 + f * 11 + r_y * 5 + c_y * 7) % 256
                    up = (mid * 5 + f * 7 + r_c * 13 + c_c * 3) % 256
                    vp = (mid * 7 + f * 5 + r_c * 3 + c_c * 13) % 256
                    frames.append(
                        tuple(p.astype(np.uint8) for p in (yp, up, vp))
                    )
                params, got = parse_y4m(encode_y4m(frames, fps=fps))
                assert params["width"] == W and params["height"] == H
                assert (params["fps_num"], params["fps_den"]) == fps
                assert len(got) == nf
                rs = gs = bs = 0
                for (ye, ue, ve), (yg, ug, vg) in zip(frames, got):
                    assert (
                        np.array_equal(ye, yg)
                        and np.array_equal(ue, ug)
                        and np.array_equal(ve, vg)
                    )  # raw format: byte-exact roundtrip
                    rgb = yuv_to_rgb_bt601(yg, ug, vg).astype(np.int64)
                    rs += int(rgb[:, :, 0].sum())
                    gs += int(rgb[:, :, 1].sum())
                    bs += int(rgb[:, :, 2].sum())
                rows["media_id"].append(mid)
                rows["n_frames"].append(nf)
                rows["width"].append(W)
                rows["height"].append(H)
                rows["fps_num"].append(fps[0])
                rows["fps_den"].append(fps[1])
                rows["rsum"].append(rs)
                rows["gsum"].append(gs)
                rows["bsum"].append(bs)
            yield pd.DataFrame(rows)

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, Y4M_FEATURE_SCHEMA
    )


IMG_TRANSFORM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("rot_w", IntegerType(), False),
        StructField("rot_h", IntegerType(), False),
        StructField("wsum_rot_r", LongType(), False),
        StructField("wsum_fliph_g", LongType(), False),
        StructField("wsum_flipv_b", LongType(), False),
    ]
)


def image_transform_features(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """E4 geometric transforms on REAL pixel arrays: per document a
    closed-form gradient BMP is encoded, decoded back (full header +
    bottom-up stride walk), then rotated 90° clockwise and flipped both
    ways with actual array ops (np.rot90/np.flip — the augmentation
    primitives an image pipeline runs). The emitted features are
    POSITION-WEIGHTED sums Σ(x'+1)(y'+1)·channel, so any wrong
    permutation (off-by-one, wrong axis, transpose-without-reverse)
    changes the value — a mean would hide all of them. Exact int64."""
    import numpy as np
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in (
                "media_id", "rot_w", "rot_h",
                "wsum_rot_r", "wsum_fliph_g", "wsum_flipv_b")}
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = mid % 16 + 1, mid % 8 + 1
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                px = np.stack(  # B,G,R order (the BMP array convention)
                    [
                        (mid * 13 + y + 0 * x) % 256,
                        (mid * 7 + x + 0 * y) % 256,
                        (mid + 3 * x + 5 * y) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                dec = bmp_pixels(encode_bmp(px)).astype(np.int64)
                rot = np.rot90(dec, k=-1)          # 90° clockwise
                fliph = dec[:, ::-1]
                flipv = dec[::-1, :]
                def wsum(a, ch):
                    hh, ww = a.shape[:2]
                    wx = np.arange(1, ww + 1, dtype=np.int64)[None, :]
                    wy = np.arange(1, hh + 1, dtype=np.int64)[:, None]
                    return int((a[:, :, ch] * wx * wy).sum())
                out["media_id"].append(mid)
                out["rot_w"].append(rot.shape[1])
                out["rot_h"].append(rot.shape[0])
                out["wsum_rot_r"].append(wsum(rot, 2))
                out["wsum_fliph_g"].append(wsum(fliph, 1))
                out["wsum_flipv_b"].append(wsum(flipv, 0))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(out["media_id"], dtype="int64"),
                    "rot_w": pd.array(out["rot_w"], dtype="int32"),
                    "rot_h": pd.array(out["rot_h"], dtype="int32"),
                    "wsum_rot_r": pd.array(out["wsum_rot_r"], dtype="int64"),
                    "wsum_fliph_g": pd.array(out["wsum_fliph_g"], dtype="int64"),
                    "wsum_flipv_b": pd.array(out["wsum_flipv_b"], dtype="int64"),
                }
            )

    from prom_etl_db_spark.parallel import balance

    return balance(docs.select(id_col), id_col).mapInPandas(
        batches, IMG_TRANSFORM_SCHEMA
    )
