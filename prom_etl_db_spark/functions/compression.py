"""zstd and LZ4 through pyarrow's bundled C codecs (libzstd, liblz4).

The data-lake stack's default codecs (Parquet pages, Kafka, Spark io)
are not re-implemented here: the engine hands bytes to the reference
libraries that pyarrow ships and keeps only two things of its own.

- ``zstd_decompress``: the decoder for zstd bytes from outside the
  engine (``.warc.zst`` files). It streams through libzstd, so it
  decodes multi-frame input and skips skippable frames. It allocates
  nothing from a frame-header field: output grows in chunks and is
  refused once it passes ``max_out``. Every refusal (truncation, bad
  magic, checksum mismatch, content-size lie, dictionary frames) is a
  ``ValueError``.
- ``roundtrip_features``: the per-document compress → decompress
  check behind the ``payload_*`` codec queries.

LZ4 has no decoder for outside bytes: pyarrow's ``lz4_raw`` decompress
needs the exact output size and pads a short output without an error,
so only a caller that knows the size (the roundtrip) may use it.
"""

from __future__ import annotations

import pyarrow as pa

_CHUNK = 1 << 20


def zstd_decompress(data: bytes, *, max_out: int = 1 << 26) -> bytes:
    """Decode a sequence of zstd frames (skippable frames skipped);
    malformed input or output past ``max_out`` bytes raises ValueError."""
    if not data:
        raise ValueError("zstd: empty input is not a frame")
    chunks, n = [], 0
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), "zstd") as src:
            while chunk := src.read(min(_CHUNK, max_out + 1 - n)):
                n += len(chunk)
                if n > max_out:
                    raise ValueError("zstd: output exceeds max_out")
                chunks.append(chunk)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"zstd: {e}") from e
    return b"".join(chunks)


def roundtrip_features(docs, codec: str, *, doubled: bool = False):
    """Per document: UTF-8 bytes (twice over when ``doubled``) →
    pyarrow ``codec`` compress → decompress (zstd through
    ``zstd_decompress``) → assert bit-identity, and for doubled text
    that the payload shrank → emit (id, n_bytes, payload_md5) from the
    decoded bytes, so the oracle's closed forms over the original text
    hash-check the roundtrip. mapInPandas, zero shuffle."""
    import hashlib
    from typing import Iterator

    import pandas as pd

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = pa.Codec(codec)
        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf["doc_id"], pdf["text"]):
                raw = str(txt).encode("utf-8") * (2 if doubled else 1)
                enc = c.compress(raw, asbytes=True)
                if codec == "zstd":
                    back = zstd_decompress(enc)
                else:
                    back = c.decompress(enc, len(raw), asbytes=True)
                if back != raw:  # pragma: no cover - roundtrip invariant
                    raise ValueError(f"{codec}: roundtrip mismatch id {mid}")
                # doubled text guarantees matches, so the payload MUST
                # shrink — a stored-only encoding fails here
                if doubled and len(raw) > 64 and len(enc) >= len(raw):  # pragma: no cover
                    raise ValueError(f"{codec}: failed to compress id {mid}")
                rows.append((int(mid), len(back), hashlib.md5(back).hexdigest()))
            yield pd.DataFrame(rows, columns=["doc_id", "n_bytes", "payload_md5"])

    return docs.select("doc_id", "text").mapInPandas(
        walk, "doc_id long, n_bytes long, payload_md5 string")
