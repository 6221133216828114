"""Prometheus remote-write ingestion: protobuf wire format, implemented
from its public specification, over snappy block compression.

Reference scope: samzong/prom-etl-db PULLS from the Prometheus HTTP
query API (internal/prometheus/client.go); remote-write is the PUSH
half of the same ecosystem — the wire protocol Prometheus itself emits
(prometheus.io/docs/specs/remote_write_spec: a snappy-block-compressed
protobuf ``WriteRequest``). An engine claiming the reference's
ingestion surface at 100 TB must accept the push path too: fleets of
agents write remote-write payloads into object storage, and this
module turns those payloads into the SAME sample records the pull
path produces (``ingest.py`` shapes).

- **protobuf wire format** (developers.google.com/protocol-buffers/
  docs/encoding), from scratch — no protobuf library exists in this
  environment: varints, field headers ``(field_num << 3) | wire``,
  length-delimited submessages, fixed64 doubles. The subset is exactly
  ``prompb.WriteRequest``: WriteRequest.timeseries = 1 (LEN);
  TimeSeries.labels = 1 (LEN), .samples = 2 (LEN); Label.name = 1,
  .value = 2 (LEN); Sample.value = 1 (fixed64 double),
  .timestamp = 2 (varint int64, two's-complement per proto3 ``int64``).
- **snappy block format** (github.com/google/snappy
  format_description.txt) through pyarrow's bundled C snappy, behind
  a declared-length bomb guard.

Both an encoder and a decoder are provided: the encoder builds
fixtures and tests the decoder (the BMP/WAV roundtrip discipline);
the decoder is the production path. Malformed input refuses loudly
with ValueError (the corrupt-stream fuzz convention).

Spark shape: one ``mapInPandas`` over the payload column — stateless,
Arrow-batched, zero shuffle; parallelism is per payload blob, which is
how remote-write shards naturally (one blob per agent push).
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- varints ----------------------------------------------------------------


def _uvarint(data: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError(f"varint truncated at offset {pos}")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            raise ValueError(f"varint overlong at offset {pos}")


# Decoder hot loops below inline the single-byte case (b < 0x80 — field
# headers, small lengths, symbol refs, packed deltas dominate the wire)
# as ``if pos < n and (b := data[pos]) < 0x80`` before falling back to
# _uvarint; the fallback also owns every error path, so refusal
# semantics (ValueError on truncation/overlong) are byte-identical.
# r13 optimization round; profiled ~40% of decode CPU in 420-590k
# _uvarint calls per 5k payloads — the decoder mirror of the r12
# encoder table.


# single-byte varints dominate the wire fixtures (field headers, small
# lengths, refs) — a 128-entry table skips the bytearray build for them
# (r12; profiled ~25% of encode CPU in _enc_uvarint)
_UVARINT1 = tuple(bytes([i]) for i in range(0x80))


def _enc_uvarint(n: int) -> bytes:
    if 0 <= n < 0x80:
        return _UVARINT1[n]
    if n < 0:  # proto3 int64: two's complement, always 10 bytes
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# --- snappy block format ----------------------------------------------------

# pyarrow's bundled C snappy implements the raw BLOCK format; its
# errors are re-raised as ValueError (the corrupt-stream convention).
_SNAPPY = pa.Codec("snappy")


def snappy_decompress(data: bytes) -> bytes:
    """The snappy BLOCK format (what remote-write mandates — not the
    framing format), decoded by pyarrow's C snappy."""
    want, _ = _uvarint(data, 0)  # validates the header loudly
    # bomb guard (the repo's convention): the densest element is a
    # copy2 (3 bytes → up to 64 output bytes), so no valid stream
    # expands past 64/3 of its size — refuse before pre-allocating
    # an attacker-declared buffer.
    if want > (len(data) * 64) // 3 + 64:
        raise ValueError(
            f"snappy: declared {want} bytes exceeds the max possible "
            f"expansion of a {len(data)}-byte stream")
    try:
        out = _SNAPPY.decompress(data, decompressed_size=want,
                                 asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"snappy: {e}") from e
    if len(out) != want:
        raise ValueError(
            f"snappy: declared {want} bytes, produced {len(out)}")
    return out


def snappy_compress(data: bytes) -> bytes:
    """Raw snappy block compression by pyarrow's C snappy."""
    return _SNAPPY.compress(data, asbytes=True)


# --- protobuf: prompb.WriteRequest -------------------------------------------


def _enc_field(num: int, wire: int) -> bytes:
    # callers pass constant (num, wire) pairs — memoized (r12)
    return _ENC_FIELD_CACHE.get((num, wire)) or _enc_uvarint(
        (num << 3) | wire)


_ENC_FIELD_CACHE = {
    (n, w): _enc_uvarint((n << 3) | w)
    for n in range(1, 16) for w in (0, 1, 2, 5)
}

# wire-2 (LEN) headers indexed by field number (r13; skips the tuple
# build + dict probe of _enc_field on the hottest encoder helper). 32
# covers every field in prompb/v2 (max used: custom_values = 16); higher
# field numbers take _enc_field.
_LEN_HDR = tuple(_enc_uvarint((n << 3) | 2) for n in range(32))


def _enc_len(num: int, payload: bytes) -> bytes:
    hdr = _LEN_HDR[num] if num < 32 else _enc_field(num, 2)
    return hdr + _enc_uvarint(len(payload)) + payload


# constant headers on the per-sample/per-exemplar encode path (r13)
_HDR_SAMPLE_VAL = _ENC_FIELD_CACHE[(1, 1)]   # Sample.value, fixed64
_HDR_SAMPLE_TS = _ENC_FIELD_CACHE[(2, 0)]    # Sample.timestamp, varint
_HDR_F2_FIXED64 = _ENC_FIELD_CACHE[(2, 1)]   # Exemplar.value, fixed64
_PACK_D = struct.Struct("<d").pack


def encode_write_request(
    series: list[dict], metadata: list[dict] | None = None
) -> bytes:
    """series: [{"labels": {name: value}, "samples": [(value, ts_ms)]}]
    → uncompressed WriteRequest bytes (fixture/test encoder). r9:
    exemplars (prompb.TimeSeries.exemplars = 3; Exemplar{labels = 1
    FULL Label messages — v1 has no symbol table — value = 2 fixed64,
    timestamp = 3 varint ms}) encode too, and REQUEST-level metadata
    (WriteRequest.metadata = 3; prompb.MetricMetadata{type = 1 enum,
    metric_family_name = 2, help = 4, unit = 5} — v1 metadata is
    out-of-band per family, unlike v2's per-series typed refs)."""
    out = bytearray()
    for s in series:
        ts_msg = bytearray()
        for name, value in s["labels"].items():
            lab = _enc_len(1, name.encode()) + _enc_len(2, value.encode())
            ts_msg += _enc_len(1, lab)
        for value, ts_ms in s["samples"]:
            sm = (
                _HDR_SAMPLE_VAL
                + _PACK_D(value)
                + _HDR_SAMPLE_TS
                + _enc_uvarint(ts_ms)
            )
            ts_msg += _enc_len(2, sm)
        for ex in s.get("exemplars", []):
            em = bytearray()
            for name, value in ex.get("labels", {}).items():
                lab = _enc_len(1, name.encode()) + _enc_len(2, value.encode())
                em += _enc_len(1, lab)
            em += _HDR_F2_FIXED64 + _PACK_D(float(ex["value"]))
            em += _enc_field(3, 0) + _enc_uvarint(int(ex["timestamp"]))
            ts_msg += _enc_len(3, bytes(em))
        for h in s.get("histograms", []):
            ts_msg += _enc_len(4, _enc_native_histogram(h))
        out += _enc_len(1, bytes(ts_msg))
    for md in metadata or []:
        m = _enc_field(1, 0) + _enc_uvarint(int(md.get("type", 0)))
        m += _enc_len(2, md.get("family", "").encode())
        if md.get("help") is not None:
            m += _enc_len(4, md["help"].encode())
        if md.get("unit") is not None:
            m += _enc_len(5, md["unit"].encode())
        out += _enc_len(3, m)
    return bytes(out)


def decode_write_request_metadata(data: bytes) -> list[dict]:
    """Uncompressed v1 WriteRequest bytes → the REQUEST-level metadata
    entries (WriteRequest.metadata = 3 — r9, the last v1 field that
    was skipped; v1 ships metadata out-of-band per metric FAMILY,
    where v2 interns it per series). Returns [{"type": int, "family":
    str, "help": str|None, "unit": str|None}]; framing violations
    raise ValueError, unknown fields skip per proto3."""
    out, pos, n = [], 0, len(data)
    while pos < n:
        hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if num != 3 or wire != 2:
            pos = _skip(data, pos, wire)
            continue
        ln, pos = _uvarint(data, pos)
        if pos + ln > n:
            raise ValueError(f"proto: metadata overruns buffer at {pos}")
        md, mp = data[pos : pos + ln], 0
        pos += ln
        entry: dict = {"type": 0, "family": "", "help": None, "unit": None}
        while mp < len(md):
            mh, mp = _uvarint(md, mp)
            mnum, mwire = mh >> 3, mh & 7
            if mnum == 1 and mwire == 0:
                raw, mp = _uvarint(md, mp)
                entry["type"] = raw
            elif mnum in (2, 4, 5) and mwire == 2:
                l2, mp = _uvarint(md, mp)
                if mp + l2 > len(md):
                    raise ValueError("proto: metadata field overruns")
                text = md[mp : mp + l2].decode("utf-8")
                mp += l2
                entry[{2: "family", 4: "help", 5: "unit"}[mnum]] = text
            else:
                mp = _skip(md, mp, mwire)
        out.append(entry)
    return out


def remote_write_v1_metadata(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id"
) -> DataFrame:
    """(id, snappy-compressed v1 WriteRequest) → one row per metadata
    entry: (metric_family_name, metric_type, help, unit) — the same
    typed-metadata shape ``remote_write_v2_samples`` resolves from
    v2's interned refs, so both wire generations feed one metadata
    table. mapInPandas, zero shuffle."""
    schema = T.StructType(
        [payloads.schema[id_col]]
        + [
            T.StructField("metric_family_name", T.StringType()),
            T.StructField("metric_type", T.StringType()),
            T.StructField("help", T.StringType()),
            T.StructField("unit", T.StringType()),
        ]
    )

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for e in decode_write_request_metadata(
                    snappy_decompress(bytes(blob))
                ):
                    rows.append(
                        {
                            id_col: pid,
                            "metric_family_name": e["family"],
                            "metric_type": _V2_METRIC_TYPES.get(
                                e["type"], f"type_{e['type']}"),
                            "help": e["help"],
                            "unit": e["unit"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)


def _parse_label(data: bytes) -> tuple[str, str]:
    pos, name, value = 0, "", ""
    n = len(data)
    while pos < n:
        if (b := data[pos]) < 0x80:
            hdr = b
            pos += 1
        else:
            hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if wire != 2:
            raise ValueError(f"label: unexpected wire type {wire}")
        if pos < n and (b := data[pos]) < 0x80:
            ln = b
            pos += 1
        else:
            ln, pos = _uvarint(data, pos)
        if pos + ln > n:
            raise ValueError(f"proto: label field overruns buffer at {pos}")
        field, pos = data[pos : pos + ln], pos + ln
        if num == 1:
            name = field.decode("utf-8")
        elif num == 2:
            value = field.decode("utf-8")
    return name, value


def _skip(data: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _uvarint(data, pos)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = _uvarint(data, pos)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"proto: unknown wire type {wire} at {pos}")
    if pos > len(data):
        raise ValueError("proto: field overruns buffer")
    return pos


def decode_write_request(data: bytes) -> list[dict]:
    """Uncompressed WriteRequest bytes → the encoder's dict shape.
    Unknown fields are skipped per proto3 rules (forward compat);
    framing violations raise ValueError."""
    series, pos = [], 0
    n = len(data)
    while pos < n:
        if (b := data[pos]) < 0x80:
            hdr = b
            pos += 1
        else:
            hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if num != 1 or wire != 2:
            pos = _skip(data, pos, wire)
            continue
        if pos < n and (b := data[pos]) < 0x80:
            ln = b
            pos += 1
        else:
            ln, pos = _uvarint(data, pos)
        if pos + ln > n:
            raise ValueError(f"proto: timeseries overruns buffer at {pos}")
        ts_msg, pos = data[pos : pos + ln], pos + ln
        labels: dict[str, str] = {}
        samples: list[tuple[float, int]] = []
        histograms: list[dict] = []
        exemplars: list[dict] = []
        p = 0
        while p < ln:
            if (b := ts_msg[p]) < 0x80:
                h = b
                p += 1
            else:
                h, p = _uvarint(ts_msg, p)
            fnum, fwire = h >> 3, h & 7
            if fnum == 1 and fwire == 2:
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: label overruns timeseries at {p}")
                name, value = _parse_label(ts_msg[p : p + l2])
                labels[name] = value
                p += l2
            elif fnum == 4 and fwire == 2:
                # native histograms shipped over remote-write 1.0 FIRST
                # (prompb.TimeSeries.histograms = 4); r8: decode rather
                # than silently skip primary data
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: histogram overruns timeseries at {p}")
                histograms.append(_parse_native_histogram(ts_msg[p : p + l2]))
                p += l2
            elif fnum == 2 and fwire == 2:
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: sample overruns timeseries at {p}")
                samples.append(_parse_sample(ts_msg[p : p + l2]))
                p += l2
            elif fnum == 3 and fwire == 2:
                # r9: v1 exemplars (TimeSeries.exemplars = 3) — the
                # last wire field any push format carried that was
                # silently skipped. Exemplar labels are FULL Label
                # messages (no symbol table in v1).
                l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(
                        f"proto: exemplar overruns timeseries at {p}")
                em = ts_msg[p : p + l2]
                p += l2
                ep = 0
                e_labels: dict[str, str] = {}
                e_val, e_ts = 0.0, 0
                while ep < len(em):
                    eh, ep = _uvarint(em, ep)
                    enum_, ewire = eh >> 3, eh & 7
                    if enum_ == 1 and ewire == 2:
                        l3, ep = _uvarint(em, ep)
                        if ep + l3 > len(em):
                            raise ValueError(
                                "proto: exemplar label overruns")
                        k, v = _parse_label(em[ep : ep + l3])
                        e_labels[k] = v
                        ep += l3
                    elif enum_ == 2 and ewire == 1:
                        if ep + 8 > len(em):
                            raise ValueError(
                                "proto: exemplar value truncated")
                        e_val = struct.unpack("<d", em[ep : ep + 8])[0]
                        ep += 8
                    elif enum_ == 3 and ewire == 0:
                        raw, ep = _uvarint(em, ep)
                        e_ts = raw - (1 << 64) if raw >= 1 << 63 else raw
                    else:
                        ep = _skip(em, ep, ewire)
                exemplars.append(
                    {"labels": e_labels, "value": e_val, "timestamp": e_ts})
            else:
                p = _skip(ts_msg, p, fwire)
        s: dict = {"labels": labels, "samples": samples}
        if histograms:
            s["histograms"] = histograms
        if exemplars:
            s["exemplars"] = exemplars
        series.append(s)
    return series


# --- protobuf: io.prometheus.write.v2.Request (remote-write 2.0) -------------
#
# The ecosystem's CURRENT wire format (prometheus.io/docs/specs/
# remote_write_spec_2_0; prompb/io/prometheus/write/v2/types.proto):
# all strings are INTERNED in one symbols table and labels ride as
# uint32 ref PAIRS — Request.symbols = 4 (repeated string, symbols[0]
# MUST be the empty string), Request.timeseries = 5;
# TimeSeries.labels_refs = 1 (repeated uint32, packed varints, even
# count: (name_ref, value_ref) pairs), .samples = 2 (the SAME Sample
# message as v1: value = 1 fixed64 double, timestamp = 2 varint int64
# ms), .histograms = 3 (prompb.Histogram NATIVE histograms — r8: BOTH
# flavors decoded in full — INTEGER (sparse spans/zigzag deltas) and
# FLOAT (absolute double counts), expanded to the dense shape the OTLP
# exponential path uses; custom-bucket schema −53 (NHCB) decodes via
# custom_values = 16),
# .exemplars = 4 (later r8: Exemplar{labels_refs=1, value=2 fixed64,
# timestamp=3} — the metric→trace links, resolved against the same
# symbols table), .metadata = 5 (typed refs), .created_timestamp = 6
# (later r8: series birth time in ms — the input to CT-aware
# increase()). Out-of-range symbol refs and odd labels_refs
# counts refuse loudly: a wrong ref silently binds a sample to the
# wrong series, the worst failure class for a metrics store.


def encode_write_request_v2(series: list[dict]) -> bytes:
    """series: [{"labels": {name: value}, "samples": [(value, ts_ms)]}]
    → uncompressed io.prometheus.write.v2.Request bytes (fixture/test
    encoder). Strings are interned first-seen-first-numbered after the
    mandatory leading empty symbol."""
    symbols: list[str] = [""]
    interned: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in interned:
            interned[s] = len(symbols)
            symbols.append(s)
        return interned[s]

    ts_msgs = []
    for s in series:
        refs: list[int] = []
        for name, value in s["labels"].items():
            refs.append(ref(name))
            refs.append(ref(value))
        ts_msg = bytearray()
        if refs:
            ts_msg += _enc_len(1, b"".join(_enc_uvarint(r) for r in refs))
        for value, ts_ms in s["samples"]:
            sm = (
                _HDR_SAMPLE_VAL
                + _PACK_D(value)
                + _HDR_SAMPLE_TS
                + _enc_uvarint(ts_ms)
            )
            ts_msg += _enc_len(2, sm)
        for h in s.get("histograms", []):
            ts_msg += _enc_len(3, _enc_native_histogram(h))
        for ex in s.get("exemplars", []):
            e_refs: list[int] = []
            for name, value in ex.get("labels", {}).items():
                e_refs.append(ref(name))
                e_refs.append(ref(value))
            em = bytearray()
            if e_refs:
                em += _enc_len(1, b"".join(_enc_uvarint(r) for r in e_refs))
            em += _HDR_F2_FIXED64 + _PACK_D(float(ex["value"]))
            em += _enc_field(3, 0) + _enc_uvarint(int(ex["timestamp"]))
            ts_msg += _enc_len(4, bytes(em))
        if s.get("created_timestamp") is not None:
            ts_msg += _enc_field(6, 0) + _enc_uvarint(
                int(s["created_timestamp"]))
        md = s.get("metadata")
        if md:
            m = _enc_field(1, 0) + _enc_uvarint(int(md.get("type", 0)))
            if md.get("help") is not None:
                m += _enc_field(3, 0) + _enc_uvarint(ref(md["help"]))
            if md.get("unit") is not None:
                m += _enc_field(4, 0) + _enc_uvarint(ref(md["unit"]))
            ts_msg += _enc_len(5, m)
        ts_msgs.append(bytes(ts_msg))
    out = bytearray()
    for sym in symbols:
        out += _enc_len(4, sym.encode())
    for m in ts_msgs:
        out += _enc_len(5, m)
    return bytes(out)


def _zigzag_enc(n: int) -> int:
    """sint32/sint64 zigzag (also defined in otlp.py — that module
    imports from this one, so the four lines live here too)."""
    return (n << 1) ^ (n >> 63)


def _zigzag_dec(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


#: dense-expansion guard: hostile span offsets could demand billions of
#: buckets; Prometheus's own default bucket limit is 160.
_MAX_DENSE_BUCKETS = 4096


def _enc_native_histogram(h: dict) -> bytes:
    """prompb.Histogram fixture encoder, both flavors. INTEGER (the
    default): count_int=1, zero_count_int=6, negative_deltas=9 /
    positive_deltas=12 (packed sint64 zigzag, DELTA-encoded bucket
    counts). FLOAT (``h["flavor"] == "float"``): count_float=2,
    zero_count_float=7, negative_counts=10 / positive_counts=13
    (packed doubles, ABSOLUTE counts). Shared: sum=3, schema=4 (sint32
    zigzag), zero_threshold=5, spans 8/11 (BucketSpan: offset=1 sint32
    zigzag, length=2 uint32), timestamp=15 (varint ms),
    custom_values=16 (packed doubles — schema −53 NHCB boundaries).
    Spans express SPARSE buckets; this encoder takes them verbatim."""
    flavor = h.get("flavor", "int")
    out = bytearray()
    if flavor == "float":
        out += _enc_field(2, 1) + struct.pack("<d", float(h["count"]))
    else:
        out += _enc_field(1, 0) + _enc_uvarint(int(h["count"]))
    if h.get("sum") is not None:
        out += _enc_field(3, 1) + struct.pack("<d", float(h["sum"]))
    out += _enc_field(4, 0) + _enc_uvarint(_zigzag_enc(int(h.get("schema", 0))))
    if h.get("zero_threshold") is not None:
        out += _enc_field(5, 1) + struct.pack("<d", float(h["zero_threshold"]))
    if flavor == "float":
        out += _enc_field(7, 1) + struct.pack(
            "<d", float(h.get("zero_count", 0.0)))
    else:
        out += _enc_field(6, 0) + _enc_uvarint(int(h.get("zero_count", 0)))

    def spans(field: int, sp: list[tuple[int, int]]) -> bytes:
        b = bytearray()
        for off, ln in sp:
            msg = _enc_field(1, 0) + _enc_uvarint(_zigzag_enc(off))
            msg += _enc_field(2, 0) + _enc_uvarint(ln)
            b += _enc_len(field, bytes(msg))
        return bytes(b)

    def deltas(field: int, ds: list[int]) -> bytes:
        if not ds:
            return b""
        return _enc_len(
            field, b"".join(_enc_uvarint(_zigzag_enc(d)) for d in ds)
        )

    def doubles(field: int, vs: list[float]) -> bytes:
        if not vs:
            return b""
        return _enc_len(field, b"".join(struct.pack("<d", v) for v in vs))

    out += spans(8, h.get("negative_spans", []))
    out += spans(11, h.get("positive_spans", []))
    if flavor == "float":
        out += doubles(10, h.get("negative_counts", []))
        out += doubles(13, h.get("positive_counts", []))
    else:
        out += deltas(9, h.get("negative_deltas", []))
        out += deltas(12, h.get("positive_deltas", []))
    out += doubles(16, h.get("custom_values", []))
    if h.get("timestamp") is not None:
        out += _enc_field(15, 0) + _enc_uvarint(int(h["timestamp"]))
    return bytes(out)


def _parse_bucket_span(data: bytes) -> tuple[int, int]:
    pos, off, ln = 0, 0, 0
    n = len(data)
    while pos < n:
        if (b := data[pos]) < 0x80:
            hdr = b
            pos += 1
        else:
            hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if num == 1 and wire == 0:
            if pos < n and (b := data[pos]) < 0x80:
                raw = b
                pos += 1
            else:
                raw, pos = _uvarint(data, pos)
            off = _zigzag_dec(raw)
        elif num == 2 and wire == 0:
            if pos < n and (b := data[pos]) < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = _uvarint(data, pos)
        else:
            pos = _skip(data, pos, wire)
    return off, ln


def _dense_buckets(spans: list[tuple[int, int]], deltas: list,
                   side: str, *, absolute: bool = False) -> tuple[int, list]:
    """(spans, bucket counts) → (first index, DENSE count array)
    — absent buckets filled with 0, so downstream le-mapping is the
    same contiguous shape the OTLP exponential path uses. First span's
    offset is absolute; later offsets are gaps after the previous span
    (negative gaps would overlap — refused). ``absolute=False`` is the
    INTEGER flavor (counts are zigzag DELTAS, cumulated here);
    ``absolute=True`` is the FLOAT flavor (counts are absolute doubles
    — prompb stores them un-delta'd because float deltas would
    accumulate rounding error)."""
    if not spans:
        if deltas:
            raise ValueError(
                f"remote-write: {side} counts without spans")
        return 0, []
    if sum(ln for _, ln in spans) != len(deltas):
        raise ValueError(
            f"remote-write: {side} span lengths sum to "
            f"{sum(ln for _, ln in spans)} but {len(deltas)} counts given")
    single = len(spans) == 1 and deltas
    if single:
        indices = None  # single contiguous non-empty span — the
        # dominant wire shape: no gap to validate, and the cumulated
        # counts ARE the dense array (r13; skips the index list)
    else:
        indices = []
        idx = 0
        for si, (off, ln) in enumerate(spans):
            if si and off < 0:
                raise ValueError(
                    f"remote-write: {side} span {si} has negative gap {off}")
            idx = off if si == 0 else idx + off
            indices.extend(range(idx, idx + ln))
            idx += ln
    counts: list = []
    if absolute:
        for c in deltas:
            if not math.isfinite(c) or c < 0:
                raise ValueError(
                    f"remote-write: {side} float bucket count {c!r} is "
                    "negative or non-finite")
            counts.append(float(c))
    else:
        running = 0
        for d in deltas:
            running += d
            if running < 0:
                raise ValueError(
                    f"remote-write: {side} bucket count went negative")
            counts.append(running)
    if single:
        lo, ln0 = spans[0]
        if ln0 > _MAX_DENSE_BUCKETS:
            raise ValueError(
                f"remote-write: {side} span range {ln0} exceeds "
                f"{_MAX_DENSE_BUCKETS} buckets")
        return lo, counts
    if not indices:
        # zero-length spans only (an empty span submessage is legal on
        # the wire): an empty side, the decoders' (0, []) shape
        return 0, []
    lo, hi = indices[0], indices[-1]
    if hi - lo + 1 > _MAX_DENSE_BUCKETS:
        raise ValueError(
            f"remote-write: {side} span range {hi - lo + 1} exceeds "
            f"{_MAX_DENSE_BUCKETS} buckets")
    zero = 0.0 if absolute else 0
    dense = [zero] * (hi - lo + 1)
    for i, c in zip(indices, counts):
        dense[i - lo] = c
    return lo, dense


#: prompb custom-bucket marker (prometheus/model/histogram/generic.go
#: CustomBucketsSchema) — the schema value that says "bucket boundaries
#: are DATA, read them from custom_values" (a classic le-histogram
#: carried over the native wire, Prometheus's NHCB).
CUSTOM_BUCKETS_SCHEMA = -53


def _parse_native_histogram(data: bytes) -> dict:
    """prompb.Histogram → dict — BOTH flavors (r8 extension):

    - INTEGER (count_int=1, zero_count_int=6, *_deltas=9/12 packed
      zigzag sint64, DELTA-encoded);
    - FLOAT (count_float=2, zero_count_float=7, *_counts=10/13 packed
      doubles, ABSOLUTE — the flavor remote-write carries for
      recording-rule / federation output where counts are fractional).

    A histogram mixing the two flavors refuses (the proto's oneof +
    deltas-vs-counts split makes a mix a sender bug that would silently
    double-count). Custom-bucket histograms (schema −53, NHCB) decode:
    custom_values=16 carries the classic le upper bounds as data and
    bucket index i maps to le = custom_values[i] (index
    len(custom_values) = +Inf). Exponential bucket algebra:
    base = 2^(2^-schema), Prometheus bucket index i covers
    (base^(i-1), base^i] — the OTLP exponential convention shifted by
    one. NaN counts (TSDB stale markers, not legal push payloads)
    refuse."""
    pos, n = 0, len(data)
    h: dict = {"count": None, "sum": None, "schema": 0,
               "zero_threshold": 0.0, "zero_count": None, "timestamp": 0,
               "custom_values": []}
    seen_int = seen_float = False
    pos_spans: list[tuple[int, int]] = []
    neg_spans: list[tuple[int, int]] = []
    pos_deltas: list[int] = []
    neg_deltas: list[int] = []
    pos_fcounts: list[float] = []
    neg_fcounts: list[float] = []

    def _f64(at: int, what: str) -> tuple[float, int]:
        if at + 8 > n:
            raise ValueError(f"remote-write: histogram {what} truncated")
        return struct.unpack("<d", data[at : at + 8])[0], at + 8

    while pos < n:
        if (b := data[pos]) < 0x80:
            hdr = b
            pos += 1
        else:
            hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if num == 1 and wire == 0:
            if pos < n and (b := data[pos]) < 0x80:
                h["count"] = b
                pos += 1
            else:
                h["count"], pos = _uvarint(data, pos)
            seen_int = True
        elif num == 2 and wire == 1:
            h["count"], pos = _f64(pos, "count_float")
            seen_float = True
        elif num == 3 and wire == 1:
            h["sum"], pos = _f64(pos, "sum")
        elif num == 4 and wire == 0:
            if pos < n and (b := data[pos]) < 0x80:
                raw = b
                pos += 1
            else:
                raw, pos = _uvarint(data, pos)
            h["schema"] = _zigzag_dec(raw)
        elif num == 5 and wire == 1:
            h["zero_threshold"], pos = _f64(pos, "zero_threshold")
        elif num == 6 and wire == 0:
            if pos < n and (b := data[pos]) < 0x80:
                h["zero_count"] = b
                pos += 1
            else:
                h["zero_count"], pos = _uvarint(data, pos)
            seen_int = True
        elif num == 7 and wire == 1:
            h["zero_count"], pos = _f64(pos, "zero_count_float")
            seen_float = True
        elif num in (8, 11) and wire == 2:
            if pos < n and (b := data[pos]) < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = _uvarint(data, pos)
            if pos + ln > n:
                raise ValueError("remote-write: bucket span overruns buffer")
            span = _parse_bucket_span(data[pos : pos + ln])
            (neg_spans if num == 8 else pos_spans).append(span)
            pos += ln
        elif num in (9, 12) and wire == 2:  # packed sint64 deltas
            if pos < n and (b := data[pos]) < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = _uvarint(data, pos)
            if pos + ln > n:
                raise ValueError("remote-write: histogram deltas overrun buffer")
            end = pos + ln
            tgt = neg_deltas if num == 9 else pos_deltas
            while pos < end:
                if (b := data[pos]) < 0x80:
                    tgt.append((b >> 1) ^ -(b & 1))
                    pos += 1
                else:
                    raw, pos = _uvarint(data, pos)
                    tgt.append(_zigzag_dec(raw))
            if pos != end:
                raise ValueError("remote-write: packed delta run overruns")
            seen_int = True
        elif num in (9, 12) and wire == 0:  # unpacked entry (proto3)
            raw, pos = _uvarint(data, pos)
            (neg_deltas if num == 9 else pos_deltas).append(_zigzag_dec(raw))
            seen_int = True
        elif num in (10, 13, 16) and wire == 2:  # packed doubles
            ln, pos = _uvarint(data, pos)
            if pos + ln > n or ln % 8:
                raise ValueError(
                    "remote-write: packed double run overruns or is not "
                    "a multiple of 8 bytes")
            tgt = (neg_fcounts if num == 10
                   else pos_fcounts if num == 13 else h["custom_values"])
            for off in range(pos, pos + ln, 8):
                tgt.append(struct.unpack("<d", data[off : off + 8])[0])
            pos += ln
            if num != 16:
                seen_float = True
        elif num in (10, 13, 16) and wire == 1:  # unpacked entry (proto3)
            v, pos = _f64(pos, "float bucket count")
            (neg_fcounts if num == 10
             else pos_fcounts if num == 13 else h["custom_values"]).append(v)
            if num != 16:
                seen_float = True
        elif num == 15 and wire == 0:
            raw, pos = _uvarint(data, pos)
            h["timestamp"] = raw - (1 << 64) if raw >= 1 << 63 else raw
        else:
            pos = _skip(data, pos, wire)
    if seen_int and seen_float:
        raise ValueError(
            "remote-write: histogram mixes INTEGER fields "
            "(count_int/zero_count_int/*_deltas) with FLOAT fields "
            "(count_float/zero_count_float/*_counts) — malformed sender")
    flavor = "float" if seen_float else "int"
    h["flavor"] = flavor
    h["count"] = (0.0 if flavor == "float" else 0) if h["count"] is None else h["count"]
    h["zero_count"] = ((0.0 if flavor == "float" else 0)
                       if h["zero_count"] is None else h["zero_count"])
    if flavor == "float":
        for what, v in (("count", h["count"]), ("zero_count", h["zero_count"])):
            if not math.isfinite(v) or v < 0:
                raise ValueError(
                    f"remote-write: histogram {what}_float {v!r} is negative "
                    "or non-finite (NaN counts are TSDB stale markers, not "
                    "push payloads)")
        h["pos_offset"], h["pos_counts"] = _dense_buckets(
            pos_spans, pos_fcounts, "positive", absolute=True)
        h["neg_offset"], h["neg_counts"] = _dense_buckets(
            neg_spans, neg_fcounts, "negative", absolute=True)
    else:
        h["pos_offset"], h["pos_counts"] = _dense_buckets(
            pos_spans, pos_deltas, "positive")
        h["neg_offset"], h["neg_counts"] = _dense_buckets(
            neg_spans, neg_deltas, "negative")
    if h["schema"] == CUSTOM_BUCKETS_SCHEMA:
        _check_custom_buckets(h)
    else:
        if h["custom_values"]:
            raise ValueError(
                f"remote-write: custom_values given but schema is "
                f"{h['schema']}, not {CUSTOM_BUCKETS_SCHEMA} (custom buckets)")
        if not -4 <= h["schema"] <= 8:
            raise ValueError(
                f"remote-write: histogram schema {h['schema']} outside "
                f"[-4, 8] and not {CUSTOM_BUCKETS_SCHEMA} (custom buckets)")
    if h["count"] < h["zero_count"] + sum(h["pos_counts"]) + sum(h["neg_counts"]):
        raise ValueError(
            "remote-write: histogram count below the sum of its buckets")
    return h


def _check_custom_buckets(h: dict) -> None:
    """Schema −53 (NHCB) validity: boundaries strictly increasing and
    finite; all observations live in POSITIVE buckets indexed into
    custom_values (index len(custom_values) is the implicit +Inf
    bucket); the zero bucket and negative buckets are unused by
    construction — nonzero values there mean a corrupt sender."""
    cv = h["custom_values"]
    for v in cv:
        if not math.isfinite(v):
            raise ValueError(
                "remote-write: custom bucket boundary is non-finite "
                "(+Inf is implicit — senders must not encode it)")
    for a, b in zip(cv, cv[1:]):
        if not a < b:
            raise ValueError(
                "remote-write: custom bucket boundaries not strictly "
                f"increasing at {a!r} >= {b!r}")
    if h["neg_counts"] or h["zero_count"]:
        raise ValueError(
            "remote-write: custom-bucket histogram carries negative/zero "
            "buckets — NHCB stores all counts in positive buckets")
    if h["zero_threshold"] not in (0, 0.0):
        raise ValueError(
            "remote-write: custom-bucket histogram zero_threshold must be 0")
    if h["pos_counts"]:
        if h["pos_offset"] < 0:
            raise ValueError(
                "remote-write: custom-bucket index below 0")
        hi = h["pos_offset"] + len(h["pos_counts"]) - 1
        if hi > len(cv):
            raise ValueError(
                f"remote-write: custom-bucket index {hi} beyond the +Inf "
                f"bucket (len(custom_values) = {len(cv)})")


_D_UNPACK_FROM = struct.Struct("<d").unpack_from


def _parse_sample(sm: bytes) -> tuple[float, int]:
    n = len(sm)
    # canonical layout fast path: value (field 1, fixed64) then
    # timestamp (field 2, varint) filling the message exactly — what
    # every conforming sender (and our encoder) emits. Falls through to
    # the generic loop on any deviation, re-parsing from scratch.
    if n >= 10 and sm[0] == 0x09 and sm[9] == 0x10:
        raw = shift = 0
        sp = 10
        while sp < n:
            b = sm[sp]
            sp += 1
            raw |= (b & 0x7F) << shift
            if not b & 0x80:
                if sp == n and shift <= 63:
                    return (
                        _D_UNPACK_FROM(sm, 1)[0],
                        raw - (1 << 64) if raw >= 1 << 63 else raw,
                    )
                break
            shift += 7
            if shift > 63:
                break
    sp, val, ts_ms = 0, 0.0, 0
    while sp < n:
        if (b := sm[sp]) < 0x80:
            sh = b
            sp += 1
        else:
            sh, sp = _uvarint(sm, sp)
        snum, swire = sh >> 3, sh & 7
        if snum == 1 and swire == 1:
            if sp + 8 > n:
                raise ValueError(f"proto: fixed64 overruns sample at {sp}")
            val = _D_UNPACK_FROM(sm, sp)[0]
            sp += 8
        elif snum == 2 and swire == 0:
            raw, sp = _uvarint(sm, sp)
            ts_ms = raw - (1 << 64) if raw >= 1 << 63 else raw
        else:
            sp = _skip(sm, sp, swire)
    return val, ts_ms


def decode_write_request_v2(data: bytes) -> list[dict]:
    """Uncompressed v2 Request bytes → the v1 decoder's dict shape
    (labels materialized from the symbols table) — so BOTH remote-write
    generations land in one downstream operator set. Unknown fields
    skip per proto3; ref violations, native-histogram series and
    framing violations raise ValueError."""
    symbols: list[str] = []
    ts_blobs: list[bytes] = []
    pos, n = 0, len(data)
    while pos < n:
        if (b := data[pos]) < 0x80:
            hdr = b
            pos += 1
        else:
            hdr, pos = _uvarint(data, pos)
        num, wire = hdr >> 3, hdr & 7
        if num == 4 and wire == 2:
            if pos < n and (b := data[pos]) < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = _uvarint(data, pos)
            if pos + ln > n:
                raise ValueError(f"proto: symbol overruns buffer at {pos}")
            symbols.append(data[pos : pos + ln].decode("utf-8"))
            pos += ln
        elif num == 5 and wire == 2:
            if pos < n and (b := data[pos]) < 0x80:
                ln = b
                pos += 1
            else:
                ln, pos = _uvarint(data, pos)
            if pos + ln > n:
                raise ValueError(f"proto: timeseries overruns buffer at {pos}")
            ts_blobs.append(data[pos : pos + ln])
            pos += ln
        else:
            pos = _skip(data, pos, wire)
    if ts_blobs and (not symbols or symbols[0] != ""):
        raise ValueError(
            "remote-write v2: symbols[0] must be the empty string (spec)"
        )
    series = []
    for ts_msg in ts_blobs:
        refs: list[int] = []
        samples: list[tuple[float, int]] = []
        histograms: list[dict] = []
        metadata_raw: tuple | None = None
        exemplars_raw: list[tuple[list[int], float, int]] = []
        created_ts: int | None = None
        p, ln = 0, len(ts_msg)
        while p < ln:
            if (b := ts_msg[p]) < 0x80:
                h = b
                p += 1
            else:
                h, p = _uvarint(ts_msg, p)
            fnum, fwire = h >> 3, h & 7
            if fnum == 1 and fwire == 2:  # packed uint32 labels_refs
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: labels_refs overruns at {p}")
                end = p + l2
                while p < end:
                    if (b := ts_msg[p]) < 0x80:
                        refs.append(b)
                        p += 1
                    else:
                        r, p = _uvarint(ts_msg, p)
                        refs.append(r)
                if p != end:
                    raise ValueError("proto: packed varint run overruns its length")
            elif fnum == 1 and fwire == 0:  # unpacked entry (proto3 rule)
                r, p = _uvarint(ts_msg, p)
                refs.append(r)
            elif fnum == 2 and fwire == 2:
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: sample overruns timeseries at {p}")
                samples.append(_parse_sample(ts_msg[p : p + l2]))
                p += l2
            elif fnum == 3 and fwire == 2:  # native histograms (r8)
                if p < ln and (b := ts_msg[p]) < 0x80:
                    l2 = b
                    p += 1
                else:
                    l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: histogram overruns timeseries at {p}")
                histograms.append(_parse_native_histogram(ts_msg[p : p + l2]))
                p += l2
            elif fnum == 5 and fwire == 2:  # Metadata (r8): typed refs
                l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: metadata overruns timeseries at {p}")
                md_blob, p = ts_msg[p : p + l2], p + l2
                mp, mtype, help_ref, unit_ref = 0, 0, None, None
                while mp < len(md_blob):
                    mh, mp = _uvarint(md_blob, mp)
                    mnum, mwire = mh >> 3, mh & 7
                    if mnum == 1 and mwire == 0:
                        mtype, mp = _uvarint(md_blob, mp)
                    elif mnum == 3 and mwire == 0:
                        help_ref, mp = _uvarint(md_blob, mp)
                    elif mnum == 4 and mwire == 0:
                        unit_ref, mp = _uvarint(md_blob, mp)
                    else:
                        mp = _skip(md_blob, mp, mwire)
                metadata_raw = (mtype, help_ref, unit_ref)
            elif fnum == 4 and fwire == 2:  # Exemplar (later r8)
                l2, p = _uvarint(ts_msg, p)
                if p + l2 > ln:
                    raise ValueError(f"proto: exemplar overruns timeseries at {p}")
                ex_blob, p = ts_msg[p : p + l2], p + l2
                ep, e_refs, e_val, e_ts = 0, [], 0.0, 0
                while ep < len(ex_blob):
                    eh, ep = _uvarint(ex_blob, ep)
                    enum, ewire = eh >> 3, eh & 7
                    if enum == 1 and ewire == 2:  # packed labels_refs
                        el, ep = _uvarint(ex_blob, ep)
                        if ep + el > len(ex_blob):
                            raise ValueError(
                                "proto: exemplar labels_refs overrun")
                        eend = ep + el
                        while ep < eend:
                            r, ep = _uvarint(ex_blob, ep)
                            e_refs.append(r)
                        if ep != eend:
                            raise ValueError(
                                "proto: packed varint run overruns its length")
                    elif enum == 1 and ewire == 0:
                        r, ep = _uvarint(ex_blob, ep)
                        e_refs.append(r)
                    elif enum == 2 and ewire == 1:
                        if ep + 8 > len(ex_blob):
                            raise ValueError("proto: exemplar value truncated")
                        e_val = struct.unpack("<d", ex_blob[ep : ep + 8])[0]
                        ep += 8
                    elif enum == 3 and ewire == 0:
                        raw, ep = _uvarint(ex_blob, ep)
                        e_ts = raw - (1 << 64) if raw >= 1 << 63 else raw
                    else:
                        ep = _skip(ex_blob, ep, ewire)
                exemplars_raw.append((e_refs, e_val, e_ts))
            elif fnum == 6 and fwire == 0:  # created_timestamp (later r8)
                raw, p = _uvarint(ts_msg, p)
                created_ts = raw - (1 << 64) if raw >= 1 << 63 else raw
            else:  # unknown fields skip per proto3
                p = _skip(ts_msg, p, fwire)
        if len(refs) % 2:
            raise ValueError(
                f"remote-write v2: labels_refs count {len(refs)} is odd "
                "(must be (name, value) pairs)"
            )
        labels: dict[str, str] = {}
        for i in range(0, len(refs), 2):
            nr, vr = refs[i], refs[i + 1]
            if nr >= len(symbols) or vr >= len(symbols):
                raise ValueError(
                    f"remote-write v2: symbol ref {max(nr, vr)} out of range "
                    f"(symbols table has {len(symbols)} entries)"
                )
            labels[symbols[nr]] = symbols[vr]
        s: dict = {"labels": labels, "samples": samples}
        if histograms:  # key present only when the series carries them
            s["histograms"] = histograms
        if metadata_raw is not None:
            mtype, help_ref, unit_ref = metadata_raw
            for r in (help_ref, unit_ref):
                if r is not None and r >= len(symbols):
                    raise ValueError(
                        f"remote-write v2: metadata symbol ref {r} out of "
                        f"range (symbols table has {len(symbols)} entries)")
            s["metadata"] = {
                "type": mtype,
                "help": symbols[help_ref] if help_ref is not None else None,
                "unit": symbols[unit_ref] if unit_ref is not None else None,
            }
        if exemplars_raw:
            exemplars = []
            for e_refs, e_val, e_ts in exemplars_raw:
                if len(e_refs) % 2:
                    raise ValueError(
                        f"remote-write v2: exemplar labels_refs count "
                        f"{len(e_refs)} is odd (must be (name, value) pairs)")
                e_labels: dict[str, str] = {}
                for i in range(0, len(e_refs), 2):
                    nr, vr = e_refs[i], e_refs[i + 1]
                    if nr >= len(symbols) or vr >= len(symbols):
                        raise ValueError(
                            f"remote-write v2: exemplar symbol ref "
                            f"{max(nr, vr)} out of range (symbols table has "
                            f"{len(symbols)} entries)")
                    e_labels[symbols[nr]] = symbols[vr]
                exemplars.append(
                    {"labels": e_labels, "value": e_val, "timestamp": e_ts})
            s["exemplars"] = exemplars
        if created_ts is not None:
            s["created_timestamp"] = created_ts
        series.append(s)
    return series


REMOTE_WRITE_SCHEMA = T.StructType(
    [
        T.StructField("metric_name", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.DoubleType()),
        T.StructField("timestamp_ms", T.LongType()),
    ]
)


def remote_write_samples(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id"
) -> DataFrame:
    """(id, snappy-compressed WriteRequest) → one row per sample:
    (id_col, metric_name, labels, value, timestamp_ms) — the pull
    path's sample shape, so the two ingestion halves meet in the same
    downstream operators. ``__name__`` is lifted out of the label set
    as metric_name (the Prometheus convention)."""
    schema = T.StructType([payloads.schema[id_col]] + list(REMOTE_WRITE_SCHEMA.fields))

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for s in decode_write_request(snappy_decompress(bytes(blob))):
                    labels = dict(s["labels"])
                    name = labels.pop("__name__", "")
                    for value, ts_ms in s["samples"]:
                        rows.append(
                            {
                                id_col: pid,
                                "metric_name": name,
                                "labels": labels,
                                "value": value,
                                "timestamp_ms": ts_ms,
                            }
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)


def _native_hist_schema(count_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("metric_name", T.StringType()),
            T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
            T.StructField("timestamp_ms", T.LongType()),
            T.StructField("count", count_type),
            T.StructField("sum", T.DoubleType()),
            T.StructField("schema", T.IntegerType()),
            T.StructField("zero_threshold", T.DoubleType()),
            T.StructField("zero_count", count_type),
            T.StructField("pos_offset", T.IntegerType()),
            T.StructField("pos_counts", T.ArrayType(count_type)),
            T.StructField("neg_offset", T.IntegerType()),
            T.StructField("neg_counts", T.ArrayType(count_type)),
            T.StructField("custom_values", T.ArrayType(T.DoubleType())),
        ]
    )


#: integer flavor (counts are exact longs — the scrape path)
NATIVE_HIST_SCHEMA = _native_hist_schema(T.LongType())
#: float flavor (fractional counts — recording rules / federation);
#: integer histograms UPCAST losslessly (Prometheus's own ToFloat())
NATIVE_HIST_FLOAT_SCHEMA = _native_hist_schema(T.DoubleType())


def remote_write_v2_native_histograms(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id",
    wire_version: int = 2, flavor: str = "int",
) -> DataFrame:
    """(id, snappy-compressed Request) → one row per NATIVE histogram:
    sparse spans/deltas already expanded to the dense (offset, counts)
    shape the OTLP exponential path uses, so ONE le-mapping serves both
    native-histogram wire formats. ``wire_version=1`` reads the SAME
    prompb.Histogram message off remote-write 1.0's
    TimeSeries.histograms = 4 (where native histograms first shipped).

    ``flavor="int"`` (default) is the strict integer surface: a FLOAT
    histogram on the wire refuses loudly (fractional counts landing in
    a long column would silently truncate). ``flavor="float"`` is the
    universal surface: float histograms decode natively and integer
    ones UPCAST to double (Prometheus's own ToFloat() conversion —
    exact for counts < 2^53). mapInPandas, zero shuffle."""
    if flavor not in ("int", "float"):
        raise ValueError(f"flavor must be 'int' or 'float', got {flavor!r}")
    base = NATIVE_HIST_SCHEMA if flavor == "int" else NATIVE_HIST_FLOAT_SCHEMA
    schema = T.StructType([payloads.schema[id_col]] + list(base.fields))
    decoder = decode_write_request_v2 if wire_version == 2 else decode_write_request
    num = float if flavor == "float" else int

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for s in decoder(snappy_decompress(bytes(blob))):
                    labels = dict(s["labels"])
                    name = labels.pop("__name__", "")
                    for h in s.get("histograms", []):
                        if flavor == "int" and h["flavor"] == "float":
                            raise ValueError(
                                "remote-write: FLOAT native histogram on "
                                "the integer surface — decode with "
                                "flavor='float' (fractional counts would "
                                "truncate in a long column)")
                        rows.append(
                            {
                                id_col: pid,
                                "metric_name": name,
                                "labels": labels,
                                "timestamp_ms": h["timestamp"],
                                "count": num(h["count"]),
                                "sum": h["sum"],
                                "schema": h["schema"],
                                "zero_threshold": h["zero_threshold"],
                                "zero_count": num(h["zero_count"]),
                                "pos_offset": h["pos_offset"],
                                "pos_counts": [num(c) for c in h["pos_counts"]],
                                "neg_offset": h["neg_offset"],
                                "neg_counts": [num(c) for c in h["neg_counts"]],
                                "custom_values": h["custom_values"],
                            }
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)


#: v2 Metadata.MetricType enum (types.proto)
_V2_METRIC_TYPES = {0: "unspecified", 1: "counter", 2: "gauge",
                    3: "histogram", 4: "gaugehistogram", 5: "summary",
                    6: "info", 7: "stateset"}


def remote_write_v2_samples(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id",
    with_created: bool = False,
) -> DataFrame:
    """(id, snappy-compressed v2 Request) → the SAME sample shape as
    ``remote_write_samples`` — three wire formats (remote-write 1.0,
    2.0, OTLP), one downstream operator set — plus v2's REQUIRED typed
    metadata (metric_type / help / unit, interned-ref-resolved; null
    when the sender omits it). ``with_created=True`` appends the
    series' created_timestamp_ms (v2 TimeSeries field 6 — when the
    counter was born; null when the sender omits it), the input to
    CT-aware increase()."""
    schema = T.StructType(
        [payloads.schema[id_col]] + list(REMOTE_WRITE_SCHEMA.fields)
        + [T.StructField("metric_type", T.StringType()),
           T.StructField("help", T.StringType()),
           T.StructField("unit", T.StringType())]
        + ([T.StructField("created_timestamp_ms", T.LongType())]
           if with_created else [])
    )

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for s in decode_write_request_v2(snappy_decompress(bytes(blob))):
                    labels = dict(s["labels"])
                    name = labels.pop("__name__", "")
                    md = s.get("metadata") or {}
                    mtype = md.get("type")
                    for value, ts_ms in s["samples"]:
                        row = {
                            id_col: pid,
                            "metric_name": name,
                            "labels": labels,
                            "value": value,
                            "timestamp_ms": ts_ms,
                            "metric_type": _V2_METRIC_TYPES.get(
                                mtype, f"type_{mtype}"
                            ) if mtype is not None else None,
                            "help": md.get("help"),
                            "unit": md.get("unit"),
                        }
                        if with_created:
                            row["created_timestamp_ms"] = s.get(
                                "created_timestamp")
                        rows.append(row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)


EXEMPLAR_SCHEMA = T.StructType(
    [
        T.StructField("metric_name", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("exemplar_labels",
                      T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.DoubleType()),
        T.StructField("timestamp_ms", T.LongType()),
    ]
)


def remote_write_v1_exemplars(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id"
) -> DataFrame:
    """(id, snappy-compressed v1 WriteRequest) → one row per EXEMPLAR
    (prompb.TimeSeries.exemplars = 3 — r9; this was the last wire
    field any push format carried that the engine silently skipped).
    Same output shape as the v2/OTLP exemplar surfaces, so all three
    formats land in one trace-keyed join. v1 exemplar labels are full
    strings (no symbol table). mapInPandas, zero shuffle."""
    schema = T.StructType(
        [payloads.schema[id_col]] + list(EXEMPLAR_SCHEMA.fields))

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for s in decode_write_request(snappy_decompress(bytes(blob))):
                    labels = dict(s["labels"])
                    name = labels.pop("__name__", "")
                    for ex in s.get("exemplars", []):
                        rows.append(
                            {
                                id_col: pid,
                                "metric_name": name,
                                "labels": labels,
                                "exemplar_labels": ex["labels"],
                                "value": ex["value"],
                                "timestamp_ms": ex["timestamp"],
                            }
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)


def remote_write_v2_exemplars(
    payloads: DataFrame, *, payload_col: str = "body", id_col: str = "push_id"
) -> DataFrame:
    """(id, snappy-compressed v2 Request) → one row per EXEMPLAR
    (v2 TimeSeries field 4): the series' identity labels plus the
    exemplar's own labels (trace_id/span_id — the metric→trace links
    an observability pipeline joins on), value, and timestamp.
    Exemplar label refs resolve against the same interned symbols
    table as series labels; out-of-range refs refuse. mapInPandas,
    zero shuffle."""
    schema = T.StructType(
        [payloads.schema[id_col]] + list(EXEMPLAR_SCHEMA.fields))

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, blob in zip(pdf[id_col], pdf[payload_col]):
                for s in decode_write_request_v2(snappy_decompress(bytes(blob))):
                    labels = dict(s["labels"])
                    name = labels.pop("__name__", "")
                    for ex in s.get("exemplars", []):
                        rows.append(
                            {
                                id_col: pid,
                                "metric_name": name,
                                "labels": labels,
                                "exemplar_labels": ex["labels"],
                                "value": ex["value"],
                                "timestamp_ms": ex["timestamp"],
                            }
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            ) if rows else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return payloads.select(id_col, payload_col).mapInPandas(walk, schema=schema)
