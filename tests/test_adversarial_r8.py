"""Round-8 adversarial pass over the r7 wire/codec modules' COMPOSITION
seams (VERDICT r7 next-round #5). Each module is fuzz-gated alone; these
tests pin the seams where they compose — and the two genuine findings:

1. OTLP classic-histogram ARITY only fired when explicit_bounds was
   non-empty: bucket_counts=[1,2,3] with NO bounds slipped through
   decode, and the downstream le-zip would silently mis-pair buckets.
   Fixed: arity holds whenever any buckets are present.
2. histogram_quantile / histogram_fraction divided by zero for an
   EMPTY histogram (total 0) — under ANSI mode ONE empty histogram in a
   fleet's payloads aborted the whole rollup query. Fixed with
   try_divide + Prometheus's NaN-for-empty semantics; fraction's
   zero-width first bucket (le == 0) likewise.
"""

from __future__ import annotations

import math
import struct

import pytest

from prom_etl_db_spark.functions import mime as M
from prom_etl_db_spark.functions import otlp as O
from prom_etl_db_spark.functions import warc as W
from prom_etl_db_spark.functions.compression import zstd_decompress


# --- warc ∘ zstd seams --------------------------------------------------------


def _warc_rec(payload: bytes) -> bytes:
    return W.build_warc_record(
        [("WARC-Type", "response"), ("WARC-Record-ID", "<urn:uuid:1>"),
         ("WARC-Target-URI", "http://x/")], payload)


def test_warc_zstd_skippable_frame_between_records():
    """Production .warc.zst carries skippable frames (the dictionary
    convention) BETWEEN record frames — the decompress layer must be
    transparent to them and the record walk must see one contiguous
    stream."""
    from pyarrow import Codec

    codec = Codec("zstd")
    r1, r2 = _warc_rec(b"FIRST"), _warc_rec(b"SECOND-PAYLOAD")
    skip = struct.pack("<I", 0x184D2A50) + struct.pack("<I", 7) + b"dictish"
    blob = bytes(codec.compress(r1)) + skip + bytes(codec.compress(r2))
    recs = W.parse_warc_bytes(zstd_decompress(blob))
    assert [r["content_length"] for r in recs] == [5, 14]


def test_warc_zstd_truncated_final_frame_refuses():
    """A truncated final frame must refuse loudly — never yield a
    silently shorter record stream."""
    from pyarrow import Codec

    f1 = bytes(Codec("zstd").compress(_warc_rec(b"FIRST")))
    f2 = bytes(Codec("zstd").compress(_warc_rec(b"SECOND")))
    with pytest.raises(ValueError):
        zstd_decompress(f1 + f2[: len(f2) // 2])


def test_warc_zstd_content_size_lie_refuses():
    """A frame whose frame-content-size field lies about the payload
    refuses at the zstd layer (before WARC framing can mis-parse)."""
    rec = _warc_rec(b"A" * 64)
    # magic, fhd (single-segment, 4-byte content size), content size
    # declared one short, then one raw last block holding the record
    frame = struct.pack("<I", 0xFD2FB528) + bytes([0xA0])
    frame += struct.pack("<I", len(rec) - 1)
    frame += ((len(rec) << 3) | 1).to_bytes(3, "little") + rec
    assert zstd_decompress(frame[:5] + struct.pack("<I", len(rec)) + frame[9:]) == rec
    with pytest.raises(ValueError, match="zstd"):
        zstd_decompress(frame)


def test_warc_lying_content_length_refuses_both_directions():
    rec = _warc_rec(b"HELLOWORLD")
    short = rec.replace(b"Content-Length: 10", b"Content-Length: 7")
    with pytest.raises(ValueError, match="CRLFCRLF"):
        W.parse_warc_bytes(short)
    long = rec.replace(b"Content-Length: 10", b"Content-Length: 99")
    with pytest.raises(ValueError, match="overruns"):
        W.parse_warc_bytes(long)


# --- otlp histogram → quantile seams -----------------------------------------


def _hist_req(pts):
    return [{"resource": {}, "scopes": [{"name": "app", "metrics": [
        {"name": "h", "unit": "", "type": "histogram", "temporality": 2,
         "points": pts}]}]}]


def test_otlp_multibucket_empty_bounds_refused():
    """FINDING 1: counts=[1,2,3] with NO bounds is arity-illegal
    (3 != 0+1) but used to decode; the le-zip downstream would then
    silently mis-pair buckets."""
    with pytest.raises(ValueError, match="one more entry"):
        O.decode_export_metrics(O.encode_export_metrics(_hist_req(
            [{"attrs": {}, "time_unix_nano": 1, "count": 6,
              "bucket_counts": [1, 2, 3], "explicit_bounds": []}])))


def test_otlp_single_inf_only_bucket_legal():
    """A lone +Inf bucket (counts=[n], bounds=[]) is legal per spec."""
    (r,) = O.decode_export_metrics(O.encode_export_metrics(_hist_req(
        [{"attrs": {}, "time_unix_nano": 1, "count": 5,
          "bucket_counts": [5], "explicit_bounds": []}])))
    assert r["bucket_counts"] == [5] and r["explicit_bounds"] == []


def test_quantile_empty_histogram_is_nan_not_crash(spark):
    """FINDING 2: an all-zero histogram made histogram_quantile divide
    0/0 — ANSI mode aborted the WHOLE query. Prometheus: NaN."""
    from prom_etl_db_spark.operators import promql

    rows = (
        [({"__name__": "h", "eid": "zero", "le": le}, 0.0)
         for le in ("0.5", "2.5", "+Inf")]
        + [({"__name__": "h", "eid": "ok", "le": le}, c)
           for le, c in (("0.5", 1.0), ("2.5", 3.0), ("+Inf", 3.0))]
    )
    df = spark.createDataFrame(rows, "labels map<string,string>, value double")
    got = {r["labels"]["eid"]: r["value"]
           for r in promql.histogram_quantile(df, 0.9).collect()}
    assert math.isnan(got["zero"])
    assert got["ok"] == pytest.approx(2.2)  # healthy neighbor unharmed


def test_quantile_inf_only_histogram_returns_null(spark):
    """Quantile landing in +Inf with NO finite bucket below it has no
    highest finite bound — null (Prometheus returns +Inf here for
    classic histograms with only +Inf; this engine's null is the
    documented na-propagation convention, pinned so a change is loud)."""
    from prom_etl_db_spark.operators import promql

    rows = [({"__name__": "h", "eid": "infonly", "le": "+Inf"}, 5.0)]
    df = spark.createDataFrame(rows, "labels map<string,string>, value double")
    (r,) = promql.histogram_quantile(df, 0.9).collect()
    assert r["value"] is None


def test_fraction_empty_histogram_is_nan_not_crash(spark):
    from prom_etl_db_spark.operators import promql

    rows = [({"__name__": "h", "eid": "zero", "le": le}, 0.0)
            for le in ("0.5", "2.5", "+Inf")]
    df = spark.createDataFrame(rows, "labels map<string,string>, value double")
    (r,) = promql.histogram_fraction(df, 0.0, 2.5).collect()
    assert math.isnan(r["value"])


def test_fraction_zero_width_first_bucket_not_crash(spark):
    """A first bucket at le == 0 is zero-width (lower coalesces to 0);
    a probe at 0 used to divide by zero under ANSI."""
    from prom_etl_db_spark.operators import promql

    rows = [({"__name__": "h", "le": "0"}, 2.0),
            ({"__name__": "h", "le": "5"}, 4.0),
            ({"__name__": "h", "le": "+Inf"}, 4.0)]
    df = spark.createDataFrame(rows, "labels map<string,string>, value double")
    (r,) = promql.histogram_fraction(df, -1.0, 0.0).collect()
    # probe hi=0 lands in the degenerate bucket -> its full count; lo=-1
    # is below everything -> 0; fraction = 2/4
    assert r["value"] == pytest.approx(0.5)


def test_otlp_exp_hist_zero_total_quantile_nan(spark, tmp_path):
    """The exp-histogram composition seam: a push whose buckets are all
    zero flows through decode → le-mapping → quantile as NaN, without
    aborting neighbors."""
    from pyspark.sql import functions as F

    from prom_etl_db_spark.operators import promql

    enc_zero = O.encode_export_metrics([{
        "resource": {}, "scopes": [{"name": "app", "metrics": [{
            "name": "m", "type": "exponential_histogram", "temporality": 2,
            "points": [{"attrs": {}, "time_unix_nano": 1, "count": 0,
                        "scale": 0, "zero_count": 0, "pos_offset": 0,
                        "pos_counts": [0, 0]}]}]}]}])
    enc_ok = O.encode_export_metrics([{
        "resource": {}, "scopes": [{"name": "app", "metrics": [{
            "name": "m", "type": "exponential_histogram", "temporality": 2,
            "points": [{"attrs": {}, "time_unix_nano": 1, "count": 4,
                        "scale": 0, "zero_count": 0, "pos_offset": 0,
                        "pos_counts": [2, 2]}]}]}]}])
    df = spark.createDataFrame(
        [(1, enc_zero), (2, enc_ok)], "push_id long, body binary")
    pts = O.otlp_samples(df)
    inv = F.pow(F.lit(2.0), -F.col("scale").cast("double"))
    les = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.pow(
                F.lit(2.0),
                (F.col("pos_offset").cast("double") + i.cast("double")) * inv,
            ).cast("string"),
        ),
        F.array(F.lit("+Inf")),
    )
    cums = F.concat(
        F.aggregate(
            F.col("pos_counts"), F.array(F.col("zero_count")),
            lambda acc, x: F.concat(
                acc, F.array(F.try_element_at(acc, F.lit(-1)) + x)),
        ),
        F.array(F.col("count")),
    )
    buckets = pts.select(
        F.col("push_id").cast("string").alias("eid"),
        F.explode(F.arrays_zip(les.alias("le"), cums.alias("cum"))).alias("z"),
    ).select(
        F.map_from_arrays(
            F.array(F.lit("eid"), F.lit("le")),
            F.array("eid", F.col("z.le")),
        ).alias("labels"),
        F.col("z.cum").cast("double").alias("value"),
    )
    got = {r["labels"]["eid"]: r["value"]
           for r in promql.histogram_quantile(buckets, 0.9).collect()}
    assert math.isnan(got["1"])
    assert got["2"] is not None and not math.isnan(got["2"])


# --- mime container seams -----------------------------------------------------


def test_mp4_ftyp_box_larger_than_payload_refuses():
    payload = struct.pack(">I", 1000) + b"ftypisom" + b"\x00" * 20
    assert M.matches_mp4(payload) is False


def test_mp4_largesize_and_zero_size_refuse():
    assert M.matches_mp4(struct.pack(">I", 1) + b"ftyp") is False
    assert M.matches_mp4(struct.pack(">I", 0) + b"ftypisom" + b"mp42") is False


def test_webm_vint_claiming_8_bytes_at_eof_refuses():
    ebml = bytes([0x1A, 0x45, 0xDF, 0xA3, 0x01])  # width-8 vint, then EOF
    assert M.matches_webm(ebml) is False


def test_webm_invalid_zero_vint_refuses():
    assert M.matches_webm(bytes([0x1A, 0x45, 0xDF, 0xA3, 0x00, 0x42])) is False
