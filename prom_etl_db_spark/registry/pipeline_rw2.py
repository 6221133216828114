"""SURVEY.md §2.A extension — the remote-write 2.0 / native-histogram
ingestion arc (split from registry/pipeline_a.py in r9 per the r8
verdict's 2,000-line registry-module threshold; query definition ORDER
is preserved exactly — this module imports immediately after
pipeline_a in prom_etl_db_spark/queries.py, and these seven queries
were pipeline_a's final definitions. Key order and oracle strings are
hash-proven identical across the split, the same mechanics as the
r5/r6 splits).

Queries: remote_write_v2_decode, remote_write_v2_hist_decode,
remote_write_v2_hist_quantile, native_hist_cross_format_parity,
remote_write_v2_metadata, native_hist_rate_quantile,
native_hist_downscale_increase."""

from __future__ import annotations

from datetime import datetime, timedelta  # noqa: F401

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from prom_etl_db_spark.operators import native_hist as NH
from prom_etl_db_spark.operators import promql  # noqa: F401
from prom_etl_db_spark.registry.core import (  # noqa: F401
    FLAGSHIP_DAY,
    NOW,
    _event_samples,
    _events,
    _events_wide,
    _t,
    register,
)

@register(
    "remote_write_v2_decode",
    oracle="""
SELECT event_id AS push_id,
       event_type AS metric_name,
       CAST(user_id AS VARCHAR) AS user_label,
       'api-' || CAST(user_id % 4 AS VARCHAR) AS job_label,
       value,
       CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) * 1000 AS BIGINT) AS timestamp_ms
FROM events
""",
)
def remote_write_v2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension (r8, VERDICT r7 next-round #4): REMOTE-WRITE 2.0 —
    the reference ecosystem's CURRENT push wire format
    (io.prometheus.write.v2.Request): one interned-symbols table per
    request, labels as packed uint32 ref PAIRS, the same
    fixed64-double/varint-ms Sample message. Each event becomes one
    snappy-compressed v2 Request (a shared 'job' label exercises
    interning across label pairs), decoded by the from-scratch walk
    back to the v1 sample shape — THREE wire formats (remote-write
    1.0/2.0, OTLP) now land in ONE downstream operator set (the same
    samples-table fill as A1-A14; reference:
    internal/executor/executor.go:230-363). Doubles bit-exact via
    fixed64; ref-out-of-range / odd-pair / missing-empty-symbol /
    native-histogram refusals gated in tests/test_remote_write.py.
    Plan: two Arrow-batched stages, zero shuffle, per-payload parallel."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    t = F.col("ts")
    epoch_s = (
        F.datediff(t.cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
        * 86400
        + F.hour(t).cast("long") * 3600
        + F.minute(t).cast("long") * 60
        + F.second(t).cast("long")
    )
    ev = _events_wide(spark, sf_dir).select(
        "event_id", "event_type", "user_id", "value",
        (epoch_s * 1000).cast("long").alias("ts_ms"),
    )

    def build(name: pd.Series, user: pd.Series, val: pd.Series, ts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                RW.snappy_compress(
                    RW.encode_write_request_v2(
                        [
                            {
                                "labels": {
                                    "__name__": n,
                                    "user": str(u),
                                    "job": f"api-{int(u) % 4}",
                                },
                                "samples": [(float(v), int(t))],
                            }
                        ]
                    )
                )
                for n, u, v, t in zip(name, user, val, ts)
            ]
        )

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_type", "user_id", "value", "ts_ms").alias("body"),
    )
    out = RW.remote_write_v2_samples(payloads)
    return out.select(
        "push_id",
        "metric_name",
        F.col("labels")["user"].alias("user_label"),
        F.col("labels")["job"].alias("job_label"),
        "value",
        "timestamp_ms",
    )


@register(
    "remote_write_v2_hist_decode",
    oracle="""
SELECT event_id AS push_id,
  event_type AS metric_name,
  CAST(user_id % 5 - 2 AS INT) AS schema,
  CAST(user_id % 2 AS BIGINT) AS zero_count,
  CAST(1e-9 AS DOUBLE) AS zero_threshold,
  CAST(user_id % 3 - 1 AS INT) AS pos_offset,
  CAST(user_id % 3 + 1 AS VARCHAR) || ',' || CAST(user_id % 4 AS VARCHAR)
    || ',0,0,' || CAST(user_id % 2 + 1 AS VARCHAR) AS pos_counts_csv,
  CAST(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS neg_offset,
  CASE WHEN user_id % 3 = 0 THEN CAST(user_id % 5 + 1 AS VARCHAR)
       ELSE '' END AS neg_counts_csv,
  CAST(user_id % 2 AS BIGINT) + CAST(user_id % 3 + 1 AS BIGINT)
    + CAST(user_id % 4 AS BIGINT) + CAST(user_id % 2 + 1 AS BIGINT)
    + CASE WHEN user_id % 3 = 0 THEN CAST(user_id % 5 + 1 AS BIGINT)
      ELSE 0 END AS count,
  CAST(user_id AS DOUBLE) * 0.75 AS sum_value,
  CAST(1706572800000 AS BIGINT) AS timestamp_ms
FROM events
""",
)
def remote_write_v2_hist_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension (r8): Prometheus NATIVE HISTOGRAMS over remote-write
    2.0 — prompb.Histogram's integer flavor: zigzag sint32 schema and
    span offsets, packed zigzag sint64 DELTA-encoded bucket counts,
    SPARSE BucketSpans (two positive spans with a 2-bucket gap here)
    expanded to the dense (offset, counts) shape the OTLP exponential
    path shares. Negative-direction buckets ride the user_id%3==0
    slice. All closed forms of user_id; arrays as csv. Refusals (float
    flavor, schema 127, span/delta arity, dense bomb, negative runs)
    gated in tests/test_remote_write.py. Plan: encode (pandas_udf) +
    decode (mapInPandas), zero shuffle."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build(name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        for n, u in zip(name, user):
            u = int(u)
            c1, c2, c3 = u % 3 + 1, u % 4, u % 2 + 1
            h = {
                "count": (u % 2) + c1 + c2 + c3
                         + ((u % 5 + 1) if u % 3 == 0 else 0),
                "sum": u * 0.75,
                "schema": u % 5 - 2,
                "zero_threshold": 1e-9,
                "zero_count": u % 2,
                "positive_spans": [(u % 3 - 1, 2), (2, 1)],
                "positive_deltas": [c1, c2 - c1, c3 - c2],
                "timestamp": 1706572800000,
            }
            if u % 3 == 0:
                h["negative_spans"] = [(1, 1)]
                h["negative_deltas"] = [u % 5 + 1]
            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n, "user": str(u)},
                  "samples": [], "histograms": [h]}])))
        return pd.Series(out)

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_type", "user_id").alias("body"),
    )
    out = RW.remote_write_v2_native_histograms(payloads)
    return out.select(
        "push_id",
        "metric_name",
        "schema",
        "zero_count",
        "zero_threshold",
        "pos_offset",
        F.array_join(
            F.transform(F.col("pos_counts"), lambda c: c.cast("string")), ","
        ).alias("pos_counts_csv"),
        "neg_offset",
        F.array_join(
            F.transform(F.col("neg_counts"), lambda c: c.cast("string")), ","
        ).alias("neg_counts_csv"),
        "count",
        F.col("sum").alias("sum_value"),
        "timestamp_ms",
    )


@register(
    "remote_write_v2_hist_quantile",
    oracle="""
WITH h AS (
  SELECT event_id, event_type, user_id,
    CAST(user_id % 5 - 2 AS INT) AS s,
    CAST(user_id % 3 - 1 AS INT) AS o,
    CAST(user_id % 2 AS BIGINT) AS z,
    [CAST(user_id % 3 + 1 AS BIGINT), CAST(user_id % 4 AS BIGINT),
     CAST(0 AS BIGINT), CAST(0 AS BIGINT),
     CAST(user_id % 2 + 1 AS BIGINT)] AS c
  FROM events
), b AS (
  SELECT event_id, event_type, user_id,
    unnest([power(2.0, (o - 1) * power(2.0, -s)),
            power(2.0, (o + 0) * power(2.0, -s)),
            power(2.0, (o + 1) * power(2.0, -s)),
            power(2.0, (o + 2) * power(2.0, -s)),
            power(2.0, (o + 3) * power(2.0, -s)),
            power(2.0, (o + 4) * power(2.0, -s)),
            'inf'::DOUBLE]) AS le,
    unnest([z, z + c[1], z + c[1] + c[2], z + c[1] + c[2] + c[3],
            z + c[1] + c[2] + c[3] + c[4],
            z + c[1] + c[2] + c[3] + c[4] + c[5],
            z + c[1] + c[2] + c[3] + c[4] + c[5]]) AS cum
  FROM h
), w AS (
  SELECT *,
    lag(cum) OVER (PARTITION BY event_id ORDER BY le) AS prev_cum,
    lag(le)  OVER (PARTITION BY event_id ORDER BY le) AS prev_le,
    max(cum) OVER (PARTITION BY event_id) * 0.9 AS target
  FROM b
), crossing AS (
  SELECT * FROM w
  WHERE cum >= target AND (prev_cum IS NULL OR prev_cum < target)
)
SELECT event_id AS push_id, event_type AS metric_name,
  CAST(user_id AS VARCHAR) AS user,
  round(CASE WHEN le = 'inf'::DOUBLE THEN prev_le
        ELSE coalesce(prev_le, 0.0)
             + (le - coalesce(prev_le, 0.0))
               * (target - coalesce(prev_cum, 0.0))
               / (cum - coalesce(prev_cum, 0.0)) END, 6) AS p90
FROM crossing
""",
)
def remote_write_v2_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B composition (r8): native-histogram push → classic le-buckets
    via Prometheus's OWN index convention (bucket i covers
    (base^(i-1), base^i], base = 2^(2^-schema) — the OTLP exponential
    algebra shifted by one; the zero bucket maps to the first dense
    bucket's lower bound base^(offset-1)) → the EXISTING
    ``histogram_quantile`` at q=0.9. The dense expansion's zero-count
    gap buckets ride through as flat cumulative runs, exercising the
    operator's duplicate-cum crossing rule. Positive-direction + zero
    observations only by construction (latency-shaped). Oracle replays
    the power algebra + interpolation. Plan: decode (mapInPandas) →
    pure-Column le/cum arrays → posexplode → one window per histogram."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build(name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        for n, u in zip(name, user):
            u = int(u)
            c1, c2, c3 = u % 3 + 1, u % 4, u % 2 + 1
            h = {
                "count": (u % 2) + c1 + c2 + c3,
                "schema": u % 5 - 2,
                "zero_count": u % 2,
                "positive_spans": [(u % 3 - 1, 2), (2, 1)],
                "positive_deltas": [c1, c2 - c1, c3 - c2],
                "timestamp": 1706572800000,
            }
            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n, "user": str(u)},
                  "samples": [], "histograms": [h]}])))
        return pd.Series(out)

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_type", "user_id").alias("body"),
    )
    pts = RW.remote_write_v2_native_histograms(payloads)
    inv = F.pow(F.lit(2.0), -F.col("schema").cast("double"))
    # le_-1 = base^(offset-1) (zero bucket), le_k = base^(offset+k)
    les = F.concat(
        F.transform(
            F.sequence(F.lit(-1), F.lit(4)),
            lambda i: F.pow(
                F.lit(2.0),
                (F.col("pos_offset").cast("double") + i.cast("double")) * inv,
            ).cast("string"),
        ),
        F.array(F.lit("+Inf")),
    )
    cums = F.concat(
        F.aggregate(
            F.col("pos_counts"),
            F.array(F.col("zero_count")),
            lambda acc, x: F.concat(
                acc, F.array(F.try_element_at(acc, F.lit(-1)) + x)
            ),
        ),
        F.array(F.col("count")),
    )
    buckets = pts.select(
        "metric_name",
        F.col("push_id").cast("string").alias("eid"),
        F.col("labels")["user"].alias("user"),
        F.posexplode(F.arrays_zip(les.alias("le"), cums.alias("cum"))).alias(
            "i", "z"
        ),
    ).select(
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("user"), F.lit("eid"), F.lit("le")),
            F.array(
                F.concat(F.col("metric_name"), F.lit("_bucket")),
                F.col("user"),
                F.col("eid"),
                F.col("z.le"),
            ),
        ).alias("labels"),
        F.col("z.cum").cast("double").alias("value"),
    )
    hq = promql.histogram_quantile(buckets, 0.9)
    return hq.select(
        F.col("labels")["eid"].cast("long").alias("push_id"),
        F.regexp_replace(
            F.col("labels")["__name__"], "_bucket$", ""
        ).alias("metric_name"),
        F.col("labels")["user"].alias("user"),
        F.round("value", 6).alias("p90"),
    )


@register(
    "native_hist_cross_format_parity",
    oracle="""
WITH h AS (
  SELECT event_id, event_type, user_id,
    CAST(user_id % 4 - 1 AS INT) AS s,
    CAST(user_id % 5 - 2 AS INT) AS o,
    CAST(user_id % 2 AS BIGINT) AS z,
    [CAST(user_id % 3 + 1 AS BIGINT), CAST(user_id % 5 AS BIGINT),
     CAST(user_id % 7 AS BIGINT), CAST(user_id % 2 AS BIGINT)] AS c
  FROM events
), b AS (
  SELECT event_id, event_type, user_id,
    unnest([power(2.0, o * power(2.0, -s)),
            power(2.0, (o + 1) * power(2.0, -s)),
            power(2.0, (o + 2) * power(2.0, -s)),
            power(2.0, (o + 3) * power(2.0, -s)),
            power(2.0, (o + 4) * power(2.0, -s)),
            'inf'::DOUBLE]) AS le,
    unnest([z, z + c[1], z + c[1] + c[2], z + c[1] + c[2] + c[3],
            z + c[1] + c[2] + c[3] + c[4],
            z + c[1] + c[2] + c[3] + c[4]]) AS cum
  FROM h
), w AS (
  SELECT *,
    lag(cum) OVER (PARTITION BY event_id ORDER BY le) AS prev_cum,
    lag(le)  OVER (PARTITION BY event_id ORDER BY le) AS prev_le,
    max(cum) OVER (PARTITION BY event_id) * 0.9 AS target
  FROM b
), crossing AS (
  SELECT * FROM w
  WHERE cum >= target AND (prev_cum IS NULL OR prev_cum < target)
)
SELECT event_id AS push_id, event_type AS metric_name,
  round(CASE WHEN le = 'inf'::DOUBLE THEN prev_le
        ELSE coalesce(prev_le, 0.0)
             + (le - coalesce(prev_le, 0.0))
               * (target - coalesce(prev_cum, 0.0))
               / (cum - coalesce(prev_cum, 0.0)) END, 6) AS p90_otlp,
  round(CASE WHEN le = 'inf'::DOUBLE THEN prev_le
        ELSE coalesce(prev_le, 0.0)
             + (le - coalesce(prev_le, 0.0))
               * (target - coalesce(prev_cum, 0.0))
               / (cum - coalesce(prev_cum, 0.0)) END, 6) AS p90_native
FROM crossing
""",
)
def native_hist_cross_format_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B CROSS-FORMAT IDENTITY (r8): the SAME logical exponential
    histogram pushed through BOTH native-histogram wire formats — OTLP
    ExponentialHistogram (bucket index i covers (base^i, base^(i+1)])
    and Prometheus prompb.Histogram over remote-write 2.0 (index j
    covers (base^(j-1), base^j], so the SAME buckets carry offset+1) —
    must yield the IDENTICAL p90 after each format's own le-mapping
    feeds the one histogram_quantile operator. The two decode paths
    share NO code above the varint layer (different messages, zigzag
    placements, packed encodings, span/delta vs offset/run), so
    equality here is a differential test of both stacks at once; the
    oracle computes the single closed-form quantile and asserts it
    twice. Plan: two encode UDFs + two mapInPandas decodes + one
    equi-join on push_id (both sides pre-partitioned by the same key)."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import otlp as OT
    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build_otlp(name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        for n, u in zip(name, user):
            u = int(u)
            pc = [u % 3 + 1, u % 5, u % 7, u % 2]
            point = {
                "attrs": {}, "time_unix_nano": 1,
                "count": (u % 2) + sum(pc),
                "scale": u % 4 - 1, "zero_count": u % 2,
                "pos_offset": u % 5 - 2, "pos_counts": pc,
            }
            out.append(OT.encode_export_metrics(
                [{"resource": {}, "scopes": [{"name": "app", "metrics": [
                    {"name": n, "type": "exponential_histogram",
                     "temporality": 2, "points": [point]}]}]}]))
        return pd.Series(out)

    def build_native(name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        for n, u in zip(name, user):
            u = int(u)
            pc = [u % 3 + 1, u % 5, u % 7, u % 2]
            deltas = [pc[0]] + [pc[k] - pc[k - 1] for k in range(1, 4)]
            h = {
                "count": (u % 2) + sum(pc),
                "schema": u % 4 - 1, "zero_count": u % 2,
                # same buckets, Prometheus indexing: offset shifts by +1
                "positive_spans": [((u % 5 - 2) + 1, 4)],
                "positive_deltas": deltas,
                "timestamp": 1,
            }
            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n}, "samples": [],
                  "histograms": [h]}])))
        return pd.Series(out)

    _b_ot = F.pandas_udf(build_otlp, returnType=BinaryType())
    _b_nh = F.pandas_udf(build_native, returnType=BinaryType())

    def quantile_from(pts, offset_shift: int):
        # OTLP (offset o): zero-bucket bound base^o, bucket k's upper
        # bound base^(o+k+1) → exponents o+i for i in 0..4. Native
        # (offset o_n = o+1): zero bound base^(o_n-1), bucket k upper
        # base^(o_n+k) → exponents o_n-1+i. Both are (offset+i+shift)
        # with shift = 0 (OTLP) / -1 (native).
        inv = F.pow(F.lit(2.0), -F.col("scale").cast("double"))
        les = F.concat(
            F.transform(
                F.sequence(F.lit(0), F.lit(4)),
                lambda i: F.pow(
                    F.lit(2.0),
                    (F.col("pos_offset").cast("double")
                     + i.cast("double") + F.lit(float(offset_shift))) * inv,
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
            "metric_name",
            F.col("push_id").cast("string").alias("eid"),
            F.posexplode(
                F.arrays_zip(les.alias("le"), cums.alias("cum"))
            ).alias("i", "z"),
        ).select(
            F.map_from_arrays(
                F.array(F.lit("__name__"), F.lit("eid"), F.lit("le")),
                F.array("metric_name", "eid", F.col("z.le")),
            ).alias("labels"),
            F.col("z.cum").cast("double").alias("value"),
        )
        hq = promql.histogram_quantile(buckets, 0.9)
        return hq.select(
            F.col("labels")["eid"].cast("long").alias("push_id"),
            F.col("labels")["__name__"].alias("metric_name"),
            F.round("value", 6).alias("p90"),
        )

    ot_pts = OT.otlp_samples(
        ev.select(F.col("event_id").alias("push_id"),
                  _b_ot("event_type", "user_id").alias("body"))
    ).withColumnRenamed("scale", "scale")
    nh_pts = RW.remote_write_v2_native_histograms(
        ev.select(F.col("event_id").alias("push_id"),
                  _b_nh("event_type", "user_id").alias("body"))
    ).withColumnRenamed("schema", "scale")
    q_ot = quantile_from(ot_pts, 0)
    q_nh = quantile_from(nh_pts, -1)
    return (
        q_ot.withColumnRenamed("p90", "p90_otlp")
        .join(q_nh.select("push_id", F.col("p90").alias("p90_native")),
              "push_id")
        .select("push_id", "metric_name", "p90_otlp", "p90_native")
    )


@register(
    "remote_write_v2_metadata",
    oracle="""
SELECT event_id AS push_id,
  event_type AS metric_name,
  CASE user_id % 4 WHEN 0 THEN 'counter' WHEN 1 THEN 'gauge'
       WHEN 2 THEN 'histogram' ELSE 'summary' END AS metric_type,
  'Tracks ' || event_type || ' activity.' AS help,
  CASE WHEN user_id % 2 = 0 THEN 'bytes' ELSE 'seconds' END AS unit,
  value
FROM events
""",
)
def remote_write_v2_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-extension (r8): remote-write 2.0 METADATA — the spec makes
    per-series typed metadata a first-class field (Metadata.type enum +
    help/unit as interned symbol refs; v1 carried it out-of-band).
    Every event's series carries closed-form metadata; decode resolves
    the refs through the symbols table (out-of-range refs refuse —
    gated in tests/test_remote_write.py) and surfaces
    metric_type/help/unit columns next to the samples. The help string
    embeds the metric name so the ref-resolution is pinned per row, not
    just per table. Plan: encode + decode mapInPandas, zero shuffle."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id", "value")
    types = {0: 1, 1: 2, 2: 3, 3: 5}  # counter, gauge, histogram, summary

    def build(name: pd.Series, user: pd.Series, val: pd.Series) -> pd.Series:
        out = []
        for n, u, v in zip(name, user, val):
            u = int(u)
            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n, "user": str(u)},
                  "samples": [(float(v), 1706572800000)],
                  "metadata": {
                      "type": types[u % 4],
                      "help": f"Tracks {n} activity.",
                      "unit": "bytes" if u % 2 == 0 else "seconds",
                  }}])))
        return pd.Series(out)

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_type", "user_id", "value").alias("body"),
    )
    out = RW.remote_write_v2_samples(payloads)
    return out.select(
        "push_id", "metric_name", "metric_type", "help", "unit", "value"
    )


@register(
    "native_hist_rate_quantile",
    oracle="""
WITH h AS (
  SELECT event_id, event_type, user_id,
    CAST(user_id % 4 - 1 AS INT) AS s,
    CAST(user_id % 5 - 2 AS INT) AS o,
    CASE WHEN user_id % 5 = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(user_id % 3 AS BIGINT) END AS zc,
    CASE WHEN user_id % 5 = 0
         THEN [CAST(0 AS BIGINT), CAST(2 AS BIGINT),
               CAST(1 AS BIGINT), CAST(1 AS BIGINT)]
         ELSE [CAST(user_id % 2 AS BIGINT), CAST(user_id % 3 AS BIGINT),
               CAST(1 AS BIGINT), CAST(user_id % 4 AS BIGINT)] END AS c,
    (user_id % 5 = 0) AS was_reset
  FROM events
), b AS (
  SELECT event_id, event_type, user_id, was_reset,
    unnest([power(2.0, (o - 1) * power(2.0, -s)),
            power(2.0, (o + 0) * power(2.0, -s)),
            power(2.0, (o + 1) * power(2.0, -s)),
            power(2.0, (o + 2) * power(2.0, -s)),
            power(2.0, (o + 3) * power(2.0, -s)),
            'inf'::DOUBLE]) AS le,
    unnest([zc, zc + c[1], zc + c[1] + c[2], zc + c[1] + c[2] + c[3],
            zc + c[1] + c[2] + c[3] + c[4],
            zc + c[1] + c[2] + c[3] + c[4]]) AS cum
  FROM h
), w AS (
  SELECT *,
    lag(cum) OVER (PARTITION BY event_id ORDER BY le) AS prev_cum,
    lag(le)  OVER (PARTITION BY event_id ORDER BY le) AS prev_le,
    max(cum) OVER (PARTITION BY event_id) * 0.9 AS target
  FROM b
), crossing AS (
  SELECT * FROM w
  WHERE cum >= target AND (prev_cum IS NULL OR prev_cum < target)
)
SELECT event_id AS push_id, event_type AS metric_name, was_reset,
  CAST(60 AS BIGINT) AS dt_seconds,
  round(CASE WHEN le = 'inf'::DOUBLE THEN prev_le
        ELSE coalesce(prev_le, 0.0)
             + (le - coalesce(prev_le, 0.0))
               * (target - coalesce(prev_cum, 0.0))
               / (cum - coalesce(prev_cum, 0.0)) END, 6) AS p90
FROM crossing
""",
)
def native_hist_rate_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-extension FLAGSHIP composition (r8): THE native-histogram
    PromQL idiom — ``histogram_quantile(0.9, increase(h[range]))`` —
    end-to-end over the wire: each event's series pushes TWO native
    histograms 60 s apart over remote-write 2.0 (monotone bucket growth
    on the u%5!=0 slice; a COUNTER RESET on u%5==0 where bucket 0
    drops to zero), the decode path densifies the spans, then
    ``native_hist_increase`` (one hash agg per series: offset-aligned
    bucket subtraction, reset-takes-last) feeds the existing
    ``histogram_quantile`` via the (base^(i-1), base^i] le-mapping.
    The oracle replays the closed-form increase (the delta arrays on
    the growth slice, the last histogram verbatim on the reset slice)
    plus the quantile algebra. Plan: encode + decode (mapInPandas,
    zero shuffle) → ONE series hash-agg → pure-Column le/cum arrays →
    the quantile's one window per histogram."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build(eid: pd.Series, name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        t0 = 1706572800000
        for e, n, u in zip(eid, name, user):
            u = int(u)
            c0 = [u % 3 + 1, u % 5, u % 7, u % 2]
            z0 = u % 2
            if u % 5 == 0:  # reset: bucket 0 drops below its prior value
                c1, z1 = [0, 2, 1, 1], 0
            else:
                d = [u % 2, u % 3, 1, u % 4]
                c1 = [a + b for a, b in zip(c0, d)]
                z1 = z0 + u % 3
            o = u % 5 - 2

            def hist(counts, z, ts):
                deltas = [counts[0]] + [
                    counts[k] - counts[k - 1] for k in range(1, 4)]
                return {"count": z + sum(counts), "schema": u % 4 - 1,
                        "zero_count": z, "positive_spans": [(o, 4)],
                        "positive_deltas": deltas, "timestamp": ts}

            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n, "eid": str(e), "user": str(u)},
                  "samples": [],
                  "histograms": [hist(c0, z0, t0),
                                 hist(c1, z1, t0 + 60000)]}])))
        return pd.Series(out)

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_id", "event_type", "user_id").alias("body"),
    )
    pts = RW.remote_write_v2_native_histograms(payloads).select(
        F.map_concat(
            F.col("labels"),
            F.create_map(F.lit("__name__"), F.col("metric_name")),
        ).alias("labels"),
        F.timestamp_millis(F.col("timestamp_ms")).alias("ts"),
        F.col("schema"),
        "zero_count",
        "pos_offset",
        "pos_counts",
    )
    inc = NH.native_hist_increase(pts)
    # native convention: zero bucket at base^(offset-1), bucket k's
    # upper bound base^(offset+k); '+Inf' carries the total
    inv = F.pow(F.lit(2.0), -F.col("schema").cast("double"))
    nb = F.size(F.col("pos_counts"))
    les = F.concat(
        F.transform(
            F.sequence(F.lit(-1), nb - 1),
            lambda i: F.pow(
                F.lit(2.0),
                (F.col("pos_offset").cast("double") + i.cast("double")) * inv,
            ).cast("string"),
        ),
        F.array(F.lit("+Inf")),
    )
    total = F.col("zero_count") + F.aggregate(
        F.col("pos_counts"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    cums = F.concat(
        F.aggregate(
            F.col("pos_counts"),
            F.array(F.col("zero_count")),
            lambda acc, x: F.concat(
                acc, F.array(F.try_element_at(acc, F.lit(-1)) + x)
            ),
        ),
        F.array(total),
    )
    buckets = inc.select(
        F.col("labels")["__name__"].alias("metric_name"),
        F.col("labels")["eid"].alias("eid"),
        "reset",
        "dt_seconds",
        F.posexplode(F.arrays_zip(les.alias("le"), cums.alias("cum"))).alias(
            "i", "z"
        ),
    ).select(
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("eid"), F.lit("reset"),
                    F.lit("dt"), F.lit("le")),
            F.array(
                F.col("metric_name"),
                F.col("eid"),
                F.col("reset").cast("string"),
                F.col("dt_seconds").cast("string"),
                F.col("z.le"),
            ),
        ).alias("labels"),
        F.col("z.cum").cast("double").alias("value"),
    )
    hq = promql.histogram_quantile(buckets, 0.9)
    return hq.select(
        F.col("labels")["eid"].cast("long").alias("push_id"),
        F.col("labels")["__name__"].alias("metric_name"),
        (F.col("labels")["reset"] == "true").alias("was_reset"),
        F.col("labels")["dt"].cast("long").alias("dt_seconds"),
        F.round("value", 6).alias("p90"),
    )


@register(
    "native_hist_downscale_increase",
    oracle="""
WITH h AS (
  SELECT event_id, event_type, user_id,
    CAST(user_id % 3 - 1 AS INT) AS sc,
    CAST(user_id % 5 - 2 AS INT) AS oc,
    [CAST(user_id % 2 AS BIGINT), CAST(user_id % 3 + 1 AS BIGINT),
     CAST(user_id % 4 AS BIGINT)] AS d
  FROM events
), b AS (
  SELECT event_id, event_type, user_id,
    unnest([power(2.0, (oc - 1) * power(2.0, -sc)),
            power(2.0, (oc + 0) * power(2.0, -sc)),
            power(2.0, (oc + 1) * power(2.0, -sc)),
            power(2.0, (oc + 2) * power(2.0, -sc)),
            'inf'::DOUBLE]) AS le,
    unnest([CAST(1 AS BIGINT), 1 + d[1], 1 + d[1] + d[2],
            1 + d[1] + d[2] + d[3], 1 + d[1] + d[2] + d[3]]) AS cum
  FROM h
), w AS (
  SELECT *,
    lag(cum) OVER (PARTITION BY event_id ORDER BY le) AS prev_cum,
    lag(le)  OVER (PARTITION BY event_id ORDER BY le) AS prev_le,
    max(cum) OVER (PARTITION BY event_id) * 0.9 AS target
  FROM b
), crossing AS (
  SELECT * FROM w
  WHERE cum >= target AND (prev_cum IS NULL OR prev_cum < target)
)
SELECT event_id AS push_id, event_type AS metric_name,
  CAST(user_id % 3 - 1 AS INT) AS schema,
  round(CASE WHEN le = 'inf'::DOUBLE THEN prev_le
        ELSE coalesce(prev_le, 0.0)
             + (le - coalesce(prev_le, 0.0))
               * (target - coalesce(prev_cum, 0.0))
               / (cum - coalesce(prev_cum, 0.0)) END, 6) AS p90
FROM crossing
""",
)
def native_hist_downscale_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-extension (r8): MID-SERIES SCHEMA CHANGE — a scrape config
    drops native-histogram resolution one scale step between two
    pushes (fine schema u%3 at even offset 2·(u%5−2), then coarse
    schema u%3−1 whose buckets are the fine pairs merged by
    ⌈i/2⌉ plus a closed-form delta). ``native_hist_increase``
    downscales the finer endpoint before subtracting (Prometheus's
    rule), so the increase is EXACTLY the delta at the coarse schema —
    which the oracle replays with the coarse power algebra. The fine
    sample's merge [c0, c1+c2, c3] (even offset: lone even bucket,
    then odd/even pairs) is computed inside the operator, not the
    fixture, so a merge bug breaks the hash. Plan: same as
    native_hist_rate_quantile — decode, one series hash-agg, quantile."""
    from pyspark.sql.types import BinaryType

    from prom_etl_db_spark.functions import remote_write as RW

    ev = _events_wide(spark, sf_dir).select("event_id", "event_type", "user_id")

    def build(eid: pd.Series, name: pd.Series, user: pd.Series) -> pd.Series:
        out = []
        t0 = 1706572800000
        for e, n, u in zip(eid, name, user):
            u = int(u)
            o = 2 * (u % 5 - 2)
            c0 = [u % 3 + 1, u % 5, u % 7, u % 2]
            z0 = u % 2
            merged = [c0[0], c0[1] + c0[2], c0[3]]
            d = [u % 2, u % 3 + 1, u % 4]
            c1 = [a + b for a, b in zip(merged, d)]
            z1 = z0 + 1

            def hist(schema, off, counts, z, ts):
                deltas = [counts[0]] + [
                    counts[k] - counts[k - 1] for k in range(1, len(counts))]
                return {"count": z + sum(counts), "schema": schema,
                        "zero_count": z, "positive_spans": [(off, len(counts))],
                        "positive_deltas": deltas, "timestamp": ts}

            out.append(RW.snappy_compress(RW.encode_write_request_v2(
                [{"labels": {"__name__": n, "eid": str(e)},
                  "samples": [],
                  "histograms": [hist(u % 3, o, c0, z0, t0),
                                 hist(u % 3 - 1, o // 2, c1, z1,
                                      t0 + 60000)]}])))
        return pd.Series(out)

    _build = F.pandas_udf(build, returnType=BinaryType())
    payloads = ev.select(
        F.col("event_id").alias("push_id"),
        _build("event_id", "event_type", "user_id").alias("body"),
    )
    pts = RW.remote_write_v2_native_histograms(payloads).select(
        F.map_concat(
            F.col("labels"),
            F.create_map(F.lit("__name__"), F.col("metric_name")),
        ).alias("labels"),
        F.timestamp_millis(F.col("timestamp_ms")).alias("ts"),
        F.col("schema"),
        "zero_count",
        "pos_offset",
        "pos_counts",
    )
    inc = NH.native_hist_increase(pts)
    inv = F.pow(F.lit(2.0), -F.col("schema").cast("double"))
    nb = F.size(F.col("pos_counts"))
    les = F.concat(
        F.transform(
            F.sequence(F.lit(-1), nb - 1),
            lambda i: F.pow(
                F.lit(2.0),
                (F.col("pos_offset").cast("double") + i.cast("double")) * inv,
            ).cast("string"),
        ),
        F.array(F.lit("+Inf")),
    )
    total = F.col("zero_count") + F.aggregate(
        F.col("pos_counts"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    cums = F.concat(
        F.aggregate(
            F.col("pos_counts"),
            F.array(F.col("zero_count")),
            lambda acc, x: F.concat(
                acc, F.array(F.try_element_at(acc, F.lit(-1)) + x)
            ),
        ),
        F.array(total),
    )
    buckets = inc.select(
        F.col("labels")["__name__"].alias("metric_name"),
        F.col("labels")["eid"].alias("eid"),
        F.col("schema").alias("out_schema"),
        F.posexplode(F.arrays_zip(les.alias("le"), cums.alias("cum"))).alias(
            "i", "z"
        ),
    ).select(
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("eid"), F.lit("sch"), F.lit("le")),
            F.array(
                F.col("metric_name"),
                F.col("eid"),
                F.col("out_schema").cast("string"),
                F.col("z.le"),
            ),
        ).alias("labels"),
        F.col("z.cum").cast("double").alias("value"),
    )
    hq = promql.histogram_quantile(buckets, 0.9)
    return hq.select(
        F.col("labels")["eid"].cast("long").alias("push_id"),
        F.col("labels")["__name__"].alias("metric_name"),
        F.col("labels")["sch"].cast("int").alias("schema"),
        F.round("value", 6).alias("p90"),
    )
