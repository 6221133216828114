"""The PromQL subset as DataFrame combinators (SURVEY.md §2.B, rows B1-B8).

The reference delegates these to Prometheus as query strings; its flagship
production query (`/root/reference/scripts/migrate.sql:105`):

    sum(sum_over_time(max without(exported_namespace, exported_pod, ...)
        (kpanda_gpu_pod_utilization != bool 999999)[24h:1m]))
    by (cluster_name, node, UUID) * 60 / 3600

We evaluate the same semantics natively over a stored-samples DataFrame.
No PromQL parser — queries are built by composing these functions
(SURVEY.md §2.B: "DataFrame combinators, not a PromQL parser").

Working shape: ``(labels: map<string,string>, timestamp, value, ...)`` —
one row per sample. Series identity = ``array_sort(map_entries(labels))``
(MapType itself is not groupable — SURVEY.md §7.3 risk #1). The sorted
entries array IS the group key: it hashes and compares as an UnsafeRow,
so every regrouping stays a **HashAggregate** (a string key + a
``first(labels)`` map buffer would force SortAggregate + an extra Sort
per aggregation — measurably slower and heavier at scale), and the label
map is rebuilt losslessly with ``map_from_entries`` on the way out.

Scale notes (100 TB):
- every regrouping is ONE shuffle on the entries key; AQE handles skewed
  label-cardinality (hot series) via skew-join/partition splitting.
- ``resample`` + ``*_over_time`` are groupBy aggregations, not
  self-joins — partial aggregation (map-side combine) applies.
- selectors filter on metric_name/timestamp FIRST so predicate pushdown
  reaches the parquet scan before any shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from prom_etl_db_spark.operators.native_hist import (
    _nh_align_add,
    _nh_at,
    _nh_downscale,
)
from prom_etl_db_spark.schema import epoch_seconds

def _series(labels: Column) -> Column:
    """Canonical, groupable series identity: label map → sorted entries
    array. Hash-aggregable and equi-joinable (unlike MapType); inverted
    exactly by ``map_from_entries``."""
    return F.array_sort(F.map_entries(labels))


def _sql_str(s: str) -> str:
    """A string literal for spliced SQL fragments. Backslashes must be
    doubled FIRST: Spark's parser treats ``\\`` as an escape inside
    single quotes, so a raw trailing backslash would swallow the closing
    quote (label keys are arbitrary map keys, not identifiers)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _ensure_series(df: DataFrame) -> DataFrame:
    """Attach the ``__series`` entries key unless already present."""
    if "__series" in df.columns:
        return df
    # one F.expr parse, not a Column chain — this runs on every combinator
    return df.withColumn("__series", F.expr("array_sort(map_entries(labels))"))

__all__ = [
    "instant_selector",
    "group_by_labels",
    "sum_by",
    "avg_by",
    "max_without",
    "stddev_by",
    "stdvar_by",
    "quantile_by",
    "count_values",
    "bool_cmp",
    "vector_binop",
    "vector_setop",
    "resample",
    "agg_over_time",
    "sum_over_time",
    "avg_over_time",
    "max_over_time",
    "min_over_time",
    "count_over_time",
    "last_over_time",
    "stddev_over_time",
    "quantile_over_time",
    "present_over_time",
    "sliding_over_time",
    "topk",
    "bottomk",
    "limitk",
    "limit_ratio",
    "stdvar_over_time",
    "mad_over_time",
    "raw_mad_over_time",
    "increase",
    "rate",
    "raw_agg_over_time",
    "changes",
    "resets",
    "changes_and_resets",
    "idelta",
    "irate",
    "idelta_and_irate",
    "double_exponential_smoothing",
    "delta",
    "deriv",
    "predict_linear",
    "label_replace",
    "label_join",
    "offset",
    "clamp",
    "clamp_min",
    "clamp_max",
    "absent",
    "histogram_quantile",
    "gapfill_locf",
]


# -- B1: instant vector selector ------------------------------------------


def instant_selector(
    samples: DataFrame,
    metric_name: str | None,
    at: datetime,
    staleness: str = "5 minutes",
    label_filters: dict[str, str] | None = None,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Latest sample per series at ``at`` within the staleness window.

    PromQL instant-selector semantics (B1): a series contributes its most
    recent point in ``(at - staleness, at]`` — the lookback window is
    LEFT-OPEN like Prometheus's (a sample exactly ``staleness`` old is
    already stale). Equality label matchers are applied pre-shuffle so
    they push into the scan; a missing label IS the empty string, so
    ``{k: ""}`` selects series without the label (PromQL). ``tiebreakers``
    order equal-timestamp samples deterministically (descending).
    """
    df = samples
    if metric_name is not None:
        df = df.where(F.col("metric_name") == metric_name)
    for k, v in (label_filters or {}).items():
        df = df.where(
            F.coalesce(F.element_at(F.col("labels"), k), F.lit("")) == v
        )
    df = df.where(
        (F.col("timestamp") <= F.lit(at))
        & (F.col("timestamp") > F.lit(at) - F.expr(f"INTERVAL {staleness}"))
    ).withColumn("__series", _series(F.col("labels")))
    w = Window.partitionBy("__series").orderBy(
        F.desc("timestamp"), *[F.desc(t) for t in tiebreakers]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__series")
    )


# -- B2/B3/B4: by / without regrouping ------------------------------------


def _project_labels_by(labels: Column, keys: Sequence[str]) -> Column:
    """New label map keeping only ``keys`` (PromQL ``by`` clause)."""
    entries = F.filter(F.map_entries(labels), lambda e: e["key"].isin(*keys))
    return F.map_from_entries(entries)


def _project_labels_without(labels: Column, drop: Sequence[str]) -> Column:
    """New label map dropping ``drop`` (PromQL ``without`` clause)."""
    return F.map_filter(labels, lambda k, _: ~k.isin(*drop))


def group_by_labels(
    df: DataFrame,
    agg: Column,
    *,
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Aggregate ``value`` across series regrouped onto a label subset.

    Exactly one of ``by`` / ``without``; ``by=[]`` collapses everything
    (PromQL ``sum(...)`` with no grouping). ``extra_keys`` keeps additional
    non-label columns (e.g. a time bucket) in the group.

    One shuffle on (entries-key, extra_keys); grouping on the sorted
    entries array keeps it a HashAggregate (no map-typed ``first()``
    buffer, no sort), and the output rebuilds the regrouped ``labels``
    map so combinators compose.

    The projections are spliced SQL handed to ONE ``F.expr`` parse each:
    this combinator sits inside every PromQL aggregation, and building
    the same expressions as a Column-method chain costs dozens of
    driver↔JVM round trips per query — measured at ~0.16 s per call of
    pure py4j latency on the flagship's plan build (keys are escaped
    string literals; the parse happens once, JVM-side).
    """
    if (by is None) == (without is None):
        raise ValueError("exactly one of by= / without= is required")
    if by is not None:
        if by:
            in_list = ", ".join(_sql_str(k) for k in by)
            new_labels = F.expr(
                "map_from_entries(filter(map_entries(labels),"
                f" e -> e.key IN ({in_list})))"
            )
        else:
            new_labels = F.expr("cast(map() as map<string,string>)")
    else:
        in_list = ", ".join(_sql_str(k) for k in without)
        new_labels = F.expr(f"map_filter(labels, (k, v) -> NOT (k IN ({in_list})))")

    keyed = df.withColumn("labels", new_labels)
    grouped = keyed.groupBy(
        F.expr("array_sort(map_entries(labels))").alias("__series"), *extra_keys
    ).agg(agg.alias("value"))
    return grouped.select(
        F.map_from_entries("__series").alias("labels"),
        *[F.col(k) for k in extra_keys],
        "value",
    )


def sum_by(df: DataFrame, keys: Sequence[str], **kw) -> DataFrame:
    """B2: ``sum by (keys) (df)``."""
    return group_by_labels(df, F.sum("value"), by=list(keys), **kw)


def avg_by(df: DataFrame, keys: Sequence[str], **kw) -> DataFrame:
    """B4: ``avg by (keys) (df)``."""
    return group_by_labels(df, F.avg("value"), by=list(keys), **kw)


def max_without(df: DataFrame, drop: Sequence[str], **kw) -> DataFrame:
    """B3: ``max without (drop) (df)``."""
    return group_by_labels(df, F.max("value"), without=list(drop), **kw)


def stddev_by(df: DataFrame, keys: Sequence[str], **kw) -> DataFrame:
    """``stddev by (keys)`` — PromQL's stddev is the POPULATION standard
    deviation (prometheus.io aggregation operators), not the sample one."""
    return group_by_labels(df, F.stddev_pop("value"), by=list(keys), **kw)


def stdvar_by(df: DataFrame, keys: Sequence[str], **kw) -> DataFrame:
    """``stdvar by (keys)`` — population variance."""
    return group_by_labels(df, F.var_pop("value"), by=list(keys), **kw)


def quantile_by(df: DataFrame, q: float, keys: Sequence[str], **kw) -> DataFrame:
    """``quantile(q, x) by (keys)`` — exact φ-quantile with linear
    interpolation (PromQL semantics = ``percentile``, not the t-digest
    approximation). For a 100 TB cardinality-bounded group-by this is an
    exact sort-based agg per group; swap in ``percentile_approx`` when
    per-group value counts are unbounded."""
    return group_by_labels(df, F.percentile("value", q), by=list(keys), **kw)


def count_values(df: DataFrame, dst: str = "value") -> DataFrame:
    """PromQL ``count_values("dst", x)``: count samples per distinct value,
    the value itself becoming a new label (an existing ``dst`` label is
    overwritten — ``map_concat`` with a duplicate key would otherwise
    throw under Spark's default EXCEPTION dedup policy). One hash
    aggregation on (series-key, value); integer-valued doubles render as
    plain integers across the int64 range (a bare ``cast("string")``
    emits ``1.0E7`` once past 1e7) — past 2^63 and for ±Inf the double
    repr shows through, a documented divergence from PromQL's formatter.
    """
    keyed = _ensure_series(df)
    grouped = keyed.groupBy("__series", "value").agg(
        F.count(F.lit(1)).cast("double").alias("__count")
    )
    v = F.col("value")
    value_str = F.when(
        v == F.floor(v), v.cast("long").cast("string")
    ).otherwise(v.cast("string"))
    without_dst = F.filter(F.col("__series"), lambda e: e["key"] != F.lit(dst))
    return grouped.select(
        F.map_concat(
            F.map_from_entries(without_dst),
            F.create_map(F.lit(dst), value_str),
        ).alias("labels"),
        F.col("__count").alias("value"),
    )


# -- vector-vector binary operators (on/ignoring matching) -----------------

_VEC_OPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    # PromQL % is Go math.Mod — sign of the DIVIDEND (fmod), not pmod:
    # -5 % 3 = -2, where pmod(-5, 3) = 1
    "%": lambda a, b: a % b,
    "^": lambda a, b: F.pow(a, b),
    "atan2": lambda a, b: F.atan2(a, b),  # PromQL v2.31 binary operator
}


def vector_binop(
    lhs: DataFrame,
    rhs: DataFrame,
    op: str,
    *,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] = (),
    group: str | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Vector matching: ``lhs <op> rhs`` joining series whose label sets
    agree after projection by ``on`` (keep only those keys) or
    ``ignoring`` (drop those keys) — PromQL binary-operator semantics
    (prometheus.io/docs/prometheus/latest/querying/operators/#vector-matching).

    One-to-one (default): result carries the matched label set.
    Many-to-one via ``group="left"`` (lhs is the many side) or
    ``group="right"``: each many-side row keeps its FULL label set, and
    ``carry`` lists labels copied over from the one side (PromQL
    ``group_left(carry...)``) — the info-metric join pattern. Divergence,
    documented: Prometheus errors when the "one" side has duplicate match
    keys; we don't pre-validate (that's an extra aggregation per call) —
    a duplicated key fans out like any join.

    One equi-join on the projected entries key (hash/broadcast per
    Catalyst's choice); series missing from either side drop out, like
    PromQL. Output: (labels, value).
    """
    if on is not None and ignoring:
        raise ValueError("use only one of on= / ignoring=")
    if op not in _VEC_OPS:
        raise ValueError(f"unsupported op {op!r}; one of {sorted(_VEC_OPS)}")
    if group not in (None, "left", "right"):
        raise ValueError(f"group must be 'left'/'right'/None, got {group!r}")
    key = _match_key(on, ignoring)

    if group is None:
        left = lhs.select(
            key(F.col("labels")).alias("__series"), F.col("value").alias("__l")
        )
        right = rhs.select(
            key(F.col("labels")).alias("__series"), F.col("value").alias("__r")
        )
        return left.join(right, "__series").select(
            F.map_from_entries("__series").alias("labels"),
            _VEC_OPS[op](F.col("__l"), F.col("__r")).alias("value"),
        )

    many, one = (lhs, rhs) if group == "left" else (rhs, lhs)
    m = many.select(
        key(F.col("labels")).alias("__key"), "labels", F.col("value").alias("__m")
    )
    one_cols = [F.element_at(F.col("labels"), c).alias(f"__c_{i}") for i, c in enumerate(carry)]
    o = one.select(
        key(F.col("labels")).alias("__key"), F.col("value").alias("__o"), *one_cols
    )
    joined = m.join(o, "__key")
    # operand ORDER follows the query, not the many/one roles
    l_val, r_val = (
        (F.col("__m"), F.col("__o")) if group == "left" else (F.col("__o"), F.col("__m"))
    )
    labels = F.col("labels")
    if carry:
        labels = F.map_filter(labels, lambda k, _: ~k.isin(*carry))
        entries = F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key"), F.col(f"__c_{i}").alias("value")
                    )
                    for i, c in enumerate(carry)
                ]
            ),
            lambda e: e["value"].isNotNull(),  # absent one-side labels don't copy
        )
        labels = F.map_concat(labels, F.map_from_entries(entries))
    return joined.select(
        labels.alias("labels"), _VEC_OPS[op](l_val, r_val).alias("value")
    )


def _match_key(on: Sequence[str] | None, ignoring: Sequence[str]):
    """Label-projection key for vector matching (shared by binops and set
    ops)."""

    def key(labels: Column) -> Column:
        if on is not None:
            projected = (
                _project_labels_by(labels, on)
                if on
                else F.create_map().cast("map<string,string>")
            )
        else:
            projected = _project_labels_without(labels, ignoring) if ignoring else labels
        return _series(projected)

    return key


def vector_setop(
    lhs: DataFrame,
    rhs: DataFrame,
    op: str,
    *,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] = (),
) -> DataFrame:
    """PromQL set operators over instant vectors — pure join shapes:

    - ``and``:    lhs series whose match key exists in rhs (left-semi)
    - ``unless``: lhs series whose match key does NOT exist (left-anti)
    - ``or``:     all lhs series plus rhs series with no lhs match (union)

    Results keep the LHS rows' full labels and values (PromQL semantics);
    the rhs side contributes only its key set — a distinct projection of
    (key) only, so the join never carries rhs payloads. One shuffle per
    side on the projected entries key; Catalyst broadcasts a small key
    set on its own.
    """
    if op not in ("and", "or", "unless"):
        raise ValueError(f"unsupported set op {op!r}")
    if on is not None and ignoring:
        raise ValueError("use only one of on= / ignoring=")
    key = _match_key(on, ignoring)
    l_keyed = lhs.withColumn("__key", key(F.col("labels")))
    if op in ("and", "unless"):
        r_keys = rhs.select(key(F.col("labels")).alias("__key")).distinct()
        how = "left_semi" if op == "and" else "left_anti"
        return l_keyed.join(r_keys, "__key", how).select("labels", "value")
    l_keys = lhs.select(key(F.col("labels")).alias("__key")).distinct()
    extra = (
        rhs.withColumn("__key", key(F.col("labels")))
        .join(l_keys, "__key", "left_anti")
        .select("labels", "value")
    )
    return lhs.select("labels", "value").unionByName(extra)


# -- B6/B7: comparison with bool modifier; scalar arithmetic ---------------

_CMP = {
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
}


def bool_cmp(df: DataFrame, op: str, threshold: float) -> DataFrame:
    """B6: ``value <op> bool <threshold>`` — returns 1.0/0.0 instead of
    filtering (the PromQL ``bool`` modifier)."""
    pred = _CMP[op](F.col("value"), F.lit(threshold))
    return df.withColumn("value", F.when(pred, 1.0).otherwise(0.0))


# B7 is plain Column arithmetic: df.withColumn("value", col*60/3600).


# -- B5/B8: subquery resampling & over-time aggregation --------------------


def resample(df: DataFrame, step: str, *, tiebreakers: Sequence[str] = ()) -> DataFrame:
    """Step-align samples: per (series, step-bucket), the LAST point wins —
    PromQL subquery evaluation takes each step's most recent value.

    Output: (__series, labels, bucket_start: timestamp, value). The
    ``__series`` entries key is kept so downstream ``*_over_time``
    regroups without recomputing it.

    ``max_by`` ordered by a single primitive stays a **HashAggregate**;
    a struct ordering key would force SortAggregate (non-mutable buffer)
    — so ``tiebreakers`` (needed only when one series carries duplicate
    timestamps, which real scraped metrics don't) are resolved in their
    own hash phase first: argmax by tiebreaker within (series, ts), then
    argmax by ts within (series, bucket). Two hash aggregations, both
    with map-side partial combine, zero sorts.
    """
    keyed = _ensure_series(df)
    bucket = F.window(F.col("timestamp"), step)["start"].alias("bucket_start")
    if tiebreakers:
        keyed = _dedup_ts(keyed, tiebreakers)
    return (
        keyed.groupBy("__series", bucket)
        .agg(F.max_by(F.col("value"), F.col("timestamp")).alias("value"))
        .select(
            "__series",
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def agg_over_time(
    resampled: DataFrame,
    agg: Column,
    *,
    frame_start: datetime | None = None,
    frame_end: datetime | None = None,
) -> DataFrame:
    """Aggregate each series' step-aligned values over one frame
    (``<agg>_over_time(x[frame:step])`` with the frame = [start, end]).

    The reference's flagship evaluates the subquery ONCE per day over a
    24 h frame (`migrate.sql:105-106`), so the frame is a plain groupBy —
    no sliding window needed. For sliding frames see ``sliding_over_time``.
    """
    df = resampled
    if frame_start is not None:
        df = df.where(F.col("bucket_start") >= F.lit(frame_start))
    if frame_end is not None:
        df = df.where(F.col("bucket_start") < F.lit(frame_end))
    df = _ensure_series(df)
    return (
        df.groupBy("__series")
        .agg(agg.alias("value"))
        .select(F.map_from_entries("__series").alias("labels"), "value")
    )


def sum_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """B5: ``sum_over_time`` over a step-aligned frame."""
    return agg_over_time(resampled, F.sum("value"), **kw)


def avg_over_time(resampled: DataFrame, **kw) -> DataFrame:
    return agg_over_time(resampled, F.avg("value"), **kw)


def max_over_time(resampled: DataFrame, **kw) -> DataFrame:
    return agg_over_time(resampled, F.max("value"), **kw)


def min_over_time(resampled: DataFrame, **kw) -> DataFrame:
    return agg_over_time(resampled, F.min("value"), **kw)


def count_over_time(resampled: DataFrame, **kw) -> DataFrame:
    return agg_over_time(resampled, F.count(F.lit(1)).cast("double"), **kw)


def last_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``last_over_time``: the frame's most recent step value — ``max_by``
    on the single-primitive bucket time (stays a HashAggregate)."""
    return agg_over_time(resampled, F.max_by("value", "bucket_start"), **kw)


def ts_of_max_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``ts_of_max_over_time`` (PromQL 3.x experimental): the epoch
    seconds of the frame's maximum value. Ties break to the LATEST
    occurrence via a (value, bucket) struct ordering key — deterministic
    where Prometheus leaves the tie unspecified. A struct ordering key's
    buffer is immutable, so Spark plans SortAggregate for this one — the
    partition-local sort runs over the step-REDUCED grid (one row per
    series×bucket, already aggregated by the resample hash agg upstream),
    not raw samples, and the shuffle is still hash-partitioned; verified
    in the PLANS.md census."""
    ts = F.max_by(
        "bucket_start", F.struct(F.col("value"), F.col("bucket_start"))
    )
    return agg_over_time(
        resampled, epoch_seconds(ts.cast("timestamp")), **kw
    )


def ts_of_min_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``ts_of_min_over_time``: epoch seconds of the frame minimum; ties
    break to the latest occurrence (min value, then max bucket)."""
    ts = F.max_by(
        "bucket_start", F.struct(-F.col("value"), F.col("bucket_start"))
    )
    return agg_over_time(
        resampled, epoch_seconds(ts.cast("timestamp")), **kw
    )


def first_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``first_over_time`` (PromQL 3.x experimental): the frame's OLDEST
    step value — ``min_by`` on the bucket time, the exact dual of
    ``last_over_time`` and the same single-HashAggregate plan."""
    return agg_over_time(resampled, F.min_by("value", "bucket_start"), **kw)


def ts_of_first_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``ts_of_first_over_time``: epoch seconds of the frame's oldest
    step point — a plain ``min`` on the single-primitive bucket time."""
    return agg_over_time(
        resampled, epoch_seconds(F.min("bucket_start").cast("timestamp")), **kw
    )


def ts_of_last_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """``ts_of_last_over_time``: epoch seconds of the frame's newest
    step point — ``max`` on the bucket time (no argmax struct needed)."""
    return agg_over_time(
        resampled, epoch_seconds(F.max("bucket_start").cast("timestamp")), **kw
    )


def stddev_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """Population stddev over the frame (PromQL semantics)."""
    return agg_over_time(resampled, F.stddev_pop("value"), **kw)


def quantile_over_time(resampled: DataFrame, q: float, **kw) -> DataFrame:
    """``quantile_over_time(q, x[frame:step])`` — exact linear-interpolated
    quantile of the step-aligned values."""
    return agg_over_time(resampled, F.percentile("value", q), **kw)


def present_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """1.0 for every series with any point in the frame."""
    return agg_over_time(resampled, F.lit(1.0), **kw)


def stdvar_over_time(resampled: DataFrame, **kw) -> DataFrame:
    """Population variance over the frame (PromQL semantics)."""
    return agg_over_time(resampled, F.var_pop("value"), **kw)


def _mad(df: DataFrame) -> DataFrame:
    """Median absolute deviation per ``__series`` over ``value`` — the
    two-phase shape MAD forces (medians don't nest in one aggregate):
    per-series median, join back, median of |x − m|. Both phases are hash
    aggs keyed on the series; the join is series-co-partitioned, so the
    whole thing reuses one shuffle partitioning."""
    med = df.groupBy("__series").agg(F.median("value").alias("__med"))
    return (
        df.join(med, "__series")
        .groupBy("__series")
        .agg(F.median(F.abs(F.col("value") - F.col("__med"))).alias("value"))
        .select(F.map_from_entries("__series").alias("labels"), "value")
    )


def mad_over_time(
    resampled: DataFrame,
    *,
    frame_start: datetime | None = None,
    frame_end: datetime | None = None,
) -> DataFrame:
    """``mad_over_time(x[frame:step])`` (PromQL experimental): median
    absolute deviation of the step-aligned values — the robust outlier
    signal (|x − median| spikes flag anomalies the stddev hides)."""
    df = resampled
    if frame_start is not None:
        df = df.where(F.col("bucket_start") >= F.lit(frame_start))
    if frame_end is not None:
        df = df.where(F.col("bucket_start") < F.lit(frame_end))
    return _mad(_ensure_series(df))


def raw_mad_over_time(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
) -> DataFrame:
    """``mad_over_time(x[frame])`` over a raw range selector."""
    return _mad(_frame(samples, frame_start, frame_end))


def sliding_over_time(
    resampled: DataFrame,
    agg: Column,
    frame: str,
) -> DataFrame:
    """Continuous ``<agg>_over_time(x[frame:step])``: evaluate the frame
    aggregate at EVERY step of the grid, each step looking back ``frame``
    (e.g. a 24 h rolling sum recomputed per minute) — the sliding
    counterpart of ``agg_over_time``'s single-frame evaluation, with the
    same Column-aggregate contract (``F.sum("value")``, ``F.avg(...)``, …).

    One RANGE window per series ordered by bucket time: Spark computes it
    in a single pass after the (inherent) per-series sort; no self-join,
    no step explosion.

    Output: (labels, bucket_start, value) — one row per (series, step).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_sec = int(parse_duration(frame).total_seconds())
    if frame_sec < 1:
        # a zero/sub-second frame builds an inverted RANGE bound, which
        # Spark silently evaluates to NULL for every row — reject instead
        raise ValueError(f"frame must be >= 1s, got {frame!r}")
    keyed = _ensure_series(resampled)
    w = (
        Window.partitionBy("__series")
        .orderBy(epoch_seconds(F.col("bucket_start")).cast("long"))
        .rangeBetween(-(frame_sec - 1), 0)
    )
    return keyed.select(
        F.map_from_entries("__series").alias("labels"),
        "bucket_start",
        agg.over(w).alias("value"),
    )


# -- topk / bottomk --------------------------------------------------------


def topk(df: DataFrame, k: int, *, ascending: bool = False) -> DataFrame:
    """PromQL ``topk(k, x)`` over an instant vector: the k series with the
    largest value (``bottomk`` via ascending=True). Ties break on the
    canonical series entries for determinism.

    orderBy+limit compiles to TakeOrderedAndProject — per-partition
    partial top-k then a k-row merge on the driver; never a global sort,
    so it holds at any series cardinality.
    """
    order = [
        F.asc("value") if ascending else F.desc("value"),
        F.asc(_series(F.col("labels"))),
    ]
    return df.orderBy(*order).limit(k)


def bottomk(df: DataFrame, k: int) -> DataFrame:
    """PromQL ``bottomk(k, x)``."""
    return topk(df, k, ascending=True)


def limitk(df: DataFrame, k: int) -> DataFrame:
    """PromQL (experimental) ``limitk(k, x)``: k series of the vector.
    Prometheus's pick is arbitrary-but-stable; ours is DOCUMENTED
    deterministic — the k smallest canonical series keys — so results
    reproduce across runs, partitionings, and engines (DIVERGENCES.md).
    Same TakeOrderedAndProject shape as topk."""
    from prom_etl_db_spark.schema import series_key

    return df.orderBy(F.asc(series_key(F.col("labels")))).limit(k)


def limit_ratio(df: DataFrame, r: float) -> DataFrame:
    """PromQL (experimental) ``limit_ratio(r, x)``: a deterministic
    ~r-fraction sample of SERIES. Prometheus hashes the label set with a
    fixed salt so the same series is kept consistently and r + (-(1-r))
    partitions the vector; we keep both properties via the md5-position
    trick from ``functions.sampling`` (negative r = the complement).
    Pure codegen'd filter — no shuffle, no sample()."""
    if not -1.0 <= r <= 1.0:
        raise ValueError(f"limit_ratio wants r in [-1, 1], got {r}")
    from prom_etl_db_spark.functions.sampling import hex_threshold
    from prom_etl_db_spark.schema import series_key

    pos = F.substring(F.md5(series_key(F.col("labels"))), 1, 8)

    if r >= 0:
        return df.where(pos < hex_threshold(r))
    return df.where(pos >= hex_threshold(1.0 + r))


# -- rate / increase (counter semantics) -----------------------------------


def increase(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Counter increase over [frame_start, frame_end) per series, with
    PromQL counter-reset correction: a drop means the counter restarted,
    so the post-reset absolute value is the contribution
    (prometheus.io/docs/prometheus/latest/querying/functions/#increase).

    Σ over adjacent sample pairs of (cur - prev if cur ≥ prev else cur).
    One ordered window per series (the lag needs order — the per-series
    sort is inherent to the semantics), then one hash aggregation.

    Divergence, documented: Prometheus extrapolates the increase to the
    full window; we return the observed increase between the first and
    last samples in the frame — exact over stored data, no estimation.
    """
    w_order = [F.col("timestamp")] + [F.col(t) for t in tiebreakers]
    df = _frame(samples, frame_start, frame_end)
    w = Window.partitionBy("__series").orderBy(*w_order)
    delta = F.col("value") - F.lag("value").over(w)
    contrib = F.when(delta.isNull(), F.lit(0.0)).otherwise(
        F.when(delta < 0, F.col("value")).otherwise(delta)
    )
    return (
        df.withColumn("__contrib", contrib)
        .groupBy("__series")
        .agg(F.sum("__contrib").alias("value"))
        .select(F.map_from_entries("__series").alias("labels"), "value")
    )


def raw_agg_over_time(
    samples: DataFrame,
    agg: Column,
    *,
    frame_start: datetime,
    frame_end: datetime,
) -> DataFrame:
    """``<agg>_over_time(x[frame])`` over a RAW range selector — PromQL's
    range-vector form aggregates every raw sample in the window (no step
    grid; that's the subquery form). One frame filter + one hash
    aggregation per series."""
    df = _frame(samples, frame_start, frame_end)
    return (
        df.groupBy("__series")
        .agg(agg.alias("value"))
        .select(F.map_from_entries("__series").alias("labels"), "value")
    )


def changes_and_resets(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Both consecutive-sample counters from ONE lag window + ONE hash
    aggregation: (labels, n_changes, n_resets). ``changes``/``resets``
    select from this — computing the pair separately would run the
    identical scan/sort twice."""
    w_order = [F.col("timestamp")] + [F.col(t) for t in tiebreakers]
    df = _frame(samples, frame_start, frame_end)
    w = Window.partitionBy("__series").orderBy(*w_order)
    prev = F.lag("value").over(w)
    changed = F.when(prev.isNull(), 0).when(F.col("value") != prev, 1).otherwise(0)
    reset = F.when(prev.isNotNull() & (F.col("value") < prev), 1).otherwise(0)
    return (
        df.withColumn("__chg", changed)
        .withColumn("__rst", reset)
        .groupBy("__series")
        .agg(
            F.sum("__chg").cast("double").alias("n_changes"),
            F.sum("__rst").cast("double").alias("n_resets"),
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            "n_changes",
            "n_resets",
        )
    )


def changes(samples: DataFrame, **kw) -> DataFrame:
    """PromQL ``changes(x[frame])``: how many times each series' value
    changed between consecutive samples."""
    return changes_and_resets(samples, **kw).select(
        "labels", F.col("n_changes").alias("value")
    )


def resets(samples: DataFrame, **kw) -> DataFrame:
    """PromQL ``resets(x[frame])``: count of counter resets (value drops
    between consecutive samples) — the diagnostic companion to
    ``increase``'s reset correction."""
    return changes_and_resets(samples, **kw).select(
        "labels", F.col("n_resets").alias("value")
    )


def _last_two(
    samples: DataFrame,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str],
) -> DataFrame:
    """Per series: the frame's two most recent samples as (labels, t1/v1
    = latest, t0/v0 = previous). Series with fewer than two points drop
    out (like PromQL's instant variants). One ordered window + one hash
    aggregation."""
    w_order = [F.desc("timestamp")] + [F.desc(t) for t in tiebreakers]
    df = _frame(samples, frame_start, frame_end)
    w = Window.partitionBy("__series").orderBy(*w_order)
    ranked = df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= 2)
    return (
        ranked.groupBy("__series")
        .agg(
            F.max_by("value", -F.col("__rn")).alias("v1"),  # rn=1 → latest
            F.max_by("timestamp", -F.col("__rn")).alias("t1"),
            F.min_by("value", -F.col("__rn")).alias("v0"),
            F.min_by("timestamp", -F.col("__rn")).alias("t0"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") == 2)
    )


def idelta_and_irate(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Both instant variants from ONE last-two-samples pass: (labels,
    idelta, irate). ``idelta``/``irate`` select from this."""
    pairs = _last_two(samples, frame_start, frame_end, tiebreakers)
    inc = F.when(F.col("v1") >= F.col("v0"), F.col("v1") - F.col("v0")).otherwise(
        F.col("v1")
    )
    dt = epoch_seconds(F.col("t1")) - epoch_seconds(F.col("t0"))
    return pairs.where(dt > 0).select(
        F.map_from_entries("__series").alias("labels"),
        (F.col("v1") - F.col("v0")).alias("idelta"),
        (inc / dt).alias("irate"),
    )


def idelta(samples: DataFrame, **kw) -> DataFrame:
    """PromQL ``idelta(x[frame])``: difference of each series' LAST TWO
    samples (the instant variant of delta). Like ``irate`` — and like
    Prometheus's instantValue — the pair must have distinct timestamps;
    equal-timestamp pairs drop out."""
    return idelta_and_irate(samples, **kw).select(
        "labels", F.col("idelta").alias("value")
    )


def irate(samples: DataFrame, **kw) -> DataFrame:
    """PromQL ``irate(x[frame])``: per-second rate from the last two
    samples, with counter-reset correction (a drop contributes the
    post-reset absolute value, like ``increase``)."""
    return idelta_and_irate(samples, **kw).select(
        "labels", F.col("irate").alias("value")
    )


def rate(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Per-second ``rate(x[frame])``: increase / frame seconds."""
    seconds = (frame_end - frame_start).total_seconds()
    inc = increase(
        samples,
        frame_start=frame_start,
        frame_end=frame_end,
        tiebreakers=tiebreakers,
    )
    return inc.withColumn("value", F.col("value") / F.lit(seconds))


# Above this frame/step ratio the per-sample grid explode (ratio× row
# amplification) loses to the two-phase event path; 32 keeps the simple
# plan for dashboard-ish ratios (12h/6h, 1h/5m) and caps amplification.
_RANGE_EXPLODE_MAX_RATIO = 32


def _grid_bounds(ts, t0, tN, frame_s: float, step_s: float):
    """The per-sample fan-out bounds every sliding-window range function
    shares (window duality: a sample at ts contributes to grid instant t
    iff t − frame ≤ ts < t): FIRST = the smallest grid instant strictly
    after ts, clamped up to the range start (samples read back from
    before the range still target in-range instants only); LAST = the
    largest grid instant whose window still contains ts, clamped to the
    range end. One definition — an off-by-one fix lands everywhere."""
    first = F.greatest(t0 + (F.floor((ts - t0) / step_s) + 1) * step_s, t0)
    last = F.least(t0 + F.floor((ts + frame_s - t0) / step_s) * step_s, tN)
    return first, last


def increase_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    tiebreakers: Sequence[str] = (),
    method: str = "auto",
    quantize: "float | None" = None,
) -> DataFrame:
    """RANGE-QUERY form of ``increase``: the counter increase over a
    sliding ``[t − frame, t)`` window evaluated at every step instant t
    of the grid start, start+step, …, ≤ end — the Grafana
    ``rate()``-per-step pattern the instant form can't express.

    ``quantize`` (e.g. 1e-6) rounds each pair contribution to that unit
    BEFORE summation, making every window sum an exactly-representable
    integer multiple — bit-identical across summation orders, physical
    strategies, and engines. This is the determinism knob for
    cross-engine verification and reproducible exports; None (default)
    keeps full double precision.

    Two physical strategies, same exact semantics (unit-tested equal):

    - ``explode`` — each sample explodes onto the ≤ frame/step grid
      instants whose window contains it, one ordered window per
      (series, t), one hash agg. Simple plan, but row amplification =
      frame/step (1,440× at the flagship's 24h/1m!).
    - ``events`` — the difference-array form. Consecutive-pair
      contributions are computed ONCE per series (no explode), and each
      pair covers a CONTIGUOUS run of grid instants [t_min, t_max], so
      it becomes two signed events (+contrib at t_min, −contrib after
      t_max); a per-series running sum over event instants yields every
      window's value, and a final explode fills only the OUTPUT grid
      segments. Intermediate volume is O(pairs + output rows) —
      independent of frame/step — so a 24h/1m query costs the same
      shuffle as 24h/1h.
    - ``auto`` (default) — ``events`` when frame/step > 32.

    Float note: ``events`` accumulates +x then −x in a running sum, so
    values can differ from per-window summation by ~1e-13 relative —
    far below the round-6 output convention; the unit suite asserts
    equality at 1e-9.

    Grid instants with < 2 samples in the window drop out (no pair, no
    increase — matching ``increase``'s empty result on such frames).

    Output: (labels, bucket_start, value) — bucket_start = the step
    instant t.
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s = frame_td.total_seconds()
    step_s = step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if method == "auto":
        method = "events" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "events"):
        raise ValueError(f"unknown increase_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    if method == "events":
        return _increase_range_events(
            df, ts, t0, tN, frame_s, step_s, tiebreakers, quantize
        )
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    exploded = df.where(first <= last).select(
        "__series",
        "value",
        "timestamp",
        *[F.col(t) for t in tiebreakers],
        F.explode(
            F.sequence(
                F.timestamp_seconds(first),
                F.timestamp_seconds(last),
                F.expr(f"INTERVAL {int(step_s)} SECONDS"),
            )
        ).alias("bucket_start"),
    )
    w = Window.partitionBy("__series", "bucket_start").orderBy(
        F.col("timestamp"), *[F.col(t) for t in tiebreakers]
    )
    delta = F.col("value") - F.lag("value").over(w)
    contrib = F.when(delta < 0, F.col("value")).otherwise(delta)  # NULL first row
    scale = None if quantize is None else round(1.0 / quantize)
    if scale is not None:
        # multiply by the exact reciprocal (1e6, not /1e-6): the oracle
        # multiplies, and the two differ in the last ulp — enough to flip
        # a round() half-case
        contrib = F.round(contrib * F.lit(scale), 0)
    agg_value = F.sum(F.coalesce(F.col("__contrib"), F.lit(0.0)))
    if scale is not None:
        agg_value = agg_value / F.lit(scale)
    return (
        exploded.withColumn("__contrib", contrib)
        .groupBy("__series", "bucket_start")
        .agg(
            agg_value.alias("value"),
            F.count("__contrib").alias("__pairs"),
        )
        .where(F.col("__pairs") >= 1)
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def delta_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    tiebreakers: Sequence[str] = (),
    method: str = "auto",
) -> DataFrame:
    """RANGE-QUERY ``delta``: last − first over the sliding [t − frame, t)
    window at every grid step (gauge change per window; non-extrapolated,
    same convention as ``delta``). Windows with < 2 samples drop out.

    Strategies mirror ``increase_range``:

    - ``explode`` — per-(series, t) ``max_by``/``min_by`` on the sample
      order: ONE subtraction per window, exact (the oracle's form).
    - ``events`` — the telescoping identity ``last − first = Σ
      (cur − prev)`` over consecutive pairs fully inside the window makes
      delta difference-array-able exactly like increase, just without
      reset correction: O(pairs + output) intermediates at any
      frame/step ratio. Float reassociation bounds the divergence at
      ~1e-13 relative (unit-tested vs explode).
    - ``auto`` — ``events`` above frame/step = 32.
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if method == "auto":
        method = "events" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "events"):
        raise ValueError(f"unknown delta_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    if method == "events":
        return _increase_range_events(
            df, ts, t0, tN, frame_s, step_s, tiebreakers, correction=False
        )
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    order = F.struct(F.col("timestamp"), *[F.col(t) for t in tiebreakers])
    exploded = df.where(first <= last).select(
        "__series",
        "value",
        order.alias("__ord"),
        F.explode(
            F.sequence(
                F.timestamp_seconds(first),
                F.timestamp_seconds(last),
                F.expr(f"INTERVAL {int(step_s)} SECONDS"),
            )
        ).alias("bucket_start"),
    )
    return (
        exploded.groupBy("__series", "bucket_start")
        .agg(
            (
                F.max_by("value", F.col("__ord"))
                - F.min_by("value", F.col("__ord"))
            ).alias("value"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") >= 2)
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def _increase_range_events(
    df: DataFrame,
    ts,
    t0,
    tN,
    frame_s: float,
    step_s: float,
    tiebreakers: Sequence[str],
    quantize: "float | None" = None,
    correction: bool = True,
    contrib_mode: str = "diff",
) -> DataFrame:
    """Difference-array evaluation of the sliding-window increase.

    A consecutive pair (prev @ p, cur @ c) is inside window [t−frame, t)
    exactly when c < t AND p ≥ t−frame — a contiguous grid-instant run
    [t_min, t_max]. Emit (+contrib, +1 pair) at t_min and the negation
    one step past t_max, hash-aggregate coincident events, running-sum
    per series, then materialize each constant segment's grid instants.
    Three shuffles total (pair window, event agg reuses its partitioning,
    running-sum window), none wider than the series count × events —
    never frame/step-amplified.
    """
    order = [F.col("timestamp"), *[F.col(t) for t in tiebreakers]]
    w = Window.partitionBy("__series").orderBy(*order)
    pairs = (
        df.select(
            "__series",
            "value",
            ts.alias("__ts"),
            F.lag("value").over(w).alias("__prev_v"),
            F.lag(ts).over(w).alias("__prev_ts"),
        )
        .where(F.col("__prev_v").isNotNull())
    )
    raw_diff = F.col("value") - F.col("__prev_v")
    if contrib_mode == "changes":
        # pair contributes 1 when the value changed — Σ = PromQL changes()
        contrib = (F.col("value") != F.col("__prev_v")).cast("double")
    elif contrib_mode == "resets":
        # pair contributes 1 on a counter drop — Σ = PromQL resets()
        contrib = (F.col("value") < F.col("__prev_v")).cast("double")
    else:
        contrib = (
            F.when(F.col("value") < F.col("__prev_v"), F.col("value")).otherwise(
                raw_diff
            )
            if correction  # PromQL counter-reset correction (increase/rate)
            else raw_diff  # telescoping delta: Σ diffs = last − first
        )
    scale = None if quantize is None else round(1.0 / quantize)
    if scale is not None:
        # integer-multiple contributions -> exact, order-independent sums
        # (multiply by the exact reciprocal; see the explode path note)
        contrib = F.round(contrib * F.lit(scale), 0)
    # first grid instant strictly after cur; last with prev still in frame
    t_min = F.greatest(
        t0 + (F.floor((F.col("__ts") - t0) / step_s) + 1) * step_s, t0
    )
    t_max = F.least(
        t0 + F.floor((F.col("__prev_ts") + frame_s - t0) / step_s) * step_s, tN
    )
    events = (
        pairs.select(
            "__series",
            contrib.alias("__c"),
            t_min.alias("__tmin"),
            t_max.alias("__tmax"),
        )
        .where(F.col("__tmin") <= F.col("__tmax"))
        .select(
            "__series",
            F.explode(
                F.array(
                    F.struct(
                        F.col("__tmin").alias("t"),
                        F.col("__c").alias("dv"),
                        F.lit(1).cast("long").alias("dc"),
                    ),
                    F.struct(
                        (F.col("__tmax") + step_s).alias("t"),
                        (-F.col("__c")).alias("dv"),
                        F.lit(-1).cast("long").alias("dc"),
                    ),
                )
            ).alias("e"),
        )
        .select("__series", "e.t", "e.dv", "e.dc")
        .groupBy("__series", "t")
        .agg(F.sum("dv").alias("dv"), F.sum("dc").alias("dc"))
    )
    w2 = Window.partitionBy("__series").orderBy("t")
    cum = Window.partitionBy("__series").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = events.select(
        "__series",
        "t",
        F.sum("dv").over(cum).alias("__v"),
        F.sum("dc").over(cum).alias("__n"),
        F.lead("t").over(w2).alias("__next_t"),
    )
    seg_end = F.least(F.coalesce(F.col("__next_t") - step_s, tN), tN)
    return (
        run.where((F.col("__n") >= 1) & (F.col("t") <= seg_end))
        .select(
            "__series",
            "__v",
            F.explode(
                F.sequence(
                    F.col("t").cast("long"),
                    seg_end.cast("long"),
                    F.lit(int(step_s)),
                )
            ).alias("__g"),
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            F.timestamp_seconds("__g").alias("bucket_start"),
            (
                F.col("__v") / F.lit(round(1.0 / quantize))
                if quantize is not None
                else F.col("__v")
            ).alias("value"),
        )
    )


def rate_range(samples: DataFrame, *, frame: str, **kw) -> DataFrame:
    """RANGE-QUERY ``rate``: per-second increase at every step instant —
    increase_range / frame seconds (same exact-over-stored-data
    convention as ``rate``)."""
    from prom_etl_db_spark.timeparse import parse_duration

    seconds = parse_duration(frame).total_seconds()
    out = increase_range(samples, frame=frame, **kw)
    return out.withColumn("value", F.col("value") / F.lit(seconds))


def extrema_over_time_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    method: str = "auto",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """RANGE-QUERY ``max_over_time`` + ``min_over_time`` +
    ``last_over_time`` + ``first_over_time`` in ONE pass: the
    sliding-window extremes and the newest/oldest samples at every grid
    step. ``last``/``first`` ARE bucket-composable (last of the newest /
    first of the oldest non-empty bucket), so they ride the same
    decomposition as max/min via lexicographic struct max/min; duplicate
    timestamps resolve by ``tiebreakers`` (last takes the highest,
    first the lowest).

    Max/min are NOT difference-arrayable (no inverse), so the scale
    strategy is different from ``agg_over_time_range``: the classic
    two-phase bucket decomposition. Requires frame % step == 0 (then
    window [t−frame, t) is an exact union of frame/step tumbling
    step-buckets):

    - ``buckets`` — phase 1 computes per-(series, bucket) max/min (one
      hash agg over samples); phase 2 densifies each series onto the
      step grid (rows = series × grid — the OUTPUT size, not the sample
      count) and takes a RANGE-window max/min over the bucket values in
      [t−frame, t−step]. No per-sample explode anywhere: cost is
      O(samples + output), independent of frame/step.
    - ``explode`` — the per-instant groupBy fallback (also the only
      option when frame isn't a step multiple).
    - ``auto`` — ``buckets`` when frame % step == 0 and the ratio
      exceeds the explode cap, else ``explode``.

    Windows with no samples drop out. Output:
    (labels, bucket_start, vmax, vmin, vlast, vfirst).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    aligned = frame_s % step_s == 0
    if method == "auto":
        method = (
            "buckets"
            if aligned and frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO
            else "explode"
        )
    if method == "buckets" and not aligned:
        raise ValueError("buckets strategy needs frame to be a multiple of step")
    if method not in ("explode", "buckets"):
        raise ValueError(f"unknown extrema_over_time_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    last_key = F.struct(
        F.col("timestamp"), *[F.col(t) for t in tiebreakers], F.col("value")
    )
    if method == "explode":
        first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
        return (
            df.where(first <= last)
            .select(
                "__series",
                "value",
                last_key.alias("__lk"),
                F.explode(
                    F.sequence(
                        F.timestamp_seconds(first),
                        F.timestamp_seconds(last),
                        F.expr(f"INTERVAL {int(step_s)} SECONDS"),
                    )
                ).alias("bucket_start"),
            )
            .groupBy("__series", "bucket_start")
            .agg(
                F.max("value").alias("vmax"),
                F.min("value").alias("vmin"),
                F.max("__lk").alias("__lkm"),
                F.min("__lk").alias("__lkf"),
            )
            .select(
                F.map_from_entries("__series").alias("labels"),
                "bucket_start",
                "vmax",
                "vmin",
                F.col("__lkm.value").alias("vlast"),
                F.col("__lkf.value").alias("vfirst"),
            )
        )
    # phase 1: tumbling step-bucket extremes (bucket start, step-aligned
    # to the grid; buckets from start − frame so early windows see their
    # pre-range context, like every other range-mode function)
    b = (t0 + F.floor((ts - t0) / step_s) * step_s).cast("long")
    buckets = (
        df.select("__series", b.alias("__b"), "value", last_key.alias("__lk"))
        .groupBy("__series", "__b")
        .agg(
            F.max("value").alias("__bmax"),
            F.min("value").alias("__bmin"),
            F.max("__lk").alias("__blast"),
            F.min("__lk").alias("__bfirst"),
        )
    )
    # phase 2: densify each series onto the bucket grid and range-window
    grid = (
        buckets.select("__series")
        .distinct()
        .select(
            "__series",
            F.explode(
                F.sequence(
                    (t0 - F.lit(frame_s)).cast("long"),
                    (tN - F.lit(step_s)).cast("long"),
                    F.lit(int(step_s)),
                )
            ).alias("__b"),
        )
    )
    dense = grid.join(buckets, ["__series", "__b"], "left")
    w = (
        Window.partitionBy("__series")
        .orderBy("__b")
        .rangeBetween(-int(frame_s - step_s), 0)
    )
    # last = the newest non-empty bucket's last sample: lexicographic max
    # of (bucket epoch, bucket-last struct); NULL for missing buckets so
    # the window max skips them
    bl = F.when(
        F.col("__blast").isNotNull(),
        F.struct(F.col("__b").alias("b"), F.col("__blast").alias("s")),
    )
    # first = the OLDEST non-empty bucket's first sample — the exact dual
    # of last: lexicographic MIN of (bucket epoch, bucket-first struct)
    bf = F.when(
        F.col("__bfirst").isNotNull(),
        F.struct(F.col("__b").alias("b"), F.col("__bfirst").alias("s")),
    )
    out = dense.select(
        "__series",
        (F.col("__b") + step_s).alias("__t"),
        F.max("__bmax").over(w).alias("vmax"),
        F.min("__bmin").over(w).alias("vmin"),
        F.max(bl).over(w).alias("__lwin"),
        F.min(bf).over(w).alias("__fwin"),
    )
    return (
        out.where(
            (F.col("__t") >= t0) & (F.col("__t") <= tN) & F.col("vmax").isNotNull()
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            F.timestamp_seconds(F.col("__t").cast("long")).alias("bucket_start"),
            "vmax",
            "vmin",
            F.col("__lwin.s.value").alias("vlast"),
            F.col("__fwin.s.value").alias("vfirst"),
        )
    )


def regression_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    predict_offset: "float | None" = None,
    method: str = "auto",
) -> DataFrame:
    """RANGE-QUERY ``deriv`` (``predict_offset=None``) /
    ``predict_linear`` (value extrapolated ``predict_offset`` seconds
    past each grid instant): the least-squares line over the sliding
    [t − frame, t) window at every step.

    The regression moments (n, Σx, Σv, Σxv, Σx²) are all plain sums, so
    the per-sample difference array applies — five accumulators instead
    of one. Numerical care: x = sample time CENTERED AT RANGE START
    (epoch seconds would put Σx² near 1e18·n where the slope's
    subtractive cancellation loses every significant digit; range-span
    offsets keep the moments small). slope = (nΣxv − ΣxΣv) /
    (nΣx² − (Σx)²); predict at instant t: mean_v + slope·(t_x − mean_x
    + offset). Windows with < 2 samples (or zero time-variance) drop
    out, matching ``deriv``'s instant form.

    Output: (labels, bucket_start, value).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if method == "auto":
        method = "events" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "events"):
        raise ValueError(f"unknown regression_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    x = ts - t0  # centered time coordinate
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)

    def read_off(g):
        n = F.col("__n").cast("double")
        denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
        slope = (n * F.col("__sxv") - F.col("__sx") * F.col("__sv")) / denom
        if predict_offset is None:
            value = slope
        else:
            mean_x = F.col("__sx") / n
            mean_v = F.col("__sv") / n
            # t_x of the grid instant, in the same centered coordinate
            value = mean_v + slope * (
                (g - t0) - mean_x + F.lit(float(predict_offset))
            )
        return F.when((F.col("__n") >= 2) & (denom > 0), value)

    if method == "explode":
        exploded = df.where(first <= last).select(
            "__series",
            x.alias("__x"),
            "value",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(first),
                    F.timestamp_seconds(last),
                    F.expr(f"INTERVAL {int(step_s)} SECONDS"),
                )
            ).alias("bucket_start"),
        )
        agg = exploded.groupBy("__series", "bucket_start").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__x").alias("__sx"),
            F.sum("value").alias("__sv"),
            F.sum(F.col("__x") * F.col("value")).alias("__sxv"),
            F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        )
        g = epoch_seconds(F.col("bucket_start"))
        return (
            agg.withColumn("value", read_off(g))
            .where(F.col("value").isNotNull())
            .select(
                F.map_from_entries("__series").alias("labels"),
                "bucket_start",
                "value",
            )
        )
    pos = F.struct(
        F.col("__tmin").alias("t"),
        F.lit(1).cast("long").alias("dn"),
        F.col("__x").alias("dx"),
        F.col("value").alias("dv"),
        (F.col("__x") * F.col("value")).alias("dxv"),
        (F.col("__x") * F.col("__x")).alias("dxx"),
    )
    neg = F.struct(
        (F.col("__tmax") + step_s).alias("t"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("__x")).alias("dx"),
        (-F.col("value")).alias("dv"),
        (-F.col("__x") * F.col("value")).alias("dxv"),
        (-F.col("__x") * F.col("__x")).alias("dxx"),
    )
    events = (
        df.select(
            "__series", x.alias("__x"), "value",
            first.alias("__tmin"), last.alias("__tmax"),
        )
        .where(F.col("__tmin") <= F.col("__tmax"))
        .select("__series", F.explode(F.array(pos, neg)).alias("e"))
        .select("__series", "e.t", "e.dn", "e.dx", "e.dv", "e.dxv", "e.dxx")
        .groupBy("__series", "t")
        .agg(
            F.sum("dn").alias("dn"),
            F.sum("dx").alias("dx"),
            F.sum("dv").alias("dv"),
            F.sum("dxv").alias("dxv"),
            F.sum("dxx").alias("dxx"),
        )
    )
    w2 = Window.partitionBy("__series").orderBy("t")
    cum = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = events.select(
        "__series",
        "t",
        F.sum("dn").over(cum).alias("__n"),
        F.sum("dx").over(cum).alias("__sx"),
        F.sum("dv").over(cum).alias("__sv"),
        F.sum("dxv").over(cum).alias("__sxv"),
        F.sum("dxx").over(cum).alias("__sxx"),
        F.lead("t").over(w2).alias("__next_t"),
    )
    seg_end = F.least(F.coalesce(F.col("__next_t") - step_s, tN), tN)
    filled = (
        run.where((F.col("__n") >= 2) & (F.col("t") <= seg_end))
        .select(
            "__series",
            "__n",
            "__sx",
            "__sv",
            "__sxv",
            "__sxx",
            F.explode(
                F.sequence(
                    F.col("t").cast("long"),
                    seg_end.cast("long"),
                    F.lit(int(step_s)),
                )
            ).alias("__g"),
        )
    )
    g = F.col("__g").cast("double")
    return (
        filled.withColumn("value", read_off(g))
        .where(F.col("value").isNotNull())
        .select(
            F.map_from_entries("__series").alias("labels"),
            F.timestamp_seconds("__g").alias("bucket_start"),
            "value",
        )
    )


def changes_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    kind: str = "changes",
    tiebreakers: Sequence[str] = (),
    method: str = "auto",
) -> DataFrame:
    """RANGE-QUERY ``changes``/``resets``: how many value changes (or
    counter drops) inside the sliding [t − frame, t) window at every
    grid step — volatility/restart dashboards' moving-window form.

    Both are CONSECUTIVE-PAIR counts, so the whole rate/increase
    difference-array machinery applies with the contribution swapped
    for an indicator: a pair covers a contiguous grid run, becomes ±1
    events, and a per-series running sum reads off every window —
    O(pairs + output) at any frame/step ratio (``events``, auto above
    ratio 32; ``explode`` below). Windows with < 2 samples drop out
    (same convention as the increase/delta family — Prometheus returns
    0 for single-sample windows; DIVERGENCES.md covers the family).

    Output: (labels, bucket_start, value).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    if kind not in ("changes", "resets"):
        raise ValueError(f"unknown changes_range kind {kind!r}")
    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if method == "auto":
        method = "events" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "events"):
        raise ValueError(f"unknown changes_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    if method == "events":
        return _increase_range_events(
            df, ts, t0, tN, frame_s, step_s, tiebreakers, contrib_mode=kind
        )
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    exploded = df.where(first <= last).select(
        "__series",
        "value",
        "timestamp",
        *[F.col(t) for t in tiebreakers],
        F.explode(
            F.sequence(
                F.timestamp_seconds(first),
                F.timestamp_seconds(last),
                F.expr(f"INTERVAL {int(step_s)} SECONDS"),
            )
        ).alias("bucket_start"),
    )
    w = Window.partitionBy("__series", "bucket_start").orderBy(
        F.col("timestamp"), *[F.col(t) for t in tiebreakers]
    )
    prev = F.lag("value").over(w)
    ind = (
        (F.col("value") != prev) if kind == "changes" else (F.col("value") < prev)
    ).cast("double")
    return (
        exploded.withColumn("__c", ind)
        .groupBy("__series", "bucket_start")
        .agg(
            F.sum(F.coalesce(F.col("__c"), F.lit(0.0))).alias("value"),
            F.count("__c").alias("__pairs"),
        )
        .where(F.col("__pairs") >= 1)
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def quantile_sketch_over_time_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    q: float = 0.9,
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 500.0,
    method: str = "auto",
) -> DataFrame:
    """RANGE-QUERY sliding quantile — the histogram-sketch member of the
    sliding family (sum/avg: difference array; max/min: bucket
    decomposition; quantile: bucketed HISTOGRAMS, because quantiles
    neither invert nor compose).

    Requires frame % step == 0. Phase 1 reduces samples to
    (series, step-bucket, value-bin) counts — one hash agg, after which
    the sample count never matters again. Phase 2 places bucket
    histograms onto the frame/step grid instants whose window contains
    them, re-aggregates per (series, t), and reads the quantile off the
    cumulative counts with the same clamped-bin linear interpolation as
    ``functions.sketches.quantile_histogram`` (within one bin width of
    the true sliding quantile). Deterministic: integer counts + IEEE
    interpolation, so the registry oracle hash-matches.

    ``method``: "explode" fans each occupied (series, bucket, bin) ROW
    onto the grid — amplification = ratio × occupied bins, the simple
    plan for small ratios. "packed" first packs each (series, bucket)'s
    bins into ONE count array (``bins`` conditional sums), fans the
    ARRAY onto the grid, and sums arrays elementwise per instant —
    amplified row count drops by the occupied-bin factor (~64× fewer
    intermediate rows at ratio 288), the same identity integer sums in a
    different grouping. "auto" picks packed above frame/step = 32 (the
    ``agg_over_time_range`` threshold).

    Output: (labels, bucket_start, n_values, q_estimate).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if frame_s % step_s != 0:
        raise ValueError("quantile sketch range mode needs frame % step == 0")
    width = (hi - lo) / bins
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    b = (t0 + F.floor((ts - t0) / step_s) * step_s).cast("long")
    vbin = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    )
    counts = (
        df.select("__series", b.alias("__b"), vbin.alias("__vbin"))
        .groupBy("__series", "__b", "__vbin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if method == "auto":
        method = "packed" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "packed"):
        raise ValueError(f"unknown quantile sketch range method {method!r}")
    # bucket [b, b+step) ⊆ window [t−frame, t)  ⟺  t ∈ [b+step, b+frame]
    first = F.greatest(F.col("__b") + F.lit(int(step_s)), t0.cast("long"))
    last = F.least(F.col("__b") + F.lit(int(frame_s)), tN.cast("long"))
    if method == "packed":
        packed = (
            counts.groupBy("__series", "__b")
            .agg(
                F.array(
                    *[
                        F.sum(
                            F.when(F.col("__vbin") == i, F.col("__c")).otherwise(
                                F.lit(0)
                            )
                        )
                        for i in range(bins)
                    ]
                ).alias("__h")
            )
        )
        summed = (
            packed.where(first <= last)
            .select(
                "__series",
                "__h",
                F.explode(
                    F.sequence(first, last, F.lit(int(step_s)))
                ).alias("__t"),
            )
            .groupBy("__series", "__t")
            .agg(
                F.array(
                    *[F.sum(F.col("__h")[i]) for i in range(bins)]
                ).alias("__h")
            )
        )
        win = (
            summed.select(
                "__series",
                "__t",
                F.posexplode("__h").alias("__vbin", "__c"),
            )
            # only occupied bins, like the explode plan — a zero-count
            # crossing row would divide by zero in the interpolation
            .where(F.col("__c") > 0)
        )
    else:
        win = (
            counts.where(first <= last)
            .select(
                "__series",
                "__vbin",
                "__c",
                F.explode(
                    F.sequence(first, last, F.lit(int(step_s)))
                ).alias("__t"),
            )
            .groupBy("__series", "__t", "__vbin")
            .agg(F.sum("__c").alias("__c"))
        )
    wb = Window.partitionBy("__series", "__t").orderBy("__vbin")
    wt = Window.partitionBy("__series", "__t")
    cum = win.select(
        "__series",
        "__t",
        "__vbin",
        "__c",
        F.sum("__c").over(wb).alias("__cum"),
        F.sum("__c").over(wt).alias("__n"),
    )
    rank = F.ceil(F.lit(q) * F.col("__n")).cast("bigint")
    hit = (
        cum.where(F.col("__cum") >= rank)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__series", "__t").orderBy("__vbin")
            ),
        )
        .where(F.col("__rn") == 1)
    )
    est = (
        F.lit(lo)
        + F.col("__vbin").cast("double") * F.lit(width)
        + F.lit(width)
        * (rank - (F.col("__cum") - F.col("__c"))).cast("double")
        / F.col("__c").cast("double")
    )
    return hit.select(
        F.map_from_entries("__series").alias("labels"),
        F.timestamp_seconds(F.col("__t")).alias("bucket_start"),
        F.col("__n").cast("bigint").alias("n_values"),
        F.round(est, 6).alias("q_estimate"),
    )


def agg_over_time_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    agg: str = "sum",
    method: str = "auto",
) -> DataFrame:
    """RANGE-QUERY ``sum/count/avg/stdvar/stddev_over_time``: the
    sliding ``[t − frame, t)`` window aggregate at every grid step —
    the Grafana moving-window pattern the tumbling stream mode (one
    bucket per step) can't express. stdvar/stddev ride the two-sums
    identity (Σv, Σv², n are all difference-arrayable; the subtraction
    is clamped at 0 against float cancellation).

    Strategies mirror ``increase_range``, one structural simplification:
    the difference array is per-SAMPLE, not per-pair — sample s covers
    the contiguous grid run (ts, ts + frame], so it becomes (+value, +1)
    at its first covered instant and the negation one step past its
    last; running (Σvalue, Σcount) per series reads off every window,
    ``avg`` divides at the end. Intermediates O(samples + output) at any
    frame/step ratio. ``explode`` (auto below ratio 32) is the simple
    per-instant groupBy; float reassociation between the two is ~1e-13
    relative (unit-tested at 1e-9). Empty windows drop out (count ≥ 1),
    matching the instant forms' empty-frame behavior.

    Output: (labels, bucket_start, value).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    if agg not in ("sum", "count", "avg", "stdvar", "stddev", "stats"):
        raise ValueError(f"unsupported agg_over_time_range agg {agg!r}")
    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    if method == "auto":
        method = "events" if frame_s / step_s > _RANGE_EXPLODE_MAX_RATIO else "explode"
    if method not in ("explode", "events"):
        raise ValueError(f"unknown agg_over_time_range method {method!r}")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    # window [t−frame, t) contains ts  ⟺  ts < t ≤ ts + frame
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    # stdvar/stddev via the two-sums identity Σv²/n − (Σv/n)² — also
    # difference-arrayable (v² events ride beside v); the subtraction
    # can dip an epsilon negative under float cancellation → clamp.
    variance = F.greatest(
        F.col("__v2") / F.col("__n")
        - (F.col("__v") / F.col("__n")) * (F.col("__v") / F.col("__n")),
        F.lit(0.0),
    )
    value_of = {
        "sum": F.col("__v"),
        "count": F.col("__n").cast("double"),
        "avg": F.col("__v") / F.col("__n"),
        "stdvar": variance,
        "stddev": F.sqrt(variance),
        # every agg above projects from the SAME (Σv, Σv², n) state —
        # "stats" exposes it whole so a caller needing several of them
        # runs ONE pass instead of re-aggregating the stream per agg
        "stats": F.struct(
            F.col("__v").alias("vsum"),
            F.col("__n").cast("bigint").alias("vcount"),
            variance.alias("vstdvar"),
        ),
    }
    if method == "explode":
        exploded = df.where(first <= last).select(
            "__series",
            "value",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(first),
                    F.timestamp_seconds(last),
                    F.expr(f"INTERVAL {int(step_s)} SECONDS"),
                )
            ).alias("bucket_start"),
        )
        return (
            exploded.groupBy("__series", "bucket_start")
            .agg(
                F.sum("value").alias("__v"),
                F.sum(F.col("value") * F.col("value")).alias("__v2"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                F.map_from_entries("__series").alias("labels"),
                "bucket_start",
                value_of[agg].alias("value"),
            )
        )
    events = (
        df.select("__series", "value", first.alias("__tmin"), last.alias("__tmax"))
        .where(F.col("__tmin") <= F.col("__tmax"))
        .select(
            "__series",
            F.explode(
                F.array(
                    F.struct(
                        F.col("__tmin").alias("t"),
                        F.col("value").alias("dv"),
                        (F.col("value") * F.col("value")).alias("dv2"),
                        F.lit(1).cast("long").alias("dc"),
                    ),
                    F.struct(
                        (F.col("__tmax") + step_s).alias("t"),
                        (-F.col("value")).alias("dv"),
                        (-F.col("value") * F.col("value")).alias("dv2"),
                        F.lit(-1).cast("long").alias("dc"),
                    ),
                )
            ).alias("e"),
        )
        .select("__series", "e.t", "e.dv", "e.dv2", "e.dc")
        .groupBy("__series", "t")
        .agg(
            F.sum("dv").alias("dv"),
            F.sum("dv2").alias("dv2"),
            F.sum("dc").alias("dc"),
        )
    )
    w2 = Window.partitionBy("__series").orderBy("t")
    cum = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = events.select(
        "__series",
        "t",
        F.sum("dv").over(cum).alias("__v"),
        F.sum("dv2").over(cum).alias("__v2"),
        F.sum("dc").over(cum).alias("__n"),
        F.lead("t").over(w2).alias("__next_t"),
    )
    seg_end = F.least(F.coalesce(F.col("__next_t") - step_s, tN), tN)
    return (
        run.where((F.col("__n") >= 1) & (F.col("t") <= seg_end))
        .select(
            "__series",
            "__v",
            "__v2",
            "__n",
            F.explode(
                F.sequence(
                    F.col("t").cast("long"),
                    seg_end.cast("long"),
                    F.lit(int(step_s)),
                )
            ).alias("__g"),
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            F.timestamp_seconds("__g").alias("bucket_start"),
            value_of[agg].alias("value"),
        )
    )


def irate_idelta_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """RANGE-QUERY ``irate``/``idelta`` in one pass: the instantaneous
    rate/delta between each sliding window's LAST TWO samples at every
    grid step (irate applies the counter-reset rule; both need ≥2
    samples, like the instant forms).

    Strategy: explode — irate/idelta are short-range functions BY DESIGN
    (Prometheus docs tell you to keep the selector range small), so the
    frame/step ratio is small and the per-instant fan-out is the honest
    plan; the per-window top-2 is one rank window over (timestamp,
    tiebreakers). Output: (labels, bucket_start, virate, videlta).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    exploded = df.where(last >= first).select(
        "__series",
        "value",
        epoch_seconds(F.col("timestamp")).alias("__ts"),
        F.struct(
            F.col("timestamp"), *[F.col(t) for t in tiebreakers]
        ).alias("__ord"),
        F.explode(
            F.sequence(
                F.timestamp_seconds(first),
                F.timestamp_seconds(last),
                F.expr(f"INTERVAL {int(step_s)} SECONDS"),
            )
        ).alias("bucket_start"),
    )
    w = Window.partitionBy("__series", "bucket_start").orderBy(
        F.col("__ord").desc()
    )
    top2 = exploded.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= 2
    )
    agg = top2.groupBy("__series", "bucket_start").agg(
        F.max(F.when(F.col("__rn") == 1, F.struct("__ts", "value"))).alias("__l"),
        F.max(F.when(F.col("__rn") == 2, F.struct("__ts", "value"))).alias("__p"),
    )
    dv = F.col("__l.value") - F.col("__p.value")
    dt = F.col("__l.__ts") - F.col("__p.__ts")
    # counter reset: a drop means restart — count the post-reset value
    inc = F.when(dv < 0, F.col("__l.value")).otherwise(dv)
    return (
        agg.where(F.col("__p").isNotNull() & (dt > 0))
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            (inc / dt).alias("virate"),
            dv.alias("videlta"),
        )
    )


def quantile_over_time_range(
    samples: DataFrame,
    q: float,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """RANGE-QUERY ``quantile_over_time(q, x[frame])`` — EXACT
    linear-interpolated quantile (Prometheus semantics; Spark's
    ``percentile`` uses the same rank interpolation) of each sliding
    window at every grid step.

    Exact quantiles neither invert nor compose, so this is the one
    sliding aggregate that genuinely pays the explode cost: every sample
    fans onto its ≤ frame/step covered instants and each window sorts
    its own values (SortAggregate by necessity). Fine at dashboard
    ratios; at wide ratios (≥ ~32) use
    ``quantile_sketch_over_time_range`` — within one bin width at
    O(bucket-histogram) cost — which is also what the registry's scale
    probe exercises.

    Output: (labels, bucket_start, value).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {q}")
    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    return (
        df.where(last >= first)
        .select(
            "__series",
            "value",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(first),
                    F.timestamp_seconds(last),
                    F.expr(f"INTERVAL {int(step_s)} SECONDS"),
                )
            ).alias("bucket_start"),
        )
        .groupBy("__series", "bucket_start")
        .agg(F.percentile("value", q).alias("value"))
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def mad_over_time_range(
    samples: DataFrame,
    *,
    frame: str,
    step: str,
    start: datetime,
    end: datetime,
) -> DataFrame:
    """RANGE-QUERY ``mad_over_time(x[frame])`` — median absolute
    deviation of each sliding window (the experimental PromQL function,
    same interpolated-median convention as ``mad_over_time``). MAD is
    two DEPENDENT quantiles (the deviations need the window median
    first), so it pays the explode cost twice: exploded values → median
    per (series, t) → join back → median of |v − med|. Like exact
    quantile, this is the dashboard-ratio form; there is no
    sketch-compose shortcut because the second median's input depends on
    the first."""
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    exploded = (
        df.where(last >= first)
        .select(
            "__series",
            "value",
            F.explode(
                F.sequence(
                    F.timestamp_seconds(first),
                    F.timestamp_seconds(last),
                    F.expr(f"INTERVAL {int(step_s)} SECONDS"),
                )
            ).alias("bucket_start"),
        )
    )
    med = exploded.groupBy("__series", "bucket_start").agg(
        F.percentile("value", 0.5).alias("__med")
    )
    return (
        exploded.join(med, ["__series", "bucket_start"])
        .groupBy("__series", "bucket_start")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("__med")), 0.5).alias(
                "value"
            )
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            "bucket_start",
            "value",
        )
    )


def present_over_time_range(
    samples: DataFrame, *, frame: str, step: str, start: datetime, end: datetime
) -> DataFrame:
    """RANGE-QUERY ``present_over_time(x[frame])``: 1.0 at every grid
    step whose sliding window holds any sample of the series — the
    windowed count collapsed to presence (rides the count difference
    array, so wide ratios stay O(samples + output))."""
    return agg_over_time_range(
        samples, agg="count", frame=frame, step=step, start=start, end=end
    ).select("labels", "bucket_start", F.lit(1.0).alias("value"))


def absent_over_time_range(
    samples: DataFrame, *, frame: str, step: str, start: datetime, end: datetime
) -> DataFrame:
    """RANGE-QUERY ``absent_over_time(x[frame])``: 1.0 (empty label set)
    at every grid step whose sliding window holds NO sample of the
    SELECTOR — the alerting "did it go silent" primitive, and the exact
    dual of ``present_over_time_range`` under the engine-wide half-open
    [t−frame, t) convention.

    Presence reduces to a distinct-instant set over the (usually rare)
    matching samples; the absent vector is the tiny grid anti-joined
    against it — output and intermediates are O(steps), never
    O(samples × steps).
    """
    from prom_etl_db_spark.timeparse import parse_duration

    frame_td, step_td = parse_duration(frame), parse_duration(step)
    frame_s, step_s = frame_td.total_seconds(), step_td.total_seconds()
    if step_s <= 0 or frame_s <= 0:
        raise ValueError("frame and step must be positive durations")
    df = _frame(samples, start - frame_td, end)
    ts = epoch_seconds(F.col("timestamp"))
    t0 = F.lit(start.timestamp())
    tN = F.lit(end.timestamp())
    first, last = _grid_bounds(ts, t0, tN, frame_s, step_s)
    present = (
        df.where(last >= first)
        .select(
            F.explode(
                F.sequence(
                    first.cast("long"), last.cast("long"), F.lit(int(step_s))
                )
            ).alias("__t")
        )
        .distinct()
    )
    n_steps = int((end - start).total_seconds() // step_s) + 1
    grid = samples.sparkSession.range(0, n_steps).select(
        (F.lit(int(start.timestamp())) + F.col("id") * int(step_s)).alias("__t")
    )
    return grid.join(present, "__t", "left_anti").select(
        F.create_map().cast("map<string,string>").alias("labels"),
        F.timestamp_seconds("__t").alias("bucket_start"),
        F.lit(1.0).alias("value"),
    )


def _frame(samples: DataFrame, frame_start: datetime, frame_end: datetime) -> DataFrame:
    """[frame_start, frame_end) filter + series key; the time predicate
    sits before any shuffle so it pushes into the scan."""
    return samples.where(
        (F.col("timestamp") >= F.lit(frame_start))
        & (F.col("timestamp") < F.lit(frame_end))
    ).withColumn("__series", _series(F.col("labels")))


def _dedup_ts(keyed: DataFrame, tiebreakers: Sequence[str]) -> DataFrame:
    """Resolve duplicate (series, timestamp) samples deterministically —
    argmax by the tiebreakers, in their own hash phase (same pattern and
    rationale as ``resample``). No-op cost when ``tiebreakers`` is empty
    is avoided by the caller checking first."""
    order = (
        F.col(tiebreakers[0])
        if len(tiebreakers) == 1
        else F.struct(*[F.col(t) for t in tiebreakers])
    )
    return keyed.groupBy("__series", "timestamp").agg(
        F.max_by(F.col("value"), order).alias("value")
    )


def delta(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Gauge ``delta(x[frame])``: last value minus first value per series.
    ``max_by``/``min_by`` on the single-primitive timestamp — one
    HashAggregate, no window sort. ``tiebreakers`` make duplicate-
    timestamp samples deterministic (same contract as ``resample`` /
    ``increase`` — without them Spark's max_by picks arbitrarily).

    Divergence, documented (same policy as ``increase``): Prometheus
    extrapolates to the window boundaries; we return the observed
    difference — exact over stored data, no estimation.
    """
    df = _frame(samples, frame_start, frame_end)
    if tiebreakers:
        df = _dedup_ts(df, tiebreakers)
    return (
        df.groupBy("__series")
        .agg(
            (
                F.max_by("value", "timestamp") - F.min_by("value", "timestamp")
            ).alias("value")
        )
        .select(F.map_from_entries("__series").alias("labels"), "value")
    )


def _regression(df: DataFrame, t0: datetime) -> DataFrame:
    """Per-series least-squares fit of value against time: slope =
    covar_pop(t, v) / var_pop(t), intercept via the means. Times are
    centered on ``t0`` before aggregating — epoch seconds are ~1.7e9 and
    uncentered second moments lose the digits the slope lives in.
    All four moments ride ONE hash aggregation."""
    t = epoch_seconds(F.col("timestamp")) - F.lit(t0.timestamp())
    return df.groupBy("__series").agg(
        F.covar_pop(t, F.col("value")).alias("__cov"),
        F.var_pop(t).alias("__var"),
        F.avg(t).alias("__t_mean"),
        F.avg("value").alias("__v_mean"),
        F.count(F.lit(1)).alias("__n"),
    )


def deriv(
    samples: DataFrame,
    *,
    frame_start: datetime,
    frame_end: datetime,
) -> DataFrame:
    """``deriv(x[frame])``: per-second least-squares slope of each series
    (PromQL uses simple linear regression, not first/last). Series with
    fewer than two points drop out, like PromQL."""
    reg = _regression(_frame(samples, frame_start, frame_end), frame_start)
    return (
        reg.where((F.col("__n") >= 2) & (F.col("__var") > 0))
        .select(
            F.map_from_entries("__series").alias("labels"),
            (F.col("__cov") / F.col("__var")).alias("value"),
        )
    )


def predict_linear(
    samples: DataFrame,
    horizon_seconds: float,
    *,
    frame_start: datetime,
    frame_end: datetime,
) -> DataFrame:
    """``predict_linear(x[frame], t)``: extrapolate each series'
    least-squares line to ``frame_end + horizon_seconds``. Prediction =
    v̄ + slope · (t_pred − t̄) — same single-pass moments as ``deriv``."""
    reg = _regression(_frame(samples, frame_start, frame_end), frame_start)
    t_pred = (frame_end - frame_start).total_seconds() + horizon_seconds
    slope = F.col("__cov") / F.col("__var")
    return (
        reg.where((F.col("__n") >= 2) & (F.col("__var") > 0))
        .select(
            F.map_from_entries("__series").alias("labels"),
            (F.col("__v_mean") + slope * (F.lit(t_pred) - F.col("__t_mean"))).alias(
                "value"
            ),
        )
    )


# -- label manipulation / offset / math ------------------------------------


def label_replace(
    df: DataFrame, dst: str, replacement: str, src: str, regex: str
) -> DataFrame:
    """PromQL ``label_replace(v, dst, replacement, src, regex)``: when
    ``regex`` matches the ENTIRE value of label ``src`` (missing label =
    ""), set ``dst`` to the expanded replacement ($1-style backrefs);
    an empty expansion removes ``dst``; on no match the series is
    unchanged. Pure map expressions — no shuffle, no UDF."""
    anchored = f"^(?:{regex})$"
    src_val = F.coalesce(F.element_at(F.col("labels"), src), F.lit(""))
    new_val = F.regexp_replace(src_val, anchored, replacement)
    without_dst = F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst))
    replaced = F.when(
        new_val == "", without_dst
    ).otherwise(F.map_concat(without_dst, F.create_map(F.lit(dst), new_val)))
    out = df.withColumn(
        "labels", F.when(src_val.rlike(anchored), replaced).otherwise(F.col("labels"))
    )
    # a pre-existing __series key would be STALE after the rewrite —
    # _ensure_series trusts it and would silently regroup (and rebuild
    # labels) under the pre-rewrite identity
    return out.drop("__series") if "__series" in out.columns else out


def label_join(
    df: DataFrame, dst: str, sep: str, srcs: Sequence[str]
) -> DataFrame:
    """PromQL ``label_join(v, dst, sep, src...)``: ``dst`` = source label
    values joined by ``sep`` (missing labels contribute ""); an all-empty
    result removes ``dst``."""
    vals = [
        F.coalesce(F.element_at(F.col("labels"), s), F.lit("")) for s in srcs
    ]
    joined = F.concat_ws(sep, *vals)
    without_dst = F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst))
    out = df.withColumn(
        "labels",
        F.when(joined == "", without_dst).otherwise(
            F.map_concat(without_dst, F.create_map(F.lit(dst), joined))
        ),
    )
    # same staleness rule as label_replace: the old series key must not
    # survive a label rewrite
    return out.drop("__series") if "__series" in out.columns else out


def offset(df: DataFrame, duration: str) -> DataFrame:
    """PromQL ``offset`` modifier: a selector at eval time *t* reads data
    from *t − offset*. Shifting every sample's timestamp FORWARD by the
    offset makes all downstream selectors/frames see the past — a pure
    projection, pushdown-friendly (the shifted predicate still prunes)."""
    return df.withColumn(
        "timestamp", F.col("timestamp") + F.expr(f"INTERVAL {duration}")
    )


def clamp(df: DataFrame, lo: float, hi: float) -> DataFrame:
    """``clamp(v, lo, hi)`` — elementwise, no shuffle."""
    return df.withColumn(
        "value", F.least(F.greatest(F.col("value"), F.lit(lo)), F.lit(hi))
    )


def clamp_min(df: DataFrame, lo: float) -> DataFrame:
    return df.withColumn("value", F.greatest(F.col("value"), F.lit(lo)))


def clamp_max(df: DataFrame, hi: float) -> DataFrame:
    return df.withColumn("value", F.least(F.col("value"), F.lit(hi)))


def absent(df: DataFrame) -> DataFrame:
    """PromQL ``absent(v)``: one ``{value: 1.0}`` row iff the vector is
    empty, else no rows. A single global count-aggregate (partial combine,
    one 1-row shuffle) — never a ``collect()``."""
    return (
        df.agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == 0)
        .select(
            F.create_map().cast("map<string,string>").alias("labels"),
            F.lit(1.0).alias("value"),
        )
    )


# -- histogram_quantile ----------------------------------------------------


def histogram_quantile(buckets: DataFrame, q: float, *, le_label: str = "le") -> DataFrame:
    """PromQL ``histogram_quantile(q, x)`` over classic cumulative
    ``le``-bucket series: group buckets on the series-minus-``le`` labels,
    find the bucket where the cumulative count crosses q·total, linearly
    interpolate inside it (lower bound 0 for the first bucket; the
    quantile landing in the ``+Inf`` bucket returns the highest finite
    bound — Prometheus's behavior).

    One window per histogram (ordered by ``le``) for the neighbor
    cumulative counts + one unordered max for the total: a single
    shuffle on the histogram key, sort only within each histogram's
    handful of buckets.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {q}")
    le_str = F.element_at(F.col("labels"), le_label)
    # try_cast, not cast: ANSI mode is on, and one malformed le value
    # (e.g. "0.5s" from a broken exporter) must drop that bucket row,
    # not abort the whole query
    le = F.when(
        F.lower(le_str).isin("+inf", "inf", "infinity"), F.lit(float("inf"))
    ).otherwise(le_str.try_cast("double"))
    grp = _series(_project_labels_without(F.col("labels"), [le_label]))
    df = buckets.select(
        grp.alias("__grp"), le.alias("__le"), F.col("value").alias("__cum")
    ).where(F.col("__le").isNotNull())  # malformed le → skip the bucket
    w = Window.partitionBy("__grp").orderBy("__le")
    w_all = Window.partitionBy("__grp")
    df = df.select(
        "__grp",
        "__le",
        "__cum",
        F.lag("__cum").over(w).alias("__prev_cum"),
        F.lag("__le").over(w).alias("__prev_le"),
        F.max("__cum").over(w_all).alias("__total"),
        (F.max("__cum").over(w_all) * F.lit(q)).alias("__target"),
    )
    crossing = df.where(
        (F.col("__cum") >= F.col("__target"))
        & (F.col("__prev_cum").isNull() | (F.col("__prev_cum") < F.col("__target")))
    )
    lower = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    prev_cum = F.coalesce(F.col("__prev_cum"), F.lit(0.0))
    # try_divide, not /: an EMPTY histogram (total 0 → target 0 crossing
    # its own all-zero first bucket) divides 0/0, and under ANSI mode a
    # single empty histogram in the input would abort the WHOLE query
    # (r8 adversarial seam pass). Prometheus returns NaN for it.
    interpolated = lower + (F.col("__le") - lower) * F.try_divide(
        F.col("__target") - prev_cum, F.col("__cum") - prev_cum
    )
    return crossing.select(
        F.map_from_entries("__grp").alias("labels"),
        # Prometheus (promql/quantile.go): a histogram with zero
        # observations has no quantile — NaN
        F.when(F.col("__total") == 0.0, F.lit(float("nan")))
        .when(F.col("__le") == float("inf"), F.col("__prev_le"))
        # Prometheus (promql/quantile.go): the first bucket interpolates
        # from 0 only when its upper bound is POSITIVE; a first bucket at
        # le <= 0 returns the bound itself — interpolating toward 0 from
        # the wrong side would exceed the bucket's own upper bound
        .when(F.col("__prev_le").isNull() & (F.col("__le") <= 0), F.col("__le"))
        .otherwise(interpolated)
        .alias("value"),
    )


def histogram_fraction(
    buckets: DataFrame, lo: float, hi: float, *, le_label: str = "le"
) -> DataFrame:
    """PromQL ``histogram_fraction(lo, hi, x)`` over classic cumulative
    ``le``-bucket series: the estimated fraction of observations in
    (lo, hi], via the same linear interpolation of cumulative counts
    that ``histogram_quantile`` inverts — fraction = (cum(hi) − cum(lo))
    / total.

    Interpolated cum(x): inside bucket (prev_le, le], cum grows linearly;
    x at a bound returns that bound's exact count; x landing in the +Inf
    bucket returns the last finite cumulative count (the finite mass —
    the dual of quantile's highest-finite-bound answer).

    Same plan shape as histogram_quantile: explode the TWO probe bounds,
    one ordered window per histogram for bucket neighbors, one hash agg
    to difference the two interpolants. Single shuffle on the histogram
    key.
    """
    if not lo < hi:
        raise ValueError(f"need lo < hi, got {lo} >= {hi}")
    le_str = F.element_at(F.col("labels"), le_label)
    le = F.when(
        F.lower(le_str).isin("+inf", "inf", "infinity"), F.lit(float("inf"))
    ).otherwise(le_str.try_cast("double"))
    grp = _series(_project_labels_without(F.col("labels"), [le_label]))
    df = buckets.select(
        grp.alias("__grp"), le.alias("__le"), F.col("value").alias("__cum")
    ).where(F.col("__le").isNotNull())
    probes = df.select(
        "__grp",
        "__le",
        "__cum",
        F.explode(F.array(F.lit(float(lo)), F.lit(float(hi)))).alias("__x"),
    )
    w = Window.partitionBy("__grp", "__x").orderBy("__le")
    w_all = Window.partitionBy("__grp", "__x")
    rows = probes.select(
        "__grp",
        "__x",
        "__le",
        "__cum",
        F.lag("__cum").over(w).alias("__prev_cum"),
        F.lag("__le").over(w).alias("__prev_le"),
        F.max("__cum").over(w_all).alias("__total"),
    )
    covering = rows.where(
        (F.coalesce(F.col("__prev_le"), F.lit(float("-inf"))) < F.col("__x"))
        & (F.col("__x") <= F.col("__le"))
    )
    lower = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    prev_cum = F.coalesce(F.col("__prev_cum"), F.lit(0.0))
    # try_divide: a FIRST bucket at le == 0 (lower coalesces to 0) with a
    # probe landing in it divides by zero — under ANSI one such bucket
    # aborts the whole query (r8 seam pass). The bucket is degenerate
    # (zero width, all its mass AT le): a probe at le takes the full
    # count, a probe below it none.
    ic = F.when(F.col("__le") == float("inf"), prev_cum).otherwise(
        prev_cum
        + F.coalesce(
            (F.col("__cum") - prev_cum)
            * F.try_divide(F.col("__x") - lower, F.col("__le") - lower),
            F.when(F.col("__x") >= F.col("__le"), F.col("__cum") - prev_cum)
            .otherwise(F.lit(0.0)),
        )
    )
    # clamp to the bucket's count range: a probe BELOW the first bucket's
    # implicit 0 lower bound would extrapolate a negative cumulative
    # count (and a fraction outside [0, 1]); counts below 0 or above the
    # bucket's own cum are never meaningful
    ic = F.greatest(F.lit(0.0), F.least(ic, F.col("__cum")))
    return (
        covering.select("__grp", "__x", ic.alias("__ic"), "__total")
        .groupBy("__grp")
        .agg(
            # try_divide + NaN: an empty histogram (total 0) has no
            # fraction — Prometheus returns NaN; ANSI would abort
            F.coalesce(
                F.try_divide(
                    F.max(F.when(F.col("__x") == float(hi), F.col("__ic")))
                    - F.max(F.when(F.col("__x") == float(lo), F.col("__ic"))),
                    F.max("__total"),
                ),
                F.lit(float("nan")),
            ).alias("value")
        )
        .select(F.map_from_entries("__grp").alias("labels"), "value")
    )


def topk_over_time(
    resampled: DataFrame,
    k: int,
    *,
    unit: str = "DAY",
) -> DataFrame:
    """Top-k series per coarse bucket by summed step values — the
    "which series dominated each day" dashboard pattern (topk applied
    per window rather than at one instant).

    One hash agg to (series, bucket) partials, then a rank window
    PARTITIONED BY BUCKET — the sort is over series-per-bucket
    aggregates (cardinality-bounded), never raw samples. Ties break on
    the series key for determinism.

    Output: (labels, bucket_start, value, rnk).
    """
    keyed = _ensure_series(resampled)
    agg = keyed.groupBy(
        "__series", F.date_trunc(unit, F.col("bucket_start")).alias("__b")
    ).agg(F.sum("value").alias("value"))
    # tie-break on the entries ARRAY itself (elementwise struct compare:
    # label key then value, in sorted-key order) — NOT its string cast,
    # whose rendered separators sort '}' above digits, ranking k="1"
    # AFTER k="10" and diverging from any SQL (k, name) tiebreak
    w = Window.partitionBy("__b").orderBy(F.desc("value"), F.col("__series"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            F.map_from_entries("__series").alias("labels"),
            F.col("__b").alias("bucket_start"),
            "value",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def double_exponential_smoothing(
    samples: DataFrame,
    smoothing: float,
    trend: float,
    *,
    frame_start: datetime,
    frame_end: datetime,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """PromQL ``double_exponential_smoothing(x[frame], sf, tf)`` (named
    ``holt_winters`` before Prometheus 3): per series, the Holt linear
    recurrence over the frame's samples in time order, returning the
    final smoothed level. Series with fewer than two points drop out.
    The recurrence is order-sensitive, so duplicate timestamps need
    ``tiebreakers`` for determinism (same contract as ``resample``).

    This is THE genuinely sequential operator (each step needs the
    previous state), so it runs as ``applyInPandas`` — one Arrow batch
    per series, the tight loop in numpy-backed pandas, parallelism =
    series cardinality (case (b) of the custom-operator hierarchy:
    composition can't express a data-dependent recurrence). The group
    key is the canonical sorted-entries JSON so the label map survives
    the pandas round-trip losslessly.
    """
    if not (0 < smoothing < 1 and 0 < trend < 1):
        raise ValueError("smoothing and trend factors must be in (0, 1)")
    framed = _frame(samples, frame_start, frame_end)
    if tiebreakers:
        framed = _dedup_ts(framed, tiebreakers)
    keyed = framed.select(
        F.to_json(F.map_from_entries(F.col("__series"))).alias("__sk"),
        "timestamp",
        "value",
    )

    def smooth(pdf):
        import pandas as pd

        pdf = pdf.sort_values("timestamp", kind="stable")
        v = pdf["value"].to_numpy()
        if len(v) < 2:
            return pd.DataFrame({"__sk": [], "value": []})
        s, b = v[0], v[1] - v[0]
        for x in v[1:]:
            s_prev = s
            s = smoothing * x + (1 - smoothing) * (s + b)
            b = trend * (s - s_prev) + (1 - trend) * b
        return pd.DataFrame({"__sk": [pdf["__sk"].iloc[0]], "value": [float(s)]})

    out = keyed.groupBy("__sk").applyInPandas(smooth, "__sk string, value double")
    return out.select(
        F.from_json("__sk", "map<string,string>").alias("labels"), "value"
    )


def gapfill_locf(resampled: DataFrame, step: str, *, until: datetime | None = None) -> DataFrame:
    """B8: densify the step grid per series and forward-fill gaps
    (last-observation-carried-forward), PromQL staleness-style.

    Grid generation is `sequence()` + explode per series (distributed — no
    driver loop); the fill is one ordered window per series with
    ``last(value, ignorenulls=True)``.
    """
    keyed = _ensure_series(resampled)
    step_expr = F.expr(f"INTERVAL {step.strip()}")
    bounds = keyed.groupBy("__series").agg(
        F.min("bucket_start").alias("lo"),
        (F.lit(until) if until is not None else F.max("bucket_start")).alias("hi"),
    )
    # a series whose first bucket is AFTER `until` has an empty grid —
    # sequence(lo, hi) with lo > hi throws, so guard and drop the series
    # (there is nothing to carry forward into the window anyway)
    grid = bounds.where(F.col("lo") <= F.col("hi")).select(
        "__series",
        F.explode(F.sequence(F.col("lo"), F.col("hi"), step_expr)).alias("bucket_start"),
    )
    joined = grid.join(
        keyed.select("__series", "bucket_start", "value"),
        ["__series", "bucket_start"],
        "left",
    )
    w = (
        Window.partitionBy("__series")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.withColumn(
        "value", F.last("value", ignorenulls=True).over(w)
    ).withColumn("labels", F.map_from_entries("__series"))


# -- calendar / sign functions (round 5) -------------------------------------


def time_component_columns(v_seconds: Column) -> dict[str, Column]:
    """PromQL's calendar function family (`year month day_of_month
    day_of_week day_of_year days_in_month hour minute` — Prometheus
    docs/querying/functions) over a vector of epoch SECONDS, computed
    TIMEZONE-FREE in pure integer Column arithmetic via Hinnant's
    civil-from-days algorithm (https://howardhinnant.github.io/
    date_algorithms.html). Using `F.year(timestamp_seconds(v))` would
    silently read the SESSION timezone — the vanilla driver session
    makes that a real trap; closed-form integer math is deterministic
    everywhere and stays inside whole-stage codegen. The DuckDB oracle
    extracts the same components with its own calendar library, so the
    driver hash cross-checks two independent civil-calendar
    implementations (the NFC pattern)."""
    v = v_seconds.cast("long")
    days = F.floor(v / 86400).cast("long")
    # civil_from_days (valid for all days >= -719468, i.e. year >= 0)
    z = days + F.lit(719468)
    era = F.floor(z / 146097).cast("long")
    doe = z - era * 146097
    yoe = F.floor(
        (doe - F.floor(doe / 1460) + F.floor(doe / 36524) - F.floor(doe / 146096))
        / 365
    ).cast("long")
    y0 = yoe + era * 400
    doy0 = doe - (yoe * 365 + F.floor(yoe / 4) - F.floor(yoe / 100))
    mp = F.floor((doy0 * 5 + 2) / 153).cast("long")
    dom = doy0 - F.floor((mp * 153 + 2) / 5) + 1
    month = F.when(mp < 10, mp + 3).otherwise(mp - 9)
    year = F.when(month <= 2, y0 + 1).otherwise(y0)
    leap = ((year % 4 == 0) & (year % 100 != 0)) | (year % 400 == 0)
    days_in_month = (
        F.when(month == 2, F.when(leap, 29).otherwise(28))
        .when(month.isin(4, 6, 9, 11), 30)
        .otherwise(31)
    )
    # day-of-year via days_from_civil(year, 1, 1): epoch day of Jan 1 is
    # 365·(y−1) + leaps(y−1) − 719162 (719162 = days from 0001-01-01 to
    # 1970-01-01 in the proleptic Gregorian calendar; pinned by tests
    # against datetime.toordinal)
    yj = year - 1
    jan1 = (
        yj * 365 + F.floor(yj / 4) - F.floor(yj / 100) + F.floor(yj / 400) - 719162
    )
    doy = days - jan1 + 1
    return {
        "year": year.cast("int"),
        "month": month.cast("int"),
        "day_of_month": dom.cast("int"),
        "day_of_week": ((days + 4) % 7).cast("int"),  # 0 = Sunday
        "day_of_year": doy.cast("int"),
        "days_in_month": days_in_month.cast("int"),
        "hour": ((F.floor(v / 3600)) % 24).cast("int"),
        "minute": ((F.floor(v / 60)) % 60).cast("int"),
    }


def _null_safe_join_back(
    base: DataFrame, asm: DataFrame, keys: list[str]
) -> DataFrame:
    """LEFT-join ``asm`` back onto ``base`` on ``keys`` with NULL-SAFE
    equality (r9 code-review fix: a plain `on=[names]` join misses
    NULL series keys — e.g. a NULL attrs map canonicalizing to a NULL
    __attrs_key — so the reassembled arrays silently came back NULL
    and coalesced to zeros/raw deltas; windows treat NULL as a normal
    partition value, and the join must agree)."""
    right = asm
    for k in keys:
        right = right.withColumnRenamed(k, f"__r_{k}")
    cond = None
    for k in keys:
        c = base[k].eqNullSafe(right[f"__r_{k}"])
        cond = c if cond is None else (cond & c)
    return base.join(right, on=cond, how="left").drop(
        *[f"__r_{k}" for k in keys])


def _otlp_series_frame(
    points: DataFrame, series_cols: Sequence[str]
) -> tuple[DataFrame, list[str], bool]:
    """Materialize the series partition for the temporality operators.

    OTLP series identity is (metric, point attributes) — r9 ADVICE fix:
    the bare ``series_cols`` default omitted the attrs map, silently
    interleaving two attr-distinct series of one metric into a single
    running sum. Whenever the frame carries an ``attrs`` map column not
    already named in ``series_cols``, a canonical sorted-JSON attrs key
    joins the partitioning (maps can't be partition keys directly).
    Returns (frame, partition column names, added-helper flag)."""
    cols = list(series_cols)
    if "attrs" in points.columns and "attrs" not in cols:
        pts = points.withColumn(
            "__attrs_key",
            F.to_json(F.array_sort(F.map_entries(F.col("attrs")))),
        )
        return pts, cols + ["__attrs_key"], True
    return points, cols, False


def otlp_delta_to_cumulative(
    points: DataFrame,
    *,
    series_cols: Sequence[str] = ("metric_name",),
    ts_col: str = "time_unix_nano",
    value_col: str = "value_double",
) -> DataFrame:
    """OTLP AggregationTemporality normalization (later r8): convert
    DELTA sums (temporality = 1 — each point carries only the change
    since the previous report, the OTLP SDKs' default for counters on
    some runtimes) into the CUMULATIVE form (temporality = 2) every
    Prometheus-side operator here expects — Prometheus's own OTLP
    endpoint does this conversion behind its
    ``otlp-deltatocumulative`` feature.

    Rules:
    - delta points accumulate per series in time order (running sum —
      negative deltas are legal for non-monotonic sums);
    - cumulative points pass through verbatim;
    - UNSPECIFIED temporality (0) refuses loudly — guessing silently
      double-counts or halves rates;
    - a series MIXING delta and cumulative points refuses loudly — the
      running sum of a mixed stream is meaningless and there is no
      spec-defined repair.

    - DELTA points at a DUPLICATE (series, timestamp) refuse loudly
      (r9 seam fix): the window order is a tie there, so the running
      sum's intermediates are nondeterministic under replay, and a
      duplicate-timestamp delta stream is a double-delivery signal —
      OTLP's single-writer rule makes it producer misbehavior.

    Output: the input columns with ``value_col`` replaced by the
    cumulative value and ``temporality`` forced to 2. Plan: two window
    functions over ONE partitioning (a single shuffle keyed on the
    series — metric + canonical attrs key when the frame carries an
    ``attrs`` map; see ``_otlp_series_frame``).
    """
    pts, scols, added = _otlp_series_frame(points, series_cols)
    order_w = Window.partitionBy(*scols).orderBy(ts_col)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span_w = Window.partitionBy(*scols)
    ts_w = Window.partitionBy(*scols, ts_col)
    t = F.col("temporality")
    checked = (
        F.when(
            t == 0,
            F.raise_error(F.lit(
                "otlp_delta_to_cumulative: UNSPECIFIED aggregation "
                "temporality — refusing to guess (delta vs cumulative "
                "changes every downstream rate)")),
        )
        .when(
            F.min("temporality").over(span_w)
            != F.max("temporality").over(span_w),
            F.raise_error(F.lit(
                "otlp_delta_to_cumulative: series mixes DELTA and "
                "CUMULATIVE points — no spec-defined repair exists")),
        )
        .when(
            (t == 1) & (F.count(F.lit(1)).over(ts_w) > 1),
            F.raise_error(F.lit(
                "otlp_delta_to_cumulative: duplicate timestamp within "
                "one DELTA series — accumulation order is undefined "
                "(double delivery?)")),
        )
        .otherwise(t)
    )
    cum = F.when(
        checked == 1, F.sum(value_col).over(run_w)
    ).otherwise(F.col(value_col))
    out = pts.withColumn(value_col, cum).withColumn(
        "temporality", F.lit(2).cast("int")
    )
    return out.drop("__attrs_key") if added else out


def info_enrich(
    samples: DataFrame,
    info: DataFrame,
    *,
    identifying: Sequence[str] = ("instance", "job"),
    data_labels: Sequence[str] | None = None,
) -> DataFrame:
    """PromQL ``info()`` (Prometheus 3.x experimental; previously the
    ``* on(...) group_left(...) target_info`` join idiom): enrich each
    sample's labels with the DATA labels of the info series sharing
    its identifying labels.

    - ``samples`` and ``info`` are sample frames (labels map + value
      columns); info series are rows of an info METRIC (target_info /
      build_info — value 1, identity = identifying labels, payload =
      every other label).
    - ``identifying`` names the join labels (Prometheus's default
      identifying set is (instance, job)).
    - ``data_labels`` optionally restricts which payload labels copy
      over (the function's data-label-selector argument); None copies
      all non-identifying info labels.
    - CONFLICTS refuse loudly (F.raise_error): two info series for the
      same identifying key with different payloads, or a payload label
      colliding with a label the sample already carries — Prometheus
      errors on both, and silently picking one mislabels every
      downstream aggregate.
    - samples with NO matching info series pass through unchanged
      (left join — info enrichment must never drop data).

    Plan: distinct info payloads per key (one small hash agg) →
    broadcast left join on the identifying values → map_concat. The
    info side is per-target metadata — broadcast-class by
    construction."""
    id_cols = [
        F.col("labels")[k].alias(f"__id_{k}") for k in identifying
    ]
    payload = F.map_filter(
        F.col("labels"),
        lambda k, _: ~k.isin([*identifying, "__name__"])
        if data_labels is None
        else k.isin(list(data_labels)),
    )
    info_keyed = info.select(*id_cols, payload.alias("__payload"))
    # one payload per identifying key; >1 distinct payload = conflict
    info_agg = info_keyed.groupBy(
        *[f"__id_{k}" for k in identifying]
    ).agg(
        F.first("__payload").alias("__payload"),
        F.count_distinct(
            F.to_json(F.array_sort(F.map_entries("__payload")))
        ).alias("__n_payloads"),
    ).withColumn(
        "__payload",
        F.when(
            F.col("__n_payloads") > 1,
            F.raise_error(F.lit(
                "info_enrich: conflicting info series for one "
                "identifying key — refusing to pick one")),
        ).otherwise(F.col("__payload")),
    ).drop("__n_payloads")
    joined = samples.join(
        F.broadcast(info_agg),
        on=[
            samples["labels"][k].eqNullSafe(info_agg[f"__id_{k}"])
            for k in identifying
        ],
        how="left",
    )
    collision = F.exists(
        F.map_keys(F.coalesce(F.col("__payload"),
                              F.expr("map()"))),
        lambda k: F.map_contains_key(F.col("labels"), k),
    )
    enriched = F.when(
        collision,
        F.raise_error(F.lit(
            "info_enrich: info payload label collides with an "
            "existing sample label — refusing to overwrite")),
    ).otherwise(
        F.map_concat(
            F.col("labels"),
            F.coalesce(F.col("__payload"),
            F.expr("CAST(map() AS map<string,string>)")),
        )
    )
    return joined.withColumn("labels", enriched).drop(
        "__payload", *[f"__id_{k}" for k in identifying]
    )


def otlp_delta_hist_to_cumulative(
    points: DataFrame,
    *,
    series_cols: Sequence[str] = ("metric_name",),
    ts_col: str = "time_unix_nano",
) -> DataFrame:
    """OTLP temporality normalization for CLASSIC histograms (later
    r8): DELTA histogram points (each carrying only the bucket counts
    observed since the previous report) accumulate BUCKET-WISE per
    series into the cumulative form the le-mapping quantile path
    expects; cumulative points pass through.

    Refusals (all loud, all at evaluation):
    - UNSPECIFIED temporality (0) — guessing changes every rate;
    - a series mixing delta and cumulative points;
    - explicit_bounds CHANGING mid-series — bucket-wise addition
      across different boundaries mis-attributes counts (the same
      rule as NHCB increase; boundaries are data here too);
    - bucket_counts LENGTH changing mid-series (r9 ADVICE fix — a
      mismatched-length array previously made zip_with emit NULL
      bucket entries silently);
    - a DUPLICATE (series, timestamp) among delta points (r9 seam
      fix — ties make the accumulation order nondeterministic under
      replay, and duplicate-timestamp deltas signal double delivery);
    - EXPONENTIAL histograms with delta temporality — they take the
      scale-aware path (``otlp_delta_exp_hist_to_cumulative``); this
      operator redirects loudly rather than mis-summing across
      scales.

    A delta point with a NULL ``sum`` nulls the cumulative sum from
    that point on (r9 ADVICE fix — previously the running F.sum
    silently treated it as a 0 contribution; OTLP's sum field is
    optional, and a partial sum is a wrong sum).

    Plan (r9 linearization — the r8 form folded a running
    collect_list prefix, O(points²·buckets) per series, invisible at
    the fixture's 2 points/series): bounds are constant per delta
    series (enforced above), so bucket index IS bucket identity —
    posexplode the bucket array, one running ``sum`` window per
    (series, bucket_idx), reassemble ordered, join back on the
    series row number. Linear in points×buckets — exactly the output
    size — at the cost of two extra exchanges over the r8 shape
    (probed on the points-per-series axis in tools/scale_probe.py
    --depth)."""
    pts, scols, _ = _otlp_series_frame(points, series_cols)
    t = F.col("temporality")
    is_exp = F.col("data_type") == "exponential_histogram"
    order_w = Window.partitionBy(*scols).orderBy(ts_col)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span_w = Window.partitionBy(*scols)
    ts_w = Window.partitionBy(*scols, ts_col)
    bounds_key = F.to_json(F.col("explicit_bounds"))
    checked = (
        F.when(
            t == 0,
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: UNSPECIFIED aggregation "
                "temporality — refusing to guess")),
        )
        .when(
            F.min("temporality").over(span_w)
            != F.max("temporality").over(span_w),
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: series mixes DELTA and "
                "CUMULATIVE points — no spec-defined repair exists")),
        )
        .when(
            is_exp & (t == 1),
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: delta EXPONENTIAL "
                "histograms take the scale-aware path — use "
                "otlp_delta_exp_hist_to_cumulative")),
        )
        .when(
            (t == 1)
            & (F.min(bounds_key).over(span_w)
               != F.max(bounds_key).over(span_w)),
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: explicit_bounds changed "
                "mid-series — bucket-wise addition across different "
                "boundaries mis-attributes counts")),
        )
        .when(
            (t == 1)
            & (F.min(F.size("bucket_counts")).over(span_w)
               != F.max(F.size("bucket_counts")).over(span_w)),
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: bucket_counts length "
                "changed mid-series — bucket-wise addition would "
                "silently null the tail")),
        )
        .when(
            (t == 1) & (F.count(F.lit(1)).over(ts_w) > 1),
            F.raise_error(F.lit(
                "otlp_delta_hist_to_cumulative: duplicate timestamp "
                "within one DELTA series — accumulation order is "
                "undefined (double delivery?)")),
        )
        .otherwise(t)
    )
    sum_null_seen = F.max(F.col("sum").isNull().cast("int")).over(run_w) == 1
    base = (
        pts.withColumn("__checked", checked)
        .withColumn("__rn", F.row_number().over(order_w))
        .withColumn(
            "__cum_count",
            F.when(
                F.col("__checked") == 1, F.sum("count").over(run_w)
            ).otherwise(F.col("count")),
        )
        .withColumn(
            "__cum_sum",
            F.when(
                F.col("__checked") == 1,
                F.when(sum_null_seen, F.lit(None).cast("double"))
                .otherwise(F.sum("sum").over(run_w)),
            ).otherwise(F.col("sum")),
        )
    )
    ex = base.where(F.col("__checked") == 1).select(
        *scols, "__rn",
        F.posexplode("bucket_counts").alias("__bi", "__bc"),
    )
    bi_w = (
        Window.partitionBy(*scols, "__bi")
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asm = (
        ex.withColumn("__bcum", F.sum("__bc").over(bi_w))
        .groupBy(*scols, "__rn")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__bi"), F.col("__bcum")))
                ),
                lambda s: s["__bcum"],
            ).alias("__cum_buckets")
        )
    )
    out = _null_safe_join_back(base, asm, [*scols, "__rn"])
    cum_buckets = F.when(
        F.col("__checked") == 1,
        F.coalesce(F.col("__cum_buckets"), F.col("bucket_counts")),
    ).otherwise(F.col("bucket_counts"))
    replaced = {
        "bucket_counts": cum_buckets,
        "count": F.col("__cum_count"),
        "sum": F.col("__cum_sum"),
        "temporality": F.lit(2).cast("int"),
    }
    return out.select(
        *[replaced.get(c, F.col(c)).alias(c) for c in points.columns]
    )


def otlp_delta_exp_hist_to_cumulative(
    points: DataFrame,
    *,
    series_cols: Sequence[str] = ("metric_name",),
    ts_col: str = "time_unix_nano",
    scale_change_fold_limit: int = 256,
    max_index_span: int = 4096,
) -> DataFrame:
    """OTLP temporality normalization for EXPONENTIAL histograms
    (later r8, closing the refusal the classic-histogram operator
    documents): delta points accumulate per series with the FULL
    native-histogram merge algebra —

    - points may change SCALE between exports (the OTel SDKs rescale
      under bucket-count pressure): accumulation downscales both sides
      to the coarser scale first (fine bucket i folds into coarse
      ⌈i/2^d⌉ — `_nh_downscale`, the same merge native_hist_increase
      uses), exactly what Prometheus's deltatocumulative processor
      does;
    - bucket arrays then add OFFSET-ALIGNED (absent buckets count 0);
    - zero_count / count / sum accumulate scalar-wise (a NULL ``sum``
      nulls the cumulative sum from that point on, matching scalar
      struct addition — a partial sum is a wrong sum);
    - UNSPECIFIED and mixed temporality refuse as in the scalar/
      classic operators, and so does a duplicate (series, timestamp)
      among delta points (r9 seam fix — the accumulation order at a
      timestamp tie is nondeterministic under replay).

    Output: each point replaced by the cumulative-so-far at the
    COARSEST scale seen so far, temporality forced to 2.

    Plan (r9 linearization — the r8 form folded a running
    collect_list prefix, O(points²·buckets) per series): series split
    by a per-series flag into

    * the EQUAL-SCALE fast path (the overwhelmingly common case —
      scale changes are rare SDK rescale events): bucket absolute
      index is bucket identity when the scale is fixed, so each row
      explodes over the series' absolute-index range (bounded by
      ``max_index_span``, the decoder's dense-expansion guard — wider
      refuses loudly), one running ``sum`` window per (series, index)
      accumulates, and the dense array reassembles over the RUNNING
      index span (min/max windows) so the output matches the
      sequential merge exactly, including offset placement. Linear in
      points × series index span — the size of the output itself;
    * the SCALE-CHANGE fold path: the sequential collect_list fold is
      retained — it is the only order-dependent semantics (each
      prefix's scale is the running minimum) — but gated per series
      and BOUNDED: more than ``scale_change_fold_limit`` points in a
      scale-changing series refuses loudly with re-framing guidance
      rather than running the quadratic fold unbounded. The
      collect_list input is NULL for fast-path rows, so fold state
      stays empty (O(1)/row) outside the rare branch.

    Probed on the points-per-series axis (2→20→200, fixed series
    count): ``tools/scale_probe.py --depth``."""
    pts, scols, _ = _otlp_series_frame(points, series_cols)
    t = F.col("temporality")
    order_w = Window.partitionBy(*scols).orderBy(ts_col)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span_w = Window.partitionBy(*scols)
    ts_w = Window.partitionBy(*scols, ts_col)
    multi_raw = (
        F.min("scale").over(span_w) != F.max("scale").over(span_w)
    )
    # per-row dense index spans (null for an empty side)
    p_lo = F.when(F.size("pos_counts") > 0, F.col("pos_offset"))
    p_hi = F.when(
        F.size("pos_counts") > 0, F.col("pos_offset") + F.size("pos_counts")
    )
    n_lo = F.when(F.size("neg_counts") > 0, F.col("neg_offset"))
    n_hi = F.when(
        F.size("neg_counts") > 0, F.col("neg_offset") + F.size("neg_counts")
    )
    g_lo = F.least(F.min(p_lo).over(span_w), F.min(n_lo).over(span_w))
    g_hi = F.greatest(F.max(p_hi).over(span_w), F.max(n_hi).over(span_w))
    checked = (
        F.when(
            t == 0,
            F.raise_error(F.lit(
                "otlp_delta_exp_hist_to_cumulative: UNSPECIFIED "
                "aggregation temporality — refusing to guess")),
        )
        .when(
            F.min("temporality").over(span_w)
            != F.max("temporality").over(span_w),
            F.raise_error(F.lit(
                "otlp_delta_exp_hist_to_cumulative: series mixes DELTA "
                "and CUMULATIVE points — no spec-defined repair exists")),
        )
        .when(
            (t == 1) & (F.count(F.lit(1)).over(ts_w) > 1),
            F.raise_error(F.lit(
                "otlp_delta_exp_hist_to_cumulative: duplicate timestamp "
                "within one DELTA series — accumulation order is "
                "undefined (double delivery?)")),
        )
        .when(
            (t == 1) & multi_raw
            & (F.count(F.lit(1)).over(span_w)
               > F.lit(int(scale_change_fold_limit))),
            F.raise_error(F.lit(
                "otlp_delta_exp_hist_to_cumulative: scale-changing "
                f"series longer than {int(scale_change_fold_limit)} "
                "points — the order-dependent downscale fold is "
                "sequential; normalize in shorter frames")),
        )
        .when(
            (t == 1) & ~multi_raw
            & ((g_hi - g_lo) > F.lit(int(max_index_span))),
            F.raise_error(F.lit(
                "otlp_delta_exp_hist_to_cumulative: series-wide bucket "
                f"index span exceeds {int(max_index_span)} — "
                "dense-expansion bomb guard (matches the decoder's "
                "4096-bucket cap)")),
        )
        .otherwise(t)
    )
    sum_null_seen = F.max(F.col("sum").isNull().cast("int")).over(run_w) == 1
    base = (
        pts.withColumn("__checked", checked)
        .withColumn("__multi", (F.col("__checked") == 1) & multi_raw)
        .withColumn("__rn", F.row_number().over(order_w))
        .withColumn("__g_lo", g_lo)
        .withColumn("__g_hi", g_hi)
        .withColumn("__run_plo", F.min(p_lo).over(run_w))
        .withColumn("__run_phi", F.max(p_hi).over(run_w))
        .withColumn("__run_nlo", F.min(n_lo).over(run_w))
        .withColumn("__run_nhi", F.max(n_hi).over(run_w))
        .withColumn(
            "__cum_scale",
            F.when(
                F.col("__checked") == 1, F.min("scale").over(run_w)
            ).otherwise(F.col("scale")),
        )
        .withColumn(
            "__cum_z",
            F.when(
                F.col("__checked") == 1, F.sum("zero_count").over(run_w)
            ).otherwise(F.col("zero_count")),
        )
        .withColumn(
            "__cum_cnt",
            F.when(
                F.col("__checked") == 1, F.sum("count").over(run_w)
            ).otherwise(F.col("count")),
        )
        .withColumn(
            "__cum_sum",
            F.when(
                F.col("__checked") == 1,
                F.when(sum_null_seen, F.lit(None).cast("double"))
                .otherwise(F.sum("sum").over(run_w)),
            ).otherwise(F.col("sum")),
        )
    )
    # --- scale-change fold path (rare, bounded): collect only the
    # flagged series' snapshots, so fast-path rows carry empty state
    snap = F.struct(
        F.col("scale").alias("scale"),
        F.col("pos_offset").alias("po"),
        F.col("pos_counts").alias("pc"),
        F.col("neg_offset").alias("no"),
        F.col("neg_counts").alias("nc"),
    )
    snaps = F.collect_list(F.when(F.col("__multi"), snap)).over(run_w)

    # the fold step: both sides downscale to the coarser scale, then
    # each bucket side adds offset-aligned
    target = "least(__acc.scale, __y.scale)"
    d_acc = f"CAST(__acc.scale - {target} AS INT)"
    d_y = f"CAST(__y.scale - {target} AS INT)"
    po, pc = _nh_align_add(*_nh_downscale("__acc.po", "__acc.pc", d_acc),
                           *_nh_downscale("__y.po", "__y.pc", d_y))
    no, nc = _nh_align_add(*_nh_downscale("__acc.no", "__acc.nc", d_acc),
                           *_nh_downscale("__y.no", "__y.nc", d_y))
    merge = (f"named_struct('scale', {target}, 'po', CAST({po} AS INT), "
             f"'pc', {pc}, 'no', CAST({no} AS INT), 'nc', {nc})")
    base = base.withColumn("__snaps", snaps).withColumn(
        "__folded",
        F.expr("CASE WHEN __multi THEN aggregate(slice(__snaps, 2, CAST("
               "greatest(size(__snaps) - 1, 0) AS INT)), element_at("
               f"__snaps, 1), (__acc, __y) -> {merge}) END"),
    )
    # --- equal-scale fast path: absolute-index grid + running sums
    fast = base.where((F.col("__checked") == 1) & ~F.col("__multi"))
    grid = fast.select(
        *scols, "__rn",
        "pos_offset", "pos_counts", "neg_offset", "neg_counts",
        F.explode(
            F.sequence(F.col("__g_lo"), F.col("__g_hi") - 1)
        ).alias("__i"),
    )
    gi_w = (
        Window.partitionBy(*scols, "__i")
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g2 = grid.select(
        *scols, "__rn", "__i",
        F.sum(F.expr(_nh_at("pos_offset", "pos_counts", "__i")))
        .over(gi_w).alias("__pcum"),
        F.sum(F.expr(_nh_at("neg_offset", "neg_counts", "__i")))
        .over(gi_w).alias("__ncum"),
    )
    asm = g2.groupBy(*scols, "__rn").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__i", "__pcum"))
        ).alias("__pmap"),
        F.map_from_entries(
            F.collect_list(F.struct("__i", "__ncum"))
        ).alias("__nmap"),
    )
    out = _null_safe_join_back(base, asm, [*scols, "__rn"])

    def assemble(mp: Column, lo: Column, hi: Column,
                 fallback_off: Column) -> tuple[Column, Column]:
        # running span [lo, hi) mirrors the sequential merge's union
        # span exactly; an all-empty prefix keeps the row's own offset
        # with an empty array (the merge's empty+empty rule)
        off = F.when(lo.isNull(), fallback_off).otherwise(lo)
        counts = F.when(
            lo.isNull(), F.expr("CAST(array() AS array<bigint>)")
        ).otherwise(
            F.transform(
                F.sequence(lo, hi - 1),
                lambda i: F.coalesce(
                    F.element_at(mp, i), F.lit(0).cast("bigint")
                ),
            )
        )
        return off, counts

    fpo, fpc = assemble(
        F.col("__pmap"), F.col("__run_plo"), F.col("__run_phi"),
        F.col("pos_offset"))
    fno, fnc = assemble(
        F.col("__nmap"), F.col("__run_nlo"), F.col("__run_nhi"),
        F.col("neg_offset"))

    def pick(fold_field: str, fast_col: Column, raw: Column) -> Column:
        return (
            F.when(F.col("__checked") != 1, raw)
            .when(F.col("__multi"), F.col("__folded")[fold_field])
            .otherwise(fast_col)
        )

    replaced = {
        "scale": F.col("__cum_scale"),
        "pos_offset": pick("po", fpo, F.col("pos_offset")),
        "pos_counts": pick("pc", fpc, F.col("pos_counts")),
        "neg_offset": pick("no", fno, F.col("neg_offset")),
        "neg_counts": pick("nc", fnc, F.col("neg_counts")),
        "zero_count": F.col("__cum_z"),
        "count": F.col("__cum_cnt"),
        "sum": F.col("__cum_sum"),
        "temporality": F.lit(2).cast("int"),
    }
    return out.select(
        *[replaced.get(c, F.col(c)).alias(c) for c in points.columns]
    )
