"""Native-histogram FUNCTION family — histogram_count / histogram_sum /
histogram_avg / histogram_stddev / histogram_stdvar over decoded
native-histogram rows (Prometheus promql/functions.go; the reference
delegates these to its Prometheus backend — /root/reference/README.md
query section — so the engine implements the same semantics natively).

Input is the dense decoded shape shared by BOTH native-histogram wire
formats (remote-write prompb and OTLP exponential):
``remote_write.NATIVE_HIST_SCHEMA`` columns — count, sum, schema,
zero_count, pos_offset, pos_counts, neg_offset, neg_counts (and
custom_values for NHCB rows).

Semantics (Prometheus's estimators, promql/functions.go):

- count/sum/avg read the histogram's own count/sum fields;
  avg = sum / count, NaN for an empty histogram (the same
  empty-histogram rule as histogram_quantile's r8 seam fix).
- stddev/stdvar estimate each bucket's observations AT THE GEOMETRIC
  MEAN of its bounds: exponential bucket index k spans
  (base^(k-1), base^k], base = 2^(2^-schema), so
  mid_k = sqrt(lower*upper) = base^(k-0.5) (negated on the negative
  side); the zero bucket spans zero, so its mid is 0. Variance is the
  population form around mean = sum/count:
  var = (Σ c_i·(mid_i − mean)²) / count
      = (S2 − 2·mean·S1 + mean²·Σc_i) / count
  where Σ runs over zero + positive + negative buckets and the
  division uses the histogram's STORED count (Prometheus divides by
  h.Count even when it exceeds the bucket sum).
- Custom-bucket (schema −53) rows get NULL stddev/stdvar: their
  boundary geometry is data, and Prometheus's arithmetic-midpoint
  variant for NHCB is a different estimator — refusing a number beats
  emitting one computed with the wrong geometry (count/sum/avg are
  geometry-free and stay valid).

Plan shape: pure Column expressions (transform-with-index + aggregate
over the bounded per-row bucket arrays) — whole-stage codegen, zero
shuffle, no UDF.

This module is also the one home of the bucket-array KERNELS the
native-histogram operators share (``_nh_downscale``, ``_nh_at``,
``_nh_align_add``) and of the endpoint machinery behind rate /
increase / delta (``native_hist_increase``). The kernels are SQL-text
templates, see the section below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prom_etl_db_spark.functions.remote_write import CUSTOM_BUCKETS_SCHEMA

# -- kernels as SQL-text templates -------------------------------------------
#
# A Column tree costs one py4j round trip per node to build: the
# quantile-of-sum-by-of-rate chain built ~10k of them. The kernels below
# return Spark SQL TEXT instead, applied through a few ``selectExpr``
# stages (a handful of round trips each). Template arguments are SQL
# text that is repeated verbatim inside the template, so callers pass
# column names or field accesses and stage anything costly as a column
# first. A staged column is referenced more than once downstream, so
# Catalyst's CollapseProject keeps it in its own projection instead of
# inlining one copy per use.


def _dbl(x: float) -> str:
    """An exact DOUBLE literal (``0.9`` alone parses as a DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _str(text: str) -> str:
    """A SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _raise(msg: str) -> str:
    return f"raise_error({_str(msg)})"


def _q(name: str) -> str:
    return f"`{name}`"


def _stage(df: DataFrame, **cols: str) -> DataFrame:
    """Append ``name = sql`` columns to ``df`` in ONE projection."""
    return df.selectExpr(
        "*", *[f"{sql} AS {_q(n)}" for n, sql in cols.items()])


def _nh_at(off: str, arr: str, i: str) -> str:
    """Dense-bucket lookup by ABSOLUTE index ``i`` (0 outside the
    array) — the alignment primitive of every aligned add/subtract."""
    idx = f"{i} - {off} + 1"
    return (f"CASE WHEN {idx} >= 1 THEN coalesce(try_element_at({arr}, "
            f"{idx}), 0) ELSE 0 END")


def _nh_align_add(o1: str, c1: str, o2: str, c2: str) -> tuple[str, str]:
    """Offset-aligned element-wise ADDITION of two dense bucket arrays
    (the + mirror of native_hist_increase's aligned subtraction).
    Returns (offset, counts) SQL; empty+empty keeps ``o2`` with an
    empty array."""
    e1, e2 = f"size({c1}) = 0", f"size({c2}) = 0"
    lo = (f"CASE WHEN {e1} THEN {o2} WHEN {e2} THEN {o1} "
          f"ELSE least({o1}, {o2}) END")
    hi = (f"CASE WHEN {e1} THEN {o2} + size({c2}) WHEN {e2} THEN "
          f"{o1} + size({c1}) ELSE greatest({o1} + size({c1}), "
          f"{o2} + size({c2})) END")
    counts = (
        f"CASE WHEN {hi} > {lo} THEN transform(sequence({lo}, {hi} - 1), "
        f"__ai -> {_nh_at(o1, c1, '__ai')} + {_nh_at(o2, c2, '__ai')}) "
        "ELSE CAST(array() AS array<bigint>) END")
    return lo, counts


def _nh_downscale(
    offset: str, counts: str, d: str, *, elem: str = "bigint"
) -> tuple[str, str]:
    """Downscale dense native-histogram buckets by ``d`` scale steps
    (Prometheus's merge before combining mismatched-schema samples):
    fine bucket index i folds into coarse index ⌈i / 2^d⌉ — fine bucket
    i covers (base^(i-1), base^i] and coarse j covers the union of fine
    (2^d·(j-1), 2^d·j]. Returns (coarse_offset, coarse_counts) SQL;
    d <= 0 and empty arrays pass through. ``elem`` is the count element
    type ("bigint", or "double" for the FLOAT flavor) — the fold's zero
    must match it.

    O(n): coarse j is the CONTIGUOUS fine slice of dense positions
    [2^d·(j-1)+1-offset, 2^d·j-offset] clipped to the array, so each
    fine bucket is read once. ⌈a/2^d⌉ is ``-((-a) >> d)`` (the shift
    is arithmetic, so it floors negative indices correctly)."""
    n = f"size({counts})"
    on = f"{d} > 0 AND {n} > 0"
    off = f"CAST({offset} AS BIGINT)"
    lo = f"-shiftright(-{off}, {d})"
    hi = f"-shiftright(-({off} + {n} - 1), {d})"
    first = f"greatest(shiftleft(__dj - 1, {d}) + 1 - {off}, 0)"
    last = f"least(shiftleft(__dj, {d}) - {off}, {n} - 1)"
    coarse = (
        f"transform(sequence({lo}, {hi}), __dj -> aggregate(slice("
        f"{counts}, CAST({first} + 1 AS INT), CAST({last} - {first} + 1 "
        f"AS INT)), CAST(0 AS {elem}), (__dacc, __dv) -> __dacc + __dv))")
    return (f"CASE WHEN {on} THEN CAST({lo} AS INT) ELSE {offset} END",
            f"CASE WHEN {on} THEN {coarse} ELSE {counts} END")


def _moments(counts: Column, offset: Column, inv: Column,
             sign: float) -> tuple[Column, Column, Column]:
    """(Σc, Σc·mid, Σc·mid²) over one side's dense bucket array.
    ``inv`` is 2^-schema; dense index i is bucket index offset+i with
    geometric mid = 2^((offset+i-0.5)·inv), sign-flipped for the
    negative side."""
    mids = F.transform(
        counts,
        lambda c, i: F.struct(
            c.cast("double").alias("c"),
            (
                F.lit(sign)
                * F.pow(
                    F.lit(2.0),
                    (offset.cast("double") + i.cast("double") - F.lit(0.5))
                    * inv,
                )
            ).alias("m"),
        ),
    )
    zero = F.lit(0.0)
    s0 = F.aggregate(mids, zero, lambda acc, x: acc + x["c"])
    s1 = F.aggregate(mids, zero, lambda acc, x: acc + x["c"] * x["m"])
    s2 = F.aggregate(
        mids, zero, lambda acc, x: acc + x["c"] * x["m"] * x["m"]
    )
    return s0, s1, s2


def histogram_stats(nh: DataFrame) -> DataFrame:
    """Append hist_count / hist_sum / hist_avg / hist_stdvar /
    hist_stddev columns to a decoded native-histogram DataFrame.
    Empty histograms (count == 0) yield NaN avg/stdvar/stddev —
    Prometheus's convention; custom-bucket rows yield NULL
    stdvar/stddev (see module docstring)."""
    cnt = F.col("count").cast("double")
    mean = F.when(cnt == 0, F.lit(float("nan"))).otherwise(
        F.try_divide(F.col("sum"), cnt)
    )
    inv = F.pow(F.lit(2.0), -F.col("schema").cast("double"))
    p0, p1, p2 = _moments(F.col("pos_counts"), F.col("pos_offset"), inv, 1.0)
    n0, n1, n2 = _moments(F.col("neg_counts"), F.col("neg_offset"), inv, -1.0)
    zc = F.col("zero_count").cast("double")
    s0 = p0 + n0 + zc  # zero bucket: mid 0 → contributes to Σc only
    s1 = p1 + n1
    s2 = p2 + n2
    # r9 ADVICE fix: the expanded form S2-2·mean·S1+mean²·S0 can cancel
    # to a tiny negative double where the true variance is ~0, making
    # sqrt() NaN — clamp at 0 (Prometheus's centered Σc·(mid-mean)²
    # form is non-negative by construction). when(<0) rather than
    # greatest: NaN < 0 and NULL < 0 are both non-true, so the NaN
    # (empty histogram) and NULL (null arrays) conventions survive.
    raw_var = F.try_divide(
        s2 - F.lit(2.0) * mean * s1 + mean * mean * s0, cnt
    )
    stdvar = F.when(cnt == 0, F.lit(float("nan"))).otherwise(
        F.when(raw_var < 0, F.lit(0.0)).otherwise(raw_var)
    )
    stdvar = F.when(
        F.col("schema") == CUSTOM_BUCKETS_SCHEMA, F.lit(None).cast("double")
    ).otherwise(stdvar)
    return (
        nh.withColumn("hist_count", F.col("count"))
        .withColumn("hist_sum", F.col("sum"))
        .withColumn("hist_avg", mean)
        .withColumn("hist_stdvar", stdvar)
        .withColumn("hist_stddev", F.sqrt(F.col("hist_stdvar")))
    )


def nhcb_to_le_buckets(nh: DataFrame) -> DataFrame:
    """Custom-bucket (schema −53) rows → the classic
    (le, cumulative count) exploded shape ``histogram_quantile``
    consumes: dense bucket index i maps to le = custom_values[i], the
    index len(custom_values) to +Inf, and the +Inf cumulative count is
    forced to the histogram's total ``count`` (observations the sender
    kept out of finite buckets still exist). Returns one row per
    (histogram, bucket) with the input's id columns preserved.

    Pure-Column le/cum array construction + one posexplode — the same
    plan shape as the exponential le-mapping, so NHCB rides the
    existing quantile operator unchanged."""
    empty_s = F.expr("CAST(array() AS array<string>)")
    empty_d = F.expr("CAST(array() AS array<double>)")
    # sequence(0, -1) would infer step -1; guard the empty-bucket case
    les_body = F.when(
        F.size("pos_counts") > 0,
        F.transform(
            F.sequence(F.lit(0), F.size("pos_counts") - F.lit(1)),
            lambda i: F.when(
                F.col("pos_offset") + i < F.size("custom_values"),
                F.element_at(
                    F.col("custom_values"),
                    (F.col("pos_offset") + i + F.lit(1)).cast("int"),
                ).cast("string"),
            ).otherwise(F.lit("+Inf")),
        ),
    ).otherwise(empty_s)
    les = F.concat(
        les_body,
        # the sender may omit the +Inf bucket entirely; add it so the
        # quantile operator always sees the total
        F.when(
            F.col("pos_offset") + F.size("pos_counts")
            <= F.size("custom_values"),
            F.array(F.lit("+Inf")),
        ).otherwise(empty_s),
    )
    cums = F.slice(
        F.aggregate(
            F.col("pos_counts"),
            F.array(F.lit(0).cast("double")),
            lambda acc, x: F.concat(
                acc,
                F.array(F.element_at(acc, -1) + x.cast("double")),
            ),
        ),
        2,
        F.size("pos_counts").cast("int"),
    )
    cums = F.concat(
        cums,
        F.when(
            F.col("pos_offset") + F.size("pos_counts")
            <= F.size("custom_values"),
            F.array(F.col("count").cast("double")),
        ).otherwise(empty_d),
    )
    # a sender-encoded +Inf bucket may undercount vs the histogram's
    # own total; the total is authoritative
    cums = F.zip_with(
        les,
        cums,
        lambda le, c: F.when(
            le == "+Inf", F.col("count").cast("double")
        ).otherwise(c),
    )
    return nh.where(F.col("schema") == CUSTOM_BUCKETS_SCHEMA).select(
        "*",
        F.posexplode(F.arrays_zip(les.alias("le"), cums.alias("cum"))).alias(
            "bucket_i", "le_cum"
        ),
    )


def native_hist_quantile(nh: DataFrame, q: float) -> DataFrame:
    """histogram_quantile over native histograms computed DIRECTLY on
    the dense decoded shape — no le-explosion, no shuffle: one pure-
    Column pass per histogram row (the le-mapping compositions exist
    for operator-reuse proofs; this is the native evaluator).

    Interpolation is EXPONENTIAL within a bucket (Prometheus 3.x's
    rule for native buckets — observations are log-uniform within
    (base^(k-1), base^k], so the quantile is
    lower·(upper/lower)^frac = 2^((o+i-1+frac)·2^-schema)), which the
    le-mapping path (linear, the classic-bucket rule) deliberately
    does NOT apply — this operator closes that documented estimator
    divergence. r9: NEGATIVE-direction buckets are supported (the
    r8 form refused them): the cumulative walk runs in ascending
    VALUE order — negative buckets from the most negative upward
    (dense neg array REVERSED: neg index i ↦ bucket k = neg_offset+i
    covering [-base^k, -base^(k-1))), then the zero bucket, then the
    positive buckets — exactly Prometheus's AllBucketIterator order.
    Conventions, each pinned by test or fixture:

    - a NEGATIVE crossing bucket interpolates exponentially in
      |value| from its more-negative end:
      value = -2^((k - frac)·2^-schema) (frac 0 → -base^k,
      frac 1 → -base^(k-1) — the sign-mirrored log-uniform rule);
    - target in the ZERO bucket interpolates linearly within
      [lower, zero_threshold], lower = -zero_threshold when the
      histogram carries negative buckets and 0 otherwise —
      Prometheus's rule (the zero bucket spans 'around zero'; linear
      is the only defensible rule where log-uniform is undefined
      at 0);
    - target beyond the last bucket (count > bucket sum — legal)
      returns the last finite upper bound in walk order (positive
      last if present, else zero_threshold, else the negative side's
      upper); a histogram with NO buckets at all (all mass in the
      implicit +Inf region) yields NaN — no finite bound exists and
      fabricating one from default offsets was wrong (r9 review fix);
    - empty histograms (count == 0) yield NaN (the r8 seam rule);
    - q == 0 on a non-empty histogram returns the lower bound of the
      FIRST POPULATED bucket in walk order — Prometheus's rank-0
      landing spot (r9 review fix: a blanket 0.0 undersold
      positive-only histograms whose zero bucket is empty; previously
      NULL via try_divide(0, 0));
    - custom-bucket rows (schema −53) refuse — their quantile is the
      CLASSIC linear rule via nhcb_to_le_buckets, not this estimator.

    Appends ``quantile_value``.

    Plan: the walk, its prefix sums, the crossing position p and the
    in-bucket fraction are each computed ONCE, as staged columns; the
    value CASE reads them (the Column-tree form repeated the O(n²)
    prefix-sum fold inside every use of p)."""
    out_cols = [_q(c) for c in nh.columns]
    inv = "pow(2D, -CAST(schema AS DOUBLE))"
    n_neg = "size(neg_counts)"
    zc = "CAST(zero_count AS DOUBLE)"
    nan = _dbl(float("nan"))
    walk = _stage(
        nh,
        # ascending-value walk: [reversed neg ..., zero, pos ...]
        __walk="concat(transform(reverse(neg_counts), __qx -> CAST(__qx AS "
               f"DOUBLE)), array({zc}), transform(pos_counts, __qx -> "
               "CAST(__qx AS DOUBLE)))",
        __target=f"{_dbl(q)} * CAST(count AS DOUBLE)",
    )
    # inclusive prefix sums over the walk
    cums = _stage(
        walk,
        __cums="slice(aggregate(__walk, array(0D), (__qa, __qx) -> "
               "concat(__qa, array(element_at(__qa, -1) + __qx))), 2, "
               "size(__walk))",
    )
    # 0-based walk position of the crossing bucket
    crossed = _stage(cums, __p="size(filter(__cums, __qc -> __qc < __target))")
    # try_element_at: p + 1 is past the walk for targets beyond the last
    # bucket, and this column is computed for every row
    staged = _stage(
        crossed,
        __frac="try_divide(__target - CASE WHEN __p = 0 THEN 0D ELSE "
               "coalesce(element_at(__cums, __p), 0D) END, "
               "coalesce(try_element_at(__walk, __p + 1), 0D))",
    )
    # negative region: walk pos p ↦ dense neg index n_neg-1-p ↦
    # bucket k = neg_offset + n_neg - 1 - p covering [-base^k, -base^(k-1))
    neg_k = (f"CAST(neg_offset AS DOUBLE) + CAST({n_neg} AS DOUBLE) - 1D "
             "- CAST(__p AS DOUBLE)")
    neg_val = f"-pow(2D, ({neg_k} - __frac) * {inv})"
    # zero bucket: linear within [lower, zt]
    zero_lower = f"CASE WHEN {n_neg} > 0 THEN -zero_threshold ELSE 0D END"
    zero_val = f"{zero_lower} + (zero_threshold - {zero_lower}) * __frac"
    # positive region: walk pos p ↦ dense pos index p - n_neg - 1 ↦
    # bucket k = pos_offset + idx covering (base^(k-1), base^k]
    pos_i = f"CAST(__p - {n_neg} - 1 AS DOUBLE)"
    exp_val = (f"pow(2D, (CAST(pos_offset AS DOUBLE) + {pos_i} - 1D "
               f"+ __frac) * {inv})")
    # upper bound of the LAST bucket in walk order; a histogram with
    # count > 0 but NO buckets at all (all mass in the implicit +Inf
    # region) has no finite upper to return — NaN, not a fabricated
    # bound from the wrong side (r9 code-review fix)
    last_upper = (
        "CASE WHEN size(pos_counts) > 0 THEN pow(2D, (CAST(pos_offset AS "
        f"DOUBLE) + CAST(size(pos_counts) AS DOUBLE) - 1D) * {inv}) "
        f"WHEN {zc} > 0 THEN zero_threshold "
        f"WHEN {n_neg} > 0 THEN -pow(2D, (CAST(neg_offset AS DOUBLE) - 1D) "
        f"* {inv}) ELSE {nan} END")

    # q == 0 convention: the lower bound of the FIRST POPULATED bucket
    # in walk order — Prometheus's rank-0 landing spot (r9 code-review
    # fix: a bare 0.0 is below anything a positive-only histogram with
    # an empty zero bucket could have observed)
    def populated(counts: str, pick: str) -> str:
        # dense index of the first/last count > 0, NULL if none
        return (f"{pick}(filter(transform({counts}, (__qc, __qi) -> CASE "
                "WHEN __qc > 0 THEN __qi END), __qi -> __qi IS NOT NULL))")

    neg_last_pop = populated("neg_counts", "array_max")
    pos_first_pop = populated("pos_counts", "array_min")
    infimum = (
        # most negative populated bucket k: lower bound -base^k
        f"CASE WHEN {neg_last_pop} IS NOT NULL THEN -pow(2D, (CAST("
        f"neg_offset AS DOUBLE) + CAST({neg_last_pop} AS DOUBLE)) * {inv}) "
        f"WHEN {zc} > 0 THEN {zero_lower} "
        f"WHEN {pos_first_pop} IS NOT NULL THEN pow(2D, (CAST(pos_offset "
        f"AS DOUBLE) + CAST({pos_first_pop} AS DOUBLE) - 1D) * {inv}) "
        f"ELSE {nan} END")  # only the implicit +Inf mass
    value = (
        f"CASE WHEN CAST(count AS DOUBLE) = 0 THEN {nan} "
        f"WHEN __target = 0 THEN {infimum} "
        f"WHEN __p >= size(__walk) THEN {last_upper} "  # beyond all buckets
        f"WHEN __p < {n_neg} THEN {neg_val} "
        f"WHEN __p = {n_neg} THEN {zero_val} "
        f"ELSE {exp_val} END")
    guard = (
        f"CASE WHEN schema = {CUSTOM_BUCKETS_SCHEMA} THEN " + _raise(
            "native_hist_quantile: custom-bucket histograms take the "
            "classic linear rule — use nhcb_to_le_buckets + "
            "histogram_quantile") + " ELSE 0 END")
    # the guard evaluates first (raising on bad rows) and is 0 on every
    # good row
    return staged.selectExpr(
        *out_cols, f"CASE WHEN {guard} = 0 THEN {value} END AS quantile_value")


def native_hist_fraction(
    nh: DataFrame, lower: float, upper: float
) -> DataFrame:
    """histogram_fraction(lower, upper, h) over native histograms
    (r9), computed directly on the dense decoded shape — the
    companion to ``native_hist_quantile`` with the same Prometheus-3
    estimator: observations are log-uniform within an exponential
    bucket, linear within the zero bucket.

    Evaluation needs NO bucket search: every bucket contributes
    ``count_i · clamp01(pos_i(b))`` to the CDF at bound b, where
    pos_i is the bound's interpolated position inside bucket i (0
    below it, 1 above it) —

    - negative bucket k ([-base^k, -base^(k-1))):
      pos = (k·2^-schema − log2(−b)) / 2^-schema, 1 for b ≥ 0;
    - zero bucket [zlo, zt] (zlo = −zt with negative buckets, else
      0): pos = (b − zlo)/(zt − zlo); a zero-width zero bucket is a
      point mass at 0 (pos = step at 0);
    - positive bucket k ((base^(k-1), base^k]):
      pos = (log2(b) − (k−1)·2^-schema) / 2^-schema, 0 for b ≤ 0.

    fraction = max(F(upper) − F(lower), 0) / count — one pure-Column
    pass, zero shuffle. Count in excess of the bucket sum (the
    implicit +Inf mass) is reachable by no finite bound, matching
    Prometheus. Empty histograms yield NaN; custom-bucket rows
    (schema −53) refuse (classic linear rule via the le-mapping).
    Appends ``fraction_value``."""
    if not lower <= upper:
        raise ValueError(
            f"native_hist_fraction: lower {lower} > upper {upper}")
    cnt = F.col("count").cast("double")
    zc = F.col("zero_count").cast("double")
    inv = F.pow(F.lit(2.0), -F.col("schema").cast("double"))
    guarded = F.when(
        F.col("schema") == CUSTOM_BUCKETS_SCHEMA,
        F.raise_error(F.lit(
            "native_hist_fraction: custom-bucket histograms take the "
            "classic linear rule — use nhcb_to_le_buckets + "
            "histogram_fraction")),
    ).otherwise(F.lit(0))
    zt = F.col("zero_threshold")
    has_neg = F.size("neg_counts") > 0
    zlo = F.when(has_neg, -zt).otherwise(F.lit(0.0))

    def clamp01(x: Column) -> Column:
        return F.least(F.greatest(x, F.lit(0.0)), F.lit(1.0))

    def cdf(b: float) -> Column:
        bb = F.lit(float(b))
        neg = F.aggregate(
            F.transform(
                F.col("neg_counts"),
                lambda c, i: c.cast("double") * clamp01(
                    F.when(bb >= 0, F.lit(1.0)).otherwise(
                        (F.col("neg_offset").cast("double")
                         + i.cast("double")) * inv
                        - F.log2(-bb)
                    ) / F.when(bb >= 0, F.lit(1.0)).otherwise(inv)
                ),
            ),
            F.lit(0.0), lambda a, x: a + x,
        )
        zero_pos = F.when(
            zt - zlo > 0, (bb - zlo) / (zt - zlo)
        ).otherwise(F.when(bb >= 0, F.lit(1.0)).otherwise(F.lit(0.0)))
        zero = zc * clamp01(zero_pos)
        pos = F.aggregate(
            F.transform(
                F.col("pos_counts"),
                lambda c, i: c.cast("double") * clamp01(
                    F.when(bb <= 0, F.lit(0.0)).otherwise(
                        (F.log2(bb)
                         - (F.col("pos_offset").cast("double")
                            + i.cast("double") - F.lit(1.0)) * inv)
                        / inv
                    )
                ),
            ),
            F.lit(0.0), lambda a, x: a + x,
        )
        return neg + zero + pos

    frac = F.try_divide(
        F.greatest(cdf(upper) - cdf(lower), F.lit(0.0)), cnt)
    value = F.when(cnt == 0, F.lit(float("nan"))).otherwise(frac)
    return nh.withColumn("fraction_value", F.when(guarded == 0, value))


def native_hist_sum_by(
    nh: DataFrame,
    by: "tuple[str, ...]" = ("metric_name",),
    *,
    max_index_span: int = 4096,
    group_stats: str = "window",
) -> DataFrame:
    """PromQL ``sum by (...)`` over NATIVE-histogram series (r9) —
    the aggregation idiom behind
    ``histogram_quantile(φ, sum by (le-free labels) (h))``: histograms
    across series merge bucket-wise into one histogram per group,
    Prometheus's native-histogram addition.

    Semantics:
    - mixed SCHEMAS within a group merge at the group's COARSEST
      scale — every row downscales (⌈i/2^d⌉ fold, ``_nh_downscale``)
      before bucket sums, Prometheus's rule;
    - bucket arrays add OFFSET-ALIGNED on absolute indices (absent
      buckets count 0); the merged span is the union span;
    - zero_count / count accumulate; a missing ``sum`` anywhere in
      the group nulls the merged sum (a partial sum is a wrong sum);
    - CUSTOM-BUCKET groups (NHCB, schema −53) sum index-wise when
      every member's custom_values agree — boundaries are data;
      differing boundaries refuse loudly, as does mixing −53 with
      exponential schemas (no cross-family merge exists);
    - differing zero_thresholds refuse (DIVERGENCES.md: Prometheus
      widens to the max threshold and re-buckets — a silent
      resolution change; refusing names it instead);
    - a group-wide index span beyond ``max_index_span`` refuses (the
      decoder's dense-expansion guard);
    - a side EMPTY across the whole group merges to an empty array
      with offset 0 (r10 seam: the offset of a bucket-less span is
      meaningless — Prometheus renders no span; 0 is the decoders'
      own empty-side convention).

    Plan (scalable by construction — NO per-group fold): one window
    for the group's min schema → per-row downscale (SQL kernel) →
    posexplode to (group, absolute index) → hash-agg sums →
    per-group dense reassembly → join with the scalar agg. Shuffles
    are all keyed on the group (+index), so the operator scales with
    executors like any groupBy; group size never materializes in one
    task.

    ``group_stats`` picks how the per-group refusal stats (family mix,
    custom_values / zero_threshold agreement, min schema) are
    computed: ``"window"`` (default) evaluates them with a plain
    group-partitioned window — fastest at bench group sizes (the r12
    window→join A/B read the join 1.26–1.35× slower at sf0.1);
    ``"join"`` computes one tiny aggregate per group and equi-joins it
    back (AQE broadcasts it), which is the 100 TB shape when ``by``
    has single-digit cardinality over billions of rows — a
    low-cardinality window puts a whole group in ONE task (guide
    §2.5; AQE skew handling does not apply to windows), while the
    aggregate is map-side partial and the join-back is broadcast.
    Both shapes are oracle-verified identical; see SCALE.md r13 for
    the skew-probe numbers.

    Both bucket sides ride ONE explode + one (group, side, idx) sum + one
    per-group aggregation with side-conditional outputs (r13: half the
    exchanges of a pipeline per side; 0.942× wall on the quantile
    headline)."""
    if group_stats not in ("window", "join"):
        raise ValueError(
            f"group_stats must be 'window' or 'join', got {group_stats!r}")
    has_cv = "custom_values" in nh.columns
    # counts keep the INPUT's element type: integer histograms (the
    # scrape path) sum as longs, FLOAT histograms (the wire float
    # flavor; rate()'s per-second output — r10 parser reachability)
    # sum as doubles; the empty-array fallbacks and absent-bucket zeros
    # derive from it
    elem = nh.schema["pos_counts"].dataType.elementType.simpleString()
    empty = f"CAST(array() AS array<{elem}>)"
    keys = [_q(k) for k in by]
    is_nhcb = f"CAST(schema = {CUSTOM_BUCKETS_SCHEMA} AS INT)"
    stats = {
        "__nhcb_min": f"min({is_nhcb})",
        "__nhcb_max": f"max({is_nhcb})",
        **({"__cv_min": "min(to_json(custom_values))",
            "__cv_max": "max(to_json(custom_values))"} if has_cv else {}),
        "__zt_min": "min(zero_threshold)",
        "__zt_max": "max(zero_threshold)",
        "__schema_min": "min(schema)",
    }
    if group_stats == "join":
        gs = nh.groupBy(*by).agg(
            *[F.expr(f"{sql} AS {n}") for n, sql in stats.items()])
        nh = nh.join(gs, on=list(by))
    else:
        part = ", ".join(keys)
        nh = _stage(nh, **{n: f"{sql} OVER (PARTITION BY {part})"
                           for n, sql in stats.items()})
    checked = (
        "CASE WHEN __nhcb_min != __nhcb_max THEN " + _raise(
            "native_hist_sum_by: group mixes custom-bucket (schema "
            "-53) and exponential histograms — no merge exists "
            "across bucket families"))
    if has_cv:
        checked += (
            f" WHEN schema = {CUSTOM_BUCKETS_SCHEMA} AND __cv_min != "
            "__cv_max THEN " + _raise(
                "native_hist_sum_by: custom_values differ within one "
                "group — index-wise addition across different "
                "boundaries mis-attributes counts"))
    checked += (
        " WHEN __zt_min != __zt_max THEN " + _raise(
            "native_hist_sum_by: zero_threshold differs within one "
            "group — Prometheus re-buckets to the widest; refusing "
            "beats a silent resolution change") + " ELSE 0 END")
    base = _stage(nh, __ok=checked,
                  __d="CAST(schema - __schema_min AS INT)")
    po, pc = _nh_downscale("pos_offset", "pos_counts", "__d", elem=elem)
    no, nc = _nh_downscale("neg_offset", "neg_counts", "__d", elem=elem)
    base = _stage(base, __po=f"CASE WHEN __ok = 0 THEN {po} END",
                  __pc=pc, __no=no, __nc=nc)
    # NOTE (r12 optimization round — this shape was re-measured and
    # deliberately KEPT): ``base`` feeds two aggregation branches
    # below (bucket sides, scalars) that re-join at the end, and the
    # initial plan shows the upstream subtree (for wire queries: the
    # Python protobuf encode + decode) once per branch. Two rewrites
    # were built and benchmarked against the branch shape at sf0.1:
    # (a) persist(base) — interleaved noop-timed toggle read a WASH
    #     (median 6.8 s vs 7.2 s, best 6.0 vs 6.2): the expensive wire
    #     decode below the increase aggregation's Exchange is already
    #     executed once (runtime exchange reuse), and the branch
    #     re-execution above it overlaps on idle cores;
    # (b) a true single-pass form — each row exploding into [scalar
    #     entry] ++ pos buckets ++ neg buckets, two hash aggs, zero
    #     joins — measured 1.45×/1.15× SLOWER on the native headline in
    #     two interleaved A/Bs: it serializes work the branch shape
    #     runs concurrently, and the wider conditional aggregates cost
    #     more per row.
    # See OPTIMIZATION_r12.md for the numbers.

    def tagged(off: str, counts: str, side: int) -> str:
        # a null/empty side contributes no rows (coalesce before
        # concat: concat propagates null), so a group with an
        # all-empty side gets NULL off/hi and an empty map
        return (f"transform(coalesce({counts}, {empty}), (__c, __i) -> "
                f"named_struct('s', {side}, 'idx', {off} + __i, 'c', __c))")

    ex = base.selectExpr(
        *keys,
        f"explode(concat({tagged('__po', '__pc', 0)}, "
        f"{tagged('__no', '__nc', 1)})) AS __e",
    ).selectExpr(*keys, "__e.s AS s", "__e.idx AS idx", "__e.c AS c")
    agg = ex.groupBy(*by, "s", "idx").agg(F.sum("c").alias("c"))

    def side_stats(side: int, tag: str) -> list[Column]:
        i = f"CASE WHEN s = {side} THEN idx END"
        bad = _raise(
            "native_hist_sum_by: merged bucket index span exceeds "
            f"{int(max_index_span)} — dense-expansion bomb guard")
        return [
            F.expr(f"CASE WHEN max({i}) - min({i}) >= {int(max_index_span)}"
                   f" THEN {bad} ELSE min({i}) END AS {tag}_off"),
            F.expr("map_from_entries(collect_list(CASE WHEN s = "
                   f"{side} THEN struct(idx, c) END)) AS {tag}_map"),
            F.expr(f"max({i}) AS {tag}_hi"),
        ]

    sides = agg.groupBy(*by).agg(*side_stats(0, "p"), *side_stats(1, "n"))
    scalars = base.groupBy(*by).agg(*map(F.expr, [
        # the refusal checks ride a SELECTED column so column pruning
        # can never elide them (r9 review fix: a separate unused guard
        # column would be pruned from the executed plan)
        "CASE WHEN max(__ok) = 0 THEN first(__schema_min) END AS schema",
        "first(zero_threshold) AS zero_threshold",
        "sum(zero_count) AS zero_count",
        "sum(`count`) AS `count`",
        "CASE WHEN max(CAST(`sum` IS NULL AS INT)) = 1 THEN CAST(NULL AS "
        "DOUBLE) ELSE sum(`sum`) END AS `sum`",
        *(["first(custom_values) AS custom_values"] if has_cv else []),
        "count(1) AS n_series",
    ]))
    out = scalars.join(sides, on=list(by), how="left")

    def assemble(tag: str) -> tuple[str, str]:
        counts = (
            f"CASE WHEN {tag}_off IS NULL THEN {empty} ELSE transform("
            f"sequence({tag}_off, {tag}_hi), __i -> coalesce(element_at("
            f"{tag}_map, __i), CAST(0 AS {elem}))) END")
        return f"CAST(coalesce({tag}_off, 0) AS INT)", counts

    p_off, p_counts = assemble("p")
    n_off, n_counts = assemble("n")
    return out.selectExpr(
        *keys, "schema", "zero_threshold", "zero_count", "`count`", "`sum`",
        f"{p_off} AS pos_offset", f"{p_counts} AS pos_counts",
        f"{n_off} AS neg_offset", f"{n_counts} AS neg_counts",
        *(["custom_values"] if has_cv else []), "n_series",
    )


def native_hist_increase(
    hist: DataFrame, *, extra_keys: "tuple[str, ...]" = (),
    counter: bool = True,
) -> DataFrame:
    """PromQL ``increase()`` over NATIVE-histogram series (r8): per
    series, the bucket-wise count increase between the earliest and
    latest sample — Prometheus's counter semantics lifted to whole
    histograms (promql native-histogram rate/increase).
    ``counter=False`` is ``delta()`` over GAUGE histograms (r10): the
    same aligned endpoint difference with NO reset rule — a negative
    component is legal gauge data, not a restart (Prometheus's delta
    applies only to gauges for exactly this reason); the ``reset``
    column is emitted as a constant False so the output shape is
    shared.
    ``extra_keys`` (r10) appends partition columns to the series key —
    the range-query grid form groups on (series, grid instant) and
    reuses this exact aggregation; the columns pass through to the
    output. Semantics:

    - bucket arrays are ALIGNED on absolute bucket indices first (a
      growing histogram adds buckets on either side, shifting
      pos_offset — absent buckets count 0);
    - a COUNTER RESET (any aligned bucket, or the zero bucket,
      decreasing) makes the increase the LAST sample's histogram
      verbatim, Prometheus's reset rule;
    - mixed schemas within one series DOWNSCALE the finer sample to
      the coarser schema before subtracting — Prometheus's own rule
      (fine bucket i folds into coarse ⌈i/2^d⌉; `_nh_downscale`), so a
      mid-series scrape-config change degrades resolution instead of
      erroring or silently mis-pairing buckets;
    - CUSTOM-BUCKET series (NHCB, schema −53; later r8): increase is
      the same aligned subtraction — bucket index i means
      custom_values[i] on both endpoints — but ONLY when the
      boundaries match; a custom_values CHANGE between endpoints
      refuses loudly (raise_error), because index-wise subtraction
      across different boundaries silently attributes counts to the
      wrong le, and unlike exponential schemas there is no
      formula-defined merge. Mixing −53 with an exponential schema in
      one series refuses for the same reason. The checks only exist
      when the input CARRIES a custom_values column; exponential-only
      callers are unaffected.

    NEGATIVE buckets (r10): when the input carries
    ``neg_offset``/``neg_counts`` — the wire decoders ALWAYS emit them
    (`functions/remote_write.py` NATIVE_HIST_SCHEMA; OTLP likewise) —
    the negative side gets the SAME treatment as the positive side:
    downscale to the common schema, align on absolute indices,
    subtract, and a decrease in ANY aligned negative bucket is a
    counter reset too (Prometheus's detectReset walks both spans).

    The scalar components ride along when the frame carries them:
    count/sum difference with the same reset rule (Prometheus's
    DetectReset also fires on a count or sum decrease; an unknown sum
    cannot signal one), zero_threshold carried from the LATER endpoint
    verbatim (a mid-series threshold change is a scrape-config event).
    The count element type follows the frame — bigint for integer
    histograms, double for the wire FLOAT flavor and rate()'s output.

    Input shape = the wire decoders' output: (labels map, ts timestamp,
    schema int, zero_count long, pos_offset int, pos_counts
    array<long>[, neg_offset int, neg_counts array<long>]
    [, count][, sum][, zero_threshold][, custom_values array<double>]).
    Output: one row per series with the increase in the same shape plus
    ``reset`` and ``dt_seconds`` (optional columns only when the input
    carried them — pos-only callers keep their schema).

    Plan: ONE hash aggregation keyed on the series (min_by/max_by keep
    the endpoint structs — no sort, no window), then staged SQL array
    algebra; a single shuffle regardless of samples per series. The
    downscale shifts, the downscaled arrays, the aligned spans and the
    reset flag are each computed once, in their own projection.
    """
    from prom_etl_db_spark.operators.promql import _ensure_series

    cols = set(hist.columns)
    has_cv = "custom_values" in cols
    has_neg = {"neg_offset", "neg_counts"} <= cols
    opt = [c for c in ("count", "sum", "zero_threshold") if c in cols]
    elem = hist.schema["pos_counts"].dataType.elementType.simpleString()
    empty = f"CAST(array() AS array<{elem}>)"
    snap_cols = ["ts", "schema", "zero_count", "pos_offset", "pos_counts",
                 *(["neg_offset", "neg_counts"] if has_neg else []), *opt,
                 *(["custom_values"] if has_cv else [])]
    snap = "struct(" + ", ".join(map(_q, snap_cols)) + ")"
    g = _ensure_series(hist).groupBy("__series", *extra_keys).agg(
        F.expr(f"min_by({snap}, ts) AS a"), F.expr(f"max_by({snap}, ts) AS b"))
    # schema mismatch: downscale the FINER endpoint to the coarser
    # schema (d scale steps), then subtract as usual
    target = "least(a.schema, b.schema)"
    if has_cv:
        nhcb_a = f"a.schema = {CUSTOM_BUCKETS_SCHEMA}"
        nhcb_b = f"b.schema = {CUSTOM_BUCKETS_SCHEMA}"
        target = (
            f"CASE WHEN ({nhcb_a}) != ({nhcb_b}) THEN " + _raise(
                "native_hist_increase: series mixes custom-bucket "
                "(schema -53) and exponential samples — no merge "
                "exists across bucket families")
            + f" WHEN {nhcb_a} AND {nhcb_b} AND a.custom_values != "
            "b.custom_values THEN " + _raise(
                "native_hist_increase: custom_values changed "
                "mid-series — index-wise subtraction across "
                "different boundaries would mis-attribute counts")
            + f" ELSE {target} END")
    g = _stage(g, __t=f"CAST({target} AS INT)")
    d_cols = {"__da": "CAST(a.schema - __t AS INT)",
              "__db": "CAST(b.schema - __t AS INT)"}
    if has_neg:
        # NULL-tolerant: a frame may carry NULL neg arrays for rows
        # decoded from sources without a negative side. An absent
        # side's offset coalesces to the OTHER endpoint's offset (r11
        # ADVICE) — coalescing to 0 would widen the aligned span to
        # [min(0, off), hi) and materialize a dense zero-filled diff
        # for series whose negative mass sits at a far offset.
        d_cols.update({
            "__anofs": "coalesce(a.neg_offset, b.neg_offset, 0)",
            "__ancnt": f"coalesce(a.neg_counts, {empty})",
            "__bnofs": "coalesce(b.neg_offset, a.neg_offset, 0)",
            "__bncnt": f"coalesce(b.neg_counts, {empty})",
        })
    g = _stage(g, **d_cols)
    down = {}
    for e in "ab":
        o, c = _nh_downscale(f"{e}.pos_offset", f"{e}.pos_counts",
                             f"__d{e}", elem=elem)
        down.update({f"__{e}o": o, f"__{e}c": c})
        if has_neg:
            o, c = _nh_downscale(f"__{e}nofs", f"__{e}ncnt", f"__d{e}",
                                 elem=elem)
            down.update({f"__{e}no0": o, f"__{e}nc": c})
    g = _stage(g, **down)
    if has_neg:
        # an EMPTY side (decoders emit offset 0 + [] for no negative
        # spans) adopts the other endpoint's offset for alignment —
        # an empty array contributes zeros anywhere, and keeping its
        # own offset 0 against a far-offset other side would span
        # [min(0, off), hi) with dense materialized zeros (r11 ADVICE)
        g = _stage(
            g,
            __ano="CASE WHEN size(__anc) = 0 AND size(__bnc) > 0 THEN "
                  "__bno0 ELSE __ano0 END",
            __bno="CASE WHEN size(__bnc) = 0 AND size(__anc) > 0 THEN "
                  "__ano0 ELSE __bno0 END",
        )

    def aligned(ao: str, ac: str, bo: str, bc: str,
                what: str) -> tuple[str, str]:
        # empty-to-empty series: sequence(lo, hi-1) with lo > hi-1 is
        # invalid — guard with an empty array. A union span beyond 4096
        # indices refuses (r11 — `native_hist_sum_by`'s dense-expansion
        # bomb guard applied to the endpoint diff: two far-apart offsets
        # from a buggy producer would otherwise materialize a dense array
        # spanning the gap; real distributions' endpoint ranges overlap)
        lo = f"least({ao}, {bo})"
        hi = f"greatest({ao} + size({ac}), {bo} + size({bc}))"
        diff = (
            f"CASE WHEN {hi} - {lo} > 4096 THEN " + _raise(
                f"native_hist_increase: aligned {what}bucket index span "
                "exceeds 4096 — dense-expansion bomb guard")
            + f" WHEN {hi} > {lo} THEN transform(sequence({lo}, {hi} - 1), "
            f"__i -> {_nh_at(bo, bc, '__i')} - {_nh_at(ao, ac, '__i')}) "
            f"ELSE {empty} END")
        return lo, diff

    lo, diff = aligned("__ao", "__ac", "__bo", "__bc", "")
    diffs = {"__lo": lo, "__diff": diff}
    if has_neg:
        n_lo, n_diff = aligned("__ano", "__anc", "__bno", "__bnc",
                               "NEGATIVE ")
        diffs.update({"__nlo": n_lo, "__ndiff": n_diff})
    g = _stage(g, **diffs)
    reset = ["exists(__diff, __x -> __x < 0)", "b.zero_count < a.zero_count"]
    if "count" in opt:
        reset.append("b.`count` < a.`count`")
    if "sum" in opt:
        # NULL-safe: an unknown sum can't signal a reset
        reset.append("coalesce(b.`sum` < a.`sum`, false)")
    if has_neg:
        # a decrease visible ONLY in the negative buckets is a reset too
        reset.append("exists(__ndiff, __x -> __x < 0)")
    # gauge delta: a decrease is DATA — no reset rule anywhere
    g = _stage(g, __reset=" OR ".join(reset) if counter else "false")

    def pick(on_reset: str, otherwise: str) -> str:
        return f"CASE WHEN __reset THEN {on_reset} ELSE {otherwise} END"

    return g.selectExpr(
        "map_from_entries(__series) AS labels",
        *map(_q, extra_keys),
        "__t AS schema",
        "__reset AS reset",
        pick("b.zero_count", "b.zero_count - a.zero_count") + " AS zero_count",
        # on reset the increase is the LAST sample verbatim — at the
        # TARGET schema (its own downscaled form)
        pick("__bo", "__lo") + " AS pos_offset",
        pick("__bc", "__diff") + " AS pos_counts",
        *([pick("__bno", "__nlo") + " AS neg_offset",
           pick("__bnc", "__ndiff") + " AS neg_counts"] if has_neg else []),
        *([pick("b.`count`", "b.`count` - a.`count`") + " AS `count`"]
          if "count" in opt else []),
        *([pick("b.`sum`", "b.`sum` - a.`sum`") + " AS `sum`"]
          if "sum" in opt else []),
        *(["b.zero_threshold AS zero_threshold"]
          if "zero_threshold" in opt else []),
        "CAST(unix_timestamp(b.ts) - unix_timestamp(a.ts) AS BIGINT) "
        "AS dt_seconds",
        *(["b.custom_values AS custom_values"] if has_cv else []),
    )


def _per_second(inc: DataFrame, *lead: str, scalars: bool) -> DataFrame:
    """Every bucket component of an increase frame divided by its
    window span — the FLOAT histogram rate() returns. ``dt_seconds ==
    0`` (both endpoints at one timestamp) yields NULL rates."""
    cols = set(inc.columns)
    safe = ("(CASE WHEN CAST(dt_seconds AS DOUBLE) > 0 THEN "
            "CAST(dt_seconds AS DOUBLE) END)")

    def rates(c: str) -> str:
        return f"transform({c}, __x -> CAST(__x AS DOUBLE) / {safe})"

    return inc.selectExpr(
        *lead, "schema", "reset", "pos_offset",
        f"{rates('pos_counts')} AS pos_rates",
        *(["neg_offset", f"{rates('neg_counts')} AS neg_rates"]
          if "neg_counts" in cols else []),
        f"CAST(zero_count AS DOUBLE) / {safe} AS zero_rate",
        # r10 (parser reachability): the scalar components' per-second
        # rates ride along when the increase carried them
        *([f"CAST(`count` AS DOUBLE) / {safe} AS count_rate"]
          if scalars and "count" in cols else []),
        *([f"`sum` / {safe} AS sum_rate"]
          if scalars and "sum" in cols else []),
        *(["zero_threshold"]
          if scalars and "zero_threshold" in cols else []),
        "dt_seconds",
        *(["custom_values"] if "custom_values" in cols else []),
    )


def native_hist_rate(hist: DataFrame) -> DataFrame:
    """PromQL ``rate()`` over native-histogram series (r9): the
    per-second FLOAT histogram — ``native_hist_increase``'s
    counter-corrected increase with every component divided by the
    window span. Prometheus's rate of a native histogram is a float
    histogram for exactly this reason (fractional per-second counts);
    the compositions that are SCALE-INVARIANT (histogram_quantile —
    the /dt cancels) ride increase directly, and this operator is the
    surface for the ones that are not (alerting thresholds on
    per-second bucket rates, dashboards).

    Output mirrors the increase shape with ``zero_rate`` (double) and
    ``pos_rates`` (array<double>) replacing the integer counts — plus
    ``neg_rates`` when the input carries a negative side (r10: the
    increase now align-diffs ``neg_offset``/``neg_counts`` instead of
    silently dropping them, and rate inherits that) — plus the carried
    schema/offset/reset/dt columns. A zero-length window
    (dt_seconds == 0 — both endpoints at one timestamp) yields NULL
    rates, Prometheus's undefined-rate convention. One projection over
    the one hash agg increase already performs — no extra shuffle."""
    return _per_second(native_hist_increase(hist), "labels", scalars=True)


def native_hist_avg_by(
    nh: DataFrame,
    by: "tuple[str, ...]" = ("metric_name",),
) -> DataFrame:
    """PromQL ``avg by (...)`` over native-histogram series (r9):
    the merged group histogram divided by the series count — a FLOAT
    histogram (fractional per-series bucket counts), Prometheus's
    avg-of-histograms. Rides ``native_hist_sum_by`` unchanged (same
    refusals, same scale merge, same group-keyed plan) with one
    pure-Column divide on top — no extra shuffle. Output mirrors the
    merged shape with double-typed ``zero_count``/``count``/
    ``pos_counts``/``neg_counts``; ``sum`` is already the mean of the
    per-series sums.

    INSTANT-SCOPE contract (r10 seam, the `info_enrich` convention):
    the input is an instant vector — ONE row per series. ``n_series``
    is the group's ROW count; feeding a multi-sample-per-series frame
    averages over samples, not series (the same is true of
    Prometheus's avg, which only ever sees instant vectors). Reduce
    time first (``native_hist_increase`` / latest-per-series) — the
    parser's string path does exactly that."""
    m = native_hist_sum_by(nh, by)
    n = F.col("n_series").cast("double")
    has_cv = "custom_values" in m.columns
    return m.select(
        *by,
        "schema",
        "zero_threshold",
        (F.col("zero_count").cast("double") / n).alias("zero_count"),
        (F.col("count").cast("double") / n).alias("count"),
        (F.col("sum") / n).alias("sum"),
        "pos_offset",
        F.transform(
            F.col("pos_counts"), lambda c: c.cast("double") / n
        ).alias("pos_counts"),
        "neg_offset",
        F.transform(
            F.col("neg_counts"), lambda c: c.cast("double") / n
        ).alias("neg_counts"),
        *(["custom_values"] if has_cv else []),
        "n_series",
    )


def _grid_explode(
    hist: DataFrame,
    *,
    frame: str,
    step: str,
    start: "datetime",
    end: "datetime",
) -> DataFrame:
    """Fan each sample onto the grid instants whose sliding
    ``[t − frame, t]`` window contains it (pure-Column sequence, no
    driver loop) and stamp ``bucket_start`` — the shared front half of
    every native grid operator. Row amplification is frame/step (the
    documented explode-strategy contract)."""
    from prom_etl_db_spark.timeparse import parse_duration

    frame_s = int(parse_duration(frame).total_seconds())
    step_s = int(parse_duration(step).total_seconds())
    if frame_s < 1 or step_s < 1:
        raise ValueError("frame and step must be >= 1s")
    start_s, end_s = int(start.timestamp()), int(end.timestamp())
    n = (end_s - start_s) // step_s
    ts_s = F.unix_timestamp(F.col("ts"))
    k_lo = F.greatest(
        F.ceil((ts_s - F.lit(start_s)).cast("double") / F.lit(step_s))
        .cast("long"),
        F.lit(0).cast("long"),
    )
    k_hi = F.least(
        F.floor(
            (ts_s + F.lit(frame_s) - F.lit(start_s)).cast("double")
            / F.lit(step_s)
        ).cast("long"),
        F.lit(int(n)).cast("long"),
    )
    return hist.where(k_lo <= k_hi).select(
        "*", F.explode(F.sequence(k_lo, k_hi)).alias("__k")
    ).withColumn(
        "bucket_start",
        F.timestamp_seconds(F.lit(start_s) + F.col("__k") * F.lit(step_s)),
    ).drop("__k")


def native_hist_increase_range(
    hist: DataFrame,
    *,
    frame: str,
    step: str,
    start: "datetime",
    end: "datetime",
    counter: bool = True,
    last_two: bool = False,
) -> DataFrame:
    """RANGE-QUERY form of native-histogram ``increase()`` (r10): the
    bucket-wise counter increase over a sliding ``[t − frame, t]``
    window evaluated at every grid instant t = start, start+step, …,
    ≤ end — the Grafana per-step pattern the instant form can't
    express, completing the native family's parity with the classic
    ``increase_range``.

    Semantics are the instant operator's, per grid instant: endpoint
    snapshot (earliest/latest in-window sample), schema downscale,
    offset-aligned subtraction on BOTH sides, the reset rule, the
    count/sum/zero_threshold carry — all literally `native_hist_
    increase` with the grid instant appended to the series key.
    Windows holding fewer than two samples DROP (Prometheus's
    two-points rule — a dashboard expects the step absent, not a
    zero histogram). Window bounds are inclusive on both ends, the
    instant native convention.

    Plan: the EXPLODE strategy — each sample fans onto the ≤
    frame/step grid instants whose window contains it (a pure-Column
    sequence, no driver loop), then ONE hash aggregation keyed on
    (series, instant). Row amplification is frame/step, the same
    cost shape `promql.increase_range(method='explode')` documents;
    the classic family's difference-array rewrite does not port —
    bucket arrays lack the scalar pair-contribution decomposition —
    so the amplification bound is the honest contract. Output: the
    increase shape plus ``bucket_start`` (timestamp).

    r11 options: ``counter=False`` is the gauge ``delta()`` grid form
    (no reset rule — `native_hist_delta` per instant); ``last_two``
    keeps only each window's NEWEST TWO samples before the endpoint
    snapshot (one extra window over the exploded (series, instant)
    partitioning, no added shuffle) — `irate()`/`idelta()` on the
    grid, closing the r11 seam-pass asymmetry where the SCALAR range
    path supported both but the native path refused."""
    from prom_etl_db_spark.operators.promql import _ensure_series

    ex = _grid_explode(
        hist, frame=frame, step=step, start=start, end=end)
    if last_two:
        keyed = _ensure_series(ex)
        w = Window.partitionBy("__series", "bucket_start").orderBy(
            F.desc("ts"))
        ex = (
            keyed.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= 2)
            .drop("__rn", "__series")
        )
    out = native_hist_increase(
        ex, extra_keys=("bucket_start",), counter=counter)
    return out.where(F.col("dt_seconds") > 0)


def native_hist_rate_range(
    hist: DataFrame,
    *,
    frame: str,
    step: str,
    start: "datetime",
    end: "datetime",
    last_two: bool = False,
) -> DataFrame:
    """RANGE-QUERY ``rate()`` over native histograms: the per-second
    FLOAT histogram at every grid instant — ``native_hist_increase_
    range``'s counter-corrected increase with every component divided
    by the observed window span (the instant ``native_hist_rate``
    convention, per grid instant; dt is last−first inside each window,
    exact-over-stored-data like the scalar rate family). One projection
    over the grid increase — no additional shuffle. ``last_two`` is
    the ``irate()`` grid form (r11)."""
    inc = native_hist_increase_range(
        hist, frame=frame, step=step, start=start, end=end,
        last_two=last_two)
    return _per_second(inc, "labels", "bucket_start", scalars=False)


def native_hist_delta(hist: DataFrame) -> DataFrame:
    """PromQL ``delta()`` over native GAUGE histograms (r10): the
    aligned endpoint difference with NO reset rule — negative
    components are legal gauge movement (a residuals distribution
    shifting mass between buckets), exactly Prometheus's gauge-only
    delta. Everything else is ``native_hist_increase``'s machinery:
    schema downscale, both-side alignment, the count/sum/
    zero_threshold carry. ``reset`` is a constant False in the shared
    output shape."""
    return native_hist_increase(hist, counter=False)


def _last_two_per_series(hist: DataFrame) -> DataFrame:
    """The newest TWO samples per series — one window, no collect; the
    endpoint machinery over this 2-row set IS the instant-rate pair."""
    from prom_etl_db_spark.operators.promql import _ensure_series

    keyed = _ensure_series(hist)
    w = Window.partitionBy("__series").orderBy(F.desc("ts"))
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 2)
        .drop("__rn", "__series")
    )


def native_hist_irate(hist: DataFrame) -> DataFrame:
    """PromQL ``irate()`` over native histograms (r10): the per-second
    float histogram between each series' LAST TWO samples — the spiky
    instantaneous form. Rides ``native_hist_rate`` over the
    newest-two filter (their endpoints ARE the pair), so the reset
    rule, both-side alignment, and the scalar carries all apply.
    Single-sample series yield dt_seconds == 0 (NULL rates), the
    instant-rate convention; parser callers drop them."""
    return native_hist_rate(_last_two_per_series(hist))


def native_hist_idelta(hist: DataFrame) -> DataFrame:
    """PromQL ``idelta()`` over native GAUGE histograms (r10): the
    signed difference between each series' last two samples — no
    reset rule (``native_hist_delta`` over the newest-two filter)."""
    return native_hist_delta(_last_two_per_series(hist))


def native_hist_changes_and_resets(
    hist: DataFrame, *, extra_keys: "tuple[str, ...]" = ()
) -> DataFrame:
    """PromQL ``resets()`` and ``changes()`` over NATIVE-histogram
    series (r11, VERDICT r10 stretch #8 — Prometheus 3 evaluates both
    on native histograms; promql/functions.go funcResets/funcChanges
    histogram branches): per series, walk CONSECUTIVE sample pairs.

    - ``n_resets`` uses the counter rule ``native_hist_increase``
      applies to its endpoints, per pair: downscale the finer sample
      to the coarser schema, align on absolute bucket indices, and a
      drop in ANY aligned bucket (positive or negative side), the
      zero bucket, or the count/sum scalars (when the frame carries
      them) is a reset;
    - ``n_changes`` counts pairs whose samples DIFFER — semantic
      equality over the canonical decode (schema, zero_count, the
      NONZERO (index, count) entries of both sides, count/sum when
      present), so zero-padding differences from span encodings don't
      read as changes; NULL sums compare null-safely (both-NULL is
      equal, the unknown-vs-known pair is a change).

    Custom-bucket rows (NHCB, schema −53): a mid-series
    ``custom_values`` change (or an NHCB/exponential mix) REFUSES
    loudly, the `native_hist_increase` rule — index-wise comparison
    across different boundaries mis-attributes counts, and there is
    no formula-defined merge. The checks only exist when the frame
    carries a custom_values column.

    Both counters come from ONE lag window + ONE hash aggregation —
    the scalar `promql.changes_and_resets` plan shape lifted to
    histogram rows; the per-pair downscale/align is SQL array algebra
    over the bounded bucket arrays (no UDF, no extra shuffle: the
    aggregation reuses the window's series partitioning). Output:
    (labels, n_changes double, n_resets double), the scalar
    operator's contract. ``extra_keys`` (r11) appends partition
    columns to the series key — the grid form walks pairs per
    (series, grid instant) and passes the columns through."""
    from prom_etl_db_spark.operators.promql import _ensure_series

    has_neg = (
        "neg_offset" in hist.columns and "neg_counts" in hist.columns)
    has_cnt = "count" in hist.columns
    has_sum = "sum" in hist.columns
    has_cv = "custom_values" in hist.columns
    elem = hist.schema["pos_counts"].dataType.elementType.simpleString()

    keyed = _ensure_series(hist)
    w = Window.partitionBy("__series", *extra_keys).orderBy("ts")

    def lagged(c):
        return F.lag(c).over(w)

    df = keyed.withColumn("__p_schema", lagged(F.col("schema")))
    pairs = {
        "zero_count": "__p_zero",
        "pos_offset": "__p_po", "pos_counts": "__p_pc",
    }
    if has_neg:
        pairs.update({"neg_offset": "__p_no", "neg_counts": "__p_nc"})
    if has_cnt:
        pairs["count"] = "__p_count"
    if has_sum:
        pairs["sum"] = "__p_sum"
    if has_cv:
        pairs["custom_values"] = "__p_cv"
    for src, dst in pairs.items():
        df = df.withColumn(dst, lagged(F.col(src)))

    prev_exists = F.col("__p_schema").isNotNull()
    target = "least(schema, __p_schema)"
    if has_cv:
        prev = "__p_schema IS NOT NULL"
        nhcb_c = f"schema = {CUSTOM_BUCKETS_SCHEMA}"
        nhcb_p = f"__p_schema = {CUSTOM_BUCKETS_SCHEMA}"
        target = (
            f"CASE WHEN {prev} AND ({nhcb_c}) != ({nhcb_p}) THEN " + _raise(
                "native_hist_changes_and_resets: series mixes "
                "custom-bucket (schema -53) and exponential "
                "samples — no comparison exists across bucket "
                "families")
            + f" WHEN {prev} AND {nhcb_c} AND {nhcb_p} AND custom_values "
            "!= __p_cv THEN " + _raise(
                "native_hist_changes_and_resets: custom_values "
                "changed mid-series — index-wise comparison "
                "across different boundaries would mis-attribute "
                "counts")
            + f" ELSE {target} END")
    empty = f"CAST(array() AS array<{elem}>)"
    df = _stage(df, __tg=target)
    sides = [("pos_offset", "pos_counts", "__p_po", "__p_pc")]
    shifts = {"__dc": "CAST(schema - __tg AS INT)",
              "__dp": "CAST(__p_schema - __tg AS INT)"}
    if has_neg:
        sides.append(("__cno", "__cnc", "__pno", "__pnc"))
        shifts.update({
            "__cno": "coalesce(neg_offset, __p_no, 0)",
            "__cnc": f"coalesce(neg_counts, {empty})",
            "__pno": "coalesce(__p_no, neg_offset, 0)",
            "__pnc": f"coalesce(__p_nc, {empty})",
        })
    df = _stage(df, **shifts)
    down = {}
    for k, (oc, cc, op, cp) in enumerate(sides):
        down[f"__co{k}"], down[f"__cc{k}"] = _nh_downscale(
            oc, cc, "__dc", elem=elem)
        down[f"__po{k}"], down[f"__pc{k}"] = _nh_downscale(
            op, cp, "__dp", elem=elem)
    df = _stage(df, **down)

    def side_drop(k: int) -> str:
        co, cc, po, pc = f"__co{k}", f"__cc{k}", f"__po{k}", f"__pc{k}"
        lo = f"least({co}, {po})"
        hi = f"greatest({co} + size({cc}), {po} + size({pc}))"
        # A pair whose union index span exceeds 4096 refuses (r12,
        # VERDICT r11 What's-wrong #1 — `native_hist_increase`'s
        # dense-expansion bomb guard applied to the PAIR walk): each
        # decoded sample's own span is bounded, but two consecutive
        # samples' offsets can sit arbitrarily far apart, and the
        # sequence below would materialize a dense array spanning the
        # gap for every pair row. The guard rides the drop column so
        # column pruning can never elide it.
        return (
            f"CASE WHEN {hi} - {lo} > 4096 THEN " + _raise(
                "native_hist_changes_and_resets: aligned bucket index "
                "span exceeds 4096 — dense-expansion bomb guard")
            + f" WHEN {hi} > {lo} THEN exists(sequence({lo}, {hi} - 1), "
            f"__i -> {_nh_at(co, cc, '__i')} < {_nh_at(po, pc, '__i')}) "
            "ELSE false END")

    drop = [side_drop(0), "zero_count < __p_zero"]
    if has_neg:
        drop.append(side_drop(1))
    if has_cnt:
        drop.append("`count` < __p_count")
    if has_sum:
        drop.append("coalesce(`sum` < __p_sum, false)")
    reset = F.expr(
        "CASE WHEN __p_schema IS NOT NULL AND ("
        + " OR ".join(f"({d})" for d in drop) + ") THEN 1 ELSE 0 END")

    def nz(off, counts):
        # nonzero (absolute index, count) entries in index order —
        # canonical for equality regardless of zero padding
        return F.filter(
            F.transform(
                counts,
                lambda c, i: F.struct(
                    (off + i).alias("i"), c.cast("double").alias("c")),
            ),
            lambda s: s["c"] != 0,
        )

    cur_sig = [
        F.col("schema"), F.col("zero_count").cast("double"),
        nz(F.col("pos_offset"), F.col("pos_counts")),
    ]
    prev_sig = [
        F.col("__p_schema"), F.col("__p_zero").cast("double"),
        nz(F.col("__p_po"), F.col("__p_pc")),
    ]
    if has_neg:
        cur_sig.append(nz(
            F.coalesce(F.col("neg_offset"), F.lit(0)),
            F.coalesce(F.col("neg_counts"), F.expr(empty))))
        prev_sig.append(nz(
            F.coalesce(F.col("__p_no"), F.lit(0)),
            F.coalesce(F.col("__p_nc"), F.expr(empty))))
    if has_cnt:
        cur_sig.append(F.col("count").cast("double"))
        prev_sig.append(F.col("__p_count").cast("double"))
    if has_sum:
        cur_sig.append(F.col("sum"))
        prev_sig.append(F.col("__p_sum"))
    changed = F.when(
        prev_exists
        & ~F.struct(*cur_sig).eqNullSafe(F.struct(*prev_sig)),
        1,
    ).otherwise(0)

    return (
        df.withColumn("__chg", changed)
        .withColumn("__rst", reset)
        .groupBy("__series", *extra_keys)
        .agg(
            F.sum("__chg").cast("double").alias("n_changes"),
            F.sum("__rst").cast("double").alias("n_resets"),
        )
        .select(
            F.map_from_entries("__series").alias("labels"),
            *extra_keys,
            "n_changes",
            "n_resets",
        )
    )
