"""NATIVE-HISTOGRAM routing for the PromQL string evaluator (r10,
split from ``promql_parser`` at the 2,000-line threshold — the
``registry/pipeline_a`` precedent; behavior pinned by
tests/test_r10_parser_native.py and the parsed-form registry oracles).

``HistVector`` is the evaluator's histogram-vector type; the functions
here lower string shapes onto the gated combinators in
``operators.promql`` / ``operators.native_hist``:

- selectors (instant latest-per-series; range via rate/increase),
- sum/avg by/without merges,
- the collapse functions (quantile/fraction/count/sum/avg/stddev/
  stdvar) with the per-family NHCB split,
- the histogram algebra (h*k, h/k, h+h, h-h with one-to-one matching,
  h x float-vector scaling with group modifiers),
- ``eval_native_range``: the grid (Grafana panel) shapes.

Imports from ``promql_parser`` are DEFERRED inside each function — the
two modules are mutually recursive (the evaluator dispatches here; the
lowering evaluates sub-expressions), and call-time imports break the
cycle the same way the combinator modules defer theirs.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prom_etl_db_spark.operators import promql
from prom_etl_db_spark.operators.native_hist import _q, _str

class HistVector:
    """An INSTANT NATIVE-HISTOGRAM vector riding the evaluator (r10):
    one decoded histogram per row, shaped like the wire decoders'
    dense frame keyed by a ``labels`` map — (labels, schema,
    zero_threshold, zero_count, count, sum, pos_offset, pos_counts,
    neg_offset, neg_counts). Produced by a selector over a native
    metric (latest-per-series), by ``rate()``/``increase()`` over a
    native range selector, and by ``sum by`` / ``avg by`` merges;
    consumed by ``histogram_quantile`` / ``histogram_fraction`` /
    ``histogram_count`` / ``histogram_sum`` / ``histogram_avg``, which
    collapse it back to a float vector. Everything else refuses loudly
    — a histogram vector has no meaningful float value to leak."""

    __slots__ = ("df",)

    def __init__(self, df: DataFrame):
        self.df = df


_NH_COLS = [
    "labels", "schema", "zero_threshold", "zero_count", "count", "sum",
    "pos_offset", "pos_counts", "neg_offset", "neg_counts",
]


def _nh_cols_of(df: DataFrame) -> list:
    """The HistVector column contract for ``df`` — the dense frame
    plus ``custom_values`` when the source carries NHCB rows
    (boundaries are data and must ride every hop)."""
    return _NH_COLS + (
        ["custom_values"] if "custom_values" in df.columns else [])


def _native_selector_stream(ctx: EvalContext, sel: Selector) -> DataFrame:
    """Matched native-histogram samples: matchers → offset shift →
    fold metric_name into the labels map (series identity downstream
    is the labels map alone, the `_selector_stream` convention)."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError, _apply_matchers, _interval_str,
    )

    if ctx.native_hists is None:
        raise PromQLError(
            f"selector {sel.name!r} names a native-histogram metric but "
            "no native_hists frame was provided")
    df = _apply_matchers(ctx.native_hists, sel)
    if sel.offset:
        df = df.withColumn(
            "ts",
            F.col("ts") + F.expr(
                f"INTERVAL {_interval_str(sel.offset, allow_negative=True)}"
            ),
        )
    labels = ("map_concat(map_filter(labels, (k, v) -> k != '__name__'), "
              "map('__name__', coalesce(metric_name, ''))) AS labels")
    return df.selectExpr(
        "ts", *[labels if c == "labels" else _q(c) for c in _nh_cols_of(df)])


def _native_instant_vector(ctx: EvalContext, sel: Selector) -> HistVector:
    """Instant selector over a native metric: the LATEST sample per
    series within the staleness window — `promql.instant_selector`'s
    rule lifted to whole histograms. One window per series, no
    collect."""
    from prom_etl_db_spark.operators.promql_parser import (
        _at_of,
    )

    from pyspark.sql.window import Window

    at = _at_of(ctx, sel)
    # ctx.staleness is a SPARK interval string ("5 minutes"), not a
    # PromQL duration — subtract it SQL-side like instant_selector does
    lo = F.lit(at) - F.expr(f"INTERVAL {ctx.staleness}")
    df = _native_selector_stream(ctx, sel).where(
        (F.col("ts") > lo) & (F.col("ts") <= F.lit(at)))
    keyed = promql._ensure_series(df)
    w = Window.partitionBy("__series").orderBy(F.desc("ts"))
    latest = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return HistVector(latest.select(*_nh_cols_of(latest)))


def _native_range_fn(ctx: EvalContext, fn: str, sel: Selector):
    """``rate()`` / ``increase()`` / ``delta()`` / ``irate()`` /
    ``idelta()`` over a native range selector — lowers onto the gated
    combinators (`native_hist.native_hist_increase`,
    `native_hist.native_hist_rate`) and returns a HistVector;
    ``resets()`` / ``changes()`` (r11) return a FLOAT vector from the
    consecutive-pair counters. The other range functions have no
    histogram meaning and refuse."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError, Selector, _at_of, _frame_bounds,
    )

    from prom_etl_db_spark.operators import native_hist as NH

    if fn not in ("rate", "increase", "delta", "irate", "idelta",
                  "resets", "changes"):
        raise PromQLError(
            f"{fn} is not defined over native-histogram series")
    lo, hi = _frame_bounds(_at_of(ctx, sel), sel.range_)
    raw = _native_selector_stream(
        ctx, Selector(sel.name, sel.matchers, offset=sel.offset)
    ).where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    if fn in ("resets", "changes"):
        # float-vector results (consecutive-pair counters) — Prometheus
        # 3 evaluates both on native histograms; a single-sample series
        # legally counts 0
        out = NH.native_hist_changes_and_resets(raw)
        col = "n_resets" if fn == "resets" else "n_changes"
        return out.select("labels", F.col(col).alias("value"))
    # Prometheus rate()/increase() need TWO points in the window — a
    # single-sample series (dt == 0) drops from the result vector
    # rather than emitting NULL components (r10 seam: a NULL-rate row
    # fed to histogram_quantile would surface as a NULL-valued series
    # Prometheus never shows)
    if fn in ("irate", "idelta"):
        # instantaneous forms: the newest-two filter first, then the
        # same endpoint machinery (irate = rate, idelta = delta)
        raw = NH._last_two_per_series(raw)
        fn = {"irate": "rate", "idelta": "delta"}[fn]
    if fn in ("increase", "delta"):
        # delta = the gauge form: same endpoint machinery, no reset
        inc = NH.native_hist_increase(
            raw, counter=(fn == "increase")).where(
            F.col("dt_seconds") > 0)
        out = inc.select(
            "labels", "schema", "zero_threshold", "zero_count",
            "count", "sum",
            "pos_offset", "pos_counts", "neg_offset", "neg_counts",
            *(["custom_values"] if "custom_values" in inc.columns
              else []),
        )
        return HistVector(out)
    rates = NH.native_hist_rate(raw).where("dt_seconds > 0")
    # rename the per-second shape back onto the dense-frame contract so
    # sum by / quantile compose without knowing they hold a FLOAT
    # histogram (count arrays are doubles — native_hist_sum_by merges
    # them type-generically)
    out = rates.selectExpr(
        "labels", "schema", "zero_threshold", "zero_rate AS zero_count",
        "count_rate AS `count`", "sum_rate AS `sum`", "pos_offset",
        "pos_rates AS pos_counts", "neg_offset", "neg_rates AS neg_counts",
        *(["custom_values"] if "custom_values" in rates.columns
          else []),
    )
    return HistVector(out)


def eval_native_range(
    native_hists: DataFrame,
    native_metrics: frozenset,
    node: "Node",
    *,
    start: datetime,
    end: datetime,
    step: str,
    samples: "DataFrame | None" = None,
) -> DataFrame:
    """RANGE-MODE evaluation of the supported native-histogram query
    shapes (r10) — the Grafana panel pattern, lowered onto the grid
    combinators:

        histogram_quantile(q, rate(h[f]))
        histogram_quantile(q, sum by (...) (rate(h[f])))
        histogram_fraction(lo, hi, <same inner shapes>)
        histogram_count/sum/avg(<same inner shapes>)

    with ``increase``/``delta``/``irate``/``idelta`` interchangeable
    with ``rate`` (r11: gauge and newest-two-per-window grid forms —
    parity with the scalar range path's sliding-fn list), ``avg by`` /
    ``without`` with ``sum by``, plus the collapse-free float forms
    ``resets(h[f])`` / ``changes(h[f])`` — optionally wrapped in
    LITERAL-scalar
    arithmetic (r11: ``histogram_count(rate(h[10m])) * 60 / 3600``,
    the flagship's own tail shape, scripts/migrate.sql:105 — the
    collapse yields a float vector, so the scalars replay on the value
    column as a pure-Column tail; non-literal operands refuse). The
    inner selector must be a plain
    native range selector (no subquery step, no @ pin). Lowering:
    selector stream → ``native_hist_increase_range`` (one hash agg
    keyed on (series, grid instant); rate = the per-second rename —
    quantile/fraction are scale-invariant, count/sum divide) →
    optional per-instant group merge (``native_hist_sum_by`` /
    ``avg_by`` keyed on (groups…, instant)) → the pure-Column
    collapse. Returns (labels, bucket_start, value) — the executor's
    range-matrix shape. Unsupported shapes raise PromQLError."""
    from prom_etl_db_spark.operators.promql_parser import (
        Agg, BinOp, Call, EvalContext, Num, PromQLError, Selector,
        _selector_stream,
    )

    from prom_etl_db_spark.operators import native_hist as NH

    # Scalar tail (r11, VERDICT r10 task #3): the reference's flagship
    # pattern multiplies the collapsed result by literal scalars
    # (`... * 60 / 3600`, scripts/migrate.sql:105). The collapse
    # yields a plain float vector, so the scalars apply AFTER it as a
    # pure-Column tail — peel BinOp-with-Num layers (either side, any
    # +-*/^ chain) down to the collapse Call, then replay them on the
    # value column. Non-literal operands keep the named refusal.
    _SCALAR_OPS = {"+", "-", "*", "/", "^"}
    tail: list = []  # (op, k, scalar_on_left) outermost-first
    while (isinstance(node, BinOp) and node.op in _SCALAR_OPS
           and (isinstance(node.lhs, Num) or isinstance(node.rhs, Num))):
        if isinstance(node.rhs, Num):
            tail.append((node.op, float(node.rhs.value), False))
            node = node.lhs
        else:
            tail.append((node.op, float(node.lhs.value), True))
            node = node.rhs
    tail.reverse()  # apply innermost-first

    def _apply_tail(val):
        for op, k, left in tail:
            a, b = (F.lit(k), val) if left else (val, F.lit(k))
            if op == "^":
                val = F.pow(a, b)
            elif op == "+":
                val = a + b
            elif op == "-":
                val = a - b
            elif op == "*":
                val = a * b
            else:
                val = a / b
        return val

    def _check_sel(sel):
        if (sel.name not in native_metrics or sel.range_ is None
                or sel.step or sel.at_ is not None):
            raise PromQLError(
                "native-histogram range queries need a plain native "
                "range selector like h[5m] (no subquery step, no @ "
                "pin)")

    # resets()/changes() collapse to floats by nature — top-level grid
    # forms (r11, the seam-pass asymmetry: the SCALAR range path
    # supported both; pairs are walked per (series, grid instant))
    if (isinstance(node, Call) and node.fn in ("resets", "changes")
            and len(node.args) == 1
            and isinstance(node.args[0], Selector)):
        sel = node.args[0]
        _check_sel(sel)
        ctx = EvalContext(
            native_hists, end,
            native_hists=native_hists, native_metrics=native_metrics)
        raw = _native_selector_stream(
            ctx, Selector(sel.name, sel.matchers, offset=sel.offset))
        ex = NH._grid_explode(
            raw, frame=sel.range_, step=step, start=start, end=end)
        out = NH.native_hist_changes_and_resets(
            ex, extra_keys=("bucket_start",))
        col = "n_resets" if node.fn == "resets" else "n_changes"
        return out.select(
            "labels", "bucket_start",
            _apply_tail(F.col(col)).alias("value"))

    _COLLAPSE = ("histogram_quantile", "histogram_fraction",
                 "histogram_count", "histogram_sum", "histogram_avg",
                 "histogram_stddev", "histogram_stdvar")
    if not (isinstance(node, Call) and node.fn in _COLLAPSE):
        raise PromQLError(
            "native-histogram range queries must collapse to floats — "
            f"supported outer functions: {', '.join(_COLLAPSE)}, "
            "resets, changes (optionally wrapped in literal-scalar "
            "arithmetic)")
    inner = node.args[-1]
    agg = None
    if isinstance(inner, Agg):
        agg, inner = inner, inner.expr
        if agg.op not in ("sum", "avg"):
            raise PromQLError(
                f"{agg.op} is not defined over native-histogram vectors")
    _INNER = ("rate", "increase", "delta", "irate", "idelta")
    if not (isinstance(inner, Call) and inner.fn in _INNER
            and len(inner.args) == 1
            and isinstance(inner.args[0], Selector)):
        raise PromQLError(
            "native-histogram range queries support "
            "rate/increase/delta/irate/idelta(h[f]) inner shapes only")
    sel = inner.args[0]
    _check_sel(sel)
    ctx = EvalContext(
        native_hists, end,
        native_hists=native_hists, native_metrics=native_metrics)
    raw = _native_selector_stream(
        ctx, Selector(sel.name, sel.matchers, offset=sel.offset))
    # irate/idelta = the newest-two-per-window filter; delta/idelta =
    # the gauge form (no reset rule) — r11, grid parity with the
    # scalar range path's sliding-fn list
    inc = NH.native_hist_increase_range(
        raw, frame=sel.range_, step=step, start=start, end=end,
        counter=inner.fn in ("rate", "increase", "irate"),
        last_two=inner.fn in ("irate", "idelta"))
    is_rate = inner.fn in ("rate", "irate")
    if is_rate:
        # per-SERIES division BEFORE any merge (the instant path's
        # order): each series' dt is its own observed window span, and
        # summing increases then dividing by a group dt mis-rates any
        # group whose members were scraped at different instants —
        # scale invariance only cancels a UNIFORM factor
        dt = F.col("dt_seconds").cast("double")
        safe = F.when(dt > 0, dt)
        comp = inc.select(
            "labels", "bucket_start", "schema", "zero_threshold",
            (F.col("zero_count").cast("double") / safe)
            .alias("zero_count"),
            (F.col("count").cast("double") / safe).alias("count"),
            (F.col("sum") / safe).alias("sum"),
            "pos_offset",
            F.transform(F.col("pos_counts"),
                        lambda c: c.cast("double") / safe)
            .alias("pos_counts"),
            "neg_offset",
            F.transform(F.col("neg_counts"),
                        lambda c: c.cast("double") / safe)
            .alias("neg_counts"),
            *(["custom_values"] if "custom_values" in inc.columns
              else []),
        )
    else:
        comp = inc.select(
            "labels", "bucket_start", "schema", "zero_threshold",
            "zero_count", "count", "sum",
            "pos_offset", "pos_counts", "neg_offset", "neg_counts",
            *(["custom_values"] if "custom_values" in inc.columns
              else []),
        )
    vec = HistVector(comp)
    if agg is not None:
        df = vec.df
        if agg.without is not None:
            drop = set(agg.without) | {"__name__"}
            kept = F.map_filter(
                F.col("labels"),
                lambda k, _: ~k.isin(*[F.lit(x) for x in drop]))
            df = df.withColumn("__kept", kept).withColumn(
                "__k",
                F.to_json(F.array_sort(F.map_entries(F.col("__kept")))))
            keys: tuple = ("__k",)
            labels_back = df.select(
                "__k", F.col("__kept").alias("labels")
            ).dropDuplicates(["__k"])
        else:
            by = tuple(agg.by or ())
            gcols = [f"__g_{k}" for k in by]
            for k, g in zip(by, gcols):
                df = df.withColumn(
                    g, F.coalesce(F.col("labels")[k], F.lit("")))
            if not by:
                df = df.withColumn("__all", F.lit(1))
            keys = tuple(gcols) if by else ("__all",)
            labels_back = None
        merge = (NH.native_hist_sum_by if agg.op == "sum"
                 else NH.native_hist_avg_by)
        # per-instant merge: the grid instant joins the group key (the
        # rate division already happened PER SERIES above, so the merge
        # sums per-second float histograms directly)
        mcols = [c for c in _nh_cols_of(df)
                 if c not in ("labels",)] + ["bucket_start"]
        merged = merge(
            df.select(*keys, *mcols), tuple(keys) + ("bucket_start",))
        if labels_back is not None:
            merged = merged.join(labels_back, on="__k")
        else:
            by = tuple(agg.by or ())
            labels = (
                F.map_from_arrays(
                    F.array(*[F.lit(k) for k in by]),
                    F.array(*[F.col(f"__g_{k}").cast("string")
                              for k in by]),
                )
                if by else F.expr("CAST(map() AS map<string,string>)")
            )
            merged = merged.withColumn("labels", labels)
        vec = HistVector(merged.select(
            "labels", "bucket_start", "schema", "zero_threshold",
            "zero_count", "count", "sum",
            "pos_offset", "pos_counts", "neg_offset", "neg_counts",
            *(["custom_values"] if "custom_values" in merged.columns
              else []),
        ))
    fn, df = node.fn, vec.df
    if fn in ("histogram_quantile", "histogram_fraction"):
        if fn == "histogram_quantile":
            if not isinstance(node.args[0], Num):
                raise PromQLError("histogram_quantile needs a literal q")
            args = (float(node.args[0].value),)
            nfn, cfn, vcol = (NH.native_hist_quantile,
                              promql.histogram_quantile, "quantile_value")
        else:
            if not (isinstance(node.args[0], Num)
                    and isinstance(node.args[1], Num)):
                raise PromQLError(
                    "histogram_fraction needs literal bounds")
            args = (float(node.args[0].value),
                    float(node.args[1].value))
            nfn, cfn, vcol = (NH.native_hist_fraction,
                              promql.histogram_fraction, "fraction_value")
        if "custom_values" in df.columns:
            # NHCB rows on the grid take the CLASSIC rule, like the
            # instant split (r10): the grid instant rides the labels
            # as a reserved entry through the le-grouping and is
            # restored afterward (the classic operators group on
            # labels-minus-le only)
            exp = df.where(F.col("schema") != F.lit(-53))
            ne = nfn(exp, *args).select(
                "labels", "bucket_start", F.col(vcol).alias("value"))
            nhcb = df.where(F.col("schema") == F.lit(-53)).withColumn(
                "labels",
                F.map_concat(
                    F.col("labels"),
                    F.create_map(
                        F.lit("__bucket_ts"),
                        F.unix_timestamp("bucket_start").cast("string")),
                ),
            )
            ble = NH.nhcb_to_le_buckets(nhcb)
            buckets = ble.select(
                F.map_concat(
                    F.col("labels"),
                    F.create_map(F.lit("le"), F.col("le_cum.le")),
                ).alias("labels"),
                F.col("le_cum.cum").alias("value"),
            )
            ce = cfn(buckets, *args).select(
                F.map_filter(
                    F.col("labels"),
                    lambda k, _: k != "__bucket_ts").alias("labels"),
                F.timestamp_seconds(
                    F.element_at(F.col("labels"), "__bucket_ts")
                    .cast("long")).alias("bucket_start"),
                "value",
            )
            res = ne.unionByName(ce)
        else:
            res = nfn(df, *args).select(
                "labels", "bucket_start", F.col(vcol).alias("value"))
        # MIXED family on the GRID (r11): classic le-bucket series
        # stored under the same metric name evaluate with the classic
        # per-instant rule and union — the instant `mixed_classic_leg`
        # lifted onto the range path. Scoped like the instant form:
        # bare rate/increase inner only (the agg form would need `le`
        # in the by-set — the named DIVERGENCES boundary); quantile/
        # fraction only (both scale-invariant, so the classic grid's
        # /frame vs the native /observed-dt rate convention cancels
        # per series). The classic window is [t−frame, t) (the scalar
        # family's half-open bound) vs the native inclusive bound —
        # each family keeps its own documented convention.
        if (samples is not None and agg is None
                and inner.fn in ("rate", "increase")):
            ctx2 = EvalContext(samples, end)
            stream = _selector_stream(
                ctx2, Selector(sel.name, sel.matchers, offset=sel.offset)
            ).where(F.element_at(F.col("labels"), "le").isNotNull())
            gridfn = (promql.rate_range if is_rate
                      else promql.increase_range)
            grid = gridfn(
                stream, frame=sel.range_, step=step,
                start=start, end=end)
            buckets = grid.select(
                F.map_concat(
                    F.col("labels"),
                    F.create_map(
                        F.lit("__bucket_ts"),
                        F.unix_timestamp("bucket_start").cast("string")),
                ).alias("labels"),
                "value",
            )
            cg = cfn(buckets, *args).select(
                F.map_filter(
                    F.col("labels"),
                    lambda k, _: k != "__bucket_ts").alias("labels"),
                F.timestamp_seconds(
                    F.element_at(F.col("labels"), "__bucket_ts")
                    .cast("long")).alias("bucket_start"),
                "value",
            )
            res = res.unionByName(cg)
        return res.select(
            "labels", "bucket_start",
            _apply_tail(F.col("value")).alias("value"))
    elif fn in ("histogram_stddev", "histogram_stdvar"):
        # r11: the instant path collapsed these since r8; the range
        # path refused — same estimator per (series, instant) row
        # (histogram_stats appends columns, bucket_start rides along)
        out = NH.histogram_stats(df)
        val = F.col("hist_stddev" if fn == "histogram_stddev"
                    else "hist_stdvar")
    else:
        out = df
        # the components are already per-second when is_rate (divided
        # per series before any merge), so the extractors read directly
        val = {
            "histogram_count": F.col("count").cast("double"),
            "histogram_sum": F.col("sum").cast("double"),
            "histogram_avg": F.try_divide(
                F.col("sum"), F.col("count").cast("double")),
        }[fn]
    return out.select(
        "labels", "bucket_start", _apply_tail(val).alias("value"))


def _native_over_time(ctx: EvalContext, fn: str, sel: Selector):
    """The ``*_over_time`` family over NATIVE-histogram range selectors
    (r11): Prometheus 3 defines sum/avg/count/last/present/absent_
    over_time on histogram samples — before r11 these silently
    evaluated over the (empty) SCALAR store for a native name, so
    ``absent_over_time(h[5m])`` reported a live metric as absent, the
    misleading-alert failure mode. Lowering:

    - ``sum_over_time`` / ``avg_over_time`` → the gated r9 merges
      (`native_hist_sum_by` / `avg_by`) keyed on the canonical series
      key — merging a series' own samples across TIME is the same
      offset-aligned min-schema merge as merging series (HistVector);
    - ``last_over_time`` / ``first_over_time`` → newest/oldest sample
      per series, one window (HistVector);
    - ``count_over_time`` / ``present_over_time`` → per-series float
      vectors (sample count; presence 1.0);
    - ``absent_over_time`` → one ``{}``-labeled 1.0 row iff NO sample
      matched in the window (`promql.absent` over the windowed
      stream — a 1-row count aggregate, no collect).

    The estimator-dependent forms (min/max/stddev/quantile/mad…)
    REFUSE loudly — Prometheus skips histogram samples there with a
    warning annotation; a loud refusal beats a silent empty. Window
    bounds are inclusive on both ends, the native family's
    convention."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError, Selector as Sel, _at_of, _frame_bounds,
    )
    from pyspark.sql.window import Window

    from prom_etl_db_spark.operators import native_hist as NH

    supported = ("sum_over_time", "avg_over_time", "count_over_time",
                 "last_over_time", "first_over_time",
                 "present_over_time", "absent_over_time")
    if fn not in supported:
        raise PromQLError(
            f"{fn} is not defined over native-histogram series "
            f"(supported: {', '.join(supported)})")
    lo, hi = _frame_bounds(_at_of(ctx, sel), sel.range_)
    raw = _native_selector_stream(
        ctx, Sel(sel.name, sel.matchers, offset=sel.offset)
    ).where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    if fn == "absent_over_time":
        return promql.absent(raw)
    keyed = promql._ensure_series(raw)
    if fn in ("count_over_time", "present_over_time"):
        agg = (F.count(F.lit(1)).cast("double")
               if fn == "count_over_time" else F.lit(1.0))
        return keyed.groupBy("__series").agg(agg.alias("value")).select(
            F.map_from_entries("__series").alias("labels"), "value")
    if fn in ("last_over_time", "first_over_time"):
        order = (F.desc("ts") if fn == "last_over_time"
                 else F.asc("ts"))
        w = Window.partitionBy("__series").orderBy(order)
        picked = (
            keyed.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
        )
        return HistVector(picked.select(*_nh_cols_of(picked)))
    # sum/avg over time: the r9 series-merge machinery keyed on the
    # canonical series key — a series' samples across time merge with
    # the same offset-aligned min-schema rules as series across space
    merge = (NH.native_hist_sum_by if fn == "sum_over_time"
             else NH.native_hist_avg_by)
    cols = [c for c in _nh_cols_of(keyed) if c != "labels"]
    merged = merge(keyed.select("__series", *cols), ("__series",))
    out_cols = [c for c in _nh_cols_of(merged) if c != "labels"]
    return HistVector(merged.select(
        F.map_from_entries("__series").alias("labels"), *out_cols))


def mixed_classic_leg(ctx: EvalContext, inner: "Node") -> "DataFrame | None":
    """The CLASSIC side of a MIXED metric family (r11, VERDICT r10
    stretch #8): real fleets migrate to native histograms gradually,
    leaving one metric name with some series stored as native
    histograms and others as classic cumulative ``le``-bucket float
    series. When ``histogram_quantile``/``histogram_fraction`` wraps a
    bare ``rate()``/``increase()`` over a native-metric selector, this
    returns the same range function evaluated over the SCALAR sample
    stream for that selector, restricted to rows carrying an ``le``
    label — ready for the classic collapse; the caller unions it with
    the native leg. The per-family split is `nhcb_to_le_buckets`'
    rule generalized: each family evaluates under its own estimator,
    and the union is the full result vector.

    Returns None when the shape doesn't apply (aggregated inner —
    the classic idiom would need ``le`` added to the by-set, a
    different grouping per family; documented boundary in
    DIVERGENCES.md — or a non-rate/increase inner). A family with no
    classic rows yields an EMPTY leg from a metric-name-pruned scan —
    no behavioral change for pure-native metrics."""
    from prom_etl_db_spark.operators.promql_parser import (
        Call, Selector, _at_of, _frame_bounds, _selector_stream,
    )

    if not (isinstance(inner, Call) and inner.fn in ("rate", "increase")
            and len(inner.args) == 1
            and isinstance(inner.args[0], Selector)):
        return None
    sel = inner.args[0]
    if (sel.name is None or sel.name not in ctx.native_metrics
            or sel.range_ is None or sel.step):
        return None
    lo, hi = _frame_bounds(_at_of(ctx, sel), sel.range_)
    stream = _selector_stream(
        ctx, Selector(sel.name, sel.matchers, offset=sel.offset)
    ).where(F.element_at(F.col("labels"), "le").isNotNull())
    fn = promql.rate if inner.fn == "rate" else promql.increase
    return fn(stream, frame_start=lo, frame_end=hi)


def _hist_scalar_scale(vec: HistVector, k: float) -> HistVector:
    """``h * k`` / ``h / k`` (k a scalar): every count component scales
    — Prometheus's FloatHistogram Mul/Div. The result is a FLOAT
    histogram (double counts); quantiles over it are unchanged (scale
    invariance), count/sum extractions scale."""
    kf = F.lit(float(k))
    df = vec.df.select(
        "labels", "schema", "zero_threshold",
        (F.col("zero_count").cast("double") * kf).alias("zero_count"),
        (F.col("count").cast("double") * kf).alias("count"),
        (F.col("sum") * kf).alias("sum"),
        "pos_offset",
        F.transform(F.col("pos_counts"),
                    lambda c: c.cast("double") * kf).alias("pos_counts"),
        "neg_offset",
        F.transform(F.col("neg_counts"),
                    lambda c: c.cast("double") * kf).alias("neg_counts"),
        *(["custom_values"] if "custom_values" in vec.df.columns
          else []),
    )
    return HistVector(df)


def _hist_vector_scale(
    hv: HistVector,
    vec: DataFrame,
    op: str,
    node: BinOp,
    *,
    hist_is_lhs: bool,
) -> HistVector:
    """``h * v`` / ``h / v`` / ``v * h`` — a histogram vector scaled by
    a matched FLOAT vector (Prometheus 3: FloatHistogram Mul/Div with
    vector matching; the Grafana normalize-by-gauge pattern). Matching
    follows the binop rules (exact minus ``__name__``, ``on``,
    ``ignoring``); the FLOAT side is always the "one" side — a key
    matched by >1 float rows refuses loudly, and scaling ONE histogram
    by MANY floats is undefined (refuse a group modifier pointing the
    many side at the histogram). With ``group_left``/``group_right``
    pointing at the HISTOGRAM side, many histograms share one float
    (PromQL many-to-one) and the output keeps each histogram's own
    labels (minus ``__name__``); without a modifier the match is
    one-to-one and the output carries the match-key labels.
    ``v / h`` has no meaning and refuses at the call site.

    Plan: one equi-join on the match key + pure-Column scaling; the
    float side is broadcast-class (one row per key)."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError,
    )

    if node.group is not None:
        hist_many = (node.group == "left") == hist_is_lhs
        if not hist_many:
            raise PromQLError(
                "histogram vector scaling: the group modifier points "
                "the many side at the FLOAT vector — scaling one "
                "histogram by many floats is undefined")
    if node.on:
        kept = F.map_filter(
            F.col("labels"), lambda k, _: k.isin(*list(node.on)))
    else:
        drop = set(node.ignoring or ()) | {"__name__"}
        kept = F.map_filter(
            F.col("labels"), lambda k, _: ~k.isin(*list(drop)))
    key = F.to_json(F.array_sort(F.map_entries(kept)))
    h = hv.df.withColumn("__kept", kept).withColumn("__k", key)
    v = vec.select(
        key.alias("__k"), F.col("value").alias("__v"))
    # the float side is the "one" side: duplicates refuse (guard rides
    # the join-side aggregation so pruning can't elide it — the count
    # IS the joined column)
    vone = v.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__nv"), F.first("__v").alias("__v"))
    joined = h.join(vone, on="__k", how="inner").where(
        F.when(
            F.col("__nv") > 1,
            F.raise_error(F.lit(
                f"histogram {op} vector: a match key is shared by more "
                "than one float series (the float side must be the "
                "'one' side) — narrow with on(...)/ignoring(...)")),
        ).otherwise(F.lit(True))
    )
    if node.group is None:
        # one-to-one also requires the HISTOGRAM side unique per key
        hcnt = h.groupBy("__k").agg(F.count(F.lit(1)).alias("__nh"))
        joined = joined.join(hcnt, on="__k").where(
            F.when(
                F.col("__nh") > 1,
                F.raise_error(F.lit(
                    f"histogram {op} vector: a match key is shared by "
                    "more than one histogram series (one-to-one) — "
                    "use group_left/group_right for many-to-one")),
            ).otherwise(F.lit(True))
        )
    k = (F.col("__v") if op == "*"
         else F.lit(1.0) / F.col("__v"))
    out_labels = (
        F.map_filter(F.col("labels"), lambda kk, _: kk != "__name__")
        if node.group is not None else F.col("__kept")
    )
    df = joined.select(
        out_labels.alias("labels"), "schema", "zero_threshold",
        (F.col("zero_count").cast("double") * k).alias("zero_count"),
        (F.col("count").cast("double") * k).alias("count"),
        (F.col("sum") * k).alias("sum"),
        "pos_offset",
        F.transform(F.col("pos_counts"),
                    lambda c: c.cast("double") * k).alias("pos_counts"),
        "neg_offset",
        F.transform(F.col("neg_counts"),
                    lambda c: c.cast("double") * k).alias("neg_counts"),
        *(["custom_values"] if "custom_values" in joined.columns
          else []),
    )
    return HistVector(df)


def _hist_hist_addsub(
    lhs: HistVector,
    rhs: HistVector,
    op: str,
    on: "list[str] | None" = None,
    ignoring: "list[str] | None" = None,
    group: "str | None" = None,
) -> HistVector:
    """``h1 + h2`` / ``h1 - h2``: histogram addition/subtraction with
    PromQL's one-to-one vector matching lifted to histograms
    (Prometheus 3 supports both; Sub can go negative, a legal float
    histogram used for deltas). Matching follows the scalar binop
    rules: exact label-set equality by default, ``on(...)`` restricts
    the key to the named labels, ``ignoring(...)`` removes the named
    labels (``__name__`` never participates, the binop rule — and the
    OUTPUT labels are the match key's labels, so the metric name and
    ignored labels drop, as in PromQL). Series present on only one
    side DROP (inner matching); a key matched by MORE than one series
    on either side refuses loudly (PromQL's many-to-many error —
    silently merging would double-count).

    ``group`` (r11, closing the last named string-surface boundary):
    ``"left"``/``"right"`` is PromQL's many-to-one — the named side is
    the MANY side, each of its series pairs with exactly ONE series on
    the other side by match key (duplicates on the one side refuse
    loudly), and the output keeps each many-side series' OWN labels
    (minus ``__name__``, the binop rule). Unmatched many rows drop
    (inner matching). Label-carry modifiers (``group_left(lbl)``)
    refuse at the call site — the same scope as histogram × vector
    scaling.

    Plan: canonical match-key on both sides → the two sides union (the
    subtrahend scaled by −1) and ride ``native_hist_sum_by`` keyed on
    the match key (grouped mode: the MANY side's full-series key, the
    one side replicated onto it via one key-equi join), so mixed
    schemas downscale-merge exactly as in ``sum by``; a per-(key,
    side) count agg guards the cardinality contract.
    Shuffles stay match-key-keyed throughout."""
    from prom_etl_db_spark.operators import native_hist as NH

    if on:
        kept = F.map_filter(
            F.col("labels"), lambda k, _: k.isin(*list(on)))
    else:
        drop = set(ignoring or ()) | {"__name__"}
        kept = F.map_filter(
            F.col("labels"), lambda k, _: ~k.isin(*list(drop)))
    key = F.to_json(F.array_sort(F.map_entries(kept)))
    a = lhs.df.withColumn("__kept", kept).withColumn("__k", key)
    b = (rhs.df if op == "+" else _hist_scalar_scale(rhs, -1.0).df
         ).withColumn("__k", key)
    cols = ["__k"] + [c for c in _nh_cols_of(lhs.df)
                      if c != "labels"]

    # align count types across sides (a raw long side vs a float side)
    def norm(df, side, extra=()):
        return df.select(
            *extra, "__k", "schema", "zero_threshold",
            F.col("zero_count").cast("double").alias("zero_count"),
            F.col("count").cast("double").alias("count"),
            F.col("sum").cast("double").alias("sum"),
            "pos_offset",
            F.transform(F.col("pos_counts"), lambda c: c.cast("double"))
            .alias("pos_counts"),
            "neg_offset",
            F.transform(F.col("neg_counts"), lambda c: c.cast("double"))
            .alias("neg_counts"),
            *(["custom_values"] if "custom_values" in df.columns
              else []),
            F.lit(side).alias("__s"),
        )

    if group is not None:
        # many-to-one: the group-named side is MANY; re-key the merge
        # on the many side's full-series identity and replicate the
        # one side onto it with a single key-equi join
        many_raw = (a if group == "left" else b)
        one_raw = (b if group == "left" else a)
        full = F.map_filter(
            F.col("labels"), lambda k, _: k != "__name__")
        many = norm(
            many_raw.withColumn("__full", full).withColumn(
                "__mk",
                F.to_json(F.array_sort(F.map_entries(F.col("__full")))))
            .select(*cols, "__mk"), 0, extra=("__mk",))
        one = norm(one_raw.select(*cols), 1)
        # the ONE side must be unique per match key — guard rides the
        # joined count column
        one_g = one.groupBy("__k").agg(
            F.count(F.lit(1)).alias("__nv"))
        keymap = many_raw.withColumn("__full", full).select(
            "__k",
            F.to_json(F.array_sort(F.map_entries(F.col("__full"))))
            .alias("__mk"),
            F.col("__full").alias("__many_labels"),
        )
        one_exp = one.join(one_g, on="__k").where(
            F.when(
                F.col("__nv") > 1,
                F.raise_error(F.lit(
                    f"histogram {op} group_{group}: a match key is "
                    "shared by more than one series on the ONE side — "
                    "narrow the matching with on(...)/ignoring(...)")),
            ).otherwise(F.lit(True))
        ).drop("__nv").join(keymap.select("__k", "__mk"), on="__k")
        both = many.unionByName(one_exp)
        merged = NH.native_hist_sum_by(
            both.drop("__s", "__k"), ("__mk",))
        # unmatched many rows merge alone (n_series == 1) and DROP —
        # PromQL's inner matching; the filter predicate carries it
        matched = merged.where(F.col("n_series") == 2)
        labels_back = keymap.select(
            "__mk", F.col("__many_labels").alias("labels")
        ).dropDuplicates(["__mk"])
        out = matched.join(labels_back, on="__mk", how="inner").select(
            "labels", "schema", "zero_threshold", "zero_count", "count",
            "sum", "pos_offset", "pos_counts", "neg_offset",
            "neg_counts",
            *(["custom_values"] if "custom_values" in matched.columns
              else []),
        )
        return HistVector(out)
    both = norm(a.select(*cols), 0).unionByName(norm(b.select(*cols), 1))
    # one-to-one guard: PromQL errors on a key matched by >1 series on
    # either side; the guard rides a per-key max of per-side counts
    side_max = both.groupBy("__k", "__s").agg(
        F.count(F.lit(1)).alias("__c")
    ).groupBy("__k").agg(F.max("__c").alias("__mx"))
    merged = NH.native_hist_sum_by(both.drop("__s"), ("__k",))
    # the one-to-one guard rides the FILTER predicate — filters are
    # never column-pruned, so a downstream projection (histogram_count
    # keeps only count) cannot elide the refusal (the r9 sum_by
    # pruning lesson, applied to a where-clause instead)
    matched = merged.join(side_max, on="__k").where(
        F.when(
            F.col("__mx") > 1,
            F.raise_error(F.lit(
                f"histogram {op}: a match key is shared by more than "
                "one series on one side (many-to-many) — narrow the "
                "matching with on(...)/ignoring(...)")).isNotNull(),
        ).otherwise(F.col("n_series") == 2)
    )
    labels_back = a.select(
        "__k", F.col("__kept").alias("labels")).dropDuplicates(["__k"])
    out = matched.join(labels_back, on="__k", how="inner").select(
        "labels", "schema", "zero_threshold", "zero_count", "count",
        "sum", "pos_offset", "pos_counts", "neg_offset", "neg_counts",
        *(["custom_values"] if "custom_values" in matched.columns
          else []),
    )
    return HistVector(out)


def _native_agg(ctx: EvalContext, node: Agg, vec: HistVector) -> HistVector:
    """``sum by/without`` / ``avg by/without`` over a histogram vector
    → the r9 group-keyed merge combinators. ``without(...)`` needs no
    label-key universe: each series' group identity is its OWN labels
    map minus the excluded keys (map_filter → canonical sorted-JSON
    key), exactly PromQL's rule — series whose remaining label sets
    are equal merge, and the group's output labels ARE that remaining
    map (recovered from any member, identical by construction)."""
    from prom_etl_db_spark.operators.promql_parser import (
        PromQLError,
    )

    from prom_etl_db_spark.operators import native_hist as NH

    if node.op not in ("sum", "avg"):
        raise PromQLError(
            f"{node.op} is not defined over native-histogram vectors "
            "(sum/avg merge histograms; others have no histogram rule)")
    merge = (NH.native_hist_sum_by if node.op == "sum"
             else NH.native_hist_avg_by)
    df = vec.df
    if node.without is not None:
        drop = set(node.without) | {"__name__"}  # PromQL drops the name
        kept = F.map_filter(
            F.col("labels"),
            lambda k, _: ~k.isin(*[F.lit(x) for x in drop]),
        )
        df = df.withColumn("__kept", kept).withColumn(
            "__k", F.to_json(F.array_sort(F.map_entries(F.col("__kept")))))
        merged = merge(
            df.select("__k", *[c for c in _nh_cols_of(df)
                               if c != "labels"]),
            ("__k",))
        labels_back = df.select(
            "__k", F.col("__kept").alias("labels")).dropDuplicates(["__k"])
        out = merged.join(labels_back, on="__k", how="inner").select(
            "labels", "schema", "zero_threshold", "zero_count",
            "count", "sum", "pos_offset", "pos_counts",
            "neg_offset", "neg_counts",
            *(["custom_values"] if "custom_values" in merged.columns
              else []),
        )
        return HistVector(out)
    by = tuple(node.by or ())
    # group columns are PREFIXED: a by-label named like a histogram
    # column ("schema", "count", "sum" are legal PromQL label names)
    # must not overwrite the component it shadows (r10 review fix)
    keys = [f"__g_{k}" for k in by]
    groups = [f"coalesce(labels[{_str(k)}], '') AS {_q(g)}"
              for k, g in zip(by, keys)]
    if not by:
        # sum(h): one global group — constant key, dropped after
        keys, groups = ["__all"], ["1 AS __all"]
    merged = merge(df.selectExpr(*groups, *[_q(c) for c in _nh_cols_of(df)
                                            if c != "labels"]), tuple(keys))
    labels = (
        f"map_from_arrays(array({', '.join(map(_str, by))}), "
        f"array({', '.join(f'CAST({_q(g)} AS STRING)' for g in keys)}))"
        if by else "CAST(map() AS map<string,string>)")
    return HistVector(merged.selectExpr(
        f"{labels} AS labels", *map(_q, _nh_cols_of(merged)[1:])))

