"""Native query-config execution: the reference's per-execution lifecycle
(`/root/reference/internal/executor/executor.go:36-227`) with the remote
Prometheus hop replaced by in-engine PromQL evaluation.

Reference flow: resolve the config's relative-time expressions (T1) →
HTTP the query string to Prometheus → flatten the wire result → insert.
Here the same config (`query` = PromQL text, `time_range_*` = T1
expressions, `scripts/migrate.sql:59-83`) drives:

1. T1 resolution with an EXPLICIT ``now`` (the reference's mutable-now
   design froze its production ingestion — REPAIR.md:5).
2. ``operators/promql_parser`` evaluation over the stored samples table —
   instant at the resolved time, or a step-aligned matrix over the
   resolved [start, end] for ``time_range_type='range'`` (A2's
   step-resolution semantics, `client.go:164-203`).
3. MetricRecord projection with A13 day-truncated ``collected_at`` and
   the A14 day-partitioned append — plus the A16 audit protocol via
   ``scheduler.run_query_audited``.

A reference user's config rows therefore run unchanged: same query
string, same time grammar, same stored shape.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prom_etl_db_spark.config import QueryConfig
from prom_etl_db_spark.ingest import collected_at_col
from prom_etl_db_spark.operators.promql_parser import (
    Call,
    EvalContext,
    ScalarStream,
    Selector,
    _eval_stream,
    _selector_stream,
    evaluate,
    parse,
)
from prom_etl_db_spark.timeparse import RelativeTimeParser, parse_duration

__all__ = ["evaluate_config_query", "execute_config_query"]


def _names_native_metric(node, nset: frozenset) -> bool:
    """True iff any selector in the AST names a native-histogram
    metric — the range-mode ROUTER: range configs over native metrics
    lower onto the grid combinators via ``eval_native_range`` (the
    supported collapse shapes evaluate; unsupported shapes refuse
    there with the shape named). A native name silently matching
    nothing in the scalar store would be the worst failure mode, so
    detection happens on the AST, not on empty results."""
    from prom_etl_db_spark.operators.promql_parser import Agg, BinOp

    if isinstance(node, Selector):
        return node.name is not None and node.name in nset
    if isinstance(node, Agg):
        kids = [node.expr] + (
            [node.param] if node.param is not None else [])
    elif isinstance(node, Call):
        kids = node.args
    elif isinstance(node, BinOp):
        kids = [node.lhs, node.rhs]
    else:
        return False
    return any(
        _names_native_metric(k, nset)
        for k in kids if not isinstance(k, (str, float, int)))


# Range mode's sliding functions: PromQL function → (range function in
# operators/promql.py, fixed kwargs, output column read as the value,
# literal argument). The literal argument is (its position, the kwarg it
# binds): quantile_over_time's leading q, predict_linear's trailing
# horizon; every other function is unary over its range selector.
_RANGE_MODE = {
    "rate": ("rate_range", {}, "value", None),
    "increase": ("increase_range", {}, "value", None),
    "delta": ("delta_range", {}, "value", None),
    "sum_over_time": ("agg_over_time_range", {"agg": "sum"}, "value", None),
    "count_over_time": ("agg_over_time_range", {"agg": "count"}, "value", None),
    "avg_over_time": ("agg_over_time_range", {"agg": "avg"}, "value", None),
    "stdvar_over_time": ("agg_over_time_range", {"agg": "stdvar"}, "value", None),
    "stddev_over_time": ("agg_over_time_range", {"agg": "stddev"}, "value", None),
    "max_over_time": ("extrema_over_time_range", {}, "vmax", None),
    "min_over_time": ("extrema_over_time_range", {}, "vmin", None),
    "last_over_time": ("extrema_over_time_range", {}, "vlast", None),
    "first_over_time": ("extrema_over_time_range", {}, "vfirst", None),
    "changes": ("changes_range", {"kind": "changes"}, "value", None),
    "resets": ("changes_range", {"kind": "resets"}, "value", None),
    "deriv": ("regression_range", {}, "value", None),
    "predict_linear": ("regression_range", {}, "value", (1, "predict_offset")),
    "present_over_time": ("present_over_time_range", {}, "value", None),
    "absent_over_time": ("absent_over_time_range", {}, "value", None),
    "quantile_over_time": ("quantile_over_time_range", {}, "value", (0, "q")),
    "mad_over_time": ("mad_over_time_range", {}, "value", None),
    "irate": ("irate_idelta_range", {}, "virate", None),
    "idelta": ("irate_idelta_range", {}, "videlta", None),
}


def evaluate_config_query(
    samples: DataFrame,
    cfg: QueryConfig,
    *,
    now: datetime,
    native_hists: "DataFrame | None" = None,
    native_metrics: "frozenset | None" = None,
) -> tuple[DataFrame, str]:
    """Resolve the config's time range and evaluate its PromQL text.

    ``native_hists`` (r10): the wire decoders' dense native-histogram
    frame — INSTANT configs whose query strings name native metrics
    evaluate through the parser's native routing (a reference user's
    ``histogram_quantile(0.9, sum by (job) (rate(h[5m])))`` config row
    runs unchanged and stores a float vector). RANGE-mode configs over
    native metrics lower onto the grid combinators for the supported
    shapes (``eval_native_range``: histogram_quantile/fraction/count/
    sum/avg over [sum/avg by/without of] rate/increase/delta/irate/
    idelta of a native range selector, top-level resets/changes, and
    literal-scalar tails like ``... * 60`` (r11) — the Grafana panel
    pattern, one row per (series,
    step)); unsupported shapes refuse loudly, as does a config whose
    result IS a histogram vector (records store floats — collapse with
    histogram_quantile/count/... in the query).

    Returns (result, result_type): instant/scalar → one row per series
    with ``timestamp`` = the resolved evaluation time; range → one row
    per (series, step) with ``timestamp`` = the step bucket (A2's matrix
    shape after the A7 explode — we never materialize the nested wire
    form at all).

    Range-mode scope (stream-mode evaluation, see promql_parser): the
    query may be a selector, point-wise arithmetic/comparisons/math
    functions, and simple by/without aggregations — the shapes the
    reference's configs use — plus ``rate(x[f])`` / ``increase(x[f])`` /
    ``delta(x[f])``, which evaluate as true sliding-window range
    functions at every step (``promql.rate_range`` family). Other
    range-fns-in-range-mode raise ``PromQLError``; run those as repeated
    instant executions.
    """
    parser = RelativeTimeParser(now)
    node = parse(cfg.query)

    nset = frozenset()
    if native_hists is not None:
        if native_metrics is not None:
            nset = frozenset(native_metrics)
        else:
            nset = frozenset(
                r[0] for r in
                native_hists.select("metric_name").distinct().collect()
                if r[0] is not None
            )

    if cfg.time_range_type == "range":
        native_range = nset and _names_native_metric(node, nset)
        if not (cfg.time_range_start and cfg.time_range_end):
            # silently degrading to an instant query would store
            # wrong-shaped data for a misconfigured row — fail loudly
            raise ValueError(
                f"config {cfg.query_id!r}: time_range_type='range' requires "
                "both time_range_start and time_range_end"
            )
        start, end = parser.resolve_range(cfg.time_range_start, cfg.time_range_end)
        step = cfg.time_range_step or "1m"
        parse_duration(step)  # validate before any Spark work
        if native_range:
            # the supported native shapes lower onto the r10 grid
            # combinators (eval_native_range); unsupported shapes raise
            # PromQLError there — still loud, never silent-empty
            from prom_etl_db_spark.operators.promql_parser import (
                eval_native_range,
            )

            stream = eval_native_range(
                native_hists, nset, node, start=start, end=end, step=step,
                # the scalar store rides along so a MIXED family's
                # classic le-series union into the panel (r11)
                samples=samples)
            return (
                stream.select(
                    "labels",
                    F.col("bucket_start").alias("timestamp"),
                    "value",
                ),
                "range",
            )
        # rate(x[5m]) / increase(x[5m]) as a RANGE query: the sliding
        # [t − frame, t) window evaluated at every grid step — the
        # range-function form _eval_stream's stream mode can't express
        spec = _RANGE_MODE.get(node.fn) if isinstance(node, Call) else None
        literal = spec and spec[3]
        sel_arg = 1 if literal and literal[0] == 0 else 0
        if (
            spec
            and len(node.args) == (2 if literal else 1)
            and isinstance(node.args[sel_arg], Selector)
            and node.args[sel_arg].range_
            and not node.args[sel_arg].step
            # an @-pinned selector means ONE fixed window, not a sliding
            # one — rebuilding the selector without at_ would silently
            # ignore the pin; fall through to the stream evaluator's
            # PromQLError like other unsupported range-mode forms
            and node.args[sel_arg].at_ is None
        ):
            sel = node.args[sel_arg]
            raw = _selector_stream(  # frame-less ctx: the sliding window
                # reads back frame seconds BEFORE range start
                EvalContext(samples, end, range_bounds=(start, end)),
                Selector(sel.name, sel.matchers, offset=sel.offset),
            )
            from prom_etl_db_spark.operators import promql as _promql

            fn_name, kwargs, column, _ = spec
            kwargs = dict(kwargs)
            if literal:
                from prom_etl_db_spark.operators.promql_parser import _const

                kwargs[literal[1]] = _const(
                    EvalContext(samples, end), node.args[literal[0]]
                )
            stream = getattr(_promql, fn_name)(
                raw, frame=sel.range_, step=step, start=start, end=end, **kwargs
            )
            if column != "value":
                stream = stream.selectExpr(
                    "labels", "bucket_start", f"{column} AS value"
                )
        else:
            # the frame rides the context so it clips AFTER any offset
            # shift in the query (pre-filtering raw timestamps would make
            # `cpu offset 2h` read the un-offset window)
            stream = _eval_stream(
                EvalContext(
                    samples, end, frame=(start, end), range_bounds=(start, end)
                ),
                node, step
            )
        return (
            stream.select(
                "labels",
                F.col("bucket_start").alias("timestamp"),
                "value",
            ),
            "range",
        )

    at = parser.parse(cfg.time_range_time or "now")
    out = evaluate(
        EvalContext(
            samples, at, native_hists=native_hists, native_metrics=nset
        ),
        node,
    )
    from prom_etl_db_spark.operators.promql_parser import (
        HistVector,
        PromQLError,
    )

    if isinstance(out, HistVector):
        raise PromQLError(
            f"config {cfg.query_id!r}: the query returns a "
            "native-histogram vector — records store floats; collapse "
            "with histogram_quantile/histogram_count/... in the query")
    if isinstance(out, ScalarStream):
        # top-level scalar() — a data-dependent scalar result: stored as
        # one label-less record (Prometheus's scalar resultType), still
        # lazy (the 1-row aggregate rides the plan into the sink)
        return (
            out.df.select(
                F.create_map().cast("map<string,string>").alias("labels"),
                F.lit(at).alias("timestamp"),
                F.col("value").cast("double").alias("value"),
            ),
            "scalar",
        )
    if isinstance(out, float):
        one = samples.sparkSession.createDataFrame(
            [(out,)], "value double"
        ).select(
            F.create_map().cast("map<string,string>").alias("labels"),
            F.lit(at).alias("timestamp"),
            "value",
        )
        return one, "scalar"
    return (
        out.select("labels", F.lit(at).alias("timestamp"), "value"),
        "instant",
    )


def execute_config_query(
    spark: SparkSession,
    samples: DataFrame,
    cfg: QueryConfig,
    *,
    now: datetime,
    store_path: str | None = None,
    audit_path: str | None = None,
    mode: str = "append",
    audit_clock: Callable[[], datetime] = datetime.utcnow,
    native_hists: "DataFrame | None" = None,
    native_metrics: "frozenset | None" = None,
) -> DataFrame:
    """Full per-execution lifecycle: evaluate → MetricRecord projection →
    (optionally) day-partitioned append + audit record. Returns the
    record DataFrame either way (dry-run = don't pass paths — the repair
    tool's ``--dry-run``, A28).

    The sink is one Spark action: the records are collected to the
    driver with ``toArrow`` (under the config's timeout; bounded by
    ``spark.driver.maxResultSize``) and written by pyarrow, one file
    per day (``store.append_arrow``). The audited ``records_count`` is
    the collected table's row count; the audit row is written the same
    way. Like the reference, which holds each flattened result in
    memory and inserts it in one transaction, an execution's result is
    driver-sized.

    ``mode``: "append" (reference server behavior — every execution
    inserts; re-runs double-insert, §2.D exactly-once row) or
    "skip_existing" (A26 day-granular dedup: rows whose (query_id, day)
    slice already exists are dropped and the audit records the SURVIVING
    count). skip_existing makes whole-day re-runs no-ops but is NOT a
    partial-write recovery — a half-written day suppresses the rest;
    recover those with repair's force-recompute day overwrite. It also
    drops later intra-day executions of the same config, so use it only
    for configs that run at most once per day."""
    if mode not in ("append", "skip_existing"):
        raise ValueError(f"mode must be 'append' or 'skip_existing', got {mode!r}")
    if audit_path is not None and store_path is None:
        # the audit record carries records_count of the PERSISTED batch;
        # silently dropping it on a dry-run would hide executions from
        # the A16 trail
        raise ValueError("audit_path requires store_path (audits record writes)")
    result, result_type = evaluate_config_query(
        samples, cfg, now=now,
        native_hists=native_hists, native_metrics=native_metrics)
    # A8 metric-name rule (executor.go:232-235): a BARE selector's wire
    # result carries __name__ — store the real metric name, exactly like
    # the ingest path's coalesce(metric['__name__'], query_id). Computed
    # vectors (agg/function/binop) drop __name__ in Prometheus, so only
    # there does the query_id fallback apply.
    top = parse(cfg.query)
    metric_name = (
        top.name
        if isinstance(top, Selector) and top.name is not None
        else cfg.query_id
    )
    records = result.select(
        F.lit(cfg.query_id).alias("query_id"),
        F.lit(metric_name).alias("metric_name"),
        F.col("labels"),
        F.col("value").cast("double").alias("value"),
        F.col("timestamp"),
        F.lit(result_type).alias("result_type"),
        collected_at_col(
            F.col("timestamp"),
            cfg.time_range_type,
            now=now,
            time_expr=cfg.time_range_time,
            start_expr=cfg.time_range_start,
            end_expr=cfg.time_range_end,
        ).alias("collected_at"),
    ).withColumn("collected_date", F.to_date(F.col("collected_at")))

    if store_path is None:
        return records

    from prom_etl_db_spark.scheduler import run_query_audited
    from prom_etl_db_spark.store import append_arrow, backfill_skip_existing

    to_write = records
    if mode == "skip_existing":
        to_write = backfill_skip_existing(records, spark, store_path)

    # the config's timeout bounds the ACTION phase (evaluation is lazy
    # plan-building; the reference's context.WithTimeout equally guards
    # only the remote execution, cmd/server/main.go:170-172)
    budget = (
        parse_duration(cfg.timeout).total_seconds() if cfg.timeout else None
    )

    def _run() -> int:
        # one Spark action; the write follows it outside the timeout, so
        # a cancelled action never leaves a write running behind it
        if budget is None:
            table = to_write.toArrow()
        else:
            from prom_etl_db_spark.parallel import run_with_job_timeout

            table = run_with_job_timeout(
                spark, to_write.toArrow, budget, group=f"cfg-{cfg.query_id}"
            )
        append_arrow(table, store_path)
        return table.num_rows

    if audit_path is None:
        _run()
        return records
    run_query_audited(
        query_id=cfg.query_id,
        query_name=cfg.name,
        run=_run,
        audit_path=audit_path,
        # the audit trail measures WALL-CLOCK start/end/duration of the
        # action phase (executor.go:41-47) — only the EVALUATION instant
        # is the frozen `now`; freezing the audit clock too would record
        # every duration as 0 ms
        now=audit_clock,
    )
    return records
