"""Custom stateful streaming operator (SURVEY.md §2.D, brief: "custom
stateful operators via applyInPandasWithState").

``streaming_counter_increase`` maintains, per series, a running
counter-increase total with PromQL reset correction (same semantics as
``operators.promql.increase`` but incremental over an unbounded stream):
state = (last_value, total_increase); each micro-batch folds its samples
in event order and emits one updated row per touched series.

This is the genuinely-stateful case a windowed aggregation can't express:
the reset correction needs the last observed value ACROSS batch
boundaries, forever — not within a window. State is per-series (bounded
by series cardinality, the same cardinality Prometheus itself holds in
memory), keyed by the canonical label string, and survives restarts via
the checkpoint.

Non-SQL-expressible by design → rows-only correctness: the batch oracle
is ``promql.increase`` over the same data, cross-checked in tests.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

COUNTER_STATE_SCHEMA = StructType(
    [
        StructField("last_value", DoubleType(), True),
        StructField("total_increase", DoubleType(), True),
    ]
)

COUNTER_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("last_ts", TimestampType(), True),
        StructField("last_value", DoubleType(), True),
        StructField("total_increase", DoubleType(), True),
    ]
)


def _fold_counter(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one series' batch samples into (last_value, total_increase)."""
    (series,) = key
    if state.exists:
        last_value, total = state.get
    else:
        last_value, total = None, 0.0

    last_ts = None
    # a group larger than arrow.maxRecordsPerBatch arrives as MULTIPLE
    # chunks in arbitrary row order — sorting per chunk would read a
    # later chunk's earlier timestamps as counter drops (spurious
    # resets); concat-then-sort like the funnel fold beside this one
    chunks = [pdf[["timestamp", "value"]] for pdf in pdfs]
    if chunks:
        # stable + value tiebreak: equal-timestamp samples would otherwise
        # fold in quicksort-arbitrary order, making total_increase differ
        # between a run and its checkpoint replay (r4 audit)
        allr = pd.concat(chunks).sort_values(
            ["timestamp", "value"], kind="mergesort"
        )
        for ts, v in zip(allr["timestamp"], allr["value"]):
            v = float(v)
            if last_value is not None:
                # PromQL reset correction: a drop = restart, count the
                # post-reset absolute value (functions.go semantics)
                total += v if v < last_value else v - last_value
            last_value = v
            last_ts = ts

    state.update((last_value, total))
    yield pd.DataFrame(
        {
            "series": [series],
            "last_ts": [last_ts],
            "last_value": [last_value],
            "total_increase": [total],
        }
    )


def streaming_counter_increase(samples: DataFrame) -> DataFrame:
    """Stream-transform: per-series running counter increase.

    ``samples`` is a STREAMING DataFrame shaped (labels map, timestamp,
    value). Groups by the canonical series string; state lives per group.
    Output mode must be ``update`` (each batch re-emits touched series).
    """
    keyed = samples.select(
        F.to_json(F.array_sort(F.map_entries(F.col("labels")))).alias("series"),
        F.col("timestamp"),
        F.col("value"),
    )
    return keyed.groupBy("series").applyInPandasWithState(
        _fold_counter,
        outputStructType=COUNTER_OUTPUT_SCHEMA,
        stateStructType=COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- CT-aware streaming counter increase (later r8) ---------------------------
#
# The created-timestamp twin of the fold above: remote-write 2.0 carries
# the series' birth time (TimeSeries.created_timestamp), and Prometheus's
# CT feature injects a synthetic zero there — a counter born INSIDE the
# observation window counts its first sample as growth. Incrementally
# that rule touches exactly ONE decision per series lifetime: what the
# first-ever sample contributes. A separate fold (not a flag on
# _fold_counter) so existing counter checkpoints stay restartable —
# state-schema changes break applyInPandasWithState resume (the r3
# funnel precedent documented in DIVERGENCES.md).

CT_COUNTER_STATE_SCHEMA = StructType(
    [
        StructField("last_value", DoubleType(), True),
        StructField("total_increase", DoubleType(), True),
    ]
)

CT_COUNTER_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("last_ts_ms", LongType(), True),
        StructField("last_value", DoubleType(), True),
        StructField("total_increase", DoubleType(), True),
    ]
)


def make_ct_counter_fold(window_start_ms: int):
    """Per-series fold: running reset-corrected increase where the
    FIRST sample ever contributes its full value iff the series'
    created_timestamp is inside the observation window AND strictly
    before the sample itself (r9 seam fix: a CT newer than the sample it
    describes is clock skew — Prometheus only injects the CT zero
    when ct < sample ts; NULL CT = unknown birth = no zero injection
    — the v1/old-agent fallback, same rule as the batch twin
    ``ct_aware_increase``)."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (series,) = key
        if state.exists:
            last_value, total = state.get
        else:
            last_value, total = None, 0.0
        last_ts = None
        chunks = [pdf[["timestamp_ms", "value", "created_ms"]] for pdf in pdfs]
        if chunks:
            allr = pd.concat(chunks).sort_values(
                ["timestamp_ms", "value"], kind="mergesort"
            )
            for ts, v, ct in zip(
                allr["timestamp_ms"], allr["value"], allr["created_ms"]
            ):
                v = float(v)
                if last_value is None:
                    if (not pd.isna(ct) and int(ct) >= window_start_ms
                            and int(ct) < int(ts)):
                        total += v
                else:
                    total += v if v < last_value else v - last_value
                last_value = v
                last_ts = int(ts)
        state.update((last_value, total))
        yield pd.DataFrame(
            {
                "series": [series],
                "last_ts_ms": [last_ts],
                "last_value": [last_value],
                "total_increase": [total],
            }
        )

    return fold


def streaming_ct_counter_increase(
    samples: DataFrame, *, window_start_ms: int
) -> DataFrame:
    """Stream-transform: per-series CT-aware running counter increase.
    ``samples`` is a STREAMING DataFrame shaped (series string,
    timestamp_ms long, value double, created_ms nullable long)."""
    return samples.groupBy("series").applyInPandasWithState(
        make_ct_counter_fold(window_start_ms),
        outputStructType=CT_COUNTER_OUTPUT_SCHEMA,
        stateStructType=CT_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming OTLP delta accumulation (later r8) ------------------------------
#
# The streaming twin of promql.otlp_delta_to_cumulative: the batch
# operator's running window is FRAME-scoped, so an unbounded delta
# stream needs per-series state holding the cumulative-so-far. Distinct
# from the counter folds above: deltas have no reset rule (a negative
# delta is legal DATA for non-monotonic sums, not a restart) — the fold
# is a pure running sum, and every arriving point emits ITS cumulative
# (the per-point shape the batch operator also produces).

DELTA_SUM_STATE_SCHEMA = StructType(
    [StructField("total", DoubleType(), True)]
)

DELTA_SUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("timestamp_ms", LongType(), True),
        StructField("cum_value", DoubleType(), True),
    ]
)


def _fold_delta_sum(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (series,) = key
    total = state.get[0] if state.exists else 0.0
    out_ts, out_cum = [], []
    chunks = [pdf[["timestamp_ms", "value"]] for pdf in pdfs]
    if chunks:
        allr = pd.concat(chunks).sort_values(
            ["timestamp_ms", "value"], kind="mergesort"
        )
        for ts, v in zip(allr["timestamp_ms"], allr["value"]):
            total += float(v)
            out_ts.append(int(ts))
            out_cum.append(total)
    state.update((total,))
    yield pd.DataFrame(
        {
            "series": [series] * len(out_ts),
            "timestamp_ms": out_ts,
            "cum_value": out_cum,
        }
    )


def streaming_delta_sum(samples: DataFrame) -> DataFrame:
    """Stream-transform: per-series running sum of DELTA points —
    every arrival emits its cumulative. ``samples`` is a STREAMING
    DataFrame shaped (series string, timestamp_ms long, value
    double)."""
    return samples.groupBy("series").applyInPandasWithState(
        _fold_delta_sum,
        outputStructType=DELTA_SUM_OUTPUT_SCHEMA,
        stateStructType=DELTA_SUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DELTA_HIST_STATE_SCHEMA = StructType(
    [
        StructField("bounds_key", StringType(), True),
        StructField("cum_buckets", ArrayType(LongType()), True),
        StructField("cum_count", LongType(), True),
        StructField("cum_sum", DoubleType(), True),
        StructField("sum_poisoned", BooleanType(), True),
        StructField("recent_ts", ArrayType(LongType()), True),
        StructField("n_dropped", LongType(), True),
    ]
)

# Newest folded timestamps retained per series for cross-batch
# duplicate detection — bounds the checkpointed state (the alternative,
# every folded timestamp forever, grows without bound on a stream).
_DUP_HORIZON = 128


class _TsDupGuard:
    """Cross-batch duplicate-delivery detector for the DELTA folds
    (r10 ADVICE fix): the r9 guard compared an arrival only against the
    NEWEST checkpointed timestamp, so a redelivered duplicate of any
    OLDER already-folded point was indistinguishable from a legal late
    arrival and silently double-added into cumulative state. This
    guard checkpoints the newest ``_DUP_HORIZON`` folded timestamps per
    series (sorted array in state): a duplicate of ANY retained
    timestamp is rejected exactly, and an arrival BELOW the retained
    horizon is rejected too — once the set is full, a point older
    than its minimum cannot be distinguished from a redelivered
    duplicate, and silently folding it would reintroduce the hazard.
    Legal late arrivals WITHIN the horizon still fold (bucket addition
    is order-independent).

    Rejection is VISIBLE-NOT-FATAL (r11 ADVICE fix): the r10 guard
    RAISED, which on a stream is a poison pill — a checkpoint restart
    replays the same micro-batch and dies again, with no skip path; a
    single redelivered point wedged the query permanently. Now a
    rejected arrival is EXCLUDED from the fold (state never
    double-adds) and counted in the checkpointed ``n_dropped``
    cumulative, which every emitted row carries — the
    ``n_stale_exemplars`` visible-not-fatal pattern. The batch twins
    keep their blanket duplicate-timestamp refusal: a batch replays
    deterministically, so raising there is diagnosis, not a wedge."""

    def __init__(self, retained, series: str, op: str, dropped: int = 0):
        self._set = {int(t) for t in retained} if retained is not None \
            else set()
        self._floor = (
            min(self._set) if len(self._set) >= _DUP_HORIZON else None)
        self._series, self._op = series, op
        self.n_dropped = int(dropped or 0)

    def admit(self, ts_i: int) -> bool:
        """True = fold this arrival; False = exclude it (duplicate of a
        retained timestamp, or below the full retained horizon) and
        count it in ``n_dropped``."""
        if ts_i in self._set or (
                self._floor is not None and ts_i < self._floor):
            self.n_dropped += 1
            return False
        self._set.add(ts_i)
        return True

    def snapshot(self) -> list[int]:
        return sorted(self._set)[-_DUP_HORIZON:]

DELTA_HIST_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("timestamp_ms", LongType(), True),
        StructField("cum_buckets", ArrayType(LongType()), True),
        StructField("cum_count", LongType(), True),
        StructField("cum_sum", DoubleType(), True),
        # cumulative count of arrivals excluded by the duplicate-
        # delivery guard (see _TsDupGuard) — visible, never fatal
        StructField("n_dropped", LongType(), True),
    ]
)


def _fold_delta_hist(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``promql.otlp_delta_hist_to_cumulative`` (r9):
    per-series state is the running bucket array + count/sum — the
    same running state the batch operator's per-(series, bucket_idx)
    windows maintain, held across micro-batches forever. Bucket-wise
    addition is commutative, so (like ``_fold_delta_sum``) the state
    converges regardless of arrival order; per-arrival emissions carry
    the cumulative-so-far. Refusals fire BEFORE the state mutates:
    explicit_bounds changing against the checkpointed fingerprint, and
    a bucket_counts length mismatch (the batch operator's r9 ADVICE
    guard). A NULL sum poisons cum_sum permanently — the batch rule."""
    (series,) = key
    if state.exists:
        bk, cum, cnt, sm, poisoned, recent, ndrop = state.get
        cum = list(cum) if cum is not None else None
    else:
        bk, cum, cnt, sm, poisoned, recent, ndrop = (
            None, None, 0, 0.0, False, None, 0)
    guard = _TsDupGuard(recent, series, "stream_otlp_delta_hist",
                        dropped=ndrop)
    out_ts, out_b, out_c, out_s, out_d = [], [], [], [], []
    chunks = [
        pdf[["timestamp_ms", "bucket_counts", "bounds_key", "count", "sum"]]
        for pdf in pdfs
    ]
    if chunks:
        allr = pd.concat(chunks).sort_values("timestamp_ms", kind="mergesort")
        for ts, buckets, bkey, c, s in zip(
            allr["timestamp_ms"], allr["bucket_counts"], allr["bounds_key"],
            allr["count"], allr["sum"],
        ):
            ts_i = int(ts)
            # duplicate-delivery guard (r10 ADVICE fix: bounded
            # retained-set check — see _TsDupGuard; subsumes the r9
            # within-batch adjacency and newest-timestamp checks).
            # r11: rejected arrivals are EXCLUDED and counted, never
            # raised — a raise here is a streaming poison pill
            if not guard.admit(ts_i):
                continue
            buckets = [int(b) for b in buckets]
            if bk is None:
                bk = bkey
            elif bkey != bk:
                raise ValueError(
                    "stream_otlp_delta_hist: explicit_bounds changed "
                    f"mid-series ({series}) — bucket-wise addition across "
                    "different boundaries mis-attributes counts")
            if cum is None:
                cum = [0] * len(buckets)
            elif len(buckets) != len(cum):
                raise ValueError(
                    "stream_otlp_delta_hist: bucket_counts length changed "
                    f"mid-series ({series})")
            cum = [a + b for a, b in zip(cum, buckets)]
            cnt += int(c)
            if s is None or pd.isna(s):
                poisoned = True
            else:
                sm += float(s)
            out_ts.append(int(ts))
            out_b.append(list(cum))
            out_c.append(cnt)
            out_s.append(None if poisoned else sm)
            out_d.append(guard.n_dropped)
    state.update((bk, cum, cnt, sm, bool(poisoned), guard.snapshot(),
                  guard.n_dropped))
    yield pd.DataFrame(
        {
            "series": [series] * len(out_ts),
            "timestamp_ms": out_ts,
            "cum_buckets": out_b,
            "cum_count": out_c,
            "cum_sum": out_s,
            "n_dropped": out_d,
        }
    )


def streaming_delta_hist(points: DataFrame) -> DataFrame:
    """Stream-transform: per-series bucket-wise running accumulation of
    DELTA classic histograms. ``points`` is a STREAMING DataFrame
    shaped (series string, timestamp_ms long, bucket_counts
    array<long>, bounds_key string, count long, sum double)."""
    return points.groupBy("series").applyInPandasWithState(
        _fold_delta_hist,
        outputStructType=DELTA_HIST_OUTPUT_SCHEMA,
        stateStructType=DELTA_HIST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _py_nh_downscale(offset: int, counts: list[int], d: int):
    """Python twin of ``operators.native_hist._nh_downscale`` (fine bucket
    i folds into coarse ⌈i/2^d⌉) — the streaming state fold needs the
    merge algebra driver-side; semantics pinned equal to the Column
    form by the restart tests."""
    if d <= 0 or not counts:
        return offset, list(counts)
    m = 1 << d
    j_lo = -(-offset // m)
    j_hi = -(-(offset + len(counts) - 1) // m)
    out = [0] * (j_hi - j_lo + 1)
    for k, c in enumerate(counts):
        out[-(-(offset + k) // m) - j_lo] += int(c)
    return j_lo, out


def _py_nh_align_add(o1: int, c1: list[int], o2: int, c2: list[int]):
    """Python twin of ``operators.native_hist._nh_align_add`` — offset-
    aligned element-wise addition with union span; empty+empty keeps
    the newer offset with an empty array."""
    if not c1 and not c2:
        return o2, []
    if not c1:
        return o2, list(c2)
    if not c2:
        return o1, list(c1)
    lo, hi = min(o1, o2), max(o1 + len(c1), o2 + len(c2))
    out = []
    for i in range(lo, hi):
        a = c1[i - o1] if 0 <= i - o1 < len(c1) else 0
        b = c2[i - o2] if 0 <= i - o2 < len(c2) else 0
        out.append(int(a) + int(b))
    return lo, out


DELTA_EXP_STATE_SCHEMA = StructType(
    [
        StructField("scale", IntegerType(), True),
        StructField("pos_offset", IntegerType(), True),
        StructField("pos_counts", ArrayType(LongType()), True),
        StructField("neg_offset", IntegerType(), True),
        StructField("neg_counts", ArrayType(LongType()), True),
        StructField("zero_count", LongType(), True),
        StructField("cum_count", LongType(), True),
        StructField("cum_sum", DoubleType(), True),
        StructField("sum_poisoned", BooleanType(), True),
        StructField("recent_ts", ArrayType(LongType()), True),
        StructField("n_dropped", LongType(), True),
    ]
)

DELTA_EXP_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("timestamp_ms", LongType(), True),
        StructField("scale", IntegerType(), True),
        StructField("pos_offset", IntegerType(), True),
        StructField("pos_counts", ArrayType(LongType()), True),
        StructField("neg_offset", IntegerType(), True),
        StructField("neg_counts", ArrayType(LongType()), True),
        StructField("zero_count", LongType(), True),
        StructField("cum_count", LongType(), True),
        StructField("cum_sum", DoubleType(), True),
        # cumulative dup-guard exclusions (see _TsDupGuard)
        StructField("n_dropped", LongType(), True),
    ]
)


def _fold_delta_exp_hist(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``promql.otlp_delta_exp_hist_to_cumulative``
    (r9): per-series state is the running native-histogram at the
    COARSEST scale seen so far. A point at a different scale triggers
    the downscale-on-scale-change merge (state and/or point fold to
    the common minimum via ``_py_nh_downscale``, then add offset-
    aligned) — Prometheus's deltatocumulative rule, held incrementally
    so the batch operator's bounded sequential fold is never needed on
    a stream: the stream IS the linear pass."""
    (series,) = key
    if state.exists:
        sc, po, pc, no, nc, z, cnt, sm, poisoned, recent, ndrop = state.get
        pc = list(pc) if pc is not None else []
        nc = list(nc) if nc is not None else []
    else:
        sc = None  # None = no point folded yet (scale is data-defined)
        po = no = 0
        pc, nc = [], []
        z, cnt, sm, poisoned = 0, 0, 0.0, False
        recent, ndrop = None, 0
    guard = _TsDupGuard(recent, series, "stream_otlp_delta_exp",
                        dropped=ndrop)
    cols = ["timestamp_ms", "scale", "pos_offset", "pos_counts",
            "neg_offset", "neg_counts", "zero_count", "count", "sum"]
    out: dict[str, list] = {c: [] for c in DELTA_EXP_OUTPUT_SCHEMA.names}
    chunks = [pdf[cols] for pdf in pdfs]
    if chunks:
        allr = pd.concat(chunks).sort_values("timestamp_ms", kind="mergesort")
        for row in allr.itertuples(index=False):
            ts_i = int(row.timestamp_ms)
            # duplicate-delivery guard (see _TsDupGuard) — r11:
            # exclude-and-count, never raise (poison-pill fix)
            if not guard.admit(ts_i):
                continue
            r_sc = int(row.scale)
            r_po, r_pc = int(row.pos_offset), [int(x) for x in row.pos_counts]
            r_no, r_nc = int(row.neg_offset), [int(x) for x in row.neg_counts]
            if sc is None:
                sc, po, pc, no, nc = r_sc, r_po, r_pc, r_no, r_nc
            else:
                target = min(sc, r_sc)
                po, pc = _py_nh_downscale(po, pc, sc - target)
                no, nc = _py_nh_downscale(no, nc, sc - target)
                r_po, r_pc = _py_nh_downscale(r_po, r_pc, r_sc - target)
                r_no, r_nc = _py_nh_downscale(r_no, r_nc, r_sc - target)
                po, pc = _py_nh_align_add(po, pc, r_po, r_pc)
                no, nc = _py_nh_align_add(no, nc, r_no, r_nc)
                sc = target
            z += int(row.zero_count)
            cnt += int(row.count)
            s = row.sum
            if s is None or pd.isna(s):
                poisoned = True
            else:
                sm += float(s)
            out["series"].append(series)
            out["timestamp_ms"].append(int(row.timestamp_ms))
            out["scale"].append(sc)
            out["pos_offset"].append(po)
            out["pos_counts"].append(list(pc))
            out["neg_offset"].append(no)
            out["neg_counts"].append(list(nc))
            out["zero_count"].append(z)
            out["cum_count"].append(cnt)
            out["cum_sum"].append(None if poisoned else sm)
            out["n_dropped"].append(guard.n_dropped)
    state.update(
        (sc, po, pc, no, nc, z, cnt, sm, bool(poisoned), guard.snapshot(),
         guard.n_dropped))
    yield pd.DataFrame(out)


def streaming_delta_exp_hist(points: DataFrame) -> DataFrame:
    """Stream-transform: per-series scale-aware running accumulation
    of DELTA exponential histograms. ``points`` is a STREAMING
    DataFrame shaped (series string, timestamp_ms long, scale int,
    pos_offset int, pos_counts array<long>, neg_offset int,
    neg_counts array<long>, zero_count long, count long,
    sum double)."""
    return points.groupBy("series").applyInPandasWithState(
        _fold_delta_exp_hist,
        outputStructType=DELTA_EXP_OUTPUT_SCHEMA,
        stateStructType=DELTA_EXP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _start_parquet_sink(
    out: DataFrame, sink_dir: str, checkpoint_dir: str, available_now: bool
):
    """Shared sink protocol for every run_*_stream driver: parquet sinks
    don't support update mode, so each batch's updated rows append with
    the batch id — the latest batch per key is the current state (a
    compacting sink / Delta MERGE replaces this on a cluster)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    writer = out.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("update")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_counter_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    available_now: bool = True,
):
    """Drive the stateful operator over a file source (tests use
    ``Trigger.AvailableNow``; production uses a processing-time trigger).
    Parquet sinks don't support update mode, so each batch's updated rows
    append with the batch id — the latest batch per series is the current
    state (a compacting sink / Delta MERGE replaces this on a cluster)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    samples = raw.select(
        F.create_map(F.lit("name"), F.col("event_type")).alias("labels"),
        F.col("ts").alias("timestamp"),
        F.col("value"),
    )
    out = streaming_counter_increase(samples)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming window funnel -------------------------------------------------

# UPGRADE NOTE (r3): the state schema changed shape (starts ->
# prev_t/settled/pending). applyInPandasWithState persists state rows
# under the OLD schema inside existing checkpoints and cannot migrate
# them — restarting a funnel stream over a pre-r3 checkpoint directory
# fails (or worse, misreads state). Funnel streams upgraded across that
# boundary need a FRESH checkpoint directory; the stream re-derives
# state from the source's retained history. (Other stateful ops here
# kept their schemas.)
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("prev_t", LongType(), True),
        StructField("settled", ArrayType(LongType(), containsNull=True), True),
        StructField("pending", ArrayType(LongType(), containsNull=True), True),
    ]
)

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("funnel_level", IntegerType(), False),
    ]
)


def make_funnel_fold(n_steps: int, window_us: int):
    """The per-user DP fold (shared semantics with the batch
    ``analytics.funnel_levels``): per level, the LATEST chain-start
    micros among viable chains — split into a SETTLED class (previous
    step's event strictly earlier than the event being folded) and a
    PENDING class (previous step shares the current timestamp), so two
    same-timestamp events can never chain (the strict-increase rule the
    batch oracle defines; see funnel_levels' docstring for the proof
    sketch). Incremental: (prev_t, settled, pending) IS the state —
    pending survives a batch boundary so a chain step landing on the
    last timestamp of one batch still can't be extended by an
    equal-timestamp event arriving in the next; a user's funnel deepens
    across micro-batches forever with O(n_steps) state per user.

    Ordering caveat (same as the stateful counter): events are folded in
    event-time order WITHIN a batch; cross-batch late events that should
    have preceded already-folded ones are not re-ordered — bound lateness
    upstream with a watermark-buffered sort if sources interleave."""

    def _nmax(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return max(a, b)

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            prev_t, settled, pending = state.get
            settled, pending = list(settled), list(pending)
        else:
            prev_t = None
            settled = [None] * n_steps
            pending = [None] * n_steps
        rows = []
        for pdf in pdfs:
            rows.append(pdf[["t", "step"]])
        if rows:
            allr = pd.concat(rows).sort_values(["t", "step"])
            for t, step in zip(allr["t"], allr["step"]):
                t, step = int(t), int(step)
                if prev_t is None or t > prev_t:
                    # time advanced: pending chains' last events are now
                    # strictly in the past
                    settled = [
                        _nmax(settled[k], pending[k]) for k in range(n_steps)
                    ]
                    pending = [None] * n_steps
                    prev_t = t
                if step == 1:
                    pending[0] = _nmax(pending[0], t)
                else:
                    prev = settled[step - 2]
                    # prev < t is structural for in-order events (settled
                    # implies an earlier timestamp); kept as an explicit
                    # guard so a cross-batch LATE event can't chain off a
                    # step that is in its own future
                    if (
                        prev is not None
                        and prev < t
                        and t - prev <= window_us
                    ):
                        pending[step - 1] = _nmax(pending[step - 1], prev)
        state.update((prev_t, settled, pending))
        level = 0
        for k in range(n_steps - 1, -1, -1):
            if _nmax(settled[k], pending[k]) is not None:
                level = k + 1
                break
        yield pd.DataFrame({"user_id": [user_id], "funnel_level": [level]})

    return fold


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    *,
    window: str = "7d",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming windowFunnel: per-user deepest strictly-ordered step
    chain within ``window``, maintained incrementally — the streaming
    dual of ``analytics.funnel_levels`` (cross-checked in tests against
    it on replayed data). State: n_steps longs per user."""
    from prom_etl_db_spark.timeparse import parse_duration

    n = len(steps)
    if n < 2:
        raise ValueError("funnel needs at least 2 steps")
    window_us = int(parse_duration(window).total_seconds() * 1_000_000)
    step_map = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i + 1))]
    )
    keyed = events.where(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t"),
        step_map[F.col(type_col)].alias("step"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        make_funnel_fold(n, window_us),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    steps: list[str],
    window: str = "7d",
    available_now: bool = True,
):
    """Drive the streaming funnel over a file source (same sink protocol
    as ``run_counter_stream``: per-batch append with batch_id; latest
    batch per user is current)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    out = streaming_funnel(raw, steps, window=window)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming HLL cardinality ----------------------------------------------

HLL_STATE_SCHEMA = StructType(
    [StructField("regs", ArrayType(IntegerType()), True)]
)

HLL_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("zero_registers", LongType(), True),
        StructField("sum_rank", LongType(), True),
        StructField("hll_estimate", DoubleType(), True),
    ]
)


def make_hll_fold(p: int):
    """Per-group fold: md5-HLL registers as checkpointed state.

    The hash/rank algebra is IDENTICAL to ``functions.sketches``
    (md5(str(key))[:8] → 32-bit; top p bits index, rank = leading zeros
    of the rest + 1), so after any sequence of micro-batches the state
    equals the batch registers over the union of the data — the
    mergeability (max per register) that makes HLL both shardable across
    executors AND incrementally maintainable over an unbounded stream.
    State is a fixed 2^p int array (~16 KB at p=12) per group: bounded
    regardless of stream length, the whole point of sketching a stream.
    """
    import hashlib
    import math

    bits = 32 - p
    m = 1 << p
    mask = (1 << bits) - 1
    alpha = 0.7213 / (1.0 + 1.079 / m)

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        regs = list(state.get[0]) if state.exists else [0] * m
        for pdf in pdfs:
            for k in pdf["k"]:
                h32 = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
                idx = h32 >> bits
                w = h32 & mask
                rank = bits + 1 if w == 0 else bits + 1 - w.bit_length()
                if rank > regs[idx]:
                    regs[idx] = rank
        state.update((regs,))
        zero = sum(1 for r in regs if r == 0)
        s = sum(2.0 ** -r for r in regs)
        raw = alpha * m * m / s
        est = m * math.log(m / zero) if (raw <= 2.5 * m and zero > 0) else raw
        yield pd.DataFrame(
            {
                "g": [g],
                "zero_registers": [zero],
                "sum_rank": [sum(r for r in regs if r > 0)],
                "hll_estimate": [round(est, 4)],
            }
        )

    return fold


def streaming_hll_cardinality(keyed: DataFrame, *, p: int = 12) -> DataFrame:
    """Stream-transform: per-group running distinct-count sketch.

    ``keyed`` is a STREAMING DataFrame shaped (g string, k string/any).
    Each micro-batch emits the group's updated (zero_registers, sum_rank,
    hll_estimate) — the same triple the batch ``sketches.hll_cardinality``
    computes, so the stream's final row per group hash-equals the batch
    run over the union of all batches (asserted in tests, including
    across a checkpoint restart).
    """
    return keyed.groupBy("g").applyInPandasWithState(
        make_hll_fold(p),
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_hll_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    p: int = 12,
    available_now: bool = True,
):
    """Drive the streaming sketch over a file source (same sink protocol
    as ``run_counter_stream``: per-batch append with batch_id; latest
    batch per group is current)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("string").alias("k")
    )
    out = streaming_hll_cardinality(keyed, p=p)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming histogram-quantile sketch ------------------------------------

QHIST_STATE_SCHEMA = StructType(
    [StructField("buckets", ArrayType(LongType()), True)]
)

QHIST_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("n_values", LongType(), True),
        StructField("q_estimate", DoubleType(), True),
    ]
)


def make_qhist_fold(q: float, bins: int, lo: float, hi: float):
    """Per-group fold: equi-width bucket counts as checkpointed state.

    Same bucket map and interpolated read-off as
    ``functions.sketches.quantile_histogram`` (clamped equi-width bins,
    rank = ceil(q·n), linear interpolation in the hit bucket), so the
    stream's final row per group equals the batch sketch over the union
    of all batches — counts merge by ADDITION across micro-batches the
    way shards merge across executors. State is ``bins`` longs per
    group: bounded for an unbounded stream.
    """
    import math

    width = (hi - lo) / bins

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        buckets = list(state.get[0]) if state.exists else [0] * bins
        for pdf in pdfs:
            for v in pdf["v"]:
                v = float(v)
                # a NULL value arrives as NaN in the pandas column — skip
                # like the batch twin's SQL aggregation does, instead of
                # crashing the whole streaming query on int(NaN); ±inf
                # clamps to the edge bins (int(inf) would also raise)
                if math.isnan(v):
                    continue
                if v == float("inf"):
                    b = bins - 1
                elif v == float("-inf"):
                    b = 0
                else:
                    b = min(bins - 1, max(0, int(math.floor((v - lo) / width))))
                buckets[b] += 1
        state.update((buckets,))
        n = sum(buckets)
        rank = math.ceil(q * n)
        cum = 0
        est = None
        for b, c in enumerate(buckets):
            cum += c
            if cum >= rank and c > 0:
                est = lo + b * width + width * (rank - (cum - c)) / c
                break
        # a group whose every value so far was NULL has n == 0 and no
        # estimable bucket: emit a NULL estimate like the batch twin's
        # empty group, instead of round(None, 6) killing the query
        yield pd.DataFrame(
            {
                "g": [g],
                "n_values": [n],
                "q_estimate": [round(est, 6) if est is not None else None],
            }
        )

    return fold


def streaming_quantile_histogram(
    keyed: DataFrame,
    *,
    q: float = 0.9,
    bins: int = 128,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Stream-transform: per-group running quantile estimate over
    fixed-size bucket state. ``keyed`` is a STREAMING DataFrame shaped
    (g string, v double). Tests assert stream ≡ batch
    ``sketches.quantile_histogram`` over the union of batches, across a
    checkpoint restart."""
    return keyed.groupBy("g").applyInPandasWithState(
        make_qhist_fold(q, bins, lo, hi),
        outputStructType=QHIST_OUTPUT_SCHEMA,
        stateStructType=QHIST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_qhist_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    q: float = 0.9,
    available_now: bool = True,
):
    """Drive the streaming quantile sketch over a file source (same sink
    protocol as ``run_counter_stream``)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(F.col("event_type").alias("g"), F.col("value").alias("v"))
    out = streaming_quantile_histogram(keyed, q=q)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming count-min sketch ---------------------------------------------

CM_STATE_SCHEMA = StructType(
    [StructField("cells", ArrayType(LongType()), True)]
)

CM_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("n_rows", LongType(), True),
        StructField("cells_sum", LongType(), True),
        StructField("max_cell", LongType(), True),
    ]
)


def make_cm_fold(depth: int, width: int):
    """Per-group fold: count-min counters as checkpointed state.

    Same md5 cell map as ``functions.sketches.countmin_estimates``
    (cell(i, k) = md5("cm-i-"||k) % width), flattened to one
    depth×width long array; counters merge by ADDITION across
    micro-batches exactly as shards merge by addition in the batch
    form. Emits integer fingerprints of the state (row count, total,
    max cell) so tests can assert stream ≡ batch cell-for-cell via the
    probe API.
    """
    import hashlib

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        cells = list(state.get[0]) if state.exists else [0] * (depth * width)
        for pdf in pdfs:
            for k in pdf["k"]:
                for i in range(depth):
                    h = int(
                        hashlib.md5(f"cm-{i}-{k}".encode()).hexdigest()[:8], 16
                    )
                    cells[i * width + h % width] += 1
        state.update((cells,))
        yield pd.DataFrame(
            {
                "g": [g],
                "n_rows": [sum(cells) // depth],
                "cells_sum": [sum(cells)],
                "max_cell": [max(cells)],
            }
        )

    return fold


def streaming_countmin(
    keyed: DataFrame, *, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Stream-transform: per-group running count-min counters.

    ``keyed`` is a STREAMING DataFrame shaped (g string, k string).
    State is depth×width longs per group — fixed-size for an unbounded
    stream, like the HLL registers and quantile buckets beside it.
    """
    return keyed.groupBy("g").applyInPandasWithState(
        make_cm_fold(depth, width),
        outputStructType=CM_OUTPUT_SCHEMA,
        stateStructType=CM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_countmin_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    available_now: bool = True,
):
    """Drive the streaming count-min over a file source (same sink
    protocol as ``run_counter_stream``)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("string").alias("k")
    )
    out = streaming_countmin(keyed)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming space-saving top-k (Metwally et al. 2005) ---------------------

SS_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("errs", ArrayType(LongType()), True),
    ]
)

SS_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("n_seen", LongType(), True),
        StructField("items", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("errs", ArrayType(LongType()), True),
    ]
)


def make_ss_fold(k: int):
    """Per-group fold: the space-saving summary (Metwally, Agrawal, El
    Abbadi — "Efficient Computation of Frequent and Top-k Elements in
    Data Streams", ICDT 2005) as checkpointed state.

    k monitored (item, count, err) slots; a new item evicts the current
    minimum-count slot (ties to the lexicographically smallest item, a
    deterministic rule) and inherits its count as both estimate floor and
    error bound. The classic guarantees hold for ANY arrival order:
    true_count ≤ est ≤ true_count + err, and every item with true
    frequency > N/k is present in the summary — the restart/guarantee
    tests assert exactly these, not an order-dependent state image.
    State is k slots per group — fixed-size for an unbounded stream, like
    the HLL registers and count-min cells beside it; n_seen rides in an
    extra count slot under the reserved key "" (never a data item).
    """

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        if state.exists:
            items, counts, errs = (
                list(state.get[0]),
                list(state.get[1]),
                list(state.get[2]),
            )
            n_seen = counts.pop()  # the "" bookkeeping slot is last
            items.pop()
            errs.pop()
        else:
            items, counts, errs, n_seen = [], [], [], 0
        slot = {it: i for i, it in enumerate(items)}
        for pdf in pdfs:
            for x in pdf["k"]:
                x = str(x)
                if x == "":
                    # "" is the reserved n_seen bookkeeping slot key; a
                    # data item claiming it would be silently dropped on
                    # the next state round-trip — fail loudly instead
                    raise ValueError(
                        "streaming_space_saving: empty-string keys are "
                        "reserved; map them upstream"
                    )
                n_seen += 1
                i = slot.get(x)
                if i is not None:
                    counts[i] += 1
                elif len(items) < k:
                    slot[x] = len(items)
                    items.append(x)
                    counts.append(1)
                    errs.append(0)
                else:
                    j = min(range(k), key=lambda i: (counts[i], items[i]))
                    del slot[items[j]]
                    slot[x] = j
                    errs[j] = counts[j]
                    counts[j] += 1
                    items[j] = x
        state.update((items + [""], counts + [n_seen], errs + [0]))
        yield pd.DataFrame(
            {
                "g": [g],
                "n_seen": [n_seen],
                "items": [list(items)],
                "counts": [list(counts)],
                "errs": [list(errs)],
            }
        )

    return fold


def streaming_space_saving(keyed: DataFrame, *, k: int = 8) -> DataFrame:
    """Stream-transform: per-group running space-saving top-k summary.
    ``keyed`` is a STREAMING DataFrame shaped (g string, k string)."""
    return keyed.groupBy("g").applyInPandasWithState(
        make_ss_fold(k),
        outputStructType=SS_OUTPUT_SCHEMA,
        stateStructType=SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_space_saving_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    k: int = 8,
    available_now: bool = True,
):
    """Drive the streaming space-saving summary over a file source (same
    sink protocol as ``run_counter_stream``)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("string").alias("k")
    )
    out = streaming_space_saving(keyed, k=k)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming CDC latest-state (materialized-view maintenance) --------------

CDC_STATE_SCHEMA = StructType(
    [
        StructField("ord_ts", LongType(), True),
        StructField("ord_seq", LongType(), True),
        StructField("op", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)

CDC_OUTPUT_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("ord_ts", LongType(), True),
        StructField("ord_seq", LongType(), True),
        StructField("op", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("is_deleted", StringType(), True),
    ]
)


def make_cdc_fold(delete_op: str):
    """Per-key fold: the streaming twin of ``store.apply_cdc_latest`` —
    continuous latest-wins materialization of a change stream. State is
    ONE (order, op, value) record per key; an incoming change replaces it
    only if its (ord_ts, ord_seq) is strictly greater, so late/replayed
    older changes can never regress the view and a delete tombstone is
    REMEMBERED (not dropped) — the fact batch compaction gets for free by
    seeing all changes at once. Emits the post-batch state with an
    is_deleted flag; downstream sinks filter tombstones."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        cur = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            for ts, seq, op, val in zip(
                pdf["ord_ts"], pdf["ord_seq"], pdf["op"], pdf["value"]
            ):
                if pd.isna(ts) or pd.isna(seq):
                    # same contract as the batch twin: order_cols must
                    # totally order changes — a NULL version can't be
                    # placed, and int(NaN)'s ValueError would kill the
                    # query with no hint why
                    raise ValueError(
                        f"streaming_cdc_latest: NULL ord_ts/ord_seq for "
                        f"key {k!r}; version columns must be non-null"
                    )
                # NULL op/value stay None (pandas delivers NaN): the
                # batch twin keeps them as nulls and its delete compare
                # is null-safe — str(NaN) would materialize 'nan' junk
                cand = (
                    int(ts),
                    int(seq),
                    None if pd.isna(op) else str(op),
                    None if pd.isna(val) else float(val),
                )
                if cur is None or cand[:2] > cur[:2]:
                    cur = cand
        state.update(cur)
        yield pd.DataFrame(
            {
                "k": [k],
                "ord_ts": [cur[0]],
                "ord_seq": [cur[1]],
                "op": [cur[2]],
                "value": [cur[3]],
                "is_deleted": ["y" if cur[2] == delete_op else "n"],
            }
        )

    return fold


def streaming_cdc_latest(keyed: DataFrame, *, delete_op: str) -> DataFrame:
    """Stream-transform: continuously-maintained latest state per key.
    ``keyed`` is a STREAMING DataFrame shaped (k string, ord_ts long,
    ord_seq long, op string, value double)."""
    return keyed.groupBy("k").applyInPandasWithState(
        make_cdc_fold(delete_op),
        outputStructType=CDC_OUTPUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_cdc_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    delete_op: str = "error",
    available_now: bool = True,
):
    """Drive the streaming CDC view over a file source (same sink
    protocol as ``run_counter_stream``); events map to changes keyed by
    user, versioned by (ts, event_id), with ``delete_op`` as the
    tombstone."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(
        F.col("user_id").cast("string").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ord_ts"),
        F.col("event_id").alias("ord_seq"),
        F.col("event_type").alias("op"),
        F.col("value").alias("value"),
    )
    out = streaming_cdc_latest(keyed, delete_op=delete_op)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming PSI drift monitor ---------------------------------------------

PSI_STATE_SCHEMA = StructType(
    [
        StructField("baseline", ArrayType(LongType()), True),
        StructField("n_ref", LongType(), True),
    ]
)

PSI_OUTPUT_SCHEMA = StructType(
    [
        StructField("g", StringType(), False),
        StructField("n_ref", LongType(), True),
        StructField("n_cur", LongType(), True),
        StructField("psi", DoubleType(), True),
    ]
)


def make_psi_fold(bins: int, lo: float, hi: float):
    """Per-group fold: continuous drift monitoring against a FROZEN
    baseline. The first batch a group appears in becomes its reference
    histogram (fixed equi-width bins, edge-clamped — the exact bin map of
    ``quality.psi_drift``); every later batch emits the PSI of its own
    distribution against that baseline, with the same add-half smoothing
    and 6-dp rounding, so stream output is comparable number-for-number
    with the batch operator (the restart test pins equality). State is
    ``bins`` longs per group — fixed-size for an unbounded stream."""
    import math

    width = (hi - lo) / bins
    sm = 0.5

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (g,) = key
        cur = [0] * bins
        n_cur = 0
        for pdf in pdfs:
            for v in pdf["v"]:
                v = float(v)
                # NULL → NaN: skip like the batch twin; ±inf edge-clamps
                # (int() of either would raise and kill the query)
                if math.isnan(v):
                    continue
                if v == float("inf"):
                    b = bins - 1
                elif v == float("-inf"):
                    b = 0
                else:
                    b = min(bins - 1, max(0, int((v - lo) // width)))
                cur[b] += 1
                n_cur += 1
        if state.exists:
            baseline, n_ref = list(state.get[0]), int(state.get[1])
            psi = 0.0
            for b in range(bins):
                if baseline[b] == 0 and cur[b] == 0:
                    # batch psi_drift's (g, bin) agg emits no row for a
                    # bin empty on BOTH sides, so its smoothed term is
                    # absent there — skip, or the stream drifts from the
                    # batch number whenever the value range under-fills
                    # the bin domain
                    continue
                p = (baseline[b] + sm) / (n_ref + sm * bins)
                q = (cur[b] + sm) / (n_cur + sm * bins)
                psi += (p - q) * math.log(p / q)
            yield pd.DataFrame(
                {
                    "g": [g],
                    "n_ref": [n_ref],
                    "n_cur": [n_cur],
                    "psi": [round(psi, 6)],
                }
            )
        else:
            state.update((cur, n_cur))
            yield pd.DataFrame(
                {"g": [g], "n_ref": [n_cur], "n_cur": [n_cur], "psi": [0.0]}
            )

    return fold


def streaming_psi_drift(
    keyed: DataFrame, *, bins: int = 20, lo: float = 0.0, hi: float = 500.0
) -> DataFrame:
    """Stream-transform: per-group PSI of each micro-batch against the
    group's frozen first-batch baseline. ``keyed`` is a STREAMING
    DataFrame shaped (g string, v double)."""
    return keyed.groupBy("g").applyInPandasWithState(
        make_psi_fold(bins, lo, hi),
        outputStructType=PSI_OUTPUT_SCHEMA,
        stateStructType=PSI_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_psi_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    available_now: bool = True,
):
    """Drive the streaming PSI monitor over a file source (same sink
    protocol as ``run_counter_stream``)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    keyed = raw.select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    out = streaming_psi_drift(keyed)

    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming Gorilla compression accounting (round 5) ----------------------

GORILLA_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("last_t", LongType(), True),
        StructField("prev_delta", LongType(), True),
        StructField("last_v", LongType(), True),
        StructField("s_lead", IntegerType(), True),
        StructField("s_trail", IntegerType(), True),
        StructField("ts_bits", LongType(), True),
        StructField("val_bits", LongType(), True),
        StructField("n_xor_zero", LongType(), True),
    ]
)

GORILLA_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("n_samples", LongType(), True),
        StructField("ts_bits", LongType(), True),
        StructField("val_bits", LongType(), True),
        StructField("n_xor_zero", LongType(), True),
        StructField("bits_per_sample", DoubleType(), True),
    ]
)


def _gorilla_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-series online Gorilla cost accounting: the checkpointed state
    is exactly the encoder's control state (last timestamp, previous
    delta, last value, XOR window) plus running totals — FIXED-SIZE per
    series regardless of stream length, which is what makes compression
    accounting streamable at TSDB cardinality. The transition is
    `gorilla.gorilla_cost_step`, fuzz-pinned to the real encoder's
    bitstream accounting, so the stream's final row per series equals
    the batch `gorilla_compress_features` totals over the union of all
    batches (asserted in tests, including across a restart)."""
    from prom_etl_db_spark.functions.gorilla import gorilla_cost_step

    (series,) = key
    if state.exists:
        n, lt, pdelta, lv, sl, strl, tsb, vb, xz = state.get
        st = (n, lt, pdelta, lv, sl, strl)
    else:
        st, tsb, vb, xz = None, 0, 0, 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["t", "event_id"], kind="mergesort")
        for t, v in zip(pdf["t"], pdf["v"]):
            st, b_t, b_v, z = gorilla_cost_step(st, int(t), int(v))
            tsb += b_t
            vb += b_v
            xz += z
    state.update((st[0], st[1], st[2], st[3], st[4], st[5], tsb, vb, xz))
    yield pd.DataFrame(
        {
            "series": [series],
            "n_samples": [st[0]],
            "ts_bits": [tsb],
            "val_bits": [vb],
            "n_xor_zero": [xz],
            "bits_per_sample": [round((tsb + vb) / st[0], 4)],
        }
    )


def streaming_gorilla_costs(keyed: DataFrame) -> DataFrame:
    """Stream-transform: per-series running Gorilla compression totals.
    ``keyed`` is a STREAMING DataFrame shaped (series string, t long,
    event_id long, v long) — seconds and integer values, the batch
    twin's convention."""
    return keyed.groupBy("series").applyInPandasWithState(
        _gorilla_fold,
        outputStructType=GORILLA_OUTPUT_SCHEMA,
        stateStructType=GORILLA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_gorilla_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    schema: str,
    available_now: bool = True,
):
    """Drive the streaming compressor over a file source (events-shaped
    parquet; same epoch/rounding derivation as the batch twin)."""
    raw = spark.readStream.schema(schema).parquet(source_dir)
    base = F.lit(1704067200)  # epoch seconds of 2024-01-01 UTC
    keyed = raw.select(
        F.col("event_type").alias("series"),
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast("long") * 86400
            + F.hour("ts").cast("long") * 3600
            + F.minute("ts").cast("long") * 60
            + F.second("ts").cast("long")
            - base
        ).alias("t"),
        F.col("event_id"),
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"),
    )
    out = streaming_gorilla_costs(keyed)
    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming VAD segmentation (round 6) ------------------------------------

VAD_STATE_SCHEMA = StructType(
    [
        StructField("seg", LongType(), True),
        StructField("start", IntegerType(), True),
        StructField("last", IntegerType(), True),
        StructField("n", LongType(), True),
        StructField("energy", LongType(), True),
        StructField("peak_e", LongType(), True),
        StructField("peak_bin", IntegerType(), True),
    ]
)

VAD_OUTPUT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("segment", LongType(), True),
        StructField("start_frame", IntegerType(), True),
        StructField("end_frame", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("seg_energy", LongType(), True),
        StructField("peak_dominant_bin", IntegerType(), True),
    ]
)


def _vad_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-clip online VAD island builder: the checkpointed state is the
    one OPEN segment (span, count, energy, running peak) plus the
    segment counter — fixed-size per clip, the session-window pattern
    (`sessionize`'s gap close, keyed by frame adjacency instead of
    time). Active frames arrive filtered; a frame extends the open
    segment iff it is exactly last+1, else the segment closes (emitted
    final) and a new one opens. The open segment is re-emitted every
    batch (update mode), so the sink's latest row per (clip, segment)
    always equals what the batch operator would say over the data so
    far — including across restarts that land MID-ISLAND. Peak ties
    break to the SMALLEST bin, replicating the batch struct-max
    `(e, -bin)` ordering exactly."""
    (mid,) = key
    if state.exists:
        seg, start, last, n, energy, pe, pb = state.get
    else:
        seg = None
        start = last = n = energy = pe = pb = 0
    out: dict[str, list] = {f.name: [] for f in VAD_OUTPUT_SCHEMA}

    def emit() -> None:
        out["media_id"].append(mid)
        out["segment"].append(seg)
        out["start_frame"].append(start)
        out["end_frame"].append(last)
        out["n_frames"].append(n)
        out["seg_energy"].append(energy)
        out["peak_dominant_bin"].append(pb)

    for pdf in pdfs:
        pdf = pdf.sort_values("frame", kind="mergesort")
        for f, e, b in zip(pdf["frame"], pdf["e_total"], pdf["dominant_bin"]):
            f, e, b = int(f), int(e), int(b)
            if seg is None:
                seg, start, last, n, energy, pe, pb = 0, f, f, 1, e, e, b
            elif f == last + 1:
                last, n, energy = f, n + 1, energy + e
                if e > pe or (e == pe and b < pb):
                    pe, pb = e, b
            elif f <= last:
                continue  # replayed/duplicate frame: exactly-once sink dedups
            else:
                emit()
                seg, start, last, n, energy, pe, pb = seg + 1, f, f, 1, e, e, b
    if seg is not None:
        state.update((seg, start, last, n, energy, pe, pb))
        emit()
    yield pd.DataFrame(
        {
            "media_id": pd.array(out["media_id"], dtype="int64"),
            "segment": pd.array(out["segment"], dtype="int64"),
            "start_frame": pd.array(out["start_frame"], dtype="int32"),
            "end_frame": pd.array(out["end_frame"], dtype="int32"),
            "n_frames": pd.array(out["n_frames"], dtype="int64"),
            "seg_energy": pd.array(out["seg_energy"], dtype="int64"),
            "peak_dominant_bin": pd.array(out["peak_dominant_bin"], dtype="int32"),
        }
    )


def streaming_vad_segments(frames: DataFrame) -> DataFrame:
    """Stream-transform: VAD islands with per-segment descriptors as
    frames arrive. ``frames`` is a STREAMING DataFrame shaped
    (media_id long, frame int, e_total long, dominant_bin int) of
    ACTIVE frames only (threshold-filter upstream, exactly as the batch
    operator filters before its window)."""
    return frames.groupBy("media_id").applyInPandasWithState(
        _vad_fold,
        outputStructType=VAD_OUTPUT_SCHEMA,
        stateStructType=VAD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_vad_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    threshold: int,
    available_now: bool = True,
):
    """Drive the streaming VAD segmenter over a file source of frame
    features (media_id long, frame int, e_total long, dominant_bin int
    — the `spectrogram_frame_features` row shape)."""
    schema = "media_id long, frame int, e_total long, dominant_bin int"
    raw = spark.readStream.schema(schema).parquet(source_dir)
    active = raw.where(F.col("e_total") >= F.lit(threshold))
    out = streaming_vad_segments(active)
    return _start_parquet_sink(out, sink_dir, checkpoint_dir, available_now)


# -- streaming MinHash-LSH near-duplicate detection ---------------------------

NEARDUP_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType()), True),
        StructField("shs", ArrayType(ArrayType(LongType())), True),
        StructField("dropped", LongType(), True),
    ]
)

NEARDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("jaccard", DoubleType(), True),
    ]
)


def make_neardup_fold(
    threshold: float, ttl_minutes: int | None, max_residents: int = 256
):
    """Per-(band, band_hash) bucket fold: the LSH seen-set online.

    The stream twin of ``dedup.minhash_lsh_dup_pairs``'s candidate +
    verify stages: shingling, signatures and band keys are computed by
    the SAME JVM expressions upstream (stateless, so they compose with
    Structured Streaming unchanged); this fold only intersects hashed
    shingle SETS — exact-Jaccard verification, no hash recomputation in
    Python. When a new document lands in an occupied bucket it verifies
    against every resident (and earlier same-batch arrivals, in doc_id
    order for determinism) and emits qualifying pairs as (min, max,
    jaccard) — identical rows to the batch op, so cross-band duplicate
    emissions collapse under a sink-side distinct.

    State per bucket = resident (id, shingles) lists, bounded THREE
    ways: banding probability bounds RANDOM collisions (that is what
    banding is FOR); ``ttl_minutes`` (the recrawl horizon, enforced via
    processing-time timeout like the URL seen-set's watermark) bounds
    lifetime; and ``max_residents`` bounds TRUE-duplicate pile-up — a
    mirror-heavy crawl lands every copy of one page in the same bucket
    by design, so without a cap one bucket's state grows with the
    mirror count and the verify loop goes O(n²) inside a single fold
    (r7 VERDICT "what's wrong" #1). Beyond the cap the OLDEST resident
    (lowest insertion position — with sorted arrivals, the lowest
    doc_id, i.e. everything still pairs against the bucket's CANONICAL
    survivor set, mirroring ``neardup_keep_canonical``'s keep-minimum
    rule as closely as FIFO allows) is evicted and a per-bucket
    ``dropped`` counter persists in state; a saturated bucket verifies
    each arrival against exactly ``max_residents`` residents — O(n·K),
    never O(n²). Cost of the cap: an arrival can no longer pair with
    an EVICTED resident, which only matters once a single page has
    >``max_residents`` near-copies inside the TTL horizon — at which
    point per-pair output is noise anyway (the batch twin emits the
    full clique; consumers of the stream see every survivor paired)."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in NEARDUP_OUTPUT_SCHEMA}
            )
            return
        if state.exists:
            ids, shs = list(state.get[0]), [list(s) for s in state.get[1]]
            dropped = int(state.get[2] or 0)
        else:
            ids, shs = [], []
            dropped = 0
        sets = [set(s) for s in shs]
        out_a, out_b, out_j = [], [], []
        incoming: list[tuple[int, list[int]]] = []
        for pdf in pdfs:
            for did, sh in zip(pdf["id"], pdf["sh"]):
                incoming.append((int(did), [int(x) for x in sh]))
        incoming.sort()
        for did, sh in incoming:
            if did in ids:
                continue  # replayed micro-batch: a doc enters a bucket once
            s = set(sh)
            for oid, os in zip(ids, sets):
                inter = len(s & os)
                union = len(s | os)
                jac = inter / union if union else 0.0
                if jac >= threshold:
                    out_a.append(min(did, oid))
                    out_b.append(max(did, oid))
                    out_j.append(round(jac, 6))
            ids.append(did)
            shs.append(sh)
            sets.append(s)
            if len(ids) > max_residents:  # evict-oldest, count the drop
                ids.pop(0)
                shs.pop(0)
                sets.pop(0)
                dropped += 1
        if dropped:
            logging.getLogger(__name__).warning(
                "neardup bucket %s saturated: %d residents evicted "
                "(cap %d)", key, dropped, max_residents
            )
        state.update((ids, shs, dropped))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})

    return fold


def streaming_minhash_neardup(
    banded: DataFrame,
    *,
    threshold: float = 0.8,
    ttl_minutes: int | None = None,
    max_residents: int = 256,
) -> DataFrame:
    """``banded`` is a STREAMING DataFrame shaped (band int, band_hash
    long, id long, sh array<long>) — the batch pipeline's banded
    candidates with the hashed shingle sets riding along. Emits
    verified near-dup pairs as they become discoverable. State per
    bucket is capped at ``max_residents`` (evict-oldest; see
    ``make_neardup_fold`` for the mirror-pile-up rationale)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        make_neardup_fold(threshold, ttl_minutes, max_residents),
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def run_neardup_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_residents: int = 256,
    available_now: bool = True,
):
    """Drive the streaming near-dup over a file source of (doc_id, text)
    rows: the SAME JVM shingle/signature/band expressions as
    ``dedup.minhash_lsh_dup_pairs``, then the per-bucket stateful
    verify. Sink rows may repeat across bands — identical values;
    consumers (and the restart test) read them through distinct()."""
    from prom_etl_db_spark.functions.dedup import (
        has_min_words,
        hashed_shingles,
        minhash_signature,
    )

    raw = spark.readStream.schema("doc_id long, text string").parquet(source_dir)
    rows = num_hashes // bands
    base = raw.where(has_min_words(F.col("text"), shingle_n)).select(
        F.col("doc_id").alias("id"),
        hashed_shingles(F.col("text"), shingle_n).alias("sh"),
    )
    sig = base.withColumn("sig", minhash_signature(F.col("sh"), num_hashes))
    band_entries = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        ),
    )
    banded = sig.select(
        "id", "sh", F.explode(band_entries).alias("bk")
    ).select(
        F.col("bk.band").alias("band"),
        F.col("bk.band_hash").alias("band_hash"),
        "id",
        "sh",
    )
    out = streaming_minhash_neardup(
        banded, threshold=threshold, max_residents=max_residents
    )
    # pairs are discovered once and never revised -> APPEND mode (the
    # update-mode sink protocol is for running-state operators)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    writer = out.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


NH_SUM_STATE_SCHEMA = StructType(
    [
        StructField("schema", IntegerType(), True),
        StructField("zero_threshold", DoubleType(), True),
        StructField("pos_offset", IntegerType(), True),
        StructField("pos_counts", ArrayType(LongType()), True),
        StructField("neg_offset", IntegerType(), True),
        StructField("neg_counts", ArrayType(LongType()), True),
        StructField("zero_count", LongType(), True),
        StructField("cum_count", LongType(), True),
        StructField("cum_sum", DoubleType(), True),
        StructField("sum_poisoned", BooleanType(), True),
    ]
)

NH_SUM_OUTPUT_SCHEMA = StructType(
    [StructField("series", StringType(), False)]
    + [f for f in NH_SUM_STATE_SCHEMA.fields if f.name != "sum_poisoned"]
    + [StructField("n_merged", LongType(), True)]
)


def _fold_native_hist_sum(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``native_hist.native_hist_sum_by`` (r9): the
    per-group state IS the merged histogram at the coarsest scale seen
    — each arriving histogram downscale-merges in
    (``_py_nh_downscale`` + ``_py_nh_align_add``, the same Python
    twins the delta-exponential stream uses), so an unbounded series
    stream rolls up without ever materializing the group. One updated
    merged row emits per touched group per micro-batch. A
    zero_threshold differing from the checkpointed one refuses
    (the batch operator's rule); a missing ``sum`` poisons the merged
    sum permanently."""
    (series,) = key
    if state.exists:
        (sc, zt, po, pc, no, nc, z, cnt, sm, poisoned) = state.get
        pc = list(pc) if pc is not None else []
        nc = list(nc) if nc is not None else []
    else:
        sc, zt = None, None
        po = no = 0
        pc, nc = [], []
        z, cnt, sm, poisoned = 0, 0, 0.0, False
    n_merged = 0
    cols = ["schema", "zero_threshold", "pos_offset", "pos_counts",
            "neg_offset", "neg_counts", "zero_count", "count", "sum"]
    for pdf in pdfs:
        for row in pdf[cols].itertuples(index=False):
            r_sc = int(row.schema)
            r_zt = float(row.zero_threshold)
            if zt is None:
                zt = r_zt
            elif r_zt != zt:
                raise ValueError(
                    "stream_native_hist_rollup: zero_threshold differs "
                    f"from the checkpointed group state ({series}) — "
                    "Prometheus re-buckets to the widest; refusing "
                    "names the config drift")
            r_po, r_pc = int(row.pos_offset), [int(x) for x in row.pos_counts]
            r_no, r_nc = int(row.neg_offset), [int(x) for x in row.neg_counts]
            if sc is None:
                sc, po, pc, no, nc = r_sc, r_po, r_pc, r_no, r_nc
            else:
                target = min(sc, r_sc)
                po, pc = _py_nh_downscale(po, pc, sc - target)
                no, nc = _py_nh_downscale(no, nc, sc - target)
                r_po, r_pc = _py_nh_downscale(r_po, r_pc, r_sc - target)
                r_no, r_nc = _py_nh_downscale(r_no, r_nc, r_sc - target)
                po, pc = _py_nh_align_add(po, pc, r_po, r_pc)
                no, nc = _py_nh_align_add(no, nc, r_no, r_nc)
                sc = target
            z += int(row.zero_count)
            cnt += int(row.count)
            s = row.sum
            if s is None or pd.isna(s):
                poisoned = True
            else:
                sm += float(s)
            n_merged += 1
    state.update((sc, zt, po, pc, no, nc, z, cnt, sm, bool(poisoned)))
    yield pd.DataFrame(
        {
            "series": [series],
            "schema": [sc],
            "zero_threshold": [zt],
            "pos_offset": [po],
            "pos_counts": [list(pc)],
            "neg_offset": [no],
            "neg_counts": [list(nc)],
            "zero_count": [z],
            "cum_count": [cnt],
            "cum_sum": [None if poisoned else sm],
            "n_merged": [n_merged],
        }
    )


def streaming_native_hist_sum(keyed: DataFrame) -> DataFrame:
    """Stream-transform: per-group running native-histogram merge.
    ``keyed`` is a STREAMING DataFrame shaped (series string, schema
    int, zero_threshold double, pos_offset int, pos_counts
    array<long>, neg_offset int, neg_counts array<long>, zero_count
    long, count long, sum double)."""
    return keyed.groupBy("series").applyInPandasWithState(
        _fold_native_hist_sum,
        outputStructType=NH_SUM_OUTPUT_SCHEMA,
        stateStructType=NH_SUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming exemplar -> rate-window report (r10) ---------------------------

EXEMPLAR_REPORT_STATE_SCHEMA = StructType(
    [
        StructField("first_ts", LongType(), True),
        StructField("first_value", DoubleType(), True),
        StructField("last_ts", LongType(), True),
        StructField("last_value", DoubleType(), True),
        StructField("n_ex", LongType(), True),
        StructField("ex_min", DoubleType(), True),
        StructField("ex_max", DoubleType(), True),
        StructField("ex_sum", DoubleType(), True),
        StructField("pend_ts", ArrayType(LongType()), True),
        StructField("pend_v", ArrayType(DoubleType()), True),
        StructField("n_stale", LongType(), True),
    ]
)

EXEMPLAR_REPORT_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("first_ts", LongType(), True),
        StructField("last_ts", LongType(), True),
        StructField("reset", BooleanType(), True),
        StructField("increase", DoubleType(), True),
        StructField("rate_per_sec", DoubleType(), True),
        StructField("n_exemplars", LongType(), True),
        StructField("exemplar_min", DoubleType(), True),
        StructField("exemplar_max", DoubleType(), True),
        StructField("exemplar_mean", DoubleType(), True),
        StructField("sampling_ratio", DoubleType(), True),
        StructField("n_stale_exemplars", LongType(), True),
    ]
)

#: exemplars newer than the window's latest sample held for later
#: admission — bounded, the _TsDupGuard state-bounding rule
_EX_PENDING_CAP = 256


def _fold_exemplar_report(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``operators.exemplars.exemplar_rate_report``
    (r10): one interleaved stream per series carrying SAMPLE rows
    (kind 's') and EXEMPLAR rows (kind 'e'). State holds the window
    endpoints (earliest/latest sample with values), the folded
    exemplar stats, and a BOUNDED pending set for exemplars newer
    than the current latest sample (they enter the window when a
    later sample extends it; beyond ``_EX_PENDING_CAP`` the fold
    refuses loudly — unbounded retention is the hazard the delta
    folds' dup guard also bounds). Exemplars OLDER than the earliest
    sample are counted ``n_stale`` and excluded permanently — the one
    documented divergence from the batch operator: a late
    OUT-OF-ORDER sample that extends the window backward cannot
    resurrect an already-staled exemplar (bounded state beats exact
    replay of arbitrary disorder; the batch twin over the full frame
    is the exact form). Emits the current report once per batch."""
    (series,) = key
    if state.exists:
        (f_ts, f_v, l_ts, l_v, n_ex, ex_min, ex_max, ex_sum,
         pend_ts, pend_v, n_stale) = state.get
        pend = list(zip(pend_ts or [], pend_v or []))
    else:
        f_ts = f_v = l_ts = l_v = None
        n_ex, ex_min, ex_max, ex_sum, n_stale = 0, None, None, 0.0, 0
        pend = []
    chunks = [pdf[["kind", "timestamp_ms", "value"]] for pdf in pdfs]
    if chunks:
        allr = pd.concat(chunks).sort_values("timestamp_ms",
                                             kind="mergesort")
        for kind, ts, v in zip(allr["kind"], allr["timestamp_ms"],
                               allr["value"]):
            ts_i, v_f = int(ts), float(v)
            if kind == "s":
                if f_ts is None or ts_i < f_ts:
                    f_ts, f_v = ts_i, v_f
                if l_ts is None or ts_i > l_ts:
                    l_ts, l_v = ts_i, v_f
            else:
                pend.append((ts_i, v_f))
        # admit pending exemplars against the (possibly grown) window
        still = []
        for ts_i, v_f in pend:
            if f_ts is not None and f_ts <= ts_i <= l_ts:
                n_ex += 1
                ex_min = v_f if ex_min is None else min(ex_min, v_f)
                ex_max = v_f if ex_max is None else max(ex_max, v_f)
                ex_sum += v_f
            elif f_ts is not None and ts_i < f_ts:
                n_stale += 1
            else:
                still.append((ts_i, v_f))
        if len(still) > _EX_PENDING_CAP:
            raise ValueError(
                "stream_exemplar_report: more than "
                f"{_EX_PENDING_CAP} exemplars pending ahead of the "
                f"latest sample for series ({series}) — the exemplar "
                "feed is running ahead of the sample feed")
        pend = still
    state.update((
        f_ts, f_v, l_ts, l_v, n_ex, ex_min, ex_max, ex_sum,
        [t for t, _ in pend], [v for _, v in pend], n_stale,
    ))
    if f_ts is None:
        yield pd.DataFrame(
            {c.name: pd.Series(dtype="object")
             for c in EXEMPLAR_REPORT_OUTPUT_SCHEMA.fields})
        return
    reset = l_v < f_v
    inc = l_v if reset else l_v - f_v
    dt = (l_ts - f_ts) / 1000.0
    yield pd.DataFrame({
        "series": [series],
        "first_ts": [f_ts],
        "last_ts": [l_ts],
        "reset": [bool(reset)],
        "increase": [inc],
        "rate_per_sec": [inc / dt if dt > 0 else None],
        "n_exemplars": [n_ex],
        "exemplar_min": [ex_min],
        "exemplar_max": [ex_max],
        "exemplar_mean": [ex_sum / n_ex if n_ex else None],
        "sampling_ratio": [n_ex / inc if inc > 0 else None],
        "n_stale_exemplars": [n_stale],
    })


def streaming_exemplar_report(rows: DataFrame) -> DataFrame:
    """Stream-transform: per-series exemplar -> rate-window report.
    ``rows`` is a STREAMING DataFrame shaped (series string, kind
    string 's'|'e', timestamp_ms long, value double)."""
    return rows.groupBy("series").applyInPandasWithState(
        _fold_exemplar_report,
        outputStructType=EXEMPLAR_REPORT_OUTPUT_SCHEMA,
        stateStructType=EXEMPLAR_REPORT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- streaming native-histogram resets/changes (r11) --------------------------

NH_RC_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType(), True),
        StructField("schema", IntegerType(), True),
        StructField("zero_count", LongType(), True),
        StructField("pos_offset", IntegerType(), True),
        StructField("pos_counts", ArrayType(LongType()), True),
        StructField("neg_offset", IntegerType(), True),
        StructField("neg_counts", ArrayType(LongType()), True),
        StructField("count", LongType(), True),
        StructField("sum", DoubleType(), True),
        StructField("sum_known", BooleanType(), True),
        StructField("n_changes", LongType(), True),
        StructField("n_resets", LongType(), True),
        StructField("n_late", LongType(), True),
    ]
)

NH_RC_OUTPUT_SCHEMA = StructType(
    [
        StructField("series", StringType(), False),
        StructField("timestamp_ms", LongType(), True),
        StructField("n_changes", LongType(), True),
        StructField("n_resets", LongType(), True),
        # arrivals at-or-before the newest folded timestamp, excluded
        # and counted (the pair walk is order-dependent — a late point
        # cannot be re-inserted between already-walked neighbours);
        # visible-not-fatal, the r11 _TsDupGuard rule
        StructField("n_late", LongType(), True),
    ]
)


def _py_nh_pair_reset(prev, cur):
    """(schema, zero, po, pc, no, nc, count, sum_or_None) pair →
    counter reset? — the batch `native_hist_changes_and_resets` rule:
    downscale the finer side to the coarser schema, align on absolute
    indices, any aligned bucket drop on either side; zero/count drop;
    sum drop when both known."""
    target = min(prev[0], cur[0])
    if cur[1] < prev[1] or cur[6] < prev[6]:
        return True
    if prev[7] is not None and cur[7] is not None and cur[7] < prev[7]:
        return True
    for (o_p, c_p, o_c, c_c) in (
        (prev[2], prev[3], cur[2], cur[3]),
        (prev[4], prev[5], cur[4], cur[5]),
    ):
        po, pc = _py_nh_downscale(o_p, list(c_p), prev[0] - target)
        co, cc = _py_nh_downscale(o_c, list(c_c), cur[0] - target)
        if not pc and not cc:
            continue
        lo = min(po, co)
        hi = max(po + len(pc), co + len(cc))
        if hi - lo > 4096:
            # r12 (VERDICT r11 What's-wrong #1): the batch twin's
            # dense-expansion bomb guard, applied to the Python pair
            # walk — two far-apart offsets from a buggy producer would
            # otherwise spin this loop over the whole gap per pair.
            # A protocol violation refuses loudly (the batch rule);
            # the visible-not-fatal n_late convention is for LEGAL
            # data races, not for garbage offsets.
            raise ValueError(
                "nh_resets_changes: aligned bucket index span exceeds "
                "4096 — dense-expansion bomb guard")
        for i in range(lo, hi):
            p = pc[i - po] if 0 <= i - po < len(pc) else 0
            c = cc[i - co] if 0 <= i - co < len(cc) else 0
            if c < p:
                return True
    return False


def _py_nh_changed(prev, cur):
    """Semantic inequality over the canonical decode — the batch
    operator's nonzero-entry signature (zero-padding differences from
    span encodings are not changes)."""

    def sig(s):
        return (
            s[0], s[1],
            tuple((s[2] + i, c) for i, c in enumerate(s[3]) if c),
            tuple((s[4] + i, c) for i, c in enumerate(s[5]) if c),
            s[6], s[7],
        )

    return sig(prev) != sig(cur)


def _fold_nh_resets_changes(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming twin of ``native_hist.native_hist_changes_and_resets``
    (r11): per-series state is the LAST folded sample plus the running
    counters — each arriving sample walks exactly one pair against it,
    so an unbounded series accumulates resets()/changes() with O(1)
    state and no window. Within a batch arrivals sort by timestamp;
    an arrival at-or-before the newest folded timestamp is EXCLUDED
    and counted in ``n_late`` (the pair walk is order-dependent; a
    raise would be a restart poison pill — the `_TsDupGuard` r11
    rule). A NULL sum compares null-safely (unknown-vs-known is a
    change, never a reset signal)."""
    (series,) = key
    if state.exists:
        (last_ts, sc, z, po, pc, no, nc, cnt, sm, sum_known,
         n_chg, n_rst, n_late) = state.get
        prev = (sc, z, po, list(pc), no, list(nc), cnt,
                (sm if sum_known else None))
    else:
        last_ts, prev = None, None
        n_chg = n_rst = n_late = 0
    cols = ["timestamp_ms", "schema", "zero_count", "pos_offset",
            "pos_counts", "neg_offset", "neg_counts", "count", "sum"]
    chunks = [pdf[cols] for pdf in pdfs]
    if chunks:
        allr = pd.concat(chunks).sort_values("timestamp_ms", kind="mergesort")
        for row in allr.itertuples(index=False):
            ts_i = int(row.timestamp_ms)
            if last_ts is not None and ts_i <= last_ts:
                n_late += 1
                continue
            s = row.sum
            cur = (
                int(row.schema), int(row.zero_count),
                int(row.pos_offset), [int(x) for x in row.pos_counts],
                int(row.neg_offset), [int(x) for x in row.neg_counts],
                int(row.count),
                None if (s is None or pd.isna(s)) else float(s),
            )
            if prev is not None:
                if _py_nh_changed(prev, cur):
                    n_chg += 1
                if _py_nh_pair_reset(prev, cur):
                    n_rst += 1
            prev, last_ts = cur, ts_i
    if prev is None:
        yield pd.DataFrame({c: [] for c in NH_RC_OUTPUT_SCHEMA.names})
        return
    state.update((
        last_ts, prev[0], prev[1], prev[2], prev[3], prev[4], prev[5],
        prev[6], prev[7] if prev[7] is not None else 0.0,
        prev[7] is not None, n_chg, n_rst, n_late,
    ))
    yield pd.DataFrame({
        "series": [series],
        "timestamp_ms": [last_ts],
        "n_changes": [n_chg],
        "n_resets": [n_rst],
        "n_late": [n_late],
    })


def streaming_nh_resets_changes(keyed: DataFrame) -> DataFrame:
    """Stream-transform: per-series running ``resets()``/``changes()``
    counters over native-histogram samples. ``keyed`` is a STREAMING
    DataFrame shaped (series string, timestamp_ms long, schema int,
    zero_count long, pos_offset int, pos_counts array<long>,
    neg_offset int, neg_counts array<long>, count long, sum double)."""
    return keyed.groupBy("series").applyInPandasWithState(
        _fold_nh_resets_changes,
        outputStructType=NH_RC_OUTPUT_SCHEMA,
        stateStructType=NH_RC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
