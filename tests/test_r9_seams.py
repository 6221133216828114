"""Round-9 adversarial seam pass over the late-r8 operator seams
(VERDICT r8 task #7). Each test pins a seam probed this round:

- ``ct_increase`` with a created_timestamp AFTER the first sample
  (clock skew): the CT is ignored — no synthetic zero — instead of
  trusted (FIXED r9; previously the skewed CT still granted the first
  sample's full value). Same rule in the streaming fold.
- CT + reset inside ONE window: both rules compose (was already
  correct; pinned).
- ``native_hist_increase`` on NHCB series where custom_values match
  but +Inf-bucket presence differs between endpoints: the absolute-
  index alignment treats the absent +Inf bucket as 0 — correct by
  construction (pinned, no fix needed).
- ``info_enrich`` with NULL identifying-label values: null-keyed info
  groups still conflict-detect, and eqNullSafe joins a label-less
  sample only to a label-less info series (PromQL's absent==absent
  rule; pinned).
- ``info_enrich`` staleness: the operator is INSTANT-scoped — two
  payloads valid at different times must be time-sliced by the caller
  first; unsliced they refuse as a conflict (pinned as the documented
  contract, with the sliced workflow shown working).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from prom_etl_db_spark.operators import native_hist as NH
from prom_etl_db_spark.operators import promql
from prom_etl_db_spark.registry.rw2_aux import ct_increase

WSTART = 1_000_000


def _pts(spark, rows):
    return spark.createDataFrame(
        [Row(push_id=p, metric_name="m", timestamp_ms=t, value=float(v),
             created_timestamp_ms=ct) for p, t, v, ct in rows],
        "push_id long, metric_name string, timestamp_ms long, "
        "value double, created_timestamp_ms long")


def test_ct_after_first_sample_is_ignored(spark):
    """Clock skew: CT inside the window but AFTER the first sample —
    the synthetic zero would postdate the observation, so the CT is
    ignored (first sample contributes 0, like unknown birth)."""
    rows = [
        (1, WSTART + 100, 5.0, WSTART + 500),   # skewed CT: ct > ts
        (1, WSTART + 200, 8.0, WSTART + 500),
        (2, WSTART + 100, 5.0, WSTART + 50),    # ct < first ts: valid
        (2, WSTART + 200, 8.0, WSTART + 50),
        (3, WSTART + 100, 5.0, WSTART - 5000),  # born before window
        (3, WSTART + 200, 8.0, WSTART - 5000),
        (4, WSTART + 100, 5.0, WSTART + 100),   # ct == ts: NOT injected
        (4, WSTART + 200, 8.0, WSTART + 100),   # (Prometheus: ct >= t
    ]                                           #  is out-of-order CT)
    got = {r["push_id"]: r["increase"]
           for r in ct_increase(_pts(spark, rows), WSTART).collect()}
    assert got[1] == 3.0   # skewed CT ignored: 0 + (8-5)
    assert got[2] == 8.0   # valid CT: 5 + 3
    assert got[3] == 3.0   # pre-window birth: 0 + 3
    assert got[4] == 3.0   # equality is skew too: 0 + 3


def test_ct_and_reset_in_one_window(spark):
    """Both rules compose: born-in-window first sample counts fully,
    a later drop contributes the post-reset value."""
    rows = [
        (1, WSTART + 100, 4.0, WSTART + 50),
        (1, WSTART + 200, 7.0, WSTART + 50),
        (1, WSTART + 300, 0.5, WSTART + 50),   # reset
        (1, WSTART + 400, 2.5, WSTART + 50),
    ]
    (r,) = ct_increase(_pts(spark, rows), WSTART).collect()
    assert r["increase"] == 4.0 + 3.0 + 0.5 + 2.0


def test_streaming_ct_fold_ignores_skewed_ct():
    from prom_etl_db_spark.streaming.stateful import make_ct_counter_fold

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    fold = make_ct_counter_fold(WSTART)
    pdf = pd.DataFrame({
        "timestamp_ms": [WSTART + 100, WSTART + 200],
        "value": [5.0, 8.0],
        "created_ms": [WSTART + 500, WSTART + 500],  # skewed
    })
    (out,) = fold(("s",), iter([pdf]), FakeState())
    assert out["total_increase"].iloc[0] == 3.0  # skew ignored
    pdf_ok = pdf.assign(created_ms=[WSTART + 50, WSTART + 50])
    (out2,) = fold(("s",), iter([pdf_ok]), FakeState())
    assert out2["total_increase"].iloc[0] == 8.0  # valid CT counts
    # equality IS skew: Prometheus rejects ct >= t as out-of-order CT
    pdf_eq = pdf.assign(created_ms=[WSTART + 100, WSTART + 100])
    (out3,) = fold(("s",), iter([pdf_eq]), FakeState())
    assert out3["total_increase"].iloc[0] == 3.0


def _nhcb_df(spark, rows):
    schema = ("labels map<string,string>, ts timestamp, schema int, "
              "zero_count long, pos_offset int, pos_counts array<long>, "
              "custom_values array<double>")
    return spark.createDataFrame(rows, schema)


def test_nhcb_increase_inf_bucket_presence_differs(spark):
    """custom_values identical, but only the LATER endpoint carries
    the +Inf bucket (index len(custom_values)): alignment counts the
    missing bucket as 0, so the +Inf increase is the later count
    verbatim — no refusal, no mis-attribution."""
    from datetime import datetime

    cv = [0.5, 2.0]
    rows = [
        Row(labels={"n": "s"}, ts=datetime(2024, 1, 1, 0, 0), schema=-53,
            zero_count=0, pos_offset=0, pos_counts=[2, 1],
            custom_values=cv),                          # no +Inf bucket
        Row(labels={"n": "s"}, ts=datetime(2024, 1, 1, 0, 5), schema=-53,
            zero_count=0, pos_offset=0, pos_counts=[5, 4, 3],
            custom_values=cv),                          # +Inf present
    ]
    (r,) = NH.native_hist_increase(_nhcb_df(spark, rows)).collect()
    assert not r["reset"]
    assert r["pos_offset"] == 0
    assert list(r["pos_counts"]) == [3, 3, 3]  # [5-2, 4-1, 3-0]
    assert list(r["custom_values"]) == cv
    # mirrored: EARLIER endpoint has +Inf, later doesn't -> the +Inf
    # diff is 0-3 < 0 -> a RESET by the counter rule (counts fell)
    rows_rev = [
        Row(labels={"n": "s"}, ts=datetime(2024, 1, 1, 0, 0), schema=-53,
            zero_count=0, pos_offset=0, pos_counts=[2, 1, 3],
            custom_values=cv),
        Row(labels={"n": "s"}, ts=datetime(2024, 1, 1, 0, 5), schema=-53,
            zero_count=0, pos_offset=0, pos_counts=[5, 4],
            custom_values=cv),
    ]
    (r2,) = NH.native_hist_increase(_nhcb_df(spark, rows_rev)).collect()
    assert r2["reset"] and list(r2["pos_counts"]) == [5, 4]


def test_info_enrich_null_identifying_values(spark):
    """A sample WITHOUT the identifying label joins only an info
    series also lacking it (eqNullSafe — PromQL's absent==absent);
    and conflict detection fires for the null-keyed group too."""
    samples = spark.createDataFrame(
        [Row(labels={"__name__": "up", "instance": "i1"}, value=1.0),
         Row(labels={"__name__": "up"}, value=2.0)],  # no instance
        "labels map<string,string>, value double")
    info = spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "cluster": "anon"},
             value=1.0)],  # no instance either
        "labels map<string,string>, value double")
    out = {r["labels"].get("instance", "<none>"): dict(r["labels"])
           for r in promql.info_enrich(
               samples, info, identifying=("instance",)).collect()}
    assert out["<none>"]["cluster"] == "anon"     # absent==absent joins
    assert "cluster" not in out["i1"]             # labeled sample doesn't
    conflict = info.union(spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "cluster": "OTHER"},
             value=1.0)], info.schema))
    with pytest.raises(Exception, match="conflicting info series"):
        promql.info_enrich(
            samples, conflict, identifying=("instance",)).collect()


def test_info_enrich_staleness_requires_time_slicing(spark):
    """Two info payloads valid at different times: the operator is
    instant-scoped — enriching with the UNSLICED info table refuses as
    a conflict (it cannot know which payload is current), while
    slicing to the evaluation instant first (the intended workflow,
    same as any instant-vector selector) enriches cleanly."""
    samples = spark.createDataFrame(
        [Row(labels={"__name__": "up", "instance": "i1"}, value=1.0)],
        "labels map<string,string>, value double")
    info_t = spark.createDataFrame(
        [Row(labels={"__name__": "target_info", "instance": "i1",
                     "version": "v1"}, value=1.0, ts=100),
         Row(labels={"__name__": "target_info", "instance": "i1",
                     "version": "v2"}, value=1.0, ts=200)],
        "labels map<string,string>, value double, ts long")
    with pytest.raises(Exception, match="conflicting info series"):
        promql.info_enrich(
            samples, info_t.drop("ts"), identifying=("instance",)).collect()
    # sliced to the instant (latest ts <= eval time), enrichment works
    latest = info_t.withColumn(
        "rn", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.partitionBy(F.col("labels")["instance"])
            .orderBy(F.desc("ts")))
    ).where(F.col("rn") == 1).drop("rn", "ts")
    (r,) = promql.info_enrich(
        samples, latest, identifying=("instance",)).collect()
    assert r["labels"]["version"] == "v2"
