"""Sink & idempotency property tests (SURVEY.md §2.A A14-A26, §5.2 item 3).

The key properties from the reference's repair-tool idempotency matrix
(`cmd/repair/main.go:317-374`):
- re-running ingest for an existing day is a no-op (skip-if-exists),
- force-recompute (day overwrite) equals a fresh compute,
- retention/delete-day only touch the targeted partitions.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from prom_etl_db_spark.schema import METRICS_STORED_SCHEMA
from prom_etl_db_spark.store import (
    append_records,
    backfill_skip_existing,
    delete_day,
    execution_record,
    compact_days,
    overwrite_days,
    read_records,
    retention_cleanup,
)


def _records(spark, day: date, value: float, n: int = 3):
    rows = [
        (
            "q1",
            "m",
            {"host": f"h{i}"},
            value,
            datetime(day.year, day.month, day.day, 12, 0),
            "instant",
            datetime(day.year, day.month, day.day),
            day,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, METRICS_STORED_SCHEMA)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "metrics")


def test_append_partitions_by_day(spark, table):
    append_records(_records(spark, date(2024, 3, 1), 1.0), table)
    append_records(_records(spark, date(2024, 3, 2), 2.0), table)
    df = read_records(spark, table)
    assert df.count() == 6
    # physical layout: one directory per day (the O(day) delete property)
    assert df.select("collected_date").distinct().count() == 2


def test_backfill_skip_existing_is_noop_on_rerun(spark, table):
    day = date(2024, 3, 1)
    append_records(_records(spark, day, 1.0), table)
    # identical re-ingest → all rows dropped by the left_anti gate (A26)
    surviving = backfill_skip_existing(_records(spark, day, 1.0), spark, table)
    assert surviving.count() == 0
    # a new day passes through untouched
    fresh = backfill_skip_existing(_records(spark, date(2024, 3, 2), 2.0), spark, table)
    assert fresh.count() == 3


def test_backfill_against_empty_table_passes_through(spark, tmp_path):
    df = _records(spark, date(2024, 3, 1), 1.0)
    assert backfill_skip_existing(df, spark, str(tmp_path / "nope")).count() == 3


def test_force_recompute_equals_fresh_compute(spark, table):
    day = date(2024, 3, 1)
    append_records(_records(spark, day, 1.0), table)
    append_records(_records(spark, date(2024, 3, 2), 5.0), table)
    # force-recompute day 1 with corrected values (A21/A26 --force-recompute)
    overwrite_days(_records(spark, day, 9.0), table)
    df = read_records(spark, table)
    assert df.count() == 6
    d1 = df.where("collected_date = '2024-03-01'")
    assert {r["value"] for r in d1.collect()} == {9.0}  # old rows gone
    # sibling day untouched (dynamic partition overwrite, not truncate)
    assert df.where("collected_date = '2024-03-02'").count() == 3


def test_delete_day_is_partition_scoped(spark, table):
    append_records(_records(spark, date(2024, 3, 1), 1.0), table)
    append_records(_records(spark, date(2024, 3, 2), 2.0), table)
    delete_day(spark, table, date(2024, 3, 1))
    df = read_records(spark, table)
    assert df.count() == 3
    assert df.select("collected_date").distinct().first()[0] == date(2024, 3, 2)


def test_retention_cleanup(spark, table):
    for d in (date(2024, 1, 1), date(2024, 2, 1), date(2024, 3, 1)):
        append_records(_records(spark, d, 1.0), table)
    dropped = retention_cleanup(spark, table, older_than=date(2024, 2, 15))
    assert dropped == 2
    assert read_records(spark, table).select("collected_date").distinct().count() == 1


def test_execution_record_duration():
    (rec,) = execution_record(
        query_id="q1",
        query_name="n",
        status="success",
        start_time=datetime(2024, 3, 1, 0, 0, 0),
        end_time=datetime(2024, 3, 1, 0, 0, 2, 500000),
        records_count=42,
    ).to_pylist()
    assert rec["duration_ms"] == 2500
    assert rec["records_count"] == 42
    assert rec["status"] == "success"


def test_compact_days_merges_small_files_content_identical(spark, table):
    day = date(2024, 3, 1)
    # 8 tiny appends -> 8+ files in one day partition
    for i in range(8):
        append_records(_records(spark, day, float(i)), table)
    before = read_records(spark, table).orderBy("value", "labels.host").collect()
    from pathlib import Path

    part = Path(table) / f"collected_date={day.isoformat()}"
    n_before = len(list(part.glob("*.parquet")))
    assert n_before >= 8

    out = compact_days(spark, table)
    assert out[day][0] == n_before and out[day][1] == 1
    after = read_records(spark, table).orderBy("value", "labels.host").collect()
    assert after == before  # byte-identical content, new layout
    # idempotent: already-compact partitions are untouched
    assert compact_days(spark, table) == {}


def test_compact_days_respects_day_selection_and_siblings(spark, table):
    d1, d2 = date(2024, 3, 1), date(2024, 3, 2)
    for i in range(5):
        append_records(_records(spark, d1, float(i)), table)
        append_records(_records(spark, d2, float(i)), table)
    out = compact_days(spark, table, days=[d1])
    assert list(out) == [d1]
    from pathlib import Path

    # d2 untouched: still many files
    part2 = Path(table) / f"collected_date={d2.isoformat()}"
    assert len(list(part2.glob("*.parquet"))) >= 5
    assert read_records(spark, table).count() == 30


def test_clustered_append_produces_disjoint_file_ranges(spark, table):
    """The data-skipping property, asserted on the actual parquet footers:
    after clustering on metric_name, each file's (min, max) metric range
    is narrow and files barely overlap — a metric-selective filter can
    skip most files. The unclustered layout interleaves every metric into
    every file."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from prom_etl_db_spark.store import append_records_clustered

    day = date(2024, 3, 1)
    rows = [
        (
            "q1",
            f"metric_{m:02d}",
            {"host": "h"},
            1.0,
            datetime(2024, 3, 1, 12, 0),
            "instant",
            datetime(2024, 3, 1),
            day,
        )
        for m in range(8)
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, METRICS_STORED_SCHEMA).repartition(8)
    append_records_clustered(df, table, num_files=4)

    part = Path(table) / f"collected_date={day.isoformat()}"
    spans = []
    for f in part.glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "metric_name"
        )
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        spans.append((min(los), max(his)))
    assert len(spans) >= 2
    # every file covers at most 2 of the 8 metrics — narrow, skippable
    width = [int(hi[-2:]) - int(lo[-2:]) for lo, hi in spans]
    assert all(w <= 1 for w in width), spans
    # and the data is intact
    assert spark.read.parquet(table).count() == 400


def test_concurrent_appends_to_one_path_all_land(spark, table):
    """serve --max-parallel fires configs concurrently against a shared
    store path; Spark's FileOutputCommitter stages every job under the
    same _temporary/0, so unserialized commits can delete each other's
    staged files. The per-path write lock must make N concurrent appends
    land all N batches."""
    from concurrent.futures import ThreadPoolExecutor

    batches = [_records(spark, date(2024, 3, d + 1), float(d), n=5) for d in range(6)]
    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(lambda df: append_records(df, table), batches))
    assert read_records(spark, table).count() == 30
    # every batch's day partition is present and whole
    per_day = {
        r["collected_date"]: r["n"]
        for r in read_records(spark, table)
        .groupBy("collected_date")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_day == {date(2024, 3, d + 1): 5 for d in range(6)}


def test_compact_days_heals_crashed_swap_leftovers(spark, table):
    """A crash between the two swap renames strands the day in
    .old-<part>; the next run must restore it (and clean a completed
    swap's leftover) instead of silently losing the partition."""
    import shutil as _sh
    from pathlib import Path as _P

    append_records(_records(spark, date(2024, 3, 1), 1.0, n=4), table)
    append_records(_records(spark, date(2024, 3, 2), 2.0, n=4), table)
    root = _P(table)
    # simulate: day1 crashed after part.rename(old) (live dir missing)
    (root / "collected_date=2024-03-01").rename(root / ".old-collected_date=2024-03-01")
    # simulate: day2 completed the swap but not the cleanup (both exist)
    _sh.copytree(
        root / "collected_date=2024-03-02", root / ".old-collected_date=2024-03-02"
    )
    compact_days(spark, table)
    assert not list(root.glob(".old-*"))
    assert read_records(spark, table).where(
        F.col("collected_date") == date(2024, 3, 1)
    ).count() == 4
    assert read_records(spark, table).count() == 8


def test_apply_cdc_latest_semantics(spark):
    from prom_etl_db_spark.store import apply_cdc_latest

    rows = [
        # key 1: upsert, upsert — latest value wins
        (1, 10, 1, "u", 1.0),
        (1, 20, 2, "u", 2.0),
        # key 2: upsert then delete — key disappears
        (2, 10, 3, "u", 5.0),
        (2, 30, 4, "d", 0.0),
        # key 3: delete then upsert — resurrection wins
        (3, 10, 5, "d", 0.0),
        (3, 40, 6, "u", 7.0),
        # key 4: same ts, tiebreaker decides
        (4, 10, 7, "u", 8.0),
        (4, 10, 8, "u", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "k long, v long, seq long, op string, val double"
    )
    out = {
        r["k"]: (r["op"], r["val"])
        for r in apply_cdc_latest(
            df, ["k"], ["v", "seq"], op_col="op", delete_op="d"
        ).collect()
    }
    assert out == {1: ("u", 2.0), 3: ("u", 7.0), 4: ("u", 9.0)}


def test_apply_cdc_latest_null_op_is_not_a_delete(spark):
    from prom_etl_db_spark.store import apply_cdc_latest

    rows = [(1, 10, 1, "u", 1.0), (1, 20, 2, None, 2.0)]
    df = spark.createDataFrame(
        rows, "k long, v long, seq long, op string, val double"
    )
    out = apply_cdc_latest(df, ["k"], ["v", "seq"], op_col="op", delete_op="d")
    # the NULL-op change wins latest-wins; three-valued != must not
    # silently treat it as a delete
    assert [(r["k"], r["val"]) for r in out.collect()] == [(1, 2.0)]


# -- mixed writers: Spark (bulk ingest, repair) and pyarrow (lifecycle) -------


def _two_writer_store(spark, table):
    """Day 1 holds one Spark-written file (q1) and one Arrow-written file
    (q2); day 2 one Arrow-written file (q1)."""
    from prom_etl_db_spark.store import append_arrow

    d1, d2 = date(2024, 3, 1), date(2024, 3, 2)
    append_records(_records(spark, d1, 1.0).coalesce(1), table)
    q2 = _records(spark, d1, 2.0).withColumn("query_id", F.lit("q2"))
    append_arrow(q2.toArrow(), table)
    append_arrow(_records(spark, d2, 3.0).toArrow(), table)
    return d1, d2


def _day_files(table, day):
    from pathlib import Path

    return sorted((Path(table) / f"collected_date={day.isoformat()}").glob("*.parquet"))


def _rows(spark, table):
    return sorted(
        (r["query_id"], r["labels"]["host"], r["value"], r["timestamp"],
         r["collected_at"], r["collected_date"])
        for r in read_records(spark, table).collect()
    )


def test_mixed_writer_day_reads_back_equal(spark, table):
    import pyarrow.parquet as pq

    d1, _ = _two_writer_store(spark, table)

    def by_spark(f):
        return b"org.apache.spark.version" in (pq.read_metadata(f).metadata or {})

    spark_file, arrow_file = sorted(_day_files(table, d1), key=by_spark, reverse=True)
    assert by_spark(spark_file) and not by_spark(arrow_file)
    # one physical schema: INT96 timestamps, no stored Arrow schema
    schemas = {pq.read_schema(f).remove_metadata() for f in _day_files(table, d1)}
    assert len(schemas) == 1
    first = pq.ParquetDataset([spark_file, arrow_file]).read()
    second = pq.ParquetDataset([arrow_file, spark_file]).read()
    assert first.schema == second.schema
    assert str(first.schema.field("timestamp").type) == "timestamp[ns]"
    assert sorted(first.to_pylist(), key=repr) == sorted(second.to_pylist(), key=repr)
    # Spark and pyarrow see the same rows, written by either writer
    via_spark = _rows(spark, table)
    via_arrow = sorted(
        (r["query_id"], dict(r["labels"])["host"], r["value"],
         r["timestamp"].to_pydatetime(), r["collected_at"].to_pydatetime(),
         date.fromisoformat(r["collected_date"]))
        for r in pq.read_table(table).to_pylist()
    )
    assert via_spark == via_arrow
    assert len(via_spark) == 9
    assert (("q2", "h0", 2.0, datetime(2024, 3, 1, 12), datetime(2024, 3, 1), d1)
            in via_spark)


def test_backfill_skip_existing_sees_both_writers(spark, table):
    d1, d2 = _two_writer_store(spark, table)
    q2 = _records(spark, d1, 5.0).withColumn("query_id", F.lit("q2"))
    assert backfill_skip_existing(q2, spark, table).count() == 0
    assert backfill_skip_existing(_records(spark, d2, 5.0), spark, table).count() == 0
    fresh = _records(spark, date(2024, 3, 3), 5.0)
    assert backfill_skip_existing(fresh, spark, table).count() == 3


def test_overwrite_days_replaces_either_writers_slice(spark, table):
    d1, _ = _two_writer_store(spark, table)
    q2 = _records(spark, d1, 9.0).withColumn("query_id", F.lit("q2"))
    overwrite_days(q2, table)  # the Arrow-written slice
    overwrite_days(_records(spark, d1, 8.0), table)  # the Spark-written one
    got = {(r[0], r[2]) for r in _rows(spark, table)}
    assert got == {("q1", 8.0), ("q2", 9.0), ("q1", 3.0)}
    assert len(_rows(spark, table)) == 9


def test_delete_query_day_removes_either_writers_slice(spark, table):
    from prom_etl_db_spark.store import delete_query_day

    d1, _ = _two_writer_store(spark, table)
    assert delete_query_day(spark, table, "q2", d1) == 3  # Arrow-written
    assert {(r[0], r[2]) for r in _rows(spark, table)} == {("q1", 1.0), ("q1", 3.0)}
    assert delete_query_day(spark, table, "q1", d1) == 3  # Spark-written
    assert not _day_files(table, d1)
    assert {(r[0], r[2]) for r in _rows(spark, table)} == {("q1", 3.0)}


def test_compact_days_and_retention_treat_both_writers_alike(spark, table):
    d1, d2 = _two_writer_store(spark, table)
    before = _rows(spark, table)
    assert compact_days(spark, table) == {d1: (2, 1)}
    assert _rows(spark, table) == before
    assert retention_cleanup(spark, table, older_than=d2) == 1
    assert {r[5] for r in _rows(spark, table)} == {d2}


def test_leftover_tmp_file_is_invisible(spark, table, monkeypatch):
    """A crash between the pyarrow write and its rename leaves a hidden
    tmp file: no reader and no compaction count may see it."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from prom_etl_db_spark.store import append_arrow

    d1, _ = _two_writer_store(spark, table)

    def crash(self, target):
        raise OSError("crash before rename")

    monkeypatch.setattr(Path, "rename", crash)
    with pytest.raises(OSError, match="crash before rename"):
        append_arrow(_records(spark, d1, 7.0, n=4).toArrow(), table)
    monkeypatch.undo()
    part = Path(table) / f"collected_date={d1.isoformat()}"
    (tmp,) = [f for f in part.iterdir() if f.name.endswith(".tmp")]
    assert tmp.name.startswith(".") and pq.read_table(tmp).num_rows == 4
    assert read_records(spark, table).count() == 9
    assert pq.read_table(table).num_rows == 9
    assert compact_days(spark, table) == {d1: (2, 1)}
    assert read_records(spark, table).count() == 9
