"""Storage sinks: append / idempotent overwrite / retention / audit
(SURVEY.md §2.A rows A14-A26).

The reference writes row-at-a-time inside one MySQL transaction per
execution (`/root/reference/internal/database/mysql.go:85-136`); here a
batch append to a ``collected_date``-partitioned parquet table is the
atomic unit, and the repair tool's idempotency matrix
(`/root/reference/cmd/repair/main.go:317-374`) maps to:

- skip-if-exists  → left_anti join against existing (query_id, day) keys
- force-recompute → dynamic partition overwrite (replaceWhere analogue)
- retention       → partition drop on collected_date < cutoff

Partitioning by day bucket is the reference's one deliberate physical
design decision (day-truncated ``collected_at``, SURVEY.md §4.1) and is
what makes day-level idempotent rewrite O(day) instead of O(table) — the
property that still holds at 100 TB.

Two writers share the layout. Bulk ingest and repair (``append_records``,
``overwrite_days``) write through Spark. The per-execution lifecycle
collects its driver-sized result once (``toArrow``) and writes it with
pyarrow (``append_arrow``): one file per (execution, day), no Spark job
and no commit protocol — the reference likewise inserts each execution's
flattened result in one transaction. The audit row is built and written
the same way (``execution_record`` → ``append_execution``). pyarrow's
files carry INT96 timestamps and no stored Arrow schema, so they read
back exactly like Spark's (whose ``outputTimestampType`` defaults to
INT96) through both Spark and pyarrow, whichever file is listed first.
"""

from __future__ import annotations

import shutil
import threading
import uuid
from datetime import date, datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from prom_etl_db_spark.schema import EXECUTION_SCHEMA

PARTITION_COLS = ("collected_date",)

_WRITE_LOCKS: dict[str, threading.Lock] = {}
_WRITE_LOCKS_GUARD = threading.Lock()


def _path_write_lock(path: str) -> threading.Lock:
    """Serialize writes per output path within this process.

    Spark's FileOutputCommitter stages EVERY concurrent job's task
    attempts under the same ``<path>/_temporary/0``; one job's commitJob/
    abort cleanup can delete another in-flight job's staged files — lost
    or failed appends whenever two writers share a store path. The
    read→rewrite maintenance passes (``overwrite_days``,
    ``delete_query_day``, ``compact_days``, retention) must also not
    interleave with an append. Every writer, Spark or pyarrow, therefore
    writes under this lock. An audited execution's expensive part (the
    evaluation, collected by ``toArrow`` BEFORE ``append_arrow``) runs
    outside it, so ``serve --max-parallel`` serializes only the
    millisecond file writes. Cross-process concurrency is out of scope
    here — production multi-writer tables need a committer with
    job-scoped staging (Delta/Iceberg) instead.
    """
    key = str(Path(path).resolve())
    with _WRITE_LOCKS_GUARD:
        return _WRITE_LOCKS.setdefault(key, threading.Lock())


def append_records(df: DataFrame, path: str) -> None:
    """A14: atomic batch append, partitioned by day (commit serialized
    per path — see ``_path_write_lock``)."""
    with _path_write_lock(path):
        df.write.partitionBy(*PARTITION_COLS).mode("append").parquet(path)


def _write_files(path: str, tables: list[tuple[Path, pa.Table]]) -> None:
    """Write each table as one parquet file into its directory under
    ``path``: every file to a hidden tmp name first, then all renamed
    into place, under the per-path lock. Spark, pyarrow and
    ``compact_days`` skip the dot-prefixed ``.tmp`` name, so a crash
    before the renames leaves no visible row."""
    name = f"part-{uuid.uuid4().hex}.parquet"
    with _path_write_lock(path):
        staged = []
        try:
            for folder, table in tables:
                folder.mkdir(parents=True, exist_ok=True)
                staged.append((folder / f".{name}.tmp", folder / name))
                pq.write_table(
                    table, staged[-1][0],
                    use_deprecated_int96_timestamps=True, store_schema=False)
        except BaseException:
            for tmp, _ in staged:
                tmp.unlink(missing_ok=True)
            raise
        for tmp, final in staged:
            tmp.rename(final)


def append_arrow(table: pa.Table, path: str) -> None:
    """A14 for a driver-side result (a ``toArrow`` of MetricRecord rows
    with ``collected_date``): one file per day into the same
    ``collected_date=…`` layout ``append_records`` writes; an empty
    table writes nothing."""
    days = table.column("collected_date")
    data = table.drop_columns(list(PARTITION_COLS))
    tables = [
        (Path(path) / f"collected_date={day.isoformat()}",
         data.filter(pc.equal(days, day)))
        for day in pc.unique(days).to_pylist()
    ]
    if tables:
        _write_files(path, tables)


def read_records(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def overwrite_days(df: DataFrame, path: str) -> None:
    """A21/A26 force-recompute: replace exactly the (query_id, day)
    slices present in ``df`` — the reference's DeleteMetricsByDate is
    scoped to BOTH keys (mysql.go:292-314). Day partitions are shared by
    every query_id, so a bare dynamic partition overwrite would wipe
    sibling queries' rows in the rewritten days; the affected days'
    OTHER-query rows are read back and rewritten alongside the new data
    (the equivalent of Delta ``replaceWhere collected_date = d AND
    query_id = q``). Only the affected day partitions are touched."""
    spark = df.sparkSession
    df = df.persist()  # keys pass + write pass: one evaluation, not three
    try:
        keys = df.select("query_id", "collected_date").distinct().collect()
        days = sorted({r["collected_date"] for r in keys})
        qids = sorted({r["query_id"] for r in keys})
        # The survivor snapshot AND the overwrite are one critical
        # section: snapshotting outside the lock would let a concurrent
        # append commit rows into the affected days between the read and
        # the overwrite — rows the stale snapshot then deletes (the same
        # lost-write class compact_days guards with its single-section
        # list→rewrite→swap).
        with _path_write_lock(path):
            out = df
            if Path(path).exists():
                # only a genuinely-missing store may be skipped —
                # swallowing a transient read failure here would let the
                # dynamic overwrite silently DELETE sibling queries' rows
                # in the affected days
                survivors = (
                    read_records(spark, path)
                    .where(F.col("collected_date").isin(days))
                    .where(~F.col("query_id").isin(qids))
                )
                if survivors.limit(1).count():
                    # materialize executor-side (localCheckpoint, never a
                    # driver collect) BEFORE the overwrite clobbers the
                    # files being read
                    out = survivors.unionByName(df).localCheckpoint(eager=True)
            (
                out.write.partitionBy(*PARTITION_COLS)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )
    finally:
        df.unpersist()


def backfill_skip_existing(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """A26 default branch: drop incoming rows whose (query_id, day) slice
    already exists (`checkExistingData`, repair/main.go:557-576). Returns
    the surviving rows (caller appends).

    Day-granular by design: a slice that exists AT ALL suppresses the
    incoming rows for it — after a PARTIAL write failure, re-run via
    repair ``--force-recompute`` (day overwrite), not this path.

    The existing side prunes to the incoming batch's own (query_id, day)
    keys before the distinct — O(affected partitions), never a full-store
    scan; the tiny key set then broadcasts."""
    if not Path(path).exists():
        return df
    keys = df.select("query_id", "collected_date").distinct().collect()
    if not keys:
        return df
    days = sorted({r["collected_date"] for r in keys})
    qids = sorted({r["query_id"] for r in keys})
    existing = (
        read_records(spark, path)
        .where(F.col("collected_date").isin(days))  # partition-pruned
        .where(F.col("query_id").isin(qids))
        .select("query_id", "collected_date")
        .distinct()
    )
    return df.join(F.broadcast(existing), ["query_id", "collected_date"], "left_anti")


def delete_query_day(spark: SparkSession, path: str, query_id: str, day: date) -> int:
    """A21 (query_id, day)-scoped delete — the exact semantics of the
    reference's ``DeleteMetricsByDate(queryID, date)`` (mysql.go:292-314):
    drop one query's rows in one day partition, leaving sibling queries'
    rows in that partition untouched. Returns the number of rows deleted.

    The day partition is rewritten from its survivors (materialized
    executor-side via localCheckpoint BEFORE the overwrite clobbers the
    files being read); a partition left with no survivors is removed
    outright. Only the one partition is touched — O(partition), not
    O(store)."""
    part = Path(path) / f"collected_date={day.isoformat()}"
    # read→decide→rewrite/remove is ONE critical section (including the
    # rmtree branch): a concurrent append into this day between the
    # survivor snapshot and the rewrite — or between the emptiness check
    # and the rmtree — would be silently deleted otherwise.
    with _path_write_lock(path):
        if not part.exists():
            return 0
        day_df = read_records(spark, path).where(
            F.col("collected_date") == F.lit(day)
        )
        deleted = day_df.where(F.col("query_id") == query_id).count()
        if deleted == 0:
            return 0
        survivors = (
            day_df.where(F.col("query_id") != query_id).localCheckpoint(eager=True)
        )
        if survivors.limit(1).count():
            (
                survivors.write.partitionBy(*PARTITION_COLS)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )
        else:
            shutil.rmtree(part)
    return deleted


def delete_day(spark: SparkSession, path: str, day: date) -> None:
    """A21: drop one day partition (physical partition delete — O(1) at any
    scale, like `DeleteMetricsByDate`, mysql.go:292-314)."""
    part = Path(path) / f"collected_date={day.isoformat()}"
    with _path_write_lock(path):  # don't interleave with an in-flight commit
        if part.exists():
            shutil.rmtree(part)


def retention_cleanup(spark: SparkSession, path: str, older_than: date) -> int:
    """A20: drop every partition with collected_date < cutoff
    (`CleanupOldMetrics`, mysql.go:275-289). Partition-level delete —
    no data rewrite. Returns number of partitions dropped."""
    root = Path(path)
    dropped = 0
    with _path_write_lock(path):  # don't interleave with an in-flight commit
        for part in root.glob("collected_date=*"):
            day = date.fromisoformat(part.name.split("=", 1)[1])
            if day < older_than:
                shutil.rmtree(part)
                dropped += 1
    return dropped


def append_records_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str] | None = None,
    *,
    num_files: int | None = None,
) -> None:
    """A14 append with a DATA-SKIPPING layout: range-partition then sort
    within partitions on ``cluster_cols`` (default: the series-selective
    columns) before writing. Parquet footers store per-row-group min/max;
    after clustering, each file covers a NARROW slice of the cluster key,
    so a selective filter (one metric, one label value) skips whole files
    at planning time instead of scanning the day. This is the poor-man's
    Z-ORDER — the single highest-leverage layout move for a 100 TB store
    where queries are metric-selective but partitions are day-wide.

    Same atomic append semantics as ``append_records``; only the file
    layout differs. The extra cost is one range shuffle per batch."""
    cols = cluster_cols or ["metric_name"]
    # num_files pins the range-shuffle width (AQE otherwise coalesces a
    # small batch into one file, losing the layout); default lets AQE
    # size the files to the batch
    args = ([num_files] if num_files else []) + cols
    clustered = df.repartitionByRange(*args).sortWithinPartitions(*cols)
    with _path_write_lock(path):
        clustered.write.partitionBy(*PARTITION_COLS).mode("append").parquet(path)


def compact_days(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    days: list[date] | None = None,
) -> dict[date, tuple[int, int]]:
    """Small-file compaction per day partition — the maintenance pass a
    streaming/per-execution append store needs at scale (every serve tick
    and micro-batch appends files; a year of 5-minute appends is ~100k
    files per partition and scan planning dies before the data does).

    Per selected partition: if it holds more files than its bytes justify
    at ``target_file_bytes``, rewrite it to ceil(bytes/target) files via
    write-to-staging + swap. The swap is TWO renames, not one atomic op:
    a reader listing partitions in the instant between them sees the day
    missing (readers that already listed keep working — parquet files
    are immutable), and a crash in that window strands the data in
    ``.old-<part>``. Every run therefore heals first: a ``.old-*`` dir
    with no live partition is renamed back (the swap is retried this
    run); one WITH a live partition means only the cleanup was lost and
    is removed. Content is byte-identical — compaction never reorders
    semantics, only file layout.

    Returns {day: (files_before, files_after)} for the compacted days.

    Scale: one partition at a time (bounded memory/temp footprint), each
    rewrite a single repartition(n) job over just that partition — never
    a full-store shuffle.
    """
    import math

    root = Path(path)
    # crash healing BEFORE selection, so a restored day is re-considered
    # (under the same per-path lock the writers hold: healing moves
    # partition dirs around and must not interleave with an append)
    with _path_write_lock(path):
        for old in root.glob(".old-collected_date=*"):
            live = root / old.name[len(".old-") :]
            if live.exists():
                shutil.rmtree(old)  # swap completed; only cleanup was lost
            else:
                old.rename(live)  # crashed between the renames; restore
    out: dict[date, tuple[int, int]] = {}
    parts = (
        [root / f"collected_date={d.isoformat()}" for d in days]
        if days is not None
        else sorted(root.glob("collected_date=*"))
    )
    for part in parts:
        # the WHOLE list→rewrite→swap is one critical section per day:
        # an append committing into part/ after the staging snapshot but
        # before the swap would otherwise be renamed into .old-* and
        # deleted — the exact lost-write the per-path lock exists to
        # prevent for append/overwrite. Serializing the (single-day)
        # rewrite job against writers is the price of not losing data;
        # the lock is per-store-path, so other stores proceed.
        with _path_write_lock(path):
            if not part.exists():
                continue
            files = [f for f in part.glob("*.parquet") if f.is_file()]
            total = sum(f.stat().st_size for f in files)
            want = max(1, math.ceil(total / target_file_bytes))
            if len(files) <= want:
                continue
            day = date.fromisoformat(part.name.split("=", 1)[1])
            staging = root / f".compact-{part.name}"
            if staging.exists():
                shutil.rmtree(staging)  # leftover from a crashed run
            (
                spark.read.parquet(str(part))
                .repartition(want)
                .write.mode("overwrite")
                .parquet(str(staging))
            )
            old = root / f".old-{part.name}"
            part.rename(old)
            staging.rename(part)
            shutil.rmtree(old)
            out[day] = (len(files), len([f for f in part.glob("*.parquet")]))
    return out


# -- audit (A16/A18) ---------------------------------------------------------


_EXECUTION_ARROW_SCHEMA = to_arrow_schema(EXECUTION_SCHEMA)


def execution_record(
    *,
    query_id: str,
    query_name: str,
    status: str,
    start_time: datetime,
    end_time: datetime | None = None,
    records_count: int | None = None,
    error_message: str | None = None,
) -> pa.Table:
    """A16: build one audit row (status/duration/count/error —
    `InsertQueryExecution`, mysql.go:139-163). Naive datetimes are UTC
    clock values (``datetime.utcnow``), stored as such on any host."""
    duration_ms = (
        int((end_time - start_time).total_seconds() * 1000) if end_time else None
    )
    row = dict(
        query_id=query_id,
        query_name=query_name,
        status=status,
        start_time=start_time,
        end_time=end_time,
        duration_ms=duration_ms,
        records_count=records_count,
        error_message=error_message,
        created_at=start_time,
    )
    return pa.Table.from_pylist([row], _EXECUTION_ARROW_SCHEMA)


def append_execution(table: pa.Table, path: str) -> None:
    _write_files(path, [(Path(path), table)])


def apply_cdc_latest(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    *,
    op_col: str,
    delete_op: str,
) -> DataFrame:
    """Latest-wins CDC compaction — the lakehouse MERGE / APPLY CHANGES
    pattern (what Delta's ``MERGE`` or a Debezium consumer materializes):
    fold a change stream down to the current state per key, honoring
    deletes.

    Scale shape: ONE aggregation taking ``max_by(full-row,
    struct(order_cols…))`` per key, with MAP-SIDE PARTIAL COMBINE — the
    shuffle carries at most one candidate row per (input partition, key),
    where the equivalent row_number window would shuffle and sort EVERY
    change. (The struct-typed buffer makes Spark pick SortAggregate over
    HashAggregate — a per-partition sort on the group key only; the
    partial combine is what matters at scale and is plan-gated.) Keys
    whose FINAL change is ``delete_op`` drop out afterwards.
    ``order_cols`` must totally order changes within a key (version +
    unique tiebreaker), or which change wins is undefined.

    Returns rows in the input schema: the last surviving change per key.
    """
    payload = F.struct(
        F.col(op_col).alias("__op"),
        F.struct(*[F.col(c) for c in changes.columns]).alias("__row"),
    )
    ordering = F.struct(*[F.col(c) for c in order_cols])
    return (
        changes.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.max_by(payload, ordering).alias("__last"))
        # null-safe: a NULL op is an unknown change, kept latest-wins —
        # plain != would three-value it into a silent delete
        .where(~F.col("__last.__op").eqNullSafe(F.lit(delete_op)))
        .select("__last.__row.*")
    )
