"""Scheduler / retry tests (SURVEY.md §2.A rows A28-A31, §2.D).

Cron grammar cases come from the reference's own corpus: the flagship
`0 0 1 * * *` (migrate.sql:106), the docs' `*/30 * * * * *` and
`0 */5 * * * *` (user-guide.md:203-217).
"""

from __future__ import annotations

import time
from datetime import datetime

import pytest

from prom_etl_db_spark.scheduler import CronSchedule, with_retry


def test_cron_flagship_daily_1am():
    c = CronSchedule("0 0 1 * * *")
    assert c.matches(datetime(2024, 3, 15, 1, 0, 0))
    assert not c.matches(datetime(2024, 3, 15, 1, 0, 30))
    assert not c.matches(datetime(2024, 3, 15, 2, 0, 0))
    assert c.next_fire(datetime(2024, 3, 15, 1, 0, 0)) == datetime(2024, 3, 16, 1, 0, 0)


def test_cron_every_30s():
    c = CronSchedule("*/30 * * * * *")
    assert c.matches(datetime(2024, 3, 15, 9, 10, 0))
    assert c.matches(datetime(2024, 3, 15, 9, 10, 30))
    assert not c.matches(datetime(2024, 3, 15, 9, 10, 31))
    assert c.as_processing_time_interval() == "30 seconds"


def test_cron_every_5min():
    c = CronSchedule("0 */5 * * * *")
    assert c.matches(datetime(2024, 3, 15, 9, 5, 0))
    assert not c.matches(datetime(2024, 3, 15, 9, 5, 1))
    assert not c.matches(datetime(2024, 3, 15, 9, 4, 0))
    assert c.as_processing_time_interval() is None  # calendar shape


def test_cron_dow_sunday_zero():
    c = CronSchedule("0 0 0 * * 0")  # midnight Sundays
    assert c.matches(datetime(2024, 3, 17, 0, 0, 0))  # 2024-03-17 is a Sunday
    assert not c.matches(datetime(2024, 3, 18, 0, 0, 0))


def test_cron_field_count_validated():
    with pytest.raises(ValueError):
        CronSchedule("* * * * *")  # 5-field (no seconds) is rejected


def test_cron_range_with_step_anchors_at_range_start():
    # robfig/cron: 3-59/15 fires at {3,18,33,48}, not {15,30,45}
    c = CronSchedule("3-59/15 * * * * *")
    assert c.fields[0] == {3, 18, 33, 48}
    assert c.matches(datetime(2024, 3, 15, 9, 10, 3))
    assert c.matches(datetime(2024, 3, 15, 9, 10, 48))
    assert not c.matches(datetime(2024, 3, 15, 9, 10, 15))
    assert c.next_fire(datetime(2024, 3, 15, 9, 10, 3)) == datetime(
        2024, 3, 15, 9, 10, 18
    )


def test_cron_bare_value_with_step_runs_to_field_max():
    # vixie/robfig: "5/20" in the hours field == "5-23/20" -> {5}
    c = CronSchedule("0 0 5/20 * * *")
    assert c.fields[2] == {5}
    c2 = CronSchedule("10/20 * * * * *")
    assert c2.fields[0] == {10, 30, 50}


def test_cron_dom_dow_or_when_both_restricted():
    # vixie/robfig: restricted dom AND restricted dow -> fire on EITHER.
    # 2024-03-15 is a Friday; 2024-03-18 is a Monday.
    c = CronSchedule("0 0 0 15 * 1")  # the 15th OR Mondays
    assert c.matches(datetime(2024, 3, 15, 0, 0, 0))  # 15th (a Friday)
    assert c.matches(datetime(2024, 3, 18, 0, 0, 0))  # a Monday (the 18th)
    assert not c.matches(datetime(2024, 3, 19, 0, 0, 0))  # Tuesday the 19th


def test_cron_dom_dow_and_when_either_is_star():
    c = CronSchedule("0 0 0 * * 1")  # every Monday
    assert c.matches(datetime(2024, 3, 18, 0, 0, 0))
    assert not c.matches(datetime(2024, 3, 15, 0, 0, 0))
    c2 = CronSchedule("0 0 0 15 * *")  # every 15th
    assert c2.matches(datetime(2024, 3, 15, 0, 0, 0))
    assert not c2.matches(datetime(2024, 3, 18, 0, 0, 0))
    # a */n dow still counts as "star" for the OR rule (robfig star bit):
    # Sunday the 17th matches dow */2 but not dom 15 -> AND semantics -> no fire
    c3 = CronSchedule("0 0 0 15 * */2")
    assert not c3.matches(datetime(2024, 3, 17, 0, 0, 0))


def test_retry_counts_attempts():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("boom")
        return "ok"

    slept = []
    out = with_retry(flaky, retry_count=3, retry_interval="10s", sleep=slept.append)
    assert out == "ok"
    assert len(calls) == 3  # first attempt + 2 retries
    assert slept == [10.0, 10.0]  # fixed interval between attempts


def test_retry_exhaustion_raises():
    def always_fails():
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        with_retry(always_fails, retry_count=2, retry_interval="1s", sleep=lambda _: None)


def test_audited_run_writes_success_and_failure(spark, tmp_path):
    from prom_etl_db_spark.scheduler import run_query_audited

    audit = str(tmp_path / "audit")
    n = run_query_audited(
        query_id="q1", query_name="good", run=lambda: 7, audit_path=audit
    )
    assert n == 7
    with pytest.raises(ValueError):
        run_query_audited(
            query_id="q1",
            query_name="bad",
            run=lambda: (_ for _ in ()).throw(ValueError("x")),
            audit_path=audit,
        )
    rows = {r["query_name"]: r for r in spark.read.parquet(audit).collect()}
    assert rows["good"]["status"] == "success"
    assert rows["good"]["records_count"] == 7
    assert rows["bad"]["status"] == "failed"
    assert rows["bad"]["error_message"] == "x"


def test_audit_rows_share_spark_written_audit_schema(spark, tmp_path):
    """Audit rows are written by pyarrow with the physical schema Spark's
    own writer gives EXECUTION_SCHEMA, so an audit table holding rows
    from both writers reads back whole through Spark and pyarrow."""
    from datetime import datetime
    from pathlib import Path

    import pyarrow.parquet as pq

    from prom_etl_db_spark.scheduler import run_query_audited
    from prom_etl_db_spark.schema import EXECUTION_SCHEMA

    audit = str(tmp_path / "audit")
    t = datetime(2024, 3, 1, 10, 0, 0)
    spark.createDataFrame(
        [("q1", "old", "success", t, t, 0, 5, None, t)], EXECUTION_SCHEMA
    ).coalesce(1).write.parquet(audit)
    run_query_audited(query_id="q2", query_name="new", run=lambda: 3, audit_path=audit)
    files = sorted(Path(audit).glob("*.parquet"))
    assert len(files) == 2
    assert len({pq.read_schema(f).remove_metadata() for f in files}) == 1
    rows = {r["query_name"]: r for r in spark.read.parquet(audit).collect()}
    assert rows["old"]["records_count"] == 5 and rows["new"]["records_count"] == 3
    got = {r["query_name"]: r for r in pq.read_table(audit).to_pylist()}
    assert got["old"]["start_time"] == t and got["new"]["status"] == "success"


def test_run_with_job_timeout_cancels_runaway_and_passes_results(spark):
    import time

    from prom_etl_db_spark.parallel import QueryTimeout, run_with_job_timeout

    # fast action completes and returns its value
    assert run_with_job_timeout(spark, lambda: spark.range(10).count(), 30) == 10

    # ordinary failures re-raise as themselves
    def boom():
        raise ValueError("no")

    with pytest.raises(ValueError):
        run_with_job_timeout(spark, boom, 30)

    # a runaway job is cancelled within the budget (a per-partition sleep
    # that would take ~100s at full parallelism)
    def slow():
        return (
            spark.range(1000)
            .repartition(10)
            .rdd.map(lambda x: time.sleep(1) or x)
            .count()
        )

    t0 = time.time()
    with pytest.raises(QueryTimeout):
        run_with_job_timeout(spark, slow, 3)
    assert time.time() - t0 < 40  # cancelled, not run to completion


def test_run_with_job_timeout_worker_base_exception_surfaces(spark):
    """SystemExit/KeyboardInterrupt in the worker must re-raise as the
    cause — not mask as IndexError from an empty result list."""
    from prom_etl_db_spark.parallel import run_with_job_timeout

    with pytest.raises(SystemExit):
        run_with_job_timeout(spark, lambda: (_ for _ in ()).throw(SystemExit(3)), 30)


def test_run_with_job_timeout_prefers_drain_completion_over_timeout(spark):
    """A job that finishes during the post-cancel drain DID its work
    (e.g. its append committed); reporting QueryTimeout would invite a
    double-append retry. The recorded result wins."""
    import time as _time

    from prom_etl_db_spark.parallel import run_with_job_timeout

    def finishes_in_drain():
        _time.sleep(1.5)  # past the 1s budget, well inside the 30s drain
        return "committed"

    assert run_with_job_timeout(spark, finishes_in_drain, 1) == "committed"


# -- review-pass regressions: parse-time range validation + fast next_fire ---


def test_cron_rejects_out_of_range_values():
    # robfig/cron rejects these at parse time; silently clamping would
    # admit a schedule whose field set is empty and can never fire
    for bad in ("0 0 9 * * 7", "0 0 25 * * *", "0 0 0 32 * *", "60 * * * * *"):
        with pytest.raises(ValueError, match="out of range"):
            CronSchedule(bad)


def test_cron_rejects_reversed_range():
    with pytest.raises(ValueError, match="reversed"):
        CronSchedule("0 0 5-2 * * *")


def test_next_fire_yearly_is_fast_and_correct():
    # hierarchical scan: a yearly schedule must not cost ~31M second
    # probes (it froze serve_loop ticks for minutes)
    t0 = time.monotonic()
    got = CronSchedule("0 0 0 1 1 *").next_fire(datetime(2026, 1, 2))
    assert time.monotonic() - t0 < 1.0
    assert got == datetime(2027, 1, 1)


def test_next_fire_feb29_crosses_leap_gap():
    got = CronSchedule("0 0 0 29 2 *").next_fire(datetime(2026, 3, 1))
    assert got == datetime(2028, 2, 29)


def test_next_fire_matches_brute_force():
    import random

    from datetime import timedelta

    def brute(c, after, days=40):
        t = after.replace(microsecond=0) + timedelta(seconds=1)
        end = after + timedelta(days=days)
        while t <= end:
            if c.matches(t):
                return t
            t += timedelta(seconds=1)
        return None

    random.seed(7)
    for expr in (
        "0 0 1 * * *",
        "*/30 * * * * *",
        "17 42 3,15 10-20 * *",
        "0 0 0 15 * 1",
        "0 30 8 * * 1-5",
    ):
        c = CronSchedule(expr)
        for _ in range(15):
            after = datetime(2024, 1, 1) + timedelta(
                seconds=random.randrange(0, 35 * 86400)
            )
            want = brute(c, after)
            if want is not None:
                assert c.next_fire(after) == want, (expr, after)
