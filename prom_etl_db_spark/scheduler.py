"""Scheduling & retry (SURVEY.md §2.A rows A28-A31, §2.D).

The reference registers one 6-field-cron closure per enabled query
(`/root/reference/cmd/server/main.go:114-155`) and retries failures at a
fixed interval (`internal/executor/executor.go:366-402`). Here:

- ``CronSchedule`` parses the same 6-field (seconds-first) grammar and
  computes next-fire times — used to drive ``Trigger.AvailableNow``-style
  batch runs from an external scheduler, or mapped to a processing-time
  trigger for `*/N * * * * *` shapes (see ``as_processing_time_interval``).
- ``with_retry`` is the driver-side retry decorator (count × interval,
  like ExecuteQueryWithRetry — including its "attempts = retries + 1"
  accounting).
- ``run_query_audited`` wraps one execution with the audit record protocol
  (running → success/failed, duration, records_count — A16,
  executor.go:41-47,207-218).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Any

from prom_etl_db_spark.timeparse import parse_duration

_FIELD_RANGES = [(0, 59), (0, 59), (0, 23), (1, 31), (1, 12), (0, 6)]  # sec..dow


def _parse_field(spec: str, lo: int, hi: int) -> set[int]:
    """robfig/cron field grammar: steps anchor at the RANGE start, not the
    field minimum — ``3-59/15`` fires at {3,18,33,48}; a bare ``v/step``
    means ``v-hi/step`` (vixie semantics robfig inherits)."""
    vals: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
            if step < 1:
                raise ValueError(f"cron step must be >= 1: {spec!r}")
        if part in ("*", ""):
            start, end = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            start, end = int(a), int(b)
        elif step > 1:
            start, end = int(part), hi
        else:
            start = end = int(part)
        # robfig/cron rejects out-of-range and reversed bounds at PARSE
        # time ("above maximum" / "beyond end of range"). Silently
        # clamping instead would admit specs like dow=7 or dom=32 whose
        # field set is empty — validate() would accept a config that can
        # never fire and next_fire would spin to its horizon.
        if not (lo <= start <= hi and lo <= end <= hi):
            raise ValueError(
                f"cron value out of range [{lo},{hi}] in field {spec!r}"
            )
        if start > end:
            raise ValueError(f"cron range reversed in field {spec!r}")
        vals.update(range(start, end + 1, step))
    return vals


@dataclass
class CronSchedule:
    """6-field cron (seconds minutes hours dom month dow) — the
    robfig/cron ``WithSeconds`` grammar the reference uses
    (`cmd/server/main.go:117`; examples `docs/user-guide.md:203-217`)."""

    expr: str

    def __post_init__(self) -> None:
        fields = self.expr.split()
        if len(fields) != 6:
            raise ValueError(f"expected 6 cron fields, got {len(fields)}: {self.expr!r}")
        self.fields = [
            _parse_field(f, lo, hi) for f, (lo, hi) in zip(fields, _FIELD_RANGES)
        ]
        # robfig/cron sets a "star bit" on any field whose spec begins with
        # '*' (so `*` and `*/n` count as unrestricted for the dom/dow rule).
        self._dom_star = fields[3].startswith("*")
        self._dow_star = fields[5].startswith("*")

    def _day_matches(self, t: datetime) -> bool:
        """robfig/cron dayMatches: when BOTH dom and dow are restricted
        (neither spec starts with '*'), the day matches if EITHER does;
        otherwise both must match (vixie semantics)."""
        sec, minute, hour, dom, month, dow = self.fields
        dom_ok = t.day in dom
        dow_ok = (t.weekday() + 1) % 7 in dow  # cron: 0=Sunday
        if self._dom_star or self._dow_star:
            return dom_ok and dow_ok
        return dom_ok or dow_ok

    def matches(self, t: datetime) -> bool:
        sec, minute, hour, dom, month, dow = self.fields
        return (
            t.second in sec
            and t.minute in minute
            and t.hour in hour
            and t.month in month
            and self._day_matches(t)
        )

    def next_fire(self, after: datetime, limit_days: int = 1462) -> datetime:
        """First matching second strictly after ``after``.

        Hierarchical scan, not second-stepping: candidate DAYS advance one
        at a time (month + dom/dow check), and only within a matching day
        are the hour/minute/second sets walked in order — a yearly
        schedule costs ~365 cheap day checks instead of ~31M
        ``matches()`` calls (which took minutes of driver CPU per
        serve-loop tick). The 4-year horizon covers the longest legal gap
        (a Feb-29 schedule evaluated in March of a leap year)."""
        t = after.replace(microsecond=0) + timedelta(seconds=1)
        hours = sorted(self.fields[2])
        mins = sorted(self.fields[1])
        secs = sorted(self.fields[0])
        months = self.fields[4]
        day = t.date()
        end_day = day + timedelta(days=limit_days)
        while day <= end_day:
            if day.month in months and self._day_matches(
                datetime(day.year, day.month, day.day)
            ):
                # lower time-of-day bound applies only on t's own day
                same = day == t.date()
                for h in hours:
                    if same and h < t.hour:
                        continue
                    for m in mins:
                        if same and h == t.hour and m < t.minute:
                            continue
                        for s in secs:
                            if (
                                same
                                and h == t.hour
                                and m == t.minute
                                and s < t.second
                            ):
                                continue
                            return datetime(day.year, day.month, day.day, h, m, s)
            day += timedelta(days=1)
        raise ValueError(f"no fire time within {limit_days} days for {self.expr!r}")

    def as_processing_time_interval(self) -> str | None:
        """If the schedule is a pure `*/N`-seconds shape, return the
        equivalent Structured Streaming processing-time trigger interval
        (SURVEY.md §2.D); else None (calendar cron → external scheduler)."""
        fields = self.expr.split()
        if fields[1:] == ["*"] * 5 and fields[0].startswith("*/"):
            return f"{int(fields[0][2:])} seconds"
        return None


def with_retry(
    fn: Callable[[], Any],
    *,
    retry_count: int = 0,
    retry_interval: str = "5s",
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """A29: up to retry_count re-executions after the first attempt,
    sleeping the fixed interval between (executor.go:366-402; the 5s code
    fallback is executor.go:372-375)."""
    interval = parse_duration(retry_interval).total_seconds()
    last_err: Exception | None = None
    for attempt in range(retry_count + 1):
        if attempt > 0:
            sleep(interval)
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — parity: reference retries any error
            last_err = e
    raise RuntimeError(
        f"query failed after {retry_count + 1} attempts"
    ) from last_err


def _error_text(e: BaseException) -> str:
    """The audit row's error text, root cause first. A failure inside a
    Spark action surfaces as a py4j error whose text is mostly JVM
    stack frames; the deepest Java cause's message (e.g. the
    ``spark.driver.maxResultSize`` abort) leads, then the full text."""
    from py4j.protocol import Py4JError

    jexc = getattr(e, "java_exception", None)
    if jexc is None:
        return str(e)
    try:
        while jexc.getCause() is not None:
            jexc = jexc.getCause()
        root = jexc.toString()
    except Py4JError:  # a dead gateway keeps the plain text
        return str(e)
    return f"{root}\n{e}"


def run_query_audited(
    *,
    query_id: str,
    query_name: str,
    run: Callable[[], int],
    audit_path: str,
    now: Callable[[], datetime] = datetime.utcnow,
):
    """A16/A31 protocol: audit running→success/failed with duration and
    records_count; errors are recorded then re-raised (executor.go:73-92).
    The row is built and written on the driver with pyarrow (no Spark
    job), like the reference's one-row insert."""
    from prom_etl_db_spark.parallel import QueryTimeout
    from prom_etl_db_spark.store import append_execution, execution_record

    start = now()
    try:
        count = run()
    except Exception as e:
        rec = execution_record(
            query_id=query_id,
            query_name=query_name,
            status="timeout" if isinstance(e, QueryTimeout) else "failed",
            start_time=start,
            end_time=now(),
            records_count=0,
            error_message=_error_text(e)[:2000],
        )
        append_execution(rec, audit_path)
        raise
    rec = execution_record(
        query_id=query_id,
        query_name=query_name,
        status="success",
        start_time=start,
        end_time=now(),
        records_count=count,
    )
    append_execution(rec, audit_path)
    return count
