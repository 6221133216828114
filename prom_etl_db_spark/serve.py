"""Serve-forever daemon: the reference's long-running service mode
(`/root/reference/cmd/server/main.go:108-212`) — schedule every enabled
config on its 6-field cron, run an immediate first execution of each,
then fire on schedule until a shutdown request, draining the in-flight
execution before exiting.

Spark-first shape: the loop is pure driver-side control flow over
*configs* (tiny); every firing submits one distributed batch via
``executor.execute_config_query``. Each execution's ``now`` is its
scheduled fire instant — explicit, never a mutable wall-clock read (the
reference's wall-clock "now" is what froze its production ingestion,
REPAIR.md:5).

Testability: the clock, sleeper, and stop signal are injected, so an e2e
test drives a simulated two-tick clock through the REAL loop — the same
code path production runs under ``python -m prom_etl_db_spark serve``.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from prom_etl_db_spark.config import QueryConfig
from prom_etl_db_spark.scheduler import CronSchedule

__all__ = ["TickResult", "ServeSummary", "serve_loop"]


@dataclass
class TickResult:
    """One firing instant: which configs ran, which failed."""

    fired_at: datetime
    query_ids: list[str]
    failures: list[str] = field(default_factory=list)


@dataclass
class ServeSummary:
    """What the daemon did before it was stopped."""

    ticks: list[TickResult] = field(default_factory=list)
    stopped_by_request: bool = False

    @property
    def executions(self) -> int:
        return sum(len(t.query_ids) for t in self.ticks)


def serve_loop(
    configs: Sequence[QueryConfig],
    run_config: Callable[[QueryConfig, datetime], None],
    *,
    start: datetime,
    stop: threading.Event,
    clock: Callable[[], datetime] = datetime.now,
    sleep: Callable[[float], None] = time.sleep,
    poll_interval: float = 1.0,
    max_ticks: int | None = None,
    immediate_first_run: bool = True,
    on_tick: Callable[[TickResult], None] | None = None,
    max_parallel: int = 1,
) -> ServeSummary:
    """Run the service loop (runService, main.go:109-212).

    - ``configs``: the enabled catalog rows (disabled rows are the
      caller's job to drop, mirroring the reference's skip-disabled log).
    - ``run_config(cfg, now)``: one audited, retried execution; raising
      records a failure for the tick and the loop CONTINUES (the
      reference logs scheduled-execution errors and keeps serving).
    - ``start``: the daemon's epoch — the immediate first run executes at
      this instant and cron matching begins strictly after it.
    - ``stop``: a stop request; checked between poll-interval sleep
      chunks, so shutdown latency is bounded by ``poll_interval``. The
      in-flight execution always completes first (c.Stop() drain,
      main.go:199-209).
    - ``max_ticks``: stop after N scheduled firings (None = forever) —
      the smoke-test bound; production passes None.
    """
    scheds = [(cfg, CronSchedule(cfg.schedule)) for cfg in configs]
    summary = ServeSummary()

    def fire(at: datetime, due: list[QueryConfig]) -> None:
        tick = TickResult(fired_at=at, query_ids=[c.query_id for c in due])

        def one(cfg: QueryConfig) -> str | None:
            try:
                run_config(cfg, at)
                return None
            except Exception as e:  # noqa: BLE001 — parity: log, keep serving
                return f"{cfg.query_id}: {e}"

        if max_parallel > 1 and len(due) > 1:
            # Spark's scheduler interleaves concurrent jobs from separate
            # threads, so a long config no longer head-of-line-blocks the
            # tick (the reference fires sequentially, main.go:157-189 —
            # this is the Spark-first improvement, bounded by the pool).
            # Failures keep per-config attribution, ordered like `due`.
            # Concurrent configs sharing a store/audit path are safe: each
            # execution's Spark action (evaluation + toArrow) runs in
            # parallel, and only its pyarrow file writes serialize per
            # output path (store._path_write_lock).
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max_parallel) as pool:
                results = list(pool.map(one, due))
            tick.failures.extend(r for r in results if r is not None)
        else:
            for cfg in due:
                r = one(cfg)
                if r is not None:
                    tick.failures.append(r)
        # a daemon's session lives for weeks: free any operator-internal
        # scratch caches at the tick boundary (after every config's
        # actions have completed) so they can't accumulate
        from prom_etl_db_spark.functions.scratch import release_scratch

        release_scratch()
        summary.ticks.append(tick)
        if on_tick is not None:
            on_tick(tick)

    if immediate_first_run and not stop.is_set():
        # "Running initial query execution" (main.go:157-189)
        fire(start, [cfg for cfg, _ in scheds])

    anchor = start
    fired = 0
    while not stop.is_set() and (max_ticks is None or fired < max_ticks):
        if not scheds:
            break
        nxt = min(s.next_fire(anchor) for _, s in scheds)
        # wait for the fire instant in bounded chunks so a stop request
        # is honored within poll_interval even mid-wait
        while not stop.is_set():
            remaining = (nxt - clock()).total_seconds()
            if remaining <= 0:
                break
            sleep(min(poll_interval, remaining))
        if stop.is_set():
            break
        fire(nxt, [cfg for cfg, s in scheds if s.matches(nxt)])
        # Collapse missed activations instead of replaying them: if the
        # executions (or a host pause) ran past one or more subsequent
        # fire instants, re-anchoring at max(nxt, clock()) skips them and
        # resumes at the next FUTURE instant — robfig/cron's behavior.
        # Anchoring at nxt alone would queue every missed firing
        # back-to-back and the daemon would lag further behind forever.
        anchor = max(nxt, clock().replace(microsecond=0))
        fired += 1

    summary.stopped_by_request = stop.is_set()
    return summary


def install_signal_handlers(stop: threading.Event) -> None:
    """SIGINT/SIGTERM → stop request (main.go:191-196). Main thread only;
    callers embedding the loop elsewhere set the event themselves."""
    import signal

    def handler(signum, frame):  # noqa: ARG001
        stop.set()

    signal.signal(signal.SIGINT, handler)
    signal.signal(signal.SIGTERM, handler)


def advance_clock(start: datetime):
    """A simulated clock+sleeper pair for tests and offline smoke runs:
    ``sleep(s)`` advances the clock instead of blocking, so the loop's
    real wait logic runs at full speed against virtual time."""
    state = {"now": start}

    def clock() -> datetime:
        return state["now"]

    def sleep(seconds: float) -> None:
        state["now"] = state["now"] + timedelta(seconds=seconds)

    return clock, sleep
