"""Benchmark command: the engine's config lifecycle and its wire ingest,
end to end and layer by layer.

    python3 perfbench/run.py --workload etl_lifecycle --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 1

One process drives one Spark session (``local[nproc]``) as a single
closed-loop client: the next item starts when the previous one is done.
A run sets up (session, seeded inputs, a warm-up pass), then runs timed
passes for ``--seconds`` and at least ``min_passes``, checks
every pass's outputs, and prints one JSON object as its last stdout
line. ``--trace 1`` interleaves traced passes with untraced ones and
reports the per-layer split instead, with the tracing overhead. The exit
code is 1 when an output check failed, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import numpy as np  # noqa: E402

from stats import TAIL_BEYOND, tail_percentile  # noqa: E402

#: warm-up passes, the same sequential pass as the timed ones
WARM_PASSES = 1
#: timed passes at least, for the pass median and the drift ratio
MIN_PASSES = 3


def min_passes(items_per_pass: int) -> int:
    """Timed passes at least: ``MIN_PASSES``, and enough items for the
    tail percentile to have ``TAIL_BEYOND`` items beyond it and sit above
    the median."""
    return max(MIN_PASSES, math.ceil((2 * TAIL_BEYOND + 1) / items_per_pass))

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "item_p50_s": "s",
    "item_tail_s": "s",
}

#: layer metrics every traced run reports (0 where a workload has no such layer)
PER_LAYER_BASE = {
    "promql_parser.build_s": "s",
    "promql_parser.py4j_calls": "count",
    "promql_parser.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.queries": "count",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "store.append_s": "s",
    "store.append_calls": "count",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.read_s": "s",
    "audit.append_s": "s",
    "audit.rows": "count",
    "scheduler.retries": "count",
    "executor.self_s": "s",
    "serve.tick_self_s": "s",
    "remote_write.decode_s": "s",
    "remote_write.samples_per_s": "1/s",
    "otlp.decode_s": "s",
    "otlp.points_per_s": "1/s",
    "session.start_s": "s",
    "setup.datagen_s": "s",
    "setup.warm_s": "s",
    "host.rss_peak_mb": "MB",
    "host.canary_s": "s",
    "item_tail_pct": "%",
    "drift.last_over_first": "ratio",
    "trace.overhead": "ratio",
    "trace.counts_repeat": "bool",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, including the per-item
    counts of each lifecycle config and each push-batch protocol."""
    import datagen as G

    out = dict(PER_LAYER_BASE)
    for qid, _, _ in G.CATALOG:
        out[f"promql_parser.py4j_calls.{qid}"] = "count"
        out[f"spark.jobs.{qid}"] = "count"
    for kind in G.BATCHES:
        out[f"spark.jobs.{kind}"] = "count"
    return out


def _setup_env(work: Path) -> None:
    """Keep the session's files inside ``work`` and give its Python
    workers the engine on their path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell")
    # the session runs with get_spark's defaults: no ambient override of them
    for var in _SESSION_OVERRIDES:
        os.environ.pop(var, None)
    tempfile.tempdir = None


#: environment variables through which get_spark takes non-default settings
_SESSION_OVERRIDES = ("SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY",
                      "SPARK_DRIVER_JAVA_OPTIONS")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _rss_peak_mb(jvm_pid: int) -> float:
    total = 0
    for pid in ("self", str(jvm_pid)):
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total += int(line.split()[1])
    return total / 1024


def _canary(spark) -> float:
    """A fixed CPU-bound job: slow on a loaded host, whatever the engine."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=_nproc()).selectExpr(
        "sum(hash(id) % 1000)").collect()
    return time.perf_counter() - t0


def _become_subreaper() -> None:
    """Adopt every process this run's children leave behind (the Spark
    JVM's Python workers), so ``_reap_children`` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway down and wait for its JVM to exit: it exits
    when its stdin closes, and ``spark.stop()`` alone leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        with contextlib.suppress(OSError):
            # the fields after the ")" that ends the command name: state, ppid
            if int((d / "stat").read_text().rsplit(")", 1)[1].split()[1]) == me:
                out.append(int(d.name))
    return out


def _reap_children(timeout: float = 30.0) -> None:
    """Wait until every child process has ended and been reaped; kill
    what is still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while kids := _children():
        for pid in kids:
            if time.monotonic() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)


def measure(name: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    from prom_etl_db_spark.session import get_spark

    from tracing import NoTrace, Tracer
    from workloads import WORKLOADS

    load_before = os.getloadavg()
    t_setup = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{_nproc()}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark) if trace else NoTrace()
        t0 = time.perf_counter()
        wl = WORKLOADS[name](spark, seed, work, tracer)
        datagen_s = time.perf_counter() - t0

        failed_checks: list[str] = []
        check_s: list[float] = []
        passes = 0

        def one_pass(traced: bool = False) -> tuple[float, list, dict]:
            nonlocal passes
            if traced:
                tracer.begin_pass()
            t = time.perf_counter()
            items = wl.run_pass(passes)
            wall = time.perf_counter() - t
            layers = tracer.end_pass() if traced else {}
            t = time.perf_counter()
            bad = wl.check(passes, items)
            foot = wl.footprint(passes)
            wl.drop(passes)
            check_s.append(time.perf_counter() - t)
            passes += 1
            return wall, items, {"bad": bad, "layers": layers,
                                 "files": foot[0], "bytes": foot[1]}

        t0 = time.perf_counter()
        warm = []
        for _ in range(WARM_PASSES):
            wall, items, info = one_pass()
            failed_checks += [f"warm-up {q}: {why}" for q, why in info["bad"].items()]
            failed_checks += [f"warm-up {it.name}: {it.error}" for it in items if it.error]
            warm.append(wall)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        canary_before = _canary(spark)

        if trace:
            tracer.install(wl.trace_targets())
        # traced runs interleave traced and untraced passes, traced first
        # and last, so leftover warm-up biases neither side
        least = min_passes(wl.items_per_pass)
        timed = []
        t0 = time.perf_counter()
        while (len(timed) < least or time.perf_counter() - t0 < seconds
               or (trace and len(timed) % 2 == 0)):
            traced = trace and len(timed) % 2 == 0
            wall, items, info = one_pass(traced)
            layers = info["layers"]
            layers.update({"store.files_written": info["files"],
                           "store.bytes_written": info["bytes"]})
            timed.append({"wall": wall, "items": items, "bad": info["bad"],
                          "traced": traced, "layers": layers})
        canary_after = _canary(spark)
        decode = wl.decode_probe() if trace else {}
        rss = _rss_peak_mb(spark._jvm.ProcessHandle.current().pid())
        host = {
            "seed": seed, "workload": name, "nproc": _nproc(),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "canary_s": [round(canary_before, 4), round(canary_after, 4)],
            "setup_s": {"session": round(session_s, 3), "datagen": round(datagen_s, 3),
                        "warm": round(warm_s, 3)},
            "warm_passes_s": [round(w, 3) for w in warm],
            "check_s": round(sum(check_s), 3),
            "timed_passes_s": [round(p["wall"], 3) for p in timed],
        }
    finally:
        if trace:
            tracer.uninstall()
        spark.stop()

    attempted = failed = 0
    for p in timed:
        for it in p["items"]:
            attempted += 1
            if it.error or it.name in p["bad"]:
                failed += 1
                failed_checks.append(f"{it.name}: {it.error or p['bad'][it.name]}")
    plain = [p for p in timed if not p["traced"]]
    rps = [sum(it.records for it in p["items"]) / p["wall"] for p in plain]
    lat = [it.seconds for p in plain for it in p["items"]]
    tail_pct = tail_percentile(min_passes(wl.items_per_pass) * wl.items_per_pass)
    walls = [p["wall"] for p in plain]
    if trace:
        traced = [p for p in timed if p["traced"]]
        layer_names = per_layer_units()
        metrics = {k: statistics.median(p["layers"].get(k, 0.0) for p in traced)
                   for k in layer_names}
        metrics.update(decode)
        repeat = all(
            len({p["layers"].get(k) for p in traced}) == 1
            for k in layer_names
            if k.startswith(("promql_parser.py4j_calls.", "spark.jobs.")))
        traced_rps = statistics.median(
            sum(it.records for it in p["items"]) / p["wall"] for p in traced)
        metrics.update({
            "session.start_s": session_s, "setup.datagen_s": datagen_s,
            "setup.warm_s": warm_s,
            "host.rss_peak_mb": rss, "host.canary_s": canary_before,
            "item_tail_pct": tail_pct,
            "drift.last_over_first": walls[-1] / walls[0] if len(walls) > 1 else 1.0,
            "trace.overhead": statistics.median(rps) / traced_rps - 1,
            "trace.counts_repeat": float(repeat),
        })
        units = layer_names
    else:
        metrics = {
            "setup_s": setup_s,
            "records_per_s": statistics.median(rps),
            "item_p50_s": float(np.percentile(lat, 50)),
            "item_tail_s": float(np.percentile(lat, tail_pct)),
        }
        units = END_TO_END
    host["item_tail_pct"] = tail_pct
    by_item: dict[str, list[float]] = {}
    for p in plain:
        for it in p["items"]:
            by_item.setdefault(it.name, []).append(it.seconds)
    host["item_p50_s"] = {k: round(statistics.median(v), 3) for k, v in by_item.items()}
    host["drift_last_over_first"] = round(walls[-1] / walls[0], 4)
    return {
        "host": host,
        "errors": failed_checks,
        "result": {
            "correct": not failed_checks,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
    }


def run_all(args) -> int:
    """Every workload in its own process; a table on stdout."""
    from workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        code = code or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if not lines:
            print(f"{name}: no result (exit {proc.returncode})")
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={res['failed'] / res['attempted']:.4f}")
        for k, m in res["metrics"].items():
            print(f"  {k:<48} {m['value']:>16.6g} {m['unit']}")
    return code


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    _become_subreaper()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        _setup_env(work)
        out = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_jvm()
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            work.parent.rmdir()
    for e in out["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    if not (ROOT / "prom_etl_db_spark").is_dir():
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
