"""The workloads. Each builds its inputs from the seed at set-up, runs one
pass through the engine's public entry points, and checks that pass's
outputs afterwards (outside the timed pass).

Every pass writes into directories of its own, so every pass starts from
the same (empty) store state; ``drop`` removes them after the check.
"""

from __future__ import annotations

import hashlib
import math
import shutil
import threading
import time
from dataclasses import dataclass
from datetime import timedelta
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen as G
from prom_etl_db_spark import config, executor, scheduler, serve, store
from prom_etl_db_spark.functions import otlp as OTLP
from prom_etl_db_spark.functions import remote_write as RW


@dataclass
class Item:
    name: str
    seconds: float
    records: int = 0
    error: str | None = None


def _read(path: str, columns: list[str]) -> list[dict]:
    """A parquet directory's rows, read with pyarrow: the checks are not
    the engine's work."""
    if not Path(path).exists():
        return []
    return pq.read_table(path, columns=columns).to_pylist()


def _row_hash(r: dict) -> int:
    """A MetricRecord row's hash; summed over rows it is order-insensitive."""
    key = repr((sorted(r["labels"]), r["timestamp"], round(r["value"], 9)))
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")


def _footprint(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def write_samples(s: G.Samples, path: Path) -> None:
    """The generated samples as a day-partitioned MetricRecord store, in
    the layout ``store.append_records`` writes. Inputs are written with
    pyarrow: set-up work that is not the engine's."""
    series = pa.table({
        "metric_name": s.names,
        "labels": pa.array([list(lab.items()) for lab in s.labels],
                           pa.map_(pa.string(), pa.string())),
    }).take(pa.array(s.sid))
    ts = pa.array(s.ts_ms * 1000, pa.timestamp("us", tz="UTC"))
    day_ms = s.ts_ms - s.ts_ms % 86_400_000
    table = pa.table({
        "query_id": pa.array(["perfbench_samples"] * len(s)),
        "metric_name": series["metric_name"], "labels": series["labels"],
        "value": s.value, "timestamp": ts, "result_type": pa.array(["instant"] * len(s)),
        "collected_at": pa.array(day_ms * 1000, pa.timestamp("us", tz="UTC")),
        "day": pa.array(day_ms // 86_400_000, pa.int32()).cast(pa.date32()),
    })
    for day in pc.unique(table["day"]).to_pylist():
        part = path / f"collected_date={day.isoformat()}"
        part.mkdir(parents=True)
        pq.write_table(table.filter(pc.equal(table["day"], day)).drop(["day"]),
                       part / "part-0.parquet")


def write_native(series: list[dict], path: Path) -> None:
    """Native histograms pushed as remote-write 2.0 and decoded by the
    engine's own decoder, stored in the dense shape ``eval_promql``
    reads (``native_hists``)."""
    rows = []
    for one in series:
        for s in RW.decode_write_request_v2(RW.snappy_decompress(G.rw2_payload([one]))):
            labels = dict(s["labels"])
            name = labels.pop("__name__")
            rows += [dict(metric_name=name, labels=list(labels.items()),
                          ts=h["timestamp"] * 1000, **{k: h[k] for k in _NATIVE_COLS})
                     for h in s["histograms"]]
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows, _NATIVE_SCHEMA), path / "part-0.parquet")


_NATIVE_COLS = ("schema", "zero_threshold", "zero_count", "count", "sum",
                "pos_offset", "pos_counts", "neg_offset", "neg_counts")
_NATIVE_SCHEMA = pa.schema([
    ("metric_name", pa.string()), ("labels", pa.map_(pa.string(), pa.string())),
    ("ts", pa.timestamp("us", tz="UTC")), ("schema", pa.int32()),
    ("zero_threshold", pa.float64()), ("zero_count", pa.int64()),
    ("count", pa.int64()), ("sum", pa.float64()), ("pos_offset", pa.int32()),
    ("pos_counts", pa.list_(pa.int64())), ("neg_offset", pa.int32()),
    ("neg_counts", pa.list_(pa.int64())),
])


def write_catalog(configs: list, path: Path) -> None:
    """The config catalog in ``config.CONFIG_SCHEMA``, for ``load_enabled``."""
    types = {"string": pa.string(), "integer": pa.int32(), "boolean": pa.bool_(),
             "timestamp": pa.timestamp("us", tz="UTC")}
    schema = pa.schema([(f.name, types[f.dataType.typeName()])
                        for f in config.CONFIG_SCHEMA.fields])
    path.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(
        [{f: getattr(c, f) for f in schema.names} for c in configs], schema),
        path / "part-0.parquet")


# -- independent recomputation (pandas) ---------------------------------------


def _frame_pd(s: G.Samples, metric: str) -> pd.DataFrame:
    idx = [i for i, n in enumerate(s.names) if n == metric]
    mask = np.isin(s.sid, idx)
    return pd.DataFrame({"sid": s.sid[mask], "ts": s.ts_ms[mask] / 1000.0,
                         "value": s.value[mask]})


def expected_flagship(s: G.Samples, at: float) -> dict[tuple, float]:
    """``sum by (cluster, namespace) (sum_over_time(max without (gpu)
    (gpu_util != bool 20)[24h:1m])) * 60 / 3600`` at epoch ``at``, with
    the engine's documented stream-mode subquery (DIVERGENCES.md): the
    point-wise ``!= bool`` maps every raw sample of the 24 h frame, the
    aggregation regroups per 1-minute step bucket, and ``sum_over_time``
    sums the buckets (no lookback re-evaluation per step)."""
    df = _frame_pd(s, "gpu_util")
    df = df[(df["ts"] > at - 86400) & (df["ts"] <= at)]
    lab = pd.DataFrame(s.labels)
    df = df.assign(flag=(df["value"] != 20.0).astype(float),
                   bucket=(df["ts"] // 60).astype("int64"),
                   cluster=lab["cluster"].to_numpy()[df["sid"]],
                   namespace=lab["namespace"].to_numpy()[df["sid"]],
                   pod=lab["pod"].to_numpy()[df["sid"]])
    per_pod = df.groupby(["cluster", "namespace", "pod", "bucket"])["flag"].max()
    total = per_pod.groupby(level=["cluster", "namespace"]).sum()
    return {k: v * 60 / 3600 for k, v in total.items()}


def expected_rate_by_job(s: G.Samples, at: float) -> dict[str, float]:
    """``sum by (job) (rate(http_requests_total[5m]))`` at epoch ``at``
    with the engine's documented rate (DIVERGENCES.md): the exact counter
    increase between the window's samples, resets included, over the
    window's 300 seconds; no extrapolation to the window edges."""
    df = _frame_pd(s, "http_requests_total")
    out: dict[str, float] = {}
    for sid, g in df[(df["ts"] > at - 300) & (df["ts"] <= at)].groupby("sid"):
        v = g.sort_values("ts")["value"].to_numpy()
        if len(v) < 2:
            continue
        inc = np.where(np.diff(v) < 0, v[1:], np.diff(v)).sum()
        job = s.labels[sid]["job"]
        out[job] = out.get(job, 0.0) + inc / 300
    return out


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


# -- etl_lifecycle ------------------------------------------------------------


class EtlLifecycle:
    """One ``serve_loop`` tick per pass over the seeded catalog, each
    config through ``execute_config_query`` with its store and audit
    paths, under ``with_retry`` and the simulated clock."""

    name = "etl_lifecycle"

    def __init__(self, spark, seed: int, work: Path, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.samples = G.samples(seed, scale=1, days=1)
        self.samples_path = str(work / "samples")
        write_samples(self.samples, work / "samples")
        self.native_path = str(work / "native")
        write_native(G.native_histograms(seed, n_series=16, minutes=30), work / "native")
        write_catalog(G.catalog(seed), work / "catalog")
        self.configs = config.load_enabled(spark, str(work / "catalog"))
        self.items_per_pass = len(self.configs)
        self.reference: dict[str, tuple[int, str]] | None = None

    def trace_targets(self) -> list[tuple]:
        return [
            (serve, "serve_loop", "serve.tick"),
            (executor, "execute_config_query", "executor.execute_config_query"),
            (executor, "evaluate_config_query", "promql_parser.build"),
            (scheduler, "run_query_audited", "scheduler.run_query_audited"),
            (store, "append_records", "store.append_records"),
            (store, "read_records", "store.read_records"),
            (store, "append_execution", "audit.append"),
            (store, "execution_record", "audit.record"),
        ]

    def _paths(self, i: int) -> tuple[str, str]:
        return str(self.work / f"pass{i}" / "store"), str(self.work / f"pass{i}" / "audit")

    def run_pass(self, i: int) -> list[Item]:
        store_path, audit_path = self._paths(i)
        samples = store.read_records(self.spark, self.samples_path)
        native = self.spark.read.parquet(self.native_path)
        start = G.TICK_AT - timedelta(seconds=1)
        clock, sleep = serve.advance_clock(start)
        items: list[Item] = []

        def run_config(cfg, now):
            with self.tracer.item(cfg.query_id):
                t0 = time.perf_counter()
                err = None
                try:
                    scheduler.with_retry(
                        lambda: executor.execute_config_query(
                            self.spark, samples, cfg, now=now,
                            store_path=store_path, audit_path=audit_path,
                            native_hists=native,
                            native_metrics=frozenset({G.NATIVE_METRIC})),
                        retry_count=cfg.retry_count,
                        retry_interval=cfg.retry_interval, sleep=sleep)
                except Exception as e:  # serve_loop records it too
                    err = f"{type(e).__name__}: {e}"
                    raise
                finally:
                    items.append(Item(cfg.query_id, time.perf_counter() - t0,
                                      error=err))

        serve.serve_loop(self.configs, run_config, start=start,
                         stop=threading.Event(), clock=clock, sleep=sleep,
                         max_ticks=1, immediate_first_run=False,
                         max_parallel=1)
        return items

    def check(self, i: int, items: list[Item]) -> dict[str, str]:
        """Failed config -> reason. Fills each item's stored record count."""
        store_path, audit_path = self._paths(i)
        bad: dict[str, str] = {}
        audit: dict[str, list[dict]] = {}
        for r in _read(audit_path, ["query_id", "status", "records_count"]):
            audit.setdefault(r["query_id"], []).append(r)
        records = _read(store_path, ["query_id", "labels", "timestamp", "value"])
        stored: dict[str, tuple[int, int]] = {}
        for r in records:
            n, h = stored.get(r["query_id"], (0, 0))
            stored[r["query_id"]] = (n + 1, h + _row_hash(r))
        for it in items:
            rows = audit.get(it.name, [])
            n, h = stored.get(it.name, (0, None))
            it.records = n
            if len(rows) != 1 or rows[0]["status"] != "success":
                bad[it.name] = f"audit rows {[r['status'] for r in rows]}"
            elif rows[0]["records_count"] != n:
                bad[it.name] = f"audited {rows[0]['records_count']} rows, stored {n}"
            elif n == 0:
                bad[it.name] = "no rows stored"
        if self.reference is None:
            self.reference = stored
            bad.update(self._recompute(records))
        else:
            for qid, ref in self.reference.items():
                if stored.get(qid) != ref:
                    bad.setdefault(qid, f"rows/hash {stored.get(qid)} != first pass {ref}")
        return bad

    def _recompute(self, records: list[dict]) -> dict[str, str]:
        """The flagship and the rate config against pandas."""
        at = (G.EVAL_AT - G.EPOCH).total_seconds()
        got = {(r["query_id"], tuple(sorted(r["labels"]))): r["value"] for r in records
               if r["query_id"] in ("gpu_utilization_daily", "http_rate_by_job")}
        want = {("gpu_utilization_daily",
                 (("cluster", c), ("namespace", n))): v
                for (c, n), v in expected_flagship(self.samples, at).items()}
        want.update({("http_rate_by_job", (("job", j),)): v
                     for j, v in expected_rate_by_job(self.samples, at).items()})
        bad = {}
        for key, v in want.items():
            if key not in got or not _close(got[key], v):
                bad[key[0]] = f"{dict(key[1])}: engine {got.get(key)} != pandas {v}"
        for key in got.keys() - want.keys():
            bad[key[0]] = f"unexpected series {dict(key[1])}"
        return bad

    def footprint(self, i: int) -> tuple[int, int]:
        return _footprint(Path(self._paths(i)[0]))

    def drop(self, i: int) -> None:
        shutil.rmtree(self.work / f"pass{i}", ignore_errors=True)

    def decode_probe(self) -> dict[str, float]:
        return {}


# -- wire_ingest --------------------------------------------------------------


class WireIngest:
    """Seeded push batches decoded by the remote-write 1.0 / 2.0 and OTLP
    readers and appended day-partitioned with ``store.append_records``:
    float samples to the records store, native histograms to their own."""

    name = "wire_ingest"

    def __init__(self, spark, seed: int, work: Path, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.batches = G.push_batches(seed)
        self.items_per_pass = len(self.batches)
        self.want = {
            kind: (sum(b.samples for b in self.batches if b.kind in kinds),
                   sum(b.value_sum for b in self.batches if b.kind in kinds))
            for kind, kinds in (("records", ("rw1", "otlp")), ("native", ("rw2",)))}

    def trace_targets(self) -> list[tuple]:
        return [(store, "append_records", "store.append_records")]

    def _path(self, i: int, kind: str) -> str:
        return str(self.work / f"pass{i}" / kind)

    def _frame(self, b: G.PushBatch):
        payloads = self.spark.createDataFrame(
            list(enumerate(b.payloads)), "push_id int, body binary")
        if b.kind == "rw2":
            return RW.remote_write_v2_native_histograms(payloads).select(
                "metric_name", "labels", F.timestamp_millis("timestamp_ms").alias("ts"),
                "schema", "zero_threshold", "zero_count", "count", "sum",
                "pos_offset", "pos_counts", "neg_offset", "neg_counts",
            ).withColumn("collected_date", F.to_date("ts")), "native"
        if b.kind == "rw1":
            df = RW.remote_write_samples(payloads).select(
                F.lit("remote_write").alias("query_id"), "metric_name", "labels",
                "value", F.timestamp_millis("timestamp_ms").alias("timestamp"))
        else:
            df = OTLP.otlp_samples(payloads).select(
                F.lit("otlp").alias("query_id"), "metric_name",
                F.col("attrs").alias("labels"),
                F.coalesce("value_double", F.col("value_int").cast("double")).alias("value"),
                F.expr("timestamp_micros(time_unix_nano div 1000)").alias("timestamp"))
        return df.select(
            "*", F.lit("instant").alias("result_type"),
            F.date_trunc("day", "timestamp").alias("collected_at"),
        ).withColumn("collected_date", F.to_date("collected_at")), "records"

    def run_pass(self, i: int) -> list[Item]:
        items = []
        for b in self.batches:
            with self.tracer.item(b.kind):
                t0 = time.perf_counter()
                df, kind = self._frame(b)
                store.append_records(df, self._path(i, kind))
                items.append(Item(b.kind, time.perf_counter() - t0, b.samples))
        return items

    def check(self, i: int, items: list[Item]) -> dict[str, str]:
        """Stored row count and value sum against the generator's, read
        with pyarrow: the check is not the engine's work."""
        bad = {}
        for kind, col, kinds in (("records", "value", ("rw1", "otlp")),
                                 ("native", "count", ("rw2",))):
            stored = pq.read_table(self._path(i, kind), columns=[col])[col]
            n = len(stored)
            total = pc.sum(stored.cast(pa.float64())).as_py()
            want_n, want_sum = self.want[kind]
            if n != want_n or not math.isclose(total or 0.0, want_sum, rel_tol=1e-9):
                for k in kinds:
                    bad[k] = f"{kind}: stored {n} rows sum {total}, sent {want_n} sum {want_sum}"
        return bad

    def footprint(self, i: int) -> tuple[int, int]:
        return _footprint(self.work / f"pass{i}")

    def drop(self, i: int) -> None:
        shutil.rmtree(self.work / f"pass{i}", ignore_errors=True)

    def decode_probe(self) -> dict[str, float]:
        """The decoders run in Python workers, out of reach of driver-side
        wrappers; time the same public decoders here, one process, over
        one pass's payloads."""
        out = {}
        for kind, decode, count in (
            ("remote_write", lambda p: RW.decode_write_request(RW.snappy_decompress(p)),
             lambda d: sum(len(s["samples"]) for s in d)),
            ("otlp", lambda p: OTLP.decode_export_metrics(OTLP._gunzip_bounded(p)), len),
        ):
            src = "rw1" if kind == "remote_write" else "otlp"
            payloads = [p for b in self.batches if b.kind == src for p in b.payloads]
            t0 = time.perf_counter()
            n = sum(count(decode(p)) for p in payloads)
            secs = time.perf_counter() - t0
            rate = "samples_per_s" if kind == "remote_write" else "points_per_s"
            out[f"{kind}.decode_s"] = secs
            out[f"{kind}.{rate}"] = n / secs
        return out


#: in BENCHMARK.json's order
WORKLOADS = {w.name: w for w in (WireIngest, EtlLifecycle)}
