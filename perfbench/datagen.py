"""Seeded inputs for the workloads.

Everything here is pure Python and NumPy: the same seed gives
byte-identical inputs (``digest`` proves it in the tests) and the seed
changes values, label values and orders, never counts or shapes, so
every seed asks the engine for the same amount of work.
"""

from __future__ import annotations

import gzip
import hashlib
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np

from prom_etl_db_spark.config import QueryConfig
from prom_etl_db_spark.functions import otlp as OTLP
from prom_etl_db_spark.functions import remote_write as RW

#: the last stored day; the lifecycle tick fires at its following midnight
DAY = datetime(2024, 1, 30)
TICK_AT = DAY + timedelta(days=1)
#: instant configs evaluate 30 s before the tick: off the minute grid, so
#: no subquery step or range boundary coincides with a sample
EVAL_AT = TICK_AT - timedelta(seconds=30)
EPOCH = datetime(1970, 1, 1)
STEP_S = 60
#: scrape offset within the minute (samples sit at hh:mm:07)
SCRAPE_OFFSET_S = 7
NATIVE_METRIC = "http_request_duration_seconds"


def _ms(t: datetime) -> int:
    return int((t - EPOCH).total_seconds() * 1000)


@dataclass
class Samples:
    """A columnar sample set: per-series (metric, labels) plus flat
    arrays of series index, timestamp (ms) and value."""

    names: list[str]
    labels: list[dict[str, str]]
    sid: np.ndarray
    ts_ms: np.ndarray
    value: np.ndarray

    def __len__(self) -> int:
        return len(self.sid)

    def digest(self) -> str:
        h = hashlib.sha256()
        for n, lab in zip(self.names, self.labels):
            h.update(repr((n, sorted(lab.items()))).encode())
        for a in (self.sid, self.ts_ms, self.value):
            h.update(a.tobytes())
        return h.hexdigest()


def _hexid(rng: np.random.Generator, n: int = 5) -> str:
    return "".join("0123456789abcdef"[i] for i in rng.integers(0, 16, n))


def _series(rng: np.random.Generator, scale: int) -> list[tuple[str, dict, str]]:
    """(metric, labels, kind) for every series; ``scale`` multiplies the
    series count of each family."""
    out = []
    for c in range(scale):
        cluster = f"c{c}-{_hexid(rng)}"
        for ns in ("train", "infer", "batch", "dev"):
            for p in range(4):
                pod = f"{ns}-{_hexid(rng)}"
                for g in range(2):
                    out.append(("gpu_util", {"cluster": cluster, "namespace": ns,
                                             "pod": pod, "gpu": str(g)}, "gpu"))
        for job in ("api", "web", "auth", "search"):
            for i in range(4):
                inst = f"10.{c}.{int(rng.integers(0, 256))}.{i}:9100"
                for code in ("200", "404", "500"):
                    out.append(("http_requests_total", {"job": job, "instance": inst,
                                                        "code": code}, "counter"))
        for n in range(16):
            node = f"node-{c}-{_hexid(rng)}"
            out.append(("node_cpu_usage", {"node": node, "cluster": cluster}, "ratio"))
            out.append(("request_latency_seconds",
                        {"node": node, "route": f"/r{n % 4}"}, "latency"))
        for q in range(8):
            out.append(("queue_depth", {"queue": f"q{q}-{_hexid(rng, 3)}",
                                        "cluster": cluster}, "gauge"))
    return out


def samples(seed: int, *, scale: int, days: int) -> Samples:
    """One sample per series per minute over the ``days`` days ending at
    ``TICK_AT``, scraped at second ``SCRAPE_OFFSET_S`` of each minute."""
    rng = np.random.default_rng([seed, scale, days])
    series = _series(rng, scale)
    n = days * 1440
    t0 = _ms(TICK_AT - timedelta(days=days)) + SCRAPE_OFFSET_S * 1000
    ts = t0 + np.arange(n, dtype=np.int64) * STEP_S * 1000
    vals = []
    for _, _, kind in series:
        if kind == "gpu":
            v = rng.uniform(0, 100, n).round(1)
            v[rng.random(n) < 0.25] = 20.0  # the flagship's sentinel
        elif kind == "counter":
            v = np.cumsum(rng.poisson(rng.uniform(5, 50), n)).astype(np.float64)
        elif kind == "ratio":
            v = np.clip(0.5 + np.cumsum(rng.normal(0, 0.02, n)), 0, 1)
        elif kind == "latency":
            v = rng.lognormal(-3, 0.6, n)
        else:
            v = np.abs(np.cumsum(rng.normal(0, 3, n)))
        vals.append(v)
    k = len(series)
    return Samples(
        names=[s[0] for s in series],
        labels=[s[1] for s in series],
        sid=np.repeat(np.arange(k, dtype=np.int32), n),
        ts_ms=np.tile(ts, k),
        value=np.concatenate(vals),
    )


def native_histograms(seed: int, *, n_series: int, minutes: int,
                      end: datetime = TICK_AT) -> list[dict]:
    """Cumulative integer native histograms (schema 1, one positive span
    of 8 buckets), one per series per minute over the ``minutes`` before
    ``end``, in ``encode_write_request_v2``'s series shape."""
    rng = np.random.default_rng([seed, n_series, minutes, 7])
    t0 = _ms(end - timedelta(minutes=minutes)) + SCRAPE_OFFSET_S * 1000
    out = []
    for i in range(n_series):
        labels = {"__name__": NATIVE_METRIC,
                  "job": ("api", "web", "auth", "search")[i % 4],
                  "instance": f"i{i}-{_hexid(rng)}"}
        incr = rng.poisson(rng.uniform(1, 20, 8), (minutes, 8))
        zero_incr = rng.poisson(1, minutes)
        counts = np.cumsum(incr, axis=0)
        zeros = np.cumsum(zero_incr)
        sums = np.cumsum(rng.uniform(0.5, 5.0, minutes)).round(3)
        hists = []
        for m in range(minutes):
            c = [int(x) for x in counts[m]]
            hists.append({
                "schema": 1, "zero_threshold": 0.001,
                "zero_count": int(zeros[m]), "count": int(zeros[m]) + sum(c),
                "sum": float(sums[m]), "positive_spans": [(-2, 8)],
                "positive_deltas": [c[0]] + [b - a for a, b in zip(c, c[1:])],
                "timestamp": t0 + m * STEP_S * 1000,
            })
        out.append({"labels": labels, "samples": [], "histograms": hists})
    return out


def rw2_payload(series: list[dict]) -> bytes:
    return RW.snappy_compress(RW.encode_write_request_v2(series))


# -- etl_lifecycle: the config catalog ----------------------------------------

#: (query_id, PromQL, time range spec) in the reference's config shapes;
#: ``{q}`` is filled from the seed: a value, not a shape or a row count
CATALOG = [
    ("gpu_utilization_daily",  # the migrate.sql:105 flagship
     "sum by (cluster, namespace) (sum_over_time(max without (gpu) "
     "(gpu_util != bool 20)[24h:1m])) * 60 / 3600", ("instant", "-30s")),
    ("http_rate_by_job", "sum by (job) (rate(http_requests_total[5m]))",
     ("instant", "-30s")),
    ("http_top_instances",
     "topk(3, sum by (instance) (rate(http_requests_total[5m])))",
     ("instant", "-30s")),
    ("latency_p_over_time", "quantile_over_time({q}, request_latency_seconds[1h])",
     ("instant", "-30s")),
    ("native_latency_p90",
     f"histogram_quantile(0.9, sum by (job) (rate({NATIVE_METRIC}[5m])))",
     ("instant", "-30s")),
    ("http_rate_range", "rate(http_requests_total[5m])",
     ("range", "-1h", "-30s", "5m")),
    ("http_error_ratio",
     'sum(increase(http_requests_total{code="500"}[5m])) / '
     "sum(increase(http_requests_total[5m])) * 100", ("instant", "-30s")),
]

_SCHEDULES = ("0 0 0 * * *", "0 */5 * * * *", "0 0 * * * *", "0 */15 * * * *")


def catalog(seed: int) -> list[QueryConfig]:
    """The lifecycle catalog. Every schedule fires at ``TICK_AT``, so one
    ``serve_loop`` tick runs every config; ``created_at`` fixes the
    ``load_enabled`` order."""
    rng = np.random.default_rng([seed, 12])
    q = float(rng.choice([0.9, 0.95, 0.99]))
    out = []
    for i, (qid, query, tr) in enumerate(CATALOG):
        cfg = QueryConfig(
            query_id=qid, name=qid.replace("_", " "),
            query=query.replace("{q}", str(q)),
            schedule=_SCHEDULES[i % len(_SCHEDULES)],
            timeout=("60s", "120s")[i % 2], retry_count=2, retry_interval="10s",
            time_range_type=tr[0],
            created_at=datetime(2024, 1, 1) + timedelta(minutes=i),
            updated_at=datetime(2024, 1, 1) + timedelta(minutes=i),
        )
        if tr[0] == "instant":
            cfg.time_range_time = tr[1]
        else:
            cfg.time_range_start, cfg.time_range_end, cfg.time_range_step = tr[1:]
        out.append(cfg)
    return out


# -- wire_ingest: push batches ------------------------------------------------
#
# Each request has the shape its sender sends by default:
#
# - Prometheus remote write 1.0 and 2.0: ``queue_config`` sends at most
#   ``max_samples_per_send`` = 2000 samples a request, and with the default
#   ``scrape_interval`` of 1m a request carries one sample of each of 2000
#   series. A scrape of 8000 series leaves as four such requests (shards).
# - OTLP: the OpenTelemetry Collector's batch processor sends
#   ``send_batch_size`` = 8192 data points, gzip-compressed (the otlphttp
#   exporter's default); the SDK's periodic reader exports one point per
#   stream per interval, so a request carries one point of each of 8192
#   streams.
#
# A push batch (one item) is one scrape or export: four remote-write
# requests or one OTLP request, about 8000 samples either way. No public
# source and no record in the repository gives a mix of protocols, so the
# three protocols get the same number of batches: one each a pass.

MAX_SAMPLES_PER_SEND = 2000
RW_SHARDS = 4
OTLP_BATCH_SIZE = 8192
#: batches per pass of each protocol: consecutive scrapes / exports
BATCHES = {"rw1": 1, "rw2": 1, "otlp": 1}
#: series of one remote-write scrape: metric names x targets
RW1_METRICS = 40
RW2_METRICS = 4
#: OTLP streams of one export: resources x metrics x attribute sets
OTLP_RESOURCES, OTLP_METRICS, OTLP_STREAMS = 32, 16, 16
JOBS = ("node", "api", "web", "db")


@dataclass
class PushBatch:
    kind: str
    payloads: list[bytes]
    samples: int
    value_sum: float


def _targets(rng: np.random.Generator, n: int) -> list[dict[str, str]]:
    return [{"job": JOBS[i % len(JOBS)],
             "instance": f"10.{i // 250}.{i % 250}.{int(rng.integers(1, 255))}:9100"}
            for i in range(n)]


def _rw1_batches(rng: np.random.Generator) -> list[PushBatch]:
    """One sample per series per scrape, the scrape's series split into
    ``RW_SHARDS`` requests of ``MAX_SAMPLES_PER_SEND``."""
    n = RW_SHARDS * MAX_SAMPLES_PER_SEND
    targets = _targets(rng, n // RW1_METRICS)
    labels = [{"__name__": f"rw_metric_{m}", **t}
              for t in targets for m in range(RW1_METRICS)]
    out = []
    for b in range(BATCHES["rw1"]):
        ts = _ms(DAY) + (b * STEP_S + SCRAPE_OFFSET_S) * 1000
        v = rng.uniform(0, 1000, n).round(3)
        out.append(PushBatch("rw1", [
            RW.snappy_compress(RW.encode_write_request(
                [{"labels": labels[i], "samples": [(float(v[i]), ts)]}
                 for i in range(r, n, RW_SHARDS)]))
            for r in range(RW_SHARDS)], n, float(v.sum())))
    return out


def _rw2_batches(seed: int) -> list[PushBatch]:
    """Native histograms, one per series per scrape, as remote-write 2.0
    requests of ``MAX_SAMPLES_PER_SEND`` histograms."""
    n = RW_SHARDS * MAX_SAMPLES_PER_SEND
    series = native_histograms(seed, n_series=n, minutes=BATCHES["rw2"],
                               end=DAY + timedelta(minutes=BATCHES["rw2"]))
    out = []
    for b in range(BATCHES["rw2"]):
        scrape = [{"labels": {**s["labels"],
                              "__name__": f"{NATIVE_METRIC}_{i % RW2_METRICS}"},
                   "samples": [], "histograms": [s["histograms"][b]]}
                  for i, s in enumerate(series)]
        out.append(PushBatch(
            "rw2", [rw2_payload(scrape[r::RW_SHARDS]) for r in range(RW_SHARDS)], n,
            float(sum(s["histograms"][0]["count"] for s in scrape))))
    return out


def _otlp_batches(rng: np.random.Generator) -> list[PushBatch]:
    """One gzip ExportMetricsServiceRequest of ``OTLP_BATCH_SIZE`` gauge
    points per export, one point per stream."""
    hosts = [f"host-{r}-{_hexid(rng)}" for r in range(OTLP_RESOURCES)]
    out = []
    for b in range(BATCHES["otlp"]):
        t = (_ms(DAY) + (b * STEP_S + SCRAPE_OFFSET_S) * 1000) * 1_000_000
        v = rng.uniform(0, 1000, OTLP_BATCH_SIZE).round(3).reshape(
            OTLP_RESOURCES, OTLP_METRICS, OTLP_STREAMS)
        body = OTLP.encode_export_metrics([
            {"resource": {"service.name": f"svc-{r % 8}", "host.name": host},
             "scopes": [{"name": "perfbench", "metrics": [
                 {"name": f"otlp_metric_{m}", "unit": "1", "type": "gauge",
                  "points": [{"attrs": {"host": host, "cpu": str(c)},
                              "time_unix_nano": t, "value": float(v[r, m, c])}
                             for c in range(OTLP_STREAMS)]}
                 for m in range(OTLP_METRICS)]}]}
            for r, host in enumerate(hosts)])
        out.append(PushBatch("otlp", [gzip.compress(body, mtime=0)],
                             OTLP_BATCH_SIZE, float(v.sum())))
    return out


def push_batches(seed: int) -> list[PushBatch]:
    """One pass's push batches, protocols interleaved in a seeded order."""
    rng = np.random.default_rng([seed, 14])
    out = _rw1_batches(rng) + _rw2_batches(seed) + _otlp_batches(rng)
    return [out[i] for i in rng.permutation(len(out))]


def sample_shares() -> dict[str, float]:
    """Each protocol's share of the samples in one pass."""
    per = {"rw1": RW_SHARDS * MAX_SAMPLES_PER_SEND,
           "rw2": RW_SHARDS * MAX_SAMPLES_PER_SEND, "otlp": OTLP_BATCH_SIZE}
    n = {k: BATCHES[k] * per[k] for k in per}
    total = sum(n.values())
    return {k: v / total for k, v in n.items()}
