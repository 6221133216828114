"""The benchmark's own tests: seeded inputs, the tail choice, span
arithmetic, the recomputation oracles and the metric list.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen as G  # noqa: E402
from prom_etl_db_spark.functions import otlp as OTLP  # noqa: E402
from prom_etl_db_spark.functions import remote_write as RW  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from stats import self_time, tail_percentile, union_length  # noqa: E402


def _inputs(seed: int) -> dict:
    return {
        "samples": G.samples(seed, scale=1, days=1).digest(),
        "catalog": [(c.query_id, c.query, c.schedule) for c in G.catalog(seed)],
        "native": repr(G.native_histograms(seed, n_series=4, minutes=5)),
        "batches": [(b.kind, b.payloads, b.samples, b.value_sum)
                    for b in G.push_batches(seed)],
    }


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs_of_the_same_shape():
    a, b = _inputs(7), _inputs(8)
    for key in a:
        assert a[key] != b[key], key
    sa, sb = G.samples(7, scale=1, days=1), G.samples(8, scale=1, days=1)
    assert len(sa) == len(sb) and sa.names == sb.names
    assert np.array_equal(sa.ts_ms, sb.ts_ms)
    assert [(k, n) for k, n, *_ in a["batches"]] != []
    assert sorted((x[0], x[2]) for x in a["batches"]) == sorted(
        (x[0], x[2]) for x in b["batches"])
    assert [c[0] for c in a["catalog"]] == [c[0] for c in b["catalog"]]


def test_seed_changes_catalog_values_not_row_counts():
    """Only the quantile differs between seeds: no query's row count (topk's
    k, selectors, ranges) depends on the seed."""
    def shape(seed):
        return [(c.query_id, re.sub(r"quantile_over_time\(0\.\d+,", "Q(", c.query),
                 c.schedule, c.time_range_type, c.time_range_time,
                 c.time_range_start, c.time_range_end, c.time_range_step)
                for c in G.catalog(seed)]
    assert all(shape(seed) == shape(1) for seed in range(2, 40))
    assert len({c.query for seed in range(1, 40) for c in G.catalog(seed)}) > len(G.CATALOG)


def test_push_batches_follow_the_sender_defaults():
    kinds = {}
    for b in G.push_batches(3):
        kinds.setdefault(b.kind, []).append(b)
    assert {k: len(v) for k, v in kinds.items()} == G.BATCHES
    for b in kinds["rw1"]:
        assert len(b.payloads) == G.RW_SHARDS
        for p in b.payloads:
            series = RW.decode_write_request(RW.snappy_decompress(p))
            assert len(series) == G.MAX_SAMPLES_PER_SEND
            assert all(len(s["samples"]) == 1 for s in series)
    for b in kinds["rw2"]:
        for p in b.payloads:
            series = RW.decode_write_request_v2(RW.snappy_decompress(p))
            assert len(series) == G.MAX_SAMPLES_PER_SEND
            assert all(len(s["histograms"]) == 1 for s in series)
    for b in kinds["otlp"]:
        (p,) = b.payloads
        points = OTLP.decode_export_metrics(OTLP._gunzip_bounded(p))
        assert len(points) == G.OTLP_BATCH_SIZE == b.samples
        assert len({(r["metric_name"], tuple(sorted(r["attrs"].items())))
                    for r in points}) == G.OTLP_BATCH_SIZE  # one point a stream


def test_every_schedule_fires_at_the_tick():
    from prom_etl_db_spark.scheduler import CronSchedule

    for cfg in G.catalog(1):
        cfg.validate()
        assert CronSchedule(cfg.schedule).matches(G.TICK_AT), cfg.query_id


@pytest.mark.parametrize("n,p", [(20, 50), (24, 58), (30, 66), (40, 75),
                                 (100, 90), (1000, 99), (10_000, 99)])
def test_tail_percentile(n, p):
    assert tail_percentile(n) == p
    assert n * (100 - p) >= 10 * 100  # at least ten samples beyond p
    assert n * (100 - (p + 1)) < 10 * 100  # and p is the highest such


@pytest.mark.parametrize("items,passes", [(1, 21), (3, 7), (4, 6), (7, 3), (21, 3)])
def test_min_passes_put_the_tail_above_the_median(items, passes):
    assert run.min_passes(items) == passes
    assert tail_percentile(passes * items) > 50


def test_tail_needs_twenty_samples():
    with pytest.raises(ValueError):
        tail_percentile(19)


def test_self_time():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (5, 6)]) == 7
    assert self_time(0, 10, [(1, 4), (2, 6), (8, 9)]) == 4  # overlap once
    assert self_time(0, 10, [(-5, 2), (9, 20)]) == 7  # clipped to the span
    assert self_time(0, 10, [(0, 10)]) == 0


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


def _tiny(values: dict[tuple[str, tuple], list[tuple[float, float]]]) -> G.Samples:
    names, labels, sid, ts, val = [], [], [], [], []
    for i, ((metric, lab), pts) in enumerate(values.items()):
        names.append(metric)
        labels.append(dict(lab))
        for t, v in pts:
            sid.append(i)
            ts.append(int(t * 1000))
            val.append(v)
    return G.Samples(names, labels, np.array(sid, np.int32),
                     np.array(ts, np.int64), np.array(val))


def test_expected_rate_counts_resets_and_ignores_outside_samples():
    s = _tiny({
        ("http_requests_total", (("job", "a"),)): [
            (10, 999.0), (100, 10.0), (160, 40.0), (220, 5.0), (280, 25.0)],
        ("http_requests_total", (("job", "b"),)): [(250, 1.0)],  # one sample
    })
    # window (0, 300]: 10 -> 40 is +30, reset to 5 is +5, then +20;
    # the sample at t=10 is in the window too: 999 -> 10 is a reset (+10)
    assert W.expected_rate_by_job(s, 300.0) == {"a": pytest.approx(65 / 300)}


def test_expected_flagship_groups_pods_and_buckets():
    lab = lambda pod, gpu: (("cluster", "c"), ("namespace", "n"),  # noqa: E731
                            ("pod", pod), ("gpu", gpu))
    s = _tiny({
        ("gpu_util", lab("p", "0")): [(7, 20.0), (67, 50.0), (127, 20.0)],
        ("gpu_util", lab("p", "1")): [(7, 20.0), (67, 20.0), (127, 30.0)],
        ("gpu_util", lab("q", "0")): [(7, 10.0), (67, 20.0), (127, 20.0)],
    })
    # pod p: minute 0 both 20 -> 0, minute 1 max(1, 0) -> 1, minute 2 -> 1
    # pod q: 1 + 0 + 0; total 3 flagged minutes -> 3 * 60 / 3600 hours
    got = W.expected_flagship(s, 150.0)
    assert got == {("c", "n"): pytest.approx(3 * 60 / 3600)}


def test_orphaned_grandchildren_are_reaped():
    run._become_subreaper()
    # the shell exits at once and leaves its sleep to this process
    subprocess.run(["sh", "-c", "sleep 0.3 & exit 0"], check=True)
    assert run._children()
    run._reap_children()
    assert not run._children()


def test_benchmark_json_matches_the_command():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    why = next(w["why"] for w in spec["workloads"] if w["name"] == "wire_ingest")
    for kind, share in G.sample_shares().items():
        assert f"({share:.0%}" in why, kind
