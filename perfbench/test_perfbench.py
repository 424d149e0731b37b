"""Tests of the benchmark's own generators and arithmetic (no Spark
session needed):  python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import math
import random
import statistics
from collections import Counter

import pytest

from perfbench import gen
from perfbench.stats import cpu_shares, percentile, quartile_spread, read_cpu_times


def _files(seed: int, n_keys: int, n_files: int) -> tuple[gen.ChangeFeed, list[gen.ChangeFile]]:
    feed = gen.ChangeFeed(seed, n_keys)
    return feed, [feed.bootstrap()] + [feed.next_file() for _ in range(n_files)]


def test_same_seed_same_bytes_other_seed_other_bytes():
    a = [f.text() for f in _files(3, 500, 4)[1]]
    b = [f.text() for f in _files(3, 500, 4)[1]]
    c = [f.text() for f in _files(4, 500, 4)[1]]
    assert a == b
    assert a[1:] != c[1:]


def test_op_mix_duplicate_and_late_rates():
    _, files = _files(11, 20_000, 10)
    changes = files[1:]
    n = sum(len(f.events) for f in changes)
    assert all(len(f.events) == gen.EVENTS_PER_FILE for f in changes)
    ops = Counter()
    for f in changes:
        ops.update(f.ops)
    fresh = sum(ops.values())
    assert ops["u"] / fresh == pytest.approx(0.70, abs=0.03)
    assert ops["c"] / fresh == pytest.approx(0.20, abs=0.03)
    assert ops["d"] / fresh == pytest.approx(0.10, abs=0.02)
    assert sum(f.duplicates for f in changes) / n == pytest.approx(gen.DUP_RATE, abs=0.005)
    assert sum(f.late for f in changes) / n == pytest.approx(gen.LATE_RATE, abs=0.005)


def test_duplicates_are_byte_identical_redeliveries():
    _, files = _files(5, 500, 3)
    for f in files[1:]:
        lines = [line for line in f.lines if line not in f.malformed]
        assert len(lines) - len(set(lines)) <= f.duplicates
    seen = Counter((e["key"], e["seq"]) for f in files for e in f.events)
    assert sum(c - 1 for c in seen.values()) == sum(f.duplicates for f in files)


def test_late_events_run_behind_the_newest_event():
    _, files = _files(9, 500, 4)
    seen, newest = set(), ""
    for f in files[1:]:
        behind = 0
        for e in f.events:
            if (e["key"], e["seq"]) in seen:
                continue  # a redelivery
            seen.add((e["key"], e["seq"]))
            behind += e["ts"] < newest
            newest = max(newest, e["ts"])
        assert behind == f.late


def test_malformed_rate_and_lines_do_not_parse():
    _, files = _files(21, 200, 400)
    bad = [f for f in files if f.malformed]
    assert len(bad) / 400 == pytest.approx(gen.MALFORMED_FILE_RATE, abs=0.025)
    for f in bad:
        for line in f.malformed:
            assert line in f.lines
            with pytest.raises(json.JSONDecodeError):
                json.loads(line)


def test_zipf_skew_matches_its_law():
    n, s = 1000, gen.ZIPF_S
    z = gen.Zipf(n, random.Random(1))
    draws = Counter(z.draw() for _ in range(100_000))
    top = sum(c for _, c in draws.most_common(10)) / 100_000
    law = sum(r**-s for r in range(1, 11)) / sum(r**-s for r in range(1, n + 1))
    assert top == pytest.approx(law, abs=0.02)
    assert sorted(draws.most_common(10)) != sorted((i, 0) for i in range(10))


def test_generator_state_equals_replay_oracle():
    from cdc_demo_spark.streaming.merge import replay_oracle

    feed, files = _files(7, 800, 6)
    events = [e for f in files for e in f.events]
    assert replay_oracle(events) == feed.snapshot()
    assert feed.deleted_keys()


def test_read_ops_mix():
    feed, _ = _files(2, 3000, 4)
    ops = gen.read_ops(2, feed, [1, 2, 3, 4, 5], 20_000)
    kinds = Counter(op.kind for op in ops)
    assert kinds["scan"] == 2000
    for i in range(0, 20_000, 10):
        assert sum(op.kind == "scan" for op in ops[i:i + 10]) == 1
    lookups = [op for op in ops if op.kind == "lookup"]
    dead = sum(not feed.live(op.key) for op in lookups)
    assert dead / len(lookups) == pytest.approx(gen.DELETED_LOOKUP_RATE, abs=0.01)
    scans = [op for op in ops if op.kind == "scan"]
    old = sum(op.version is not None for op in scans)
    assert old / len(scans) == pytest.approx(gen.OLD_VERSION_SCAN_RATE, abs=0.03)
    assert {op.version for op in scans} <= {None, 1, 2, 3, 4}
    assert ops == gen.read_ops(2, feed, [1, 2, 3, 4, 5], 20_000)


def test_analytics_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    a = gen.analytics_tables(1, str(tmp_path / "a"), scale=0.001)
    gen.analytics_tables(1, str(tmp_path / "b"), scale=0.001)
    assert a["lineitem"] == 6000 and a["documents"] == 500
    for t in a:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()
    schema = pq.read_schema(tmp_path / "a" / "orders.parquet")
    assert str(schema.field("o_orderdate").type) == "timestamp[us]"


@pytest.mark.parametrize("n", [1, 2, 5, 10, 101])
def test_percentile_matches_linear_interpolation(n):
    import numpy as np

    xs = [random.Random(n).random() for _ in range(n)]
    for p in (0, 10, 50, 90, 99, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_small_cases():
    assert percentile([3.0], 90) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([4.0, 1.0, 3.0, 2.0], 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_quartile_spread():
    xs = [float(v) for v in range(1, 11)]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert quartile_spread(xs) == pytest.approx(5.5 / 5.5)
    assert quartile_spread([10.0] * 10) == 0.0


def test_cpu_shares_steal_and_busy():
    # user nice system idle iowait irq softirq steal
    before = (100, 0, 50, 800, 10, 0, 0, 40)
    after = (160, 0, 70, 880, 10, 5, 5, 60)
    shares = cpu_shares(before, after)
    total = 60 + 20 + 80 + 5 + 5 + 20
    assert shares["steal_pct"] == pytest.approx(100 * 20 / total)
    assert shares["busy_pct"] == pytest.approx(100 * 90 / total)
    assert cpu_shares(before, before) == {"steal_pct": 0.0, "busy_pct": 0.0}


def test_read_cpu_times_parses_the_aggregate_line(tmp_path):
    p = tmp_path / "stat"
    p.write_text("cpu  1 2 3 4 5 6 7 8 9 10\ncpu0 1 1 1 1 1 1 1 1 0 0\n")
    assert read_cpu_times(str(p)) == (1, 2, 3, 4, 5, 6, 7, 8)
    live = read_cpu_times()
    assert len(live) == 8 and not any(math.isnan(v) for v in live)


def _ctx(seconds: float = 4.0):
    from perfbench.workloads import Ctx

    return Ctx(spark=None, tracer=None, host=None, work="", seed=1, seconds=seconds,
               trace=False, t_process=0.0)


def test_loop_runs_at_least_min_ops_and_seconds():
    import time

    ctx = _ctx(seconds=4.0)
    now = time.perf_counter()
    assert ctx.more(now, 0, 3)                # below the op minimum
    assert ctx.more(now, 5, 3)                # inside --seconds
    assert ctx.more(now - 5.0, 2, 3)          # seconds over, ops short
    assert not ctx.more(now - 5.0, 3, 3)      # both met
    ctx.ops = [("lookup", 0.2), ("scan", 0.5), ("lookup", 0.4)]
    assert ctx.latencies("lookup") == [0.2, 0.4]


def test_tree_rss_counts_pages_shared_with_a_forked_child_once():
    import os
    import signal
    import time

    from perfbench.stats import process_tree, tree_rss_bytes

    ballast = bytearray(os.urandom(64 << 20))  # resident, shared after fork
    before = tree_rss_bytes(os.getpid())
    pid = os.fork()
    if pid == 0:
        time.sleep(30)
        os._exit(0)
    try:
        time.sleep(0.2)
        assert pid in process_tree(os.getpid())
        assert tree_rss_bytes(os.getpid()) < before + (16 << 20)
    finally:
        os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)
    del ballast


def test_manifest_names_every_metric_once_within_its_limits():
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in bench["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert [w["name"] for w in bench["workloads"]] == ["cdc_ingest", "replica_read", "analytics"]
