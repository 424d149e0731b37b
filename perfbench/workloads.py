"""The benchmark's three workloads.  Each is a closed loop with one
client: the next operation is issued when the previous one returned.

- cdc_ingest: land one change file, drain it with
  ``CdcPipeline.run_available_now`` (listing -> DLQ -> bronze ->
  latest-image merge -> manifest commit), repeat.
- replica_read: point lookups (``lookup_silver_key``) and scans
  (``read_silver`` + group-by) against a replica with retained versions.
- analytics: passes over eight registered queries (``QUERIES``) into the
  noop sink.

Every workload function takes a ``Ctx``, builds its fixture (which the
set-up time covers), runs its timed loop, then checks the engine's
answers against the generator's oracles outside the timed spans.

Every workload reports the same metric names, each workload filling them
from its own operation (a drain, a read, a query):

- end-to-end: ``op_p50_ms`` (median wall time of one operation) and
  ``throughput`` (work per second of the timed loop: events, reads or
  queries);
- per-layer: ``op.jobs``, ``op.tasks``, ``op.files``, ``op.bytes`` (Spark
  jobs, completed tasks, and data files and bytes written or read, per
  operation), ``op.start_ms`` and ``op.exec_ms`` (the operation's
  driver-side part and its Spark execution), ``trace.overhead_pct``.

The workload's own figures (``freshness_p90_ms``, ``scan_p50_ms``,
``merge.bytes_rewritten_per_event``, ``q.<name>.jobs``, ...) go to
``Ctx.detail``, which run.py prints and records beside the metrics.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from urllib.parse import urlparse

from perfbench import gen
from perfbench.stats import HostCpu, RssSampler, percentile
from perfbench.trace import DrainListener, Tracer

KEYS = 20_000             # pet replica size
RETAINED_VERSIONS = 5     # replica_read: bootstrap + 4 change files
MIN_DRAINS = 5            # cdc_ingest ops run even past --seconds
WARM_DRAINS = 2           # the first drains of a JVM run slow while it compiles
MIN_READ_OPS = 30         # 27 lookups, 3 scans
WARM_READS = 30           # replica_read warm-up: its lookups, then two scans
MIN_PASSES = 2
COUNTED_DRAINS = 2        # traced ops whose counts make the count metrics
COUNTED_LOOKUPS = 8
COUNTED_SCANS = 1
ANALYTICS_SCALE = 0.01    # 60k lineitems
ANALYTICS_QUERIES = (
    "q_revenue_by_nation",
    "q_shipping_priority",
    "q_pricing_summary",
    "q_latest_order_per_customer",
    "q_asof_join",
    "q_dedup_clusters",
    "q_cosine_topk",
    "q_text_quality",
)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    host: HostCpu
    work: str
    seed: int
    seconds: float
    trace: bool
    t_process: float
    # started in traced runs only; stopped before the checks: they are the harness's
    rss: RssSampler | None = None
    setup_s: float | None = None
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    gates: dict[str, bool] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    ops: list[tuple[str, float]] = field(default_factory=list)

    def fixture_ready(self) -> None:
        self.setup_s = time.perf_counter() - self.t_process

    def gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.gates[name] = ok
        if not ok:
            self.failed += 1
            print(f"GATE FAILED {name}: {detail}", file=sys.stderr)

    def more(self, t0: float, n_ops: int, n_min: int) -> bool:
        """Closed-loop condition: at least ``n_min`` ops and ``seconds``."""
        return n_ops < n_min or time.perf_counter() - t0 < self.seconds

    def latencies(self, kind: str) -> list[float]:
        """Wall seconds of every timed op of ``kind``."""
        return [w for k, w in self.ops if k == kind]

    def op_failed(self, what: str) -> None:
        self.failed += 1
        print(f"OP FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)


def _ms(seconds: list[float], p: float) -> float:
    return percentile(seconds, p) * 1000.0


def norm_row(row) -> dict:
    """A replica Row as the oracle holds it (dates as ISO strings)."""
    return {k: v.isoformat() if isinstance(v, dt.date) else v for k, v in row.asDict().items()}


def overhead_pct(traced: list[float], untraced: list[float]) -> float:
    return 100.0 * (statistics.median(traced) / statistics.median(untraced) - 1.0)


# --------------------------------------------------------------------------
# on-disk layout probes (manifest and file stats; read outside timed spans)
# --------------------------------------------------------------------------


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]


def _bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def manifest(silver: str, version: int | None = None) -> dict:
    from cdc_demo_spark.streaming.merge import silver_versions

    v = silver_versions(silver)[-1] if version is None else version
    with open(os.path.join(silver, f"_manifest.v{v}.json")) as f:
        return json.load(f)


def bucket_files(silver: str, m: dict, buckets=None) -> list[str]:
    out = []
    for b, ver in sorted(m["buckets"].items()):
        if buckets is None or int(b) in buckets:
            out += _parquet_files(os.path.join(silver, "data", f"b{b}", ver))
    return out


# --------------------------------------------------------------------------
# cdc_ingest
# --------------------------------------------------------------------------


def _pipeline(ctx: Ctx, name: str):
    from cdc_demo_spark.schemas import MENAGERIE
    from cdc_demo_spark.streaming.pipeline import CdcPipeline

    return CdcPipeline(ctx.spark, os.path.join(ctx.work, name), {"pet": MENAGERIE["pet"]})


def _land(pipe, cf: gen.ChangeFile, i: int) -> str:
    return gen.land(cf, os.path.join(pipe.landing_dir, "pet"), f"f-{i:06d}.json")


def _drain_layout(pipe, before: dict, bronze_before: set[str]) -> dict:
    """What the last drain wrote, from the manifests before and after it:
    manifests committed, bucket versions replaced (and their files and
    bytes), bronze bytes added, and the replica's total bytes."""
    silver = pipe.silver_dir("pet")
    bronze = os.path.join(pipe.bronze_dir, "pet")
    after = manifest(silver)
    touched = [int(b) for b, v in after["buckets"].items() if before["buckets"].get(b) != v]
    new_files = bucket_files(silver, after, touched)
    new_bronze = sorted(set(os.listdir(bronze)) - bronze_before)
    return {
        "manifests": after["version"] - before["version"],
        "touched": len(touched),
        "files": len(new_files),
        "rewritten": _bytes(new_files),
        "bronze": sum(_bytes(_parquet_files(os.path.join(bronze, d))) for d in new_bronze),
        "silver": _bytes(bucket_files(silver, after)),
    }


def cdc_ingest(ctx: Ctx) -> None:
    from cdc_demo_spark.streaming.merge import read_silver, replay_oracle, silver_versions

    spark, tracer = ctx.spark, ctx.tracer
    feed = gen.ChangeFeed(ctx.seed, KEYS)
    pipe = _pipeline(ctx, "cdc")
    silver = pipe.silver_dir("pet")
    landed: list[gen.ChangeFile] = []
    digest = hashlib.sha256()

    # fixture: bootstrap snapshot + warm-up change files
    with ctx.host.phase("setup"), tracer.span("fixture"):
        for i in range(1 + WARM_DRAINS):
            cf = feed.bootstrap() if i == 0 else feed.next_file()
            landed.append(cf)
            digest.update(cf.text().encode())
            _land(pipe, cf, i)
            pipe.run_available_now("pet")
    ctx.fixture_ready()

    listener = DrainListener()
    traced_fresh: list[float] = []
    untraced_fresh: list[float] = []
    drains: list[dict] = []
    applied = 0
    i = 0
    with ctx.host.phase("timed"):
        t0 = time.perf_counter()
        while ctx.more(t0, i, MIN_DRAINS):
            cf = feed.next_file()
            landed.append(cf)
            if i < MIN_DRAINS:
                digest.update(cf.text().encode())
            traced = ctx.trace and i % 2 == 0
            tracer.enabled, tracer.op_id = traced, f"drain-{i}"
            if traced:
                bronze_before = set(os.listdir(os.path.join(pipe.bronze_dir, "pet")))
                before = manifest(silver)
                spark.streams.addListener(listener)
            ctx.attempted += 1
            try:
                with tracer.span("op", kind="drain"):
                    stamp = time.perf_counter()
                    with tracer.span("land"):
                        _land(pipe, cf, len(landed) - 1)
                    with tracer.span("run_available_now"):
                        pipe.run_available_now("pet")
                    done = time.perf_counter()
                ctx.ops.append(("drain", done - stamp))
                applied += len(cf.events)
            except Exception:  # noqa: BLE001 - a failed drain is a failed op
                ctx.op_failed(f"drain {i}")
                if traced:
                    spark.streams.removeListener(listener)
                i += 1
                continue
            (traced_fresh if traced else untraced_fresh).append(done - stamp)
            if traced:
                run_id = listener.run_ids[-1]
                progress = listener.finished(run_id)  # events arrive asynchronously
                spark.streams.removeListener(listener)
                drains.append({
                    "wall": done - stamp,
                    "progress": progress,
                    "jobs_tasks": tracer.jobs_and_tasks(run_id),
                    "events": len(cf.events),
                    "live_rows": len(feed.snapshot()),
                    "versions": len(silver_versions(silver)),
                    **_drain_layout(pipe, before, bronze_before),
                })
            i += 1
        loop_s = time.perf_counter() - t0
    tracer.enabled = False
    ctx.info["inputs_sha256"] = digest.hexdigest()

    fresh = ctx.latencies("drain")
    ctx.detail["freshness_p50_ms"] = ctx.e2e["op_p50_ms"] = (_ms(fresh, 50), "ms")
    ctx.detail["freshness_p90_ms"] = (_ms(fresh, 90), "ms")
    # events of the drained files (duplicates included) per second of the
    # whole timed loop: generation, landing and drains
    ctx.detail["events_per_s"] = ctx.e2e["throughput"] = (applied / loop_s, "1/s")
    if ctx.trace:
        _cdc_layer_metrics(ctx, drains, traced_fresh, untraced_fresh)

    # correctness gates
    ctx.rss.stop()
    with ctx.host.phase("checks"):
        all_events = [ev for cf in landed for ev in cf.events]
        want = replay_oracle(all_events)
        got = {r["name"]: norm_row(r) for r in read_silver(spark, silver).collect()}
        ctx.gate("silver_equals_replay_oracle", got == want,
                 f"{len(got)} rows vs {len(want)} expected")
        ctx.gate("oracle_agrees_with_generator", want == feed.snapshot())
        bronze = spark.read.parquet(os.path.join(pipe.bronze_dir, "pet"))
        got_b = Counter((r["key"], r["seq"], r["op"]) for r in bronze.select("key", "seq", "op").collect())
        want_b = Counter((e["key"], e["seq"], e["op"]) for e in all_events)
        ctx.gate("bronze_equals_landed_events", got_b == want_b,
                 f"{sum(got_b.values())} rows vs {sum(want_b.values())} landed")
        planted = sorted(line for cf in landed for line in cf.malformed)
        dlq_dir = os.path.join(pipe.dlq_dir, "pet")
        dlq = (sorted(r["_corrupt"] for r in spark.read.parquet(dlq_dir).collect())
               if os.path.isdir(dlq_dir) else [])
        ctx.gate("dlq_equals_planted_malformed", dlq == planted,
                 f"{len(dlq)} DLQ rows vs {len(planted)} planted")
    ctx.info["malformed_planted"] = len(planted)


def _cdc_layer_metrics(ctx, drains, traced_fresh, untraced_fresh) -> None:
    med = statistics.median
    layer, detail = ctx.layer, ctx.detail

    def dur(d: dict, key: str) -> float:
        return sum(p.get(key, 0) for p in d["progress"])

    detail["pipeline.drain_ms"] = (med(d["wall"] for d in drains) * 1000, "ms")
    detail["pipeline.query_start_ms"] = layer["op.start_ms"] = (
        med(d["wall"] * 1000 - dur(d, "triggerExecution") for d in drains), "ms")
    layer["op.exec_ms"] = (med(dur(d, "triggerExecution") for d in drains), "ms")
    for name, key in (("stream.latest_offset_ms", "latestOffset"),
                      ("stream.add_batch_ms", "addBatch"),
                      ("stream.wal_commit_ms", "walCommit"),
                      ("stream.commit_offsets_ms", "commitOffsets")):
        detail[name] = (med(dur(d, key) for d in drains), "ms")

    counted = drains[:COUNTED_DRAINS]

    def total(key: str) -> float:
        return sum(d[key] for d in counted)

    batches = sum(1 for d in counted for p in d["progress"] if p["rows"] > 0)
    events = total("events")
    n = len(counted)
    detail["pipeline.jobs_per_drain"] = layer["op.jobs"] = (
        sum(d["jobs_tasks"][0] for d in counted) / n, "count")
    detail["pipeline.tasks_per_drain"] = layer["op.tasks"] = (
        sum(d["jobs_tasks"][1] for d in counted) / n, "count")
    layer["op.files"] = (total("files") / n, "count")
    layer["op.bytes"] = (total("rewritten") / n, "B")
    detail["storage.manifests_per_batch"] = (total("manifests") / batches, "count")
    detail["merge.buckets_touched_per_batch"] = (total("touched") / batches, "count")
    detail["merge.files_written_per_batch"] = (total("files") / batches, "count")
    detail["merge.bytes_rewritten_per_event"] = (total("rewritten") / events, "B")
    detail["bronze.bytes_per_event"] = (total("bronze") / events, "B")
    last = counted[-1]
    detail["silver.bytes_per_live_row"] = (last["silver"] / last["live_rows"], "B")
    detail["silver.versions_retained"] = (last["versions"], "count")
    layer["trace.overhead_pct"] = (overhead_pct(traced_fresh, untraced_fresh), "%")


# --------------------------------------------------------------------------
# replica_read
# --------------------------------------------------------------------------


def replica_read(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from cdc_demo_spark.streaming.merge import (
        bucket_id_of,
        lookup_silver_key,
        read_silver,
        silver_versions,
    )

    spark, tracer = ctx.spark, ctx.tracer
    feed = gen.ChangeFeed(ctx.seed, KEYS)
    pipe = _pipeline(ctx, "replica")
    silver = pipe.silver_dir("pet")
    snapshots: dict[int, dict[str, dict]] = {}
    digest = hashlib.sha256()

    def lookup(key: str) -> list:
        with tracer.span("lookup_silver_key"):
            df = lookup_silver_key(spark, silver, key)
        with tracer.span("collect"):
            return [] if df is None else df.collect()

    def scan(version: int | None) -> list:
        with tracer.span("read_silver"):
            df = read_silver(spark, silver, version=version)
        with tracer.span("group_by_collect"):
            return df.groupBy("species").agg(F.count(F.lit(1)).alias("n")).collect()

    # fixture: bootstrap + change files up to RETAINED_VERSIONS committed
    # versions, then a few warm-up reads
    with ctx.host.phase("setup"), tracer.span("fixture"):
        for i in range(RETAINED_VERSIONS):
            cf = feed.bootstrap() if i == 0 else feed.next_file()
            digest.update(cf.text().encode())
            _land(pipe, cf, i)
            pipe.run_available_now("pet")
            snapshots[silver_versions(silver)[-1]] = feed.snapshot()
        versions = silver_versions(silver)
        warm = gen.read_ops(ctx.seed + 1_000_003, feed, versions, WARM_READS)
        for op in warm:
            if op.kind == "lookup":
                lookup(op.key)
        scan(None)
        scan(versions[0])
    ctx.fixture_ready()
    if versions != sorted(snapshots):
        raise RuntimeError(f"retained versions {versions} != committed {sorted(snapshots)}")
    latest = versions[-1]
    num_buckets = manifest(silver)["num_buckets"]

    ops = gen.read_ops(ctx.seed, feed, versions, 100_000)
    digest.update(repr(ops[:MIN_READ_OPS]).encode())
    ctx.info["inputs_sha256"] = digest.hexdigest()
    split: dict[bool, list[float]] = {True: [], False: []}
    seen = Counter()
    traced_ops: dict[str, list[dict]] = {"lookup": [], "scan": []}
    bad_answers = 0
    with ctx.host.phase("timed"):
        t_start = time.perf_counter()
        for i, op in enumerate(ops):
            if not ctx.more(t_start, i, MIN_READ_OPS):
                break
            traced = ctx.trace and seen[op.kind] % 2 == 0
            seen[op.kind] += 1
            op_id = f"{op.kind}-{i}"
            tracer.enabled, tracer.op_id = traced, op_id
            ctx.attempted += 1
            try:
                with tracer.job_group(op_id) if traced else nullcontext():
                    with tracer.span("op", kind=op.kind):
                        t0 = time.perf_counter()
                        rows = lookup(op.key) if op.kind == "lookup" else scan(op.version)
                        wall = time.perf_counter() - t0
                ctx.ops.append((op.kind, wall))
            except Exception:  # noqa: BLE001 - a failed read is a failed op
                ctx.op_failed(op_id)
                continue
            if op.kind == "lookup":
                split[traced].append(wall)
            # answer check, outside the timed span
            snap = snapshots[op.version or latest]
            if op.kind == "lookup":
                want = [snap[op.key]] if op.key in snap else []
                ok = [norm_row(r) for r in rows] == want
            else:
                ok = {r["species"]: r["n"] for r in rows} == Counter(
                    row["species"] for row in snap.values())
            if not ok:
                bad_answers += 1
                ctx.failed += 1
                print(f"WRONG ANSWER {op}", file=sys.stderr)
            if traced:
                jobs, tasks = tracer.jobs_and_tasks(op_id)
                plan, execute = (("lookup_silver_key", "collect") if op.kind == "lookup"
                                 else ("read_silver", "group_by_collect"))
                rec = {"jobs": jobs, "tasks": tasks,
                       "plan": tracer.duration(plan, op_id),
                       "exec": tracer.duration(execute, op_id)}
                m = manifest(silver, op.version)
                if op.kind == "lookup":
                    with tracer.span("bucket_id_of"):
                        b = bucket_id_of(spark, op.key, num_buckets)
                    rec["bucket_id"] = tracer.duration("bucket_id_of", op_id)
                    files = bucket_files(silver, m, [b])
                else:
                    files = bucket_files(silver, m)
                rec["files"], rec["bytes"] = len(files), _bytes(files)
                traced_ops[op.kind].append(rec)
        loop_s = time.perf_counter() - t_start
    tracer.enabled = False
    ctx.rss.stop()
    ctx.gates["every_answer_matches_oracle"] = bad_answers == 0  # each counted above

    for kind in ("lookup", "scan"):
        lat = ctx.latencies(kind)
        ctx.detail[f"{kind}_p50_ms"] = (_ms(lat, 50), "ms")
        ctx.detail[f"{kind}_p90_ms"] = (_ms(lat, 90), "ms")
    ctx.e2e["op_p50_ms"] = (_ms([w for _, w in ctx.ops], 50), "ms")
    ctx.e2e["throughput"] = (len(ctx.ops) / loop_s, "1/s")
    if ctx.trace:
        med = statistics.median
        lk, sc = traced_ops["lookup"], traced_ops["scan"]
        cl, cs = lk[:COUNTED_LOOKUPS], sc[:COUNTED_SCANS]
        layer, detail = ctx.layer, ctx.detail

        def per_op(key: str, recs: list[dict]) -> float:
            return sum(r[key] for r in recs) / len(recs)

        for key, unit in (("jobs", "count"), ("tasks", "count"), ("files", "count"),
                          ("bytes", "B")):
            layer[f"op.{key}"] = (per_op(key, cl + cs), unit)
        layer["op.start_ms"] = (med(r["plan"] for r in lk + sc) * 1000, "ms")
        layer["op.exec_ms"] = (med(r["exec"] for r in lk + sc) * 1000, "ms")
        for kind, recs in (("lookup", cl), ("scan", cs)):
            for key in ("jobs", "tasks", "files"):
                detail[f"{kind}.{key}_per_op"] = (per_op(key, recs), "count")
        detail["lookup.bucket_id_ms"] = (med(r["bucket_id"] for r in lk) * 1000, "ms")
        detail["lookup.plan_ms"] = (med(r["plan"] for r in lk) * 1000, "ms")
        detail["lookup.collect_ms"] = (med(r["exec"] for r in lk) * 1000, "ms")
        detail["silver.bytes_per_live_row"] = (
            _bytes(bucket_files(silver, manifest(silver))) / len(snapshots[latest]), "B")
        layer["trace.overhead_pct"] = (overhead_pct(split[True], split[False]), "%")


# --------------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------------


def analytics(ctx: Ctx) -> None:
    import duckdb

    from cdc_demo_spark.queries import ORACLES, QUERIES
    from cdc_demo_spark.schemas import TABLE_NAMES
    from tools.check_oracle import canon

    spark, tracer = ctx.spark, ctx.tracer
    sf = os.path.join(ctx.work, "sf")
    with ctx.host.phase("setup"), tracer.span("fixture"):
        ctx.info["rows"] = gen.analytics_tables(ctx.seed, sf, ANALYTICS_SCALE)
        digest = hashlib.sha256()
        for t in sorted(ctx.info["rows"]):
            with open(os.path.join(sf, f"{t}.parquet"), "rb") as f:
                digest.update(f.read())
        ctx.info["inputs_sha256"] = digest.hexdigest()
        # warm-up pass; its results are checked against the oracles below
        results = {q: QUERIES[q](spark, sf).toPandas() for q in ANALYTICS_QUERIES}
    ctx.fixture_ready()

    split: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
    counts: dict[str, tuple[int, int]] = {}
    parts: list[tuple[float, float]] = []  # traced queries: (build, noop write) seconds
    with ctx.host.phase("timed"):
        t_start = time.perf_counter()
        p = 0
        while ctx.more(t_start, p, MIN_PASSES):
            for j, q in enumerate(ANALYTICS_QUERIES):
                traced = ctx.trace and (p + j) % 2 == 0
                op_id = f"{q}-{p}"
                tracer.enabled, tracer.op_id = traced, op_id
                ctx.attempted += 1
                try:
                    with tracer.job_group(op_id) if traced else nullcontext():
                        with tracer.span("op", kind=q):
                            t0 = time.perf_counter()
                            with tracer.span("build"):
                                df = QUERIES[q](spark, sf)
                            with tracer.span("noop_write"):
                                df.write.format("noop").mode("overwrite").save()
                            d = time.perf_counter() - t0
                except Exception:  # noqa: BLE001 - a failed query is a failed op
                    ctx.op_failed(op_id)
                    continue
                ctx.ops.append((q, d))
                split[traced].setdefault(q, []).append(d)
                if traced:
                    parts.append((tracer.duration("build", op_id),
                                  tracer.duration("noop_write", op_id)))
                    if q not in counts:
                        counts[q] = tracer.jobs_and_tasks(op_id)
            p += 1
        loop_s = time.perf_counter() - t_start
    tracer.enabled = False
    ctx.e2e["op_p50_ms"] = (_ms([w for _, w in ctx.ops], 50), "ms")
    ctx.e2e["throughput"] = (len(ctx.ops) / loop_s, "1/s")
    # one pass = each query once: the sum of the per-query medians
    ctx.detail["query_mix_s"] = (
        sum(statistics.median(ctx.latencies(q)) for q in ANALYTICS_QUERIES), "s")
    ctx.info["passes"] = p

    ctx.rss.stop()
    with ctx.host.phase("checks"):
        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.path.join(ctx.work, 'duckdb')}'")
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for q in ANALYTICS_QUERIES:
            want = con.sql(ORACLES[q]).df()
            got = results[q]
            ok = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
            ctx.gate(f"{q}_equals_oracle", ok, f"{len(got)} rows vs {len(want)} oracle rows")
        con.close()

    if ctx.trace:
        med = statistics.median
        layer, n = ctx.layer, len(ANALYTICS_QUERIES)
        files = {q: [urlparse(u).path for u in QUERIES[q](spark, sf).inputFiles()]
                 for q in ANALYTICS_QUERIES}
        for q in ANALYTICS_QUERIES:
            ctx.detail[f"q.{q}.p50_ms"] = (med(ctx.latencies(q)) * 1000, "ms")
            ctx.detail[f"q.{q}.jobs"] = (counts[q][0], "count")
            ctx.detail[f"q.{q}.tasks"] = (counts[q][1], "count")
        layer["op.jobs"] = (sum(counts[q][0] for q in ANALYTICS_QUERIES) / n, "count")
        layer["op.tasks"] = (sum(counts[q][1] for q in ANALYTICS_QUERIES) / n, "count")
        layer["op.files"] = (sum(len(f) for f in files.values()) / n, "count")
        layer["op.bytes"] = (sum(_bytes(f) for f in files.values()) / n, "B")
        layer["op.start_ms"] = (med(b for b, _ in parts) * 1000, "ms")
        layer["op.exec_ms"] = (med(w for _, w in parts) * 1000, "ms")
        tr = sum(med(split[True][q]) for q in ANALYTICS_QUERIES)
        un = sum(med(split[False][q]) for q in ANALYTICS_QUERIES)
        layer["trace.overhead_pct"] = (100.0 * (tr / un - 1.0), "%")


WORKLOADS = {"cdc_ingest": cdc_ingest, "replica_read": replica_read, "analytics": analytics}
