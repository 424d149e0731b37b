"""Seeded input generators for the benchmark (no Spark in here).

Everything the engine sees is made by these generators from ``--seed``:
the same seed yields byte-identical change files, read-op sequences and
analytics tables.  Each generator also keeps the oracle state the
correctness gates compare the engine's answers against.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from collections import deque
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

EVENTS_PER_FILE = 2000
OP_MIX = (("u", 0.70), ("c", 0.20), ("d", 0.10))
DUP_RATE = 0.05          # redelivered copy of an already landed event
LATE_RATE = 0.05         # event stamped older than the feed's clock
LATE_MAX_S = 86400       # ... by 60 s up to this much
MALFORMED_FILE_RATE = 0.05
ZIPF_S = 1.1
START = datetime(2024, 1, 1, tzinfo=timezone.utc)
SPECIES = ("cat", "dog", "bird", "snake", "hamster", "bat")


class Zipf:
    """Zipf(s) draws over ``n`` items; rank r has weight 1/r**s.  Ranks
    map to item ids through a seeded permutation, so hot items are not
    the low ids (and not one hash bucket)."""

    def __init__(self, n: int, rng: random.Random, s: float = ZIPF_S) -> None:
        self.cum = list(itertools.accumulate(1.0 / r**s for r in range(1, n + 1)))
        self.ids = list(range(n))
        rng.shuffle(self.ids)
        self.rng = rng

    def draw(self) -> int:
        r = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.ids[min(r, len(self.ids) - 1)]


def iso(t: int) -> str:
    """Feed clock (whole seconds after START) -> the envelope's ISO ts."""
    return (START + timedelta(seconds=t)).strftime("%Y-%m-%dT%H:%M:%S")


def pet_key(i: int) -> str:
    return f"pet{i:07d}"


@dataclass
class ChangeFile:
    """One landed change file: its lines, the envelope events among them
    (duplicates included, as bronze stores them) and the planted
    malformed lines (which the DLQ must hold)."""

    lines: list[str]
    events: list[dict]
    malformed: list[str] = field(default_factory=list)
    ops: dict[str, int] = field(default_factory=dict)
    duplicates: int = 0
    late: int = 0

    def text(self) -> str:
        return "".join(line + "\n" for line in self.lines)


class ChangeFeed:
    """The binlog stand-in for the ``pet`` table: a bootstrap snapshot of
    ``n_keys`` inserts, then change files of EVENTS_PER_FILE envelopes
    with the OP_MIX op mix over Zipf-skewed keys (updates and deletes hit
    live keys; inserts re-create a deleted key or add a new one), DUP_RATE redeliveries,
    LATE_RATE late events and a malformed line in MALFORMED_FILE_RATE of
    the files.

    ``state`` is the oracle: key -> ((ts, seq), row or None), the
    max-(ts, seq) winner the merge must converge to (None = deleted)."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.zipf = Zipf(n_keys, self.rng)
        self.clock = 2 * LATE_MAX_S  # bootstrap ts; late events stay after it
        self.seq = 0
        self.next_key = n_keys
        self.state: dict[str, tuple[tuple[str, int], dict | None]] = {}
        self.recent: deque[tuple[str, dict]] = deque(maxlen=4 * EVENTS_PER_FILE)

    # -- payload + envelope ---------------------------------------------
    def _row(self, key: str) -> dict:
        rng = self.rng
        birth = START.date() - timedelta(days=rng.randrange(30, 9000))
        death = birth + timedelta(days=rng.randrange(300, 6000)) if rng.random() < 0.05 else None
        return {
            "name": key,
            "owner": f"owner{rng.randrange(5000):04d}",
            "species": rng.choice(SPECIES),
            "sex": rng.choice(("f", "m", None)),
            "birth": birth.isoformat(),
            "death": death.isoformat() if death else None,
        }

    def _event(self, op: str, key: str, ts: int) -> dict:
        self.seq += 1
        cur = self.state.get(key)
        before = cur[1] if cur else None
        after = None if op == "d" else self._row(key)
        return {"op": op, "ts": iso(ts), "seq": self.seq, "table": "pet",
                "key": key, "before": before, "after": after}

    def _apply(self, ev: dict) -> None:
        order = (ev["ts"], ev["seq"])
        cur = self.state.get(ev["key"])
        if cur is None or order > cur[0]:
            self.state[ev["key"]] = (order, ev["after"])

    def _live_key(self, tries: int = 8) -> str | None:
        """A Zipf-drawn key that is live now (None if ``tries`` draws all
        hit deleted keys)."""
        for _ in range(tries):
            key = pet_key(self.zipf.draw())
            if self.live(key):
                return key
        return None

    def live(self, key: str) -> bool:
        cur = self.state.get(key)
        return cur is not None and cur[1] is not None

    def snapshot(self) -> dict[str, dict]:
        """Live rows (the replica's expected content) by key."""
        return {k: row for k, (_, row) in self.state.items() if row is not None}

    def deleted_keys(self) -> list[str]:
        return sorted(k for k, (_, row) in self.state.items() if row is None)

    # -- files ------------------------------------------------------------
    def bootstrap(self) -> ChangeFile:
        """The initial snapshot: one insert per key."""
        events = []
        for i in range(self.n_keys):
            ev = self._event("c", pet_key(i), self.clock)
            self._apply(ev)
            events.append(ev)
        lines = [json.dumps(ev) for ev in events]
        return ChangeFile(lines, events, ops={"c": len(events)})

    def next_file(self) -> ChangeFile:
        rng = self.rng
        lines, events = [], []
        ops = {"u": 0, "c": 0, "d": 0}
        dups = late = 0
        ops_names = [o for o, _ in OP_MIX]
        ops_cum = list(itertools.accumulate(w for _, w in OP_MIX))
        for _ in range(EVENTS_PER_FILE):
            roll = rng.random()
            if roll < DUP_RATE and self.recent:
                line, ev = self.recent[rng.randrange(len(self.recent))]
                lines.append(line)
                events.append(ev)
                dups += 1
                continue
            if roll < DUP_RATE + LATE_RATE:
                # late: an update stamped up to a day behind the clock;
                # it wins only where the key's current image is older
                key = pet_key(self.zipf.draw())
                ev = self._event("u", key, self.clock - rng.randrange(60, LATE_MAX_S))
                late += 1
            else:
                self.clock += 1
                op = rng.choices(ops_names, cum_weights=ops_cum)[0]
                if op == "c":
                    # re-insert a deleted key if the draw hits one
                    key = pet_key(self.zipf.draw())
                    key = None if self.live(key) else key
                else:
                    key = self._live_key()
                if key is None:
                    op, key = "c", pet_key(self.next_key)
                    self.next_key += 1
                ev = self._event(op, key, self.clock)
                ops[op] += 1
            self._apply(ev)
            line = json.dumps(ev)
            lines.append(line)
            events.append(ev)
            self.recent.append((line, ev))
        malformed = []
        if rng.random() < MALFORMED_FILE_RATE:
            bad = f'{{"op": "u", "ts": "{iso(self.clock)}", "seq": {self.seq}, "table": "pet", "key": '
            lines.insert(rng.randrange(len(lines) + 1), bad)
            malformed.append(bad)
        return ChangeFile(lines, events, malformed, ops, dups, late)


def land(cf: ChangeFile, landing_dir: str, name: str) -> str:
    """Write a change file so the stream never sees it half-written:
    write a hidden temp file, then rename it into place (the source
    ignores dot-files)."""
    os.makedirs(landing_dir, exist_ok=True)
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    dst = os.path.join(landing_dir, name)
    with open(tmp, "w") as f:
        f.write(cf.text())
    os.rename(tmp, dst)
    return dst


# --------------------------------------------------------------------------
# replica_read op sequence
# --------------------------------------------------------------------------

LOOKUPS_PER_BLOCK = 9    # each block of 10 ops: 9 lookups + 1 scan
DELETED_LOOKUP_RATE = 0.05
OLD_VERSION_SCAN_RATE = 0.25


@dataclass(frozen=True)
class ReadOp:
    kind: str            # "lookup" | "scan"
    key: str | None = None
    version: int | None = None  # scans: None = latest


def read_ops(seed: int, feed: ChangeFeed, versions: list[int], n: int) -> list[ReadOp]:
    """``n`` read ops: blocks of 9 lookups + 1 scan at a seeded position.
    Lookups draw Zipf keys that are live at the latest version, except
    DELETED_LOOKUP_RATE of them which target deleted keys (expected: no
    row).  OLD_VERSION_SCAN_RATE of scans read an earlier retained
    version."""
    rng = random.Random(seed * 7919 + 1)
    zipf = Zipf(feed.next_key, rng)
    deleted = feed.deleted_keys()
    ops: list[ReadOp] = []
    while len(ops) < n:
        block = [None] * (LOOKUPS_PER_BLOCK + 1)
        scan_at = rng.randrange(len(block))
        for i in range(len(block)):
            if i == scan_at:
                old = rng.random() < OLD_VERSION_SCAN_RATE
                block[i] = ReadOp("scan", version=rng.choice(versions[:-1]) if old else None)
            elif deleted and rng.random() < DELETED_LOOKUP_RATE:
                block[i] = ReadOp("lookup", key=rng.choice(deleted))
            else:
                key = pet_key(zipf.draw())
                while not feed.live(key):
                    key = pet_key(zipf.draw())
                block[i] = ReadOp("lookup", key=key)
        ops.extend(block)
    return ops[:n]


# --------------------------------------------------------------------------
# analytics tables (the star schema + events/documents/embeddings)
# --------------------------------------------------------------------------

VOCAB = ("the a join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark part group "
         "big sort query fast").split()
NEAR_DUP_RATE = 0.1


def analytics_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ten tables the query surface reads (same names, column
    types and value domains as the repo's synthetic test data) as one
    parquet file each; return row counts.  ``scale`` 0.01 gives 60k
    lineitems.  Documents and embeddings stay at 500 rows, with
    NEAR_DUP_RATE of documents planted as near-duplicates."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_part, n_supp, n_ev = int(200_000 * scale), int(10_000 * scale), int(1_000_000 * scale)
    n_docs = 500
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def choice(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    names = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {"c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                     "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
                     "c_mktsegment": pa.array(choice(
                         ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))},
        "supplier": {"s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                     "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))},
        "part": {"p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                 "p_name": pa.array(choice(["small ring", "red widget", "blue bolt", "steel gear"], n_part)),
                 "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                 "p_type": pa.array(choice(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"], n_part)),
                 "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                 "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2))},
    }
    order_date = t0 + rng.integers(0, 2404, n_ord) * day
    names["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": pa.array(order_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    }
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    names["lineitem"] = {
        "l_orderkey": pa.array(li_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 100000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(order_date[li_order] + rng.integers(1, 122, n_li) * day,
                               pa.timestamp("us")),
    }
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev) * np.timedelta64(1, "us"))
    names["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array(choice(["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < NEAR_DUP_RATE:
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    names["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(choice(["en", "en", "en", "es", "de", "fr", "zh"], n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    vecs = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    names["embeddings"] = {
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs).astype(np.int32)),
    }
    rows = {}
    for name, cols in names.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
