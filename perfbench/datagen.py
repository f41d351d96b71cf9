"""Seeded input generation for the benchmark.

The benchmark reads nothing outside its checkout, so it synthesises its own
tables. They follow the shape of the repository's test tables (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``): the same
columns, types, parquet timestamp encoding, row counts per scale factor and
value distributions. The same seed always gives the same tables and feed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at each scale factor the repository's test tables come in
ROWS = {
    0.1: {"region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
          "part": 20_000, "orders": 150_000, "lineitem": 600_000,
          "events": 100_000, "documents": 5_000, "embeddings": 2_000},
    0.01: {"region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
           "part": 2_000, "orders": 15_000, "lineitem": 60_000,
           "events": 10_000, "documents": 500, "embeddings": 500},
}

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 1_500
WORDS = np.array("a agg batch big column customer data fast filter group hash "
                 "join key line merge order part query row scan slow small "
                 "sort spark stream table the value vector window".split())
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(seed: int, n: int = ROWS[0.1]["events"], first_id: int = 0) -> pa.Table:
    """``events`` rows ``first_id .. first_id + n - 1``: increasing event
    time over 30 days, 1,500 users, exponential ``value`` with mean 50."""
    rng = np.random.default_rng([seed, first_id])
    gaps = rng.exponential(30 * _DAY_US / n, n)
    start = _EPOCH_2024_US + first_id * (30 * _DAY_US // n)
    ts = (start + np.cumsum(gaps)).astype("int64").astype("datetime64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype="int64")),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, as crawled corpora have
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype="int32")),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table the registry queries read, at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = ROWS[sf]
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    keys = lambda k: pa.array(np.arange(n[k], dtype="int64"))  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": i32(np.arange(n["region"])),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(n["nation"])),
            "n_name": [f"NATION_{i}" for i in range(n["nation"])],
            "n_regionkey": i32(np.arange(n["nation"]) % n["region"])}),
        "customer": pa.table({
            "c_custkey": keys("customer"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n["customer"])]}),
        "supplier": pa.table({
            "s_suppkey": keys("supplier"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": keys("part"),
            "p_name": [f"{a} {b}" for a, b in zip(
                np.array(["blue", "hot", "large", "small", "red", "green",
                          "cold", "shiny"])[rng.integers(0, 8, n["part"])],
                np.array(["ring", "bolt", "nut", "gear", "pipe", "valve",
                          "screw", "spring"])[rng.integers(0, 8, n["part"])])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY",
                                "STANDARD", "PROMO"])[rng.integers(0, 6, n["part"])],
            "p_size": i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": keys("orders"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype="int64"),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n["orders"])]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"], dtype="int64"),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"], dtype="int64"),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"], dtype="int64"),
            "l_linenumber": i32(rng.integers(1, 8, n["lineitem"])),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-11-04")}),
        "events": events(seed, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def write_tables(seed: int, sf: float, sf_dir: str) -> None:
    """Write :func:`tables` as ``<sf_dir>/<name>.parquet``, one row group each."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# the topic feed: events as Kafka records, with planted malformed records
# ---------------------------------------------------------------------------

#: value schema the stream workloads decode the JSON records with
EVENT_DDL = ("event_id bigint, ts bigint, user_id bigint, event_type string, "
             "value double, props string")


@dataclass
class Delta:
    """One appended delta: the records in send order and, for checking,
    the well-formed rows among them."""
    records: list[tuple[str, bytes, int]]
    malformed: int
    event_id: np.ndarray
    user_id: np.ndarray
    value: np.ndarray


class EventFeed:
    """Seed-shuffled ``events`` rows as JSON records keyed by ``user_id``.

    Each call to :meth:`delta` returns the next ``size`` well-formed records
    plus a seeded number of malformed ones planted at seeded positions. When
    the sf0.1 table is used up, the next 100,000 rows are generated with
    fresh ``event_id`` values, so a run never repeats an event.
    """

    def __init__(self, seed: int, size: int, malformed_rate: float = 0.01):
        self.seed, self.size, self.malformed_rate = seed, size, malformed_rate
        self._rng = np.random.default_rng([seed, 7])
        self._pool: pa.Table | None = None
        self._next_id = 0

    def _refill(self) -> None:
        t = events(self.seed, first_id=self._next_id)
        self._next_id += t.num_rows
        t = t.take(pa.array(self._rng.permutation(t.num_rows)))
        self._pool = t if self._pool is None else pa.concat_tables([self._pool, t])

    def delta(self) -> Delta:
        while self._pool is None or self._pool.num_rows < self.size:
            self._refill()
        good, self._pool = (self._pool.slice(0, self.size),
                            self._pool.slice(self.size))
        cols = good.to_pydict()
        ts_ms = (good.column("ts").cast(pa.int64()).to_numpy() // 1000).tolist()
        records = [(str(u), json.dumps(
            {"event_id": e, "ts": ms, "user_id": u, "event_type": et,
             "value": v, "props": p}).encode(), ms)
            for e, ms, u, et, v, p in zip(cols["event_id"], ts_ms,
                                          cols["user_id"], cols["event_type"],
                                          cols["value"], cols["props"])]
        n_bad = int(self._rng.binomial(self.size, self.malformed_rate))
        out = list(records)
        for _ in range(n_bad):
            key, value, ts = records[int(self._rng.integers(0, len(records)))]
            # a record cut short in transit, or bytes that are not JSON
            bad = value[:int(self._rng.integers(1, len(value) - 1))] \
                if self._rng.random() < 0.5 else b"\xff\xfe\x00not-json"
            out.insert(int(self._rng.integers(0, len(out) + 1)), (key, bad, ts))
        return Delta(out, n_bad, good.column("event_id").to_numpy(),
                     good.column("user_id").to_numpy(),
                     good.column("value").to_numpy())
