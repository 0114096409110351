"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator``: the
same seed gives the same lines and tables. The engine only ever sees the
files written from these values.

Sensor lines (the streaming workload) have six comma-separated fields::

    $<sensor>,<type>,<id>,<event_us>,<due_ms>,<raw>

``raw`` is an integer the path scales to a reading (``raw*0.01-20``).
A share of lines is malformed (no ``$`` or cut to three fields) and must
take the path's filter reject route. Keys are (sensor, type) pairs drawn
with a Zipf-like skew; event times are unique and increase from file to
file but are shuffled inside each file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TYPES = ("temp", "cond", "press", "sal")
EVENT_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def reading(raw):
    """The value the path's math step computes from a line's raw field."""
    return raw * 0.01 - 20


@dataclass
class LineBlock:
    """One file's worth of lines plus the facts the checks need.

    Arrays are in file order; ``good`` marks the lines that must pass the
    filter. ``key`` indexes ``SensorStream.keys``."""

    prefix: list[str]  # line text before the due field
    suffix: list[str]  # line text after the due field ('' for cut lines)
    due_us: np.ndarray  # due offset of each line inside its file's tick
    ids: np.ndarray
    key: np.ndarray
    event_us: np.ndarray
    raw: np.ndarray
    good: np.ndarray

    def text(self, due_base_ms: int = 0) -> str:
        """File contents; ``due_base_ms`` is the epoch ms the tick starts
        at (0 for a replayed backlog, whose lines carry no due stamp)."""
        if due_base_ms:
            due = (due_base_ms + self.due_us // 1000).tolist()
        else:
            due = [0] * len(self.prefix)
        return "".join(
            f"{p}{d}{s}\n" if s else f"{p}\n" for p, d, s in zip(self.prefix, due, self.suffix)
        )


@dataclass
class SensorStream:
    """Seeded source of sensor lines with a running id and event clock."""

    rng: np.random.Generator
    n_sensors: int = 50
    skew: float = 0.8  # Zipf exponent over the (sensor, type) keys
    bad_share: float = 0.02
    next_id: int = 0
    next_event_us: int = EVENT_EPOCH_US
    keys: list[tuple[str, str]] = field(init=False)
    weights: np.ndarray = field(init=False)

    def __post_init__(self):
        self.keys = [(f"s{s:03d}", t) for s in range(self.n_sensors) for t in TYPES]
        w = 1.0 / np.arange(1, len(self.keys) + 1) ** self.skew
        self.weights = w / w.sum()

    def block(self, n: int, span_us: int) -> LineBlock:
        """``n`` lines whose event times fill the next ``span_us`` µs.
        ``span_us`` must be at least ``n`` so event times stay unique."""
        if span_us < n:
            raise ValueError("span_us must be >= n for unique event times")
        rng = self.rng
        ids = np.arange(self.next_id, self.next_id + n)
        offs = (np.arange(n, dtype=np.int64) * span_us) // n
        event_us = self.next_event_us + offs
        key = rng.choice(len(self.keys), size=n, p=self.weights)
        raw = rng.integers(0, 5000, size=n)
        bad = rng.random(n) < self.bad_share
        cut = bad & (rng.random(n) < 0.5)
        order = rng.permutation(n)  # out-of-order within the file
        self.next_id += n
        self.next_event_us += span_us
        prefix, suffix = [], []
        for i in order.tolist():
            s, t = self.keys[key[i]]
            head = "" if bad[i] and not cut[i] else "$"
            if cut[i]:
                prefix.append(f"${s},{t},{ids[i]}")
                suffix.append("")
            else:
                prefix.append(f"{head}{s},{t},{ids[i]},{event_us[i]},")
                suffix.append(f",{raw[i]}")
        return LineBlock(
            prefix=prefix,
            suffix=suffix,
            due_us=offs[order],
            ids=ids[order],
            key=key[order],
            event_us=event_us[order],
            raw=raw[order],
            good=~bad[order],
        )


# ----------------------------------------------------------- analytics tables

_ADJ = ("small", "large", "red", "blue", "steel", "brass", "green", "light")
_NOUN = ("ring", "widget", "bolt", "gear", "valve", "pipe", "panel", "spring")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_DAY_US = 86_400_000_000
_D1995_US = 788_918_400_000_000  # 1995-01-01
_D2024_US = 1_704_067_200_000_000  # 2024-01-01


def _money(rng, lo, hi, n):
    """Two-decimal amounts stored as doubles, as in the sf test tables."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def analytics_tables(rng: np.random.Generator, scale: float = 1.0) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus events, documents and embeddings, with the
    column names and types the queries read. ``scale=1`` matches the row
    counts of the repo's sf0.01 test data."""
    n_cust, n_part, n_supp = int(1500 * scale), int(2000 * scale), max(10, int(100 * scale))
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts(_D1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(_D1995_US + rng.integers(1, 2500, n_li) * _DAY_US),
        }
    )
    # unique, increasing event times over January 2024 (µs resolution)
    gaps = rng.integers(1, 2 * 30 * _DAY_US // max(n_ev, 1), n_ev)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(_D2024_US + np.cumsum(gaps)),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
            "value": _money(rng, 0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
