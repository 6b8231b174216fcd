"""Seeded synthetic inputs in the shape of the project's parquet fixtures.

The benchmark never reads fixtures from outside its checkout: every run
generates the ten tables (TPC-H-ish star schema, ``events``,
``documents``, ``embeddings``) from its ``--seed`` at the requested scale
factor. Column names, types and value domains follow FIXTURES.md; each
table is written as ONE parquet file with ONE row group, like the
fixtures, so the scan shape (one busy task per large-table scan) is the
one the registry queries are tuned against.

Also generates the per-cycle source deltas of the ``gateway_sync``
workload (new ``events`` rows, updated ``orders`` rows).
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join vector customer"
).split()

_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_SHIP_DAY0 = np.datetime64("1995-01-02", "us")
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (fixture proportions)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _doc_text(rng, n_docs: int) -> list[str]:
    lengths = rng.integers(8, 100, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # a few exact duplicates, as in the fixtures (dedup has work to do)
    for i in rng.choice(n_docs, size=max(1, n_docs // 600), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    return texts


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten source tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    nc, ns, np_, no = (size[t] for t in ("customer", "supplier", "part", "orders"))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), np_)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), np_)]
    tables["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ORDER_DAY0
        + rng.integers(0, 2404, no) * np.timedelta64(_DAY_US, "us"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = size["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": _SHIP_DAY0
        + rng.integers(0, 2499, nl) * np.timedelta64(_DAY_US, "us"),
    })
    tables["events"] = _events(rng, 0, size["events"], size["customer"] // 10, 0)
    nd = size["documents"]
    texts = _doc_text(rng, nd)
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    ne = size["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def generate_in_child(out_dir: str, sf: float, seed: int) -> None:
    """:func:`generate` in a child process, waited for, so the tables it
    builds in memory never count in the caller's peak RSS."""
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), out_dir, repr(sf), str(seed)],
        check=True, timeout=600,
    )


def _events(rng, first_id: int, n: int, n_users: int, day0: int) -> pa.Table:
    """``n`` events with ids from ``first_id``, ``ts`` ascending over the
    30 days starting ``day0`` days after 2024-01-01."""
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n))
    ts = _EVENT_T0 + (day0 * _DAY_US + offsets) * np.timedelta64(1, "us")
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_users), n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


class SourceDeltas:
    """The ``gateway_sync`` source: a scratch copy of the generated tables
    in directory layout (``<table>/part-*.parquet``), changed once per
    sync cycle by :meth:`apply`.

    Each cycle appends ``events_per_cycle`` new events — ids above every
    existing id and ``ts`` after the current watermark, so the table takes
    the watermark-merge path — and rewrites ``orders`` with
    ``orders_per_cycle`` rows repriced. ``orders`` has no ``ts`` column,
    so it takes the full-refresh path.
    """

    def __init__(self, src_dir: str, out_dir: str, seed: int, sf: float) -> None:
        self.dir = out_dir
        self.rng = np.random.default_rng(seed + 1)
        sizes = table_sizes(sf)
        self.n_users = sizes["customer"] // 10
        self.events_per_cycle = max(50, sizes["events"] // 100)
        self.orders_per_cycle = max(10, sizes["orders"] // 1000)
        self.next_event = sizes["events"]
        self.cycle = 0
        for name in os.listdir(src_dir):
            table = name.removesuffix(".parquet")
            os.makedirs(os.path.join(out_dir, table))
            os.link(
                os.path.join(src_dir, name),
                os.path.join(out_dir, table, "part-00000.parquet"),
            )
        self._orders = pq.read_table(os.path.join(src_dir, "orders.parquet"))

    def apply(self) -> dict[str, int]:
        """Write the next cycle's changes; returns rows changed per table."""
        self.cycle += 1
        events = _events(
            self.rng, self.next_event, self.events_per_cycle, self.n_users,
            30 * self.cycle,
        )
        self.next_event += events.num_rows
        _write(events, os.path.join(
            self.dir, "events", f"part-{self.cycle:05d}.parquet"))
        # reprice orders whose keys the events join against (user ids), so
        # a reader that mixes versions of the two tables sees a pair of
        # answers no single published version has
        keys = self.rng.choice(
            min(self.n_users, self._orders.num_rows),
            size=min(self.orders_per_cycle, self.n_users), replace=False,
        )
        price = self._orders.column("o_totalprice").to_numpy().copy()
        price[keys] = np.round(price[keys] + 1.0 + self.cycle, 2)
        self._orders = self._orders.set_column(
            self._orders.schema.get_field_index("o_totalprice"),
            "o_totalprice", pa.array(price),
        )
        orders_dir = os.path.join(self.dir, "orders")
        tmp = os.path.join(orders_dir, ".next.parquet")
        _write(self._orders, tmp)
        for old in os.listdir(orders_dir):
            if old.endswith(".parquet") and not old.startswith("."):
                os.unlink(os.path.join(orders_dir, old))
        os.replace(tmp, os.path.join(orders_dir, f"part-{self.cycle:05d}.parquet"))
        return {"events": events.num_rows, "orders": len(keys)}


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
