"""Seeded input generation for the lakehouse benchmark.

Everything the engine sees comes from here: TPC-H-shaped source
snapshots for the medallion pipeline, the SQL/CDC statement stream for
the DML workload and each dashboard client's visual order. The same
seed always gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = dt.datetime(1995, 1, 1)
DAYS = 4 * 365  # order dates span 1995-1998, inside the calendar spine

# per-batch change rates of the nightly source snapshots
CUSTOMER_CHANGE = 0.01
ORDER_CHANGE = 0.02
NEW_ORDERS = 0.005
MOVED_ORDERS = 0.002


def _ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") * 86_400_000_000
          + int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _lines(rng: np.random.Generator, orderkeys: np.ndarray,
           order_days: np.ndarray) -> dict[str, np.ndarray]:
    """1-7 line items per order, unique on (orderkey, linenumber)."""
    counts = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, counts)
    days = np.repeat(order_days, counts)
    ln = np.concatenate([np.arange(1, c + 1) for c in counts]) if len(counts) \
        else np.zeros(0, dtype=np.int64)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_orderkey": ok.astype("int64"),
        "l_partkey": rng.integers(0, 20_000, n).astype("int64"),
        "l_suppkey": rng.integers(0, 1_000, n).astype("int64"),
        "l_linenumber": ln.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": days + rng.integers(1, 122, n),
    }


class Snapshot:
    """One full source snapshot held as numpy columns, so a change batch
    is a cheap copy-and-edit of the previous one."""

    def __init__(self, cols: dict[str, dict[str, np.ndarray]]):
        self.cols = cols

    @classmethod
    def base(cls, scale: float, seed: int) -> "Snapshot":
        rng = np.random.default_rng(seed)
        n_cust = max(50, int(150_000 * scale))
        n_ord = max(500, int(1_500_000 * scale))
        customer = {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, n_cust, -999.0, 9_999.0),
            "c_mktsegment": rng.choice(np.array(SEGMENTS), n_cust),
        }
        orders = {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(np.array(STATUSES), n_ord),
            "o_totalprice": _money(rng, n_ord, 1_000.0, 400_000.0),
            "o_orderdate": rng.integers(0, DAYS - 130, n_ord),
            "o_orderpriority": rng.choice(np.array(PRIORITIES), n_ord),
        }
        lineitem = _lines(rng, orders["o_orderkey"], orders["o_orderdate"])
        return cls({"customer": customer, "orders": orders,
                    "lineitem": lineitem})

    def changed(self, rng: np.random.Generator) -> "Snapshot":
        """The next nightly snapshot: ~1% of customers and ~2% of orders
        changed (half of those also change one line's quantity), 0.5% new
        orders with their lines, and a few orders moved to another
        month."""
        c = {k: v.copy() for k, v in self.cols["customer"].items()}
        o = {k: v.copy() for k, v in self.cols["orders"].items()}
        li = {k: v.copy() for k, v in self.cols["lineitem"].items()}
        n_cust, n_ord = len(c["c_custkey"]), len(o["o_orderkey"])

        idx = rng.choice(n_cust, max(1, int(n_cust * CUSTOMER_CHANGE)),
                         replace=False)
        c["c_acctbal"][idx] = _money(rng, len(idx), -999.0, 9_999.0)
        seg = idx[: len(idx) // 3]
        c["c_mktsegment"][seg] = rng.choice(np.array(SEGMENTS), len(seg))

        idx = rng.choice(n_ord, max(2, int(n_ord * ORDER_CHANGE)),
                         replace=False)
        o["o_totalprice"][idx] = _money(rng, len(idx), 1_000.0, 400_000.0)
        o["o_orderstatus"][idx] = rng.choice(np.array(STATUSES), len(idx))
        bump = set(o["o_orderkey"][idx[: len(idx) // 2]].tolist())
        first_line = (li["l_linenumber"] == 1) & np.isin(
            li["l_orderkey"], np.fromiter(bump, dtype="int64"))
        li["l_quantity"][first_line] += 1.0

        moved = rng.choice(n_ord, max(1, int(n_ord * MOVED_ORDERS)),
                           replace=False)
        shift = rng.choice(np.array([-62, -31, 31, 62]), len(moved))
        o["o_orderdate"][moved] = np.clip(o["o_orderdate"][moved] + shift,
                                          0, DAYS - 1)

        n_new = max(1, int(n_ord * NEW_ORDERS))
        keys = np.arange(n_ord, n_ord + n_new, dtype="int64")
        new = {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_cust, n_new).astype("int64"),
            "o_orderstatus": rng.choice(np.array(STATUSES), n_new),
            "o_totalprice": _money(rng, n_new, 1_000.0, 400_000.0),
            "o_orderdate": rng.integers(0, DAYS - 130, n_new),
            "o_orderpriority": rng.choice(np.array(PRIORITIES), n_new),
        }
        new_li = _lines(rng, keys, new["o_orderdate"])
        o = {k: np.concatenate([o[k], new[k]]) for k in o}
        li = {k: np.concatenate([li[k], new_li[k]]) for k in li}
        return Snapshot({"customer": c, "orders": o, "lineitem": li})

    def tables(self) -> dict[str, pa.Table]:
        c, o, li = (self.cols[t] for t in ("customer", "orders", "lineitem"))
        customer = pa.table({
            "c_custkey": c["c_custkey"],
            "c_name": pa.array([f"Customer#{k:09d}" for k in c["c_custkey"]]),
            "c_nationkey": c["c_nationkey"],
            "c_acctbal": c["c_acctbal"],
            "c_mktsegment": c["c_mktsegment"],
        })
        orders = pa.table({**{k: v for k, v in o.items() if k != "o_orderdate"},
                           "o_orderdate": _ts(o["o_orderdate"])})
        orders = orders.select(["o_orderkey", "o_custkey", "o_orderstatus",
                                "o_totalprice", "o_orderdate",
                                "o_orderpriority"])
        lineitem = pa.table({**{k: v for k, v in li.items()
                                if k != "l_shipdate"},
                             "l_shipdate": _ts(li["l_shipdate"])})
        nation = pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    type=pa.int32()),
        })
        region = pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": list(REGIONS),
        })
        return {"region": region, "nation": nation, "customer": customer,
                "orders": orders, "lineitem": lineitem}

    def write(self, out_dir: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        for name, t in self.tables().items():
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        return out_dir


# ------------------------------------------------------------ BI visuals ----
VISUALS = ("ventes_by_region", "ventes_by_month", "commandes_by_segment",
           "top10_customers", "month_slice", "month_rollup_delta",
           "month_rollup_iceberg")


def months() -> list[int]:
    """Every yyyymm an order date can fall in."""
    out = set()
    for d in range(0, DAYS, 28):
        day = EPOCH + dt.timedelta(days=d)
        out.add(day.year * 100 + day.month)
    return sorted(out)


def visual_order(seed: int, month_list: list[int]) -> list[tuple[str, tuple]]:
    """One dashboard refresh: every visual once, in a seeded order, as
    (visual, params); the month-slice drill picks a random window of 1-3
    consecutive months."""
    rng = random.Random(f"{seed}:bi")
    out = []
    for v in VISUALS:
        params: tuple = ()
        if v == "month_slice":
            i = rng.randrange(len(month_list) - 2)
            params = (month_list[i], month_list[i + rng.randrange(3)])
        out.append((v, params))
    rng.shuffle(out)
    return out


# -------------------------------------------------------- DML statements ----
DML_TABLE = "fact.lineitem_part"
BUCKETS = 16
DML_NOW = "2024-02-01 00:00:00"
DML_T0 = "2024-01-01 00:00:00"
# the stream repeats this round of statement kinds; the seed picks the
# keys and values. A fixed round keeps every run's mix the same, so runs
# with different seeds compare. Reads are the largest group, as next to
# any table that serves queries; it also puts the median statement among
# reads of similar cost, so the median does not jump between kinds.
DML_ROUND = ("merge", "read", "update", "read", "insert", "read",
             "mor_upsert", "read", "delete", "read", "merge", "read",
             "mor_delete", "maintain")
# warm-up statements before the measured rounds (no INSERT among them:
# the first measured MERGE must find no INSERT in the log). Kept short:
# a ten-statement warm-up measured slower statements and no steadier.
DML_WARM = ("read", "merge")
DML_COLS = ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_bucket", "_tf_update_date")


def dml_base_rows(snapshot: Snapshot) -> dict[tuple[int, int], tuple]:
    """The bootstrapped table, keyed (l_orderkey, l_linenumber) ->
    (l_quantity, l_extendedprice)."""
    li = snapshot.cols["lineitem"]
    return {(int(k), int(n)): (float(q), float(p)) for k, n, q, p in zip(
        li["l_orderkey"], li["l_linenumber"], li["l_quantity"],
        li["l_extendedprice"])}


class DmlStream:
    """Seeded statement stream over the 16-bucket fact table. Keys are
    drawn from the table's current key set, which the stream tracks as it
    goes (inserts add keys, deletes remove them), so every statement
    targets rows that exist or are new on purpose. ``next(kind)`` returns
    a dict the workload executes: kind, statement text or rows."""

    def __init__(self, seed: int, rows: dict[tuple[int, int], tuple]):
        self.rng = random.Random(f"{seed}:dml")
        self.keys = sorted(rows)
        self.live = set(self.keys)
        self.next_order = max(k for k, _ in self.keys) + 1_000_000
        self.reads = 0

    def _pick(self, n: int, buckets=None) -> list[tuple[int, int]]:
        """``n`` distinct live keys, from ``buckets`` only when given."""
        out: set[tuple[int, int]] = set()
        while len(out) < n:
            k = self.keys[self.rng.randrange(len(self.keys))]
            if k in self.live and (buckets is None or k[0] % BUCKETS in buckets):
                out.add(k)
        return sorted(out)

    def _new_keys(self, n: int, buckets=None) -> list[tuple[int, int]]:
        """``n`` keys of new orders, in ``buckets`` when given."""
        out = []
        while len(out) < n:
            if buckets is None or self.next_order % BUCKETS in buckets:
                out.append((self.next_order, 1))
            self.next_order += 1
        return out

    def _buckets(self) -> set[int]:
        """Two buckets: a keyed change batch is partition-local."""
        return set(self.rng.sample(range(BUCKETS), 2))

    def _add(self, keys):
        for k in keys:
            if k not in self.live:
                self.live.add(k)
                self.keys.append(k)

    def _row(self, key, qty):
        price = round(qty * self.rng.uniform(900.0, 2_000.0), 2)
        return (key[0], key[1], qty, price, key[0] % BUCKETS)

    def next(self, kind: str) -> dict:
        if kind == "maintain":
            return {"kind": "maintain"}
        t = DML_TABLE
        if kind == "merge":
            buckets = self._buckets()
            old = self._pick(8, buckets)
            new = self._new_keys(2, buckets)
            rows = [self._row(k, float(self.rng.randint(1, 60)))
                    for k in old + new]
            self._add(new)
            text = (
                f"MERGE INTO {t} AS tgt USING bench_merge_src AS src "
                "ON tgt.l_bucket = src.l_bucket "
                "AND tgt.l_orderkey = src.l_orderkey "
                "AND tgt.l_linenumber = src.l_linenumber "
                "WHEN MATCHED THEN UPDATE SET "
                "tgt.l_quantity = src.l_quantity, "
                "tgt._tf_update_date = current_timestamp() "
                "WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, "
                "l_quantity, l_extendedprice, l_bucket, _tf_update_date) "
                "VALUES (src.l_orderkey, src.l_linenumber, src.l_quantity, "
                "src.l_extendedprice, src.l_bucket, current_timestamp())")
            return {"kind": kind, "text": text, "rows": rows}
        if kind == "update":
            (k, _), = self._pick(1)
            return {"kind": kind, "order": k, "text": (
                f"UPDATE {t} SET l_quantity = l_quantity + 1, "
                f"_tf_update_date = current_timestamp() "
                f"WHERE l_orderkey = {k}")}
        if kind == "delete":
            (k, _), = self._pick(1)
            for key in [x for x in self.live if x[0] == k]:
                self.live.discard(key)
            return {"kind": kind, "order": k,
                    "text": f"DELETE FROM {t} WHERE l_orderkey = {k}"}
        if kind == "insert":
            new = self._new_keys(3)
            self._add(new)
            rows = [self._row(k, float(self.rng.randint(1, 60))) for k in new]
            vals = ", ".join(
                f"({a}, {b}, {q!r}, {p!r}, {bk}, TIMESTAMP '{DML_NOW}')"
                for a, b, q, p, bk in rows)
            return {"kind": kind, "rows": rows, "text": (
                f"INSERT INTO {t} ({', '.join(DML_COLS)}) VALUES {vals}")}
        if kind == "read":
            self.reads += 1
            if self.reads % 2:
                (k, _), = self._pick(1)
                return {"kind": kind, "shape": "point", "lo": k, "hi": k,
                        "text": (
                            f"SELECT l_orderkey, l_linenumber, l_quantity "
                            f"FROM {t} WHERE l_orderkey = {k}")}
            (k, _), = self._pick(1)
            return {"kind": kind, "shape": "range", "lo": k, "hi": k + 200,
                    "text": (
                        f"SELECT count(*) AS n, sum(l_quantity) AS q FROM {t} "
                        f"WHERE l_orderkey BETWEEN {k} AND {k + 200}")}
        # a CDC batch applied merge-on-read: upserts or deletes by key
        if kind == "mor_upsert":
            buckets = self._buckets()
            old = self._pick(5, buckets)
            new = self._new_keys(1, buckets)
            rows = [self._row(k, float(self.rng.randint(1, 60)))
                    for k in old + new]
            self._add(new)
            return {"kind": "mor_apply", "op": "upsert", "rows": rows}
        keys = self._pick(3)
        for k in keys:
            self.live.discard(k)
        return {"kind": "mor_apply", "op": "delete", "keys": keys}
