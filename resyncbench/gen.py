"""Seeded input generator for the resync benchmark.

Every input a workload reads is made here from ``--seed`` alone, with
numpy and pyarrow (no Spark), so the program under test receives only
generated files. The catalog tables follow the TPC-H-like schema the
package's catalog reads (same column names, Arrow types and
naive-microsecond timestamps as its fixture files), with one deliberate
difference: line numbers are nested per order, so ``(l_orderkey,
l_linenumber)`` is a unique business key and the TRUSTED merge has a
well-defined answer. The resync tables take the source database's shape
(:func:`as_source_table`).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04, the fixture's l_shipdate span
ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the fixture's o_orderdate span
EVENTS_FIRST = dt.datetime(2024, 1, 1)

# Business key of lineitem as the source database names it.
LINEITEM_KEY = ["L_ORDERKEY", "L_LINENUMBER"]
# Orders inserted at the source get keys far above any generated one.
INSERT_KEY_BASE = 1_000_000_000

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()


def _days(first: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(first.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, n) / 100.0


def write(table: pa.Table, path: str) -> dict:
    """Write one parquet file; returns its rows and bytes."""
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def orders(rng, n: int) -> pa.Table:
    n_cust = max(n // 10, 1)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_cents(rng, 100191, 49999318, n)),
        "o_orderdate": _days(ORDER_FIRST, rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def lineitem(rng, order_keys: np.ndarray, n_part: int, n_supp: int) -> pa.Table:
    """1-7 lines per order, numbered 1..k within the order."""
    k = rng.integers(1, 8, len(order_keys))
    keys = np.repeat(order_keys, k)
    starts = np.repeat(np.cumsum(k) - k, k)
    linenumber = np.arange(len(keys)) - starts + 1
    return _lines(rng, keys, linenumber.astype(np.int32), n_part, n_supp,
                  rng.integers(0, SHIP_DAYS, len(keys)))


def _lines(rng, keys, linenumber, n_part, n_supp, ship_offsets) -> pa.Table:
    n = len(keys)
    return pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 90068, 10499991, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(SHIP_FIRST, np.asarray(ship_offsets)),
    })


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents; about 5% are near-copies of an earlier one
    and 1% exact copies, so the dedup operators have work to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            words = texts[rng.integers(0, i)].split()
            if r >= 0.01:
                for j in rng.integers(0, len(words), 2):
                    words[j] = _WORDS[rng.integers(0, len(_WORDS))]
        else:
            words = list(rng.choice(_WORDS, rng.integers(8, 90)))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, n: int, n_users: int) -> pa.Table:
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    base = np.datetime64(EVENTS_FIRST.isoformat(), "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


# ---------------------------------------------------------------------------
# Per-workload input sets
# ---------------------------------------------------------------------------

def catalog_inputs(out: str, seed: int, sf: float) -> dict:
    """The tables the ``catalog_hot`` queries read, at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_orders = max(int(150_000 * sf), 50)
    o = orders(rng, n_orders)
    li = lineitem(rng, np.arange(n_orders), max(int(200_000 * sf), 20),
                  max(int(10_000 * sf), 10))
    tables = {
        "orders": o,
        "lineitem": li,
        "documents": documents(rng, max(int(50_000 * sf), 40)),
        "events": events(rng, max(int(1_000_000 * sf), 200), max(int(15_000 * sf), 15)),
    }
    return {name: write(t, os.path.join(out, f"{name}.parquet")) for name, t in tables.items()}


def as_source_table(table: pa.Table) -> pa.Table:
    """The shape a table has in the source database: upper-case column
    names (Derby folds unquoted identifiers) and UTC timestamps, so the
    lake's copy and a JDBC extract carry the same schema."""
    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type):
            col = col.cast(pa.timestamp("us", tz="UTC"))
        cols.append(col)
    return pa.table(cols, names=[n.upper() for n in table.column_names])


def resync_inputs(out: str, seed: int, base_rows: int, update_frac: float,
                  insert_frac: float, n_batches: int) -> dict:
    """Base ``lineitem`` (the lake's copy, preloaded into TRUSTED), the
    source database's current state and the days the resync batches
    re-extract, one day per batch.

    Each batch day is a different ship date, so every batch carries
    changes that TRUSTED does not hold yet: on that day the source holds
    every base row, ``update_frac`` of them re-priced (updates to existing
    keys), plus ``insert_frac`` times the day's row count of new order
    lines (new keys). Rows are spread evenly over the ship dates, so one
    batch is one day's share (1/2498) of the table."""
    rng = np.random.default_rng([seed, 2])
    base = lineitem(rng, np.arange(max(base_rows // 4, 1)), 20_000, 1_000)
    # Every day ships the same number of lines (to within one), so every
    # batch, whichever day the seed picks, holds the same amount of work.
    ship = rng.permutation(np.arange(base.num_rows) % SHIP_DAYS)
    base = base.set_column(base.schema.get_field_index("l_shipdate"), "l_shipdate",
                           _days(SHIP_FIRST, ship))
    days = rng.choice(SHIP_DAYS, n_batches, replace=False)
    parts = []
    next_key = INSERT_KEY_BASE
    for day in days:
        rows = np.flatnonzero(ship == day)
        changed = rng.random(len(rows)) < update_frac
        keep = base.take(pa.array(rows[~changed]))
        old = base.take(pa.array(rows[changed]))
        fresh = _lines(rng, old.column("l_orderkey").to_numpy(),
                       old.column("l_linenumber").to_numpy(), 20_000, 1_000, ship[rows[changed]])
        n_new = max(round(insert_frac * len(rows)), 1)
        new = _lines(rng, next_key + np.arange(n_new), np.ones(n_new, np.int32),
                     20_000, 1_000, np.full(n_new, day))
        next_key += n_new
        parts += [keep, fresh, new]
    info = {
        "base": write(as_source_table(base), os.path.join(out, "base.parquet")),
        "source": write(as_source_table(pa.concat_tables(parts)),
                        os.path.join(out, "source.parquet")),
    }
    info["windows"] = [(SHIP_FIRST + dt.timedelta(days=int(d))).isoformat() for d in days]
    return info
