"""Output checks that do not use the pipeline's own read path.

Every check reads the lake's files directly with DuckDB (and parses the
pointer and manifest frames itself) and compares them with answers
computed from the generated inputs. A check returns ``(name, ok,
detail)``.
"""

from __future__ import annotations

import datetime as dt
import glob
import importlib.util
import json
import os
import zlib

import duckdb

LINEITEM_COLS = [
    "L_ORDERKEY", "L_PARTKEY", "L_SUPPKEY", "L_LINENUMBER", "L_QUANTITY",
    "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG", "L_LINESTATUS",
    "L_SHIPDATE",
]
COLS = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c == "L_SHIPDATE" else c
                 for c in LINEITEM_COLS)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def read_frame(path: str) -> str | None:
    """Payload of a lake pointer/manifest file (``#ptr1 <len> <crc32>``
    header line, then the payload); ``None`` when absent or torn."""
    if not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        head, _, payload = fh.read().partition(b"\n")
    parts = head.split()
    if len(parts) != 3 or parts[0] != b"#ptr1":
        return None
    if len(payload) != int(parts[1]) or zlib.crc32(payload) != int(parts[2], 16):
        return None
    return payload.decode()


def parquet_files(directory: str) -> list[str]:
    return sorted(glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True))


def _sql_list(paths) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _diff(con, expected_sql: str, actual_sql: str) -> tuple[int, int, int, int]:
    """(rows missing from actual, rows extra in actual, n expected, n actual)."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW expected AS {expected_sql}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW actual AS {actual_sql}")
    return con.execute("""
        SELECT (SELECT count(*) FROM (FROM expected EXCEPT ALL FROM actual)),
               (SELECT count(*) FROM (FROM actual EXCEPT ALL FROM expected)),
               (SELECT count(*) FROM expected), (SELECT count(*) FROM actual)
    """).fetchone()


def _in_windows(windows, days: int) -> str:
    """SQL predicate: L_SHIPDATE falls in one of the ``windows`` (ISO
    start dates), each ``days`` long."""
    return "(" + " OR ".join(
        f"(L_SHIPDATE >= TIMESTAMP '{w}' AND L_SHIPDATE < TIMESTAMP '{w}' + INTERVAL {days} DAY)"
        for w in sorted(set(windows))) + ")" if windows else "FALSE"


def check_trusted(trusted_dir: str, base: str, source: str, windows, days: int,
                  key_cols) -> list:
    """TRUSTED holds the base rows outside the re-synced ``windows`` and
    the source's rows inside them, and ``sk = md5(concat_ws('-', keys))``
    is unique."""
    version = read_frame(os.path.join(trusted_dir, "_CURRENT"))
    if version is None:
        return [("trusted.pointer", False, "no readable _CURRENT pointer")]
    files = parquet_files(os.path.join(trusted_dir, version.strip()))
    if not files:
        return [("trusted.files", False, f"no parquet files under {version}")]
    con = connect()
    inside = _in_windows(windows, days)
    expected = (f"SELECT {COLS} FROM read_parquet('{base}') WHERE NOT {inside} "
                f"UNION ALL SELECT {COLS} FROM read_parquet('{source}') WHERE {inside}")
    actual = f"SELECT {COLS} FROM read_parquet({_sql_list(files)})"
    missing, extra, n_exp, n_act = _diff(con, expected, actual)
    sk_expr = "md5(concat_ws('-', " + ", ".join(f"CAST({k} AS VARCHAR)" for k in key_cols) + "))"
    dup_sk, bad_sk = con.execute(
        f"SELECT count(*) - count(DISTINCT sk), count(*) FILTER (WHERE sk IS DISTINCT FROM {sk_expr}) "
        f"FROM read_parquet({_sql_list(files)})"
    ).fetchone()
    con.close()
    return [
        ("trusted.rows", missing == 0 and extra == 0 and n_exp == n_act,
         f"expected {n_exp} rows, TRUSTED {version.strip()} has {n_act}; "
         f"{missing} missing, {extra} unexpected"),
        ("trusted.sk", dup_sk == 0 and bad_sk == 0,
         f"{dup_sk} duplicate sk, {bad_sk} sk != md5(concat_ws('-', keys))"),
    ]


def check_work_extract(work_dir: str, source: str, window: str, days: int, planned) -> list:
    """WORK holds exactly the source rows of the last batch's window, and
    the slice manifest lists every planned slice, which tile the window."""
    files = parquet_files(work_dir)
    con = connect()
    expected = f"SELECT {COLS} FROM read_parquet('{source}') WHERE {_in_windows([window], days)}"
    actual = (f"SELECT {COLS} FROM read_parquet({_sql_list(files)})" if files
              else f"{expected} LIMIT 0")
    missing, extra, n_exp, n_act = _diff(con, expected, actual)
    con.close()
    manifest = read_frame(os.path.join(work_dir, "_SLICES.json"))
    recorded = {tuple(e) for e in json.loads(manifest)} if manifest else set()
    want = {(str(iv.start), str(iv.end)) for iv in planned}
    end = str(dt.date.fromisoformat(window) + dt.timedelta(days=days))
    tiled = bool(planned) and str(planned[0].start) == window and str(planned[-1].end) == end \
        and all(a.end == b.start for a, b in zip(planned, planned[1:]))
    return [
        ("work.rows", missing == 0 and extra == 0 and n_exp == n_act,
         f"source window has {n_exp} rows, WORK {n_act}; {missing} missing, {extra} unexpected"),
        ("work.manifest", recorded == want and tiled,
         f"{len(want)} slices planned, {len(recorded & want)} in manifest, "
         f"{len(recorded - want)} unplanned; window tiled: {tiled}"),
    ]


def _oracle_check_module(root: str):
    """``scripts/oracle_check.py`` — the catalog's canonical value hash."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_catalog(root: str, sf_dir: str, results: dict, oracles: dict) -> list:
    """Each query's Spark result matches its registered DuckDB oracle
    (row count, column names and order-insensitive value hash)."""
    fingerprint = _oracle_check_module(root).frame_fingerprint
    con = connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = []
    for name, pdf in results.items():
        ddf = con.execute(oracles[name]).df()
        (sh, sn), (dh, dn) = fingerprint(pdf), fingerprint(ddf)
        same_cols = sorted(pdf.columns) == sorted(ddf.columns)
        out.append((f"query.{name}", same_cols and sn == dn and sh == dh,
                    f"spark {sn} rows vs oracle {dn}; columns match: {same_cols}; "
                    f"hash match: {sh == dh}"))
    con.close()
    return out
