"""The resync inputs: every batch carries changes TRUSTED does not hold yet."""

from __future__ import annotations

import duckdb

import gen


def test_every_batch_day_changes(tmp_path):
    info = gen.resync_inputs(str(tmp_path), seed=5, base_rows=40_000, update_frac=0.3,
                             insert_frac=0.1, n_batches=12)
    days = info["windows"]
    assert len(set(days)) == len(days) == 12
    base, source = tmp_path / "base.parquet", tmp_path / "source.parquet"
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for day in days:
        where = f"CAST(L_SHIPDATE AS DATE) = DATE '{day}'"
        updated, inserted, kept = con.execute(f"""
            WITH b AS (SELECT * FROM read_parquet('{base}') WHERE {where}),
                 s AS (SELECT * FROM read_parquet('{source}') WHERE {where})
            SELECT count(*) FILTER (WHERE b.L_ORDERKEY IS NOT NULL AND s <> b),
                   count(*) FILTER (WHERE b.L_ORDERKEY IS NULL),
                   count(*) FILTER (WHERE s = b)
            FROM s LEFT JOIN b USING (L_ORDERKEY, L_LINENUMBER)""").fetchone()
        assert updated > 0 and inserted > 0 and kept > 0, (day, updated, inserted, kept)
        # Every base row of the day is still at the source (no deletes).
        missing = con.execute(f"""
            SELECT count(*) FROM read_parquet('{base}') b WHERE {where} AND NOT EXISTS (
                SELECT 1 FROM read_parquet('{source}') s
                WHERE s.L_ORDERKEY = b.L_ORDERKEY AND s.L_LINENUMBER = b.L_LINENUMBER)""").fetchone()[0]
        assert missing == 0
    con.close()
