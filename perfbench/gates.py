"""Output gates, run outside every timed region.

- ``sync_mismatches``: the synced store against ``pipeline/golden.replay``
  (the independent row-loop oracle) over the same time bounds.
- ``oracle_mismatch``: one query's collected rows against its DuckDB twin
  in ``ORACLES``, compared the way ``tests/test_oracle_parity.py`` does:
  row count, column names and order-insensitive values.
"""

from __future__ import annotations

import decimal
import json
import math
import os
from datetime import datetime

TABLE_COLS = {
    "wallet": ["id", "address", "address_type"],
    "collection": ["id", "policy_id"],
    "asset": ["id", "collection_id", "hash", "name", "fingerprint", "current_wallet_id"],
    "asset_tx": ["id", "asset_id", "wallet_id", "quantity", "tx_hash", "tx_time"],
    "asset_mint_tx": [
        "id", "asset_id", "wallet_id", "quantity", "tx_hash", "tx_time",
        "image", "metadata", "files",
    ],
    "asset_ext": ["id", "asset_id", "latest_mint_tx_id", "latest_tx_id"],
}
FACTS = ("asset_tx", "asset_mint_tx")
JSON_COLS = {"metadata", "files"}


def _sync_cell(col: str, v):
    if v is None:
        return None
    if col in JSON_COLS and isinstance(v, str):
        return json.dumps(json.loads(v), sort_keys=True)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    return v


def sync_mismatches(spark, store, source_dir: str, lo: datetime, hi: datetime) -> list[str]:
    """Tables of ``store`` that differ from the golden replay of ``(lo, hi]``."""
    from pantasia_db_sync_spark.pipeline import golden

    want = golden.replay(source_dir, lo, hi)
    bad = []
    for table, cols in TABLE_COLS.items():
        df = store.read_facts(spark, table) if table in FACTS else store.read(spark, table)
        if df is None:
            bad.append(f"{table}: missing")
            continue
        rows = [tuple(_sync_cell(c, r[c]) for c in cols) for r in df.select(*cols).collect()]
        got = set(rows)
        exp = {tuple(_sync_cell(c, v) for c, v in zip(cols, row)) for row in want[table]}
        if len(got) != len(rows) or got != exp:
            bad.append(
                f"{table}: {len(rows) - len(got)} duplicate, "
                f"{len(exp - got)} missing, {len(got - exp)} extra rows"
            )
    return bad


def duck(tables_dir: str):
    import duckdb

    from pantasia_db_sync_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t)}.parquet'")
    return con


def _oracle_cell(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _norm(cols: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_oracle_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def oracle_mismatch(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``(cols, rows)`` equal the oracle's result, else the reason."""
    res = con.execute(sql)
    d_cols, d_rows = _norm([d[0] for d in res.description], [tuple(r) for r in res.fetchall()])
    s_cols, s_rows = _norm(cols, rows)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    return f"{len(diff)} rows differ, first {diff[0]}" if diff else None
