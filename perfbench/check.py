"""Output checks, run outside the timed region.

Every query must match its DuckDB oracle the way the engine's own oracle
tests compare: same column names, same dtype kind per column, the same
(null, NaN) counts per float column, the same row count and the same rows
in any order.

The oracles run in a separate process, so DuckDB's memory never counts in
the measured process:

    python3 perfbench/check.py LAKE_DIR JOBS_JSON

where JOBS_JSON maps each query name to ``[oracle_sql, output_path]``; each
result is written to its path as an Arrow IPC file.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import sys
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_KIND = {"i": "i", "u": "i", "f": "f", "b": "b", "O": "O", "M": "M", "m": "m"}


def oracle_tables(lake: str, sqls: dict[str, str]) -> dict[str, pa.Table]:
    """Run each oracle SQL in DuckDB over the lake's parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
        return {name: con.execute(sql).arrow() for name, sql in sqls.items()}
    finally:
        con.close()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def _nan_profile(tbl: pa.Table) -> dict[str, tuple[int, int]]:
    prof = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_floating(col.type):
            prof[name] = (col.null_count, pc.sum(pc.is_nan(col)).as_py() or 0)
    return prof


def compare(got: pa.Table, want: pa.Table) -> str | None:
    """None when ``got`` matches the oracle result ``want``, else the first
    difference found."""
    gp, wp = _nan_profile(got), _nan_profile(want)
    shared = set(gp) & set(wp)
    if {c: gp[c] for c in shared} != {c: wp[c] for c in shared}:
        return f"float (null, NaN) profile {gp} != {wp}"
    g, w = got.to_pandas(), want.to_pandas()
    if sorted(g.columns) != sorted(w.columns):
        return f"columns {sorted(g.columns)} != {sorted(w.columns)}"
    for c in g.columns:
        gk, wk = _KIND.get(g[c].dtype.kind, g[c].dtype.kind), _KIND.get(w[c].dtype.kind, w[c].dtype.kind)
        if gk != wk:
            return f"dtype kind of {c}: {g[c].dtype} != {w[c].dtype}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    gr, wr = _rows(g), _rows(w)
    if gr != wr:
        i = next(i for i, (a, b) in enumerate(zip(gr, wr)) if a != b)
        return f"row {i}: {gr[i]} != {wr[i]}"
    return None



def write_oracles(lake: str, jobs: dict[str, list[str]]) -> None:
    """Run the oracles of ``jobs`` and write each result to its path; a
    result is renamed into place, so a cut run leaves no partial file."""
    for name, tbl in oracle_tables(lake, {n: sql for n, (sql, _) in jobs.items()}).items():
        path = jobs[name][1]
        tmp = f"{path}.{uuid.uuid4().hex[:8]}"
        with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, tbl.schema) as w:
            w.write_table(tbl)
        os.replace(tmp, path)


if __name__ == "__main__":
    with open(sys.argv[2]) as f:
        write_oracles(sys.argv[1], json.load(f))
