"""Independent output checks: DuckDB references over the generated
parquet, compared with what the engine reads back.

Two comparison styles:

- :func:`diff_tables` — bag equality in DuckDB (row counts plus
  ``EXCEPT ALL`` in both directions) between an Arrow table read back
  from the engine and a reference query. Order-insensitive and exact;
  maps are compared through their text form (DuckDB cannot compare
  them as values).
- :func:`diff_frames` — the engine's own oracle harness
  (``tests/oracle_harness.py``) for query results: columns sorted by
  name, rows sorted by every column, exact compare, and an int/float
  dtype-class split counts as a mismatch.

Both take ``corrupt=True`` to alter one expected row first; the
benchmark's own tests use it to show each check can fail.
"""

from __future__ import annotations

from types import SimpleNamespace

import duckdb
import pandas as pd
import pyarrow as pa
from tests.oracle_harness import compare

if not __debug__:  # compare() reports a mismatch through assert
    raise ImportError("the output checks need assertions; run Python without -O")


def connect(parquet: dict[str, str] | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for name, path in (parquet or {}).items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _corrupt_one(con: duckdb.DuckDBPyConnection, table: str) -> None:
    """Change one value of one row of ``table`` in place."""
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    for name, typ, *_ in cols:
        if any(k in typ for k in ("INT", "DOUBLE", "DECIMAL", "FLOAT")):
            expr = f'"{name}" + 1'
        elif typ == "VARCHAR":
            expr = f"\"{name}\" || '~'"
        else:
            continue
        con.execute(
            f'UPDATE {table} SET "{name}" = {expr} '
            f"WHERE rowid = (SELECT min(rowid) FROM {table})"
        )
        return
    raise ValueError(f"no corruptible column in {table}")


def diff_tables(con: duckdb.DuckDBPyConnection, got: pa.Table, want_sql: str,
                label: str, corrupt: bool = False) -> str | None:
    """None when ``got`` equals the bag of rows ``want_sql`` returns
    (columns matched by name), else a one-line reason."""
    con.register("__got_arrow", got)
    con.execute("CREATE OR REPLACE TEMP TABLE __got AS SELECT * FROM __got_arrow")
    con.unregister("__got_arrow")
    con.execute(f"CREATE OR REPLACE TEMP TABLE __want AS {want_sql}")
    if corrupt:
        _corrupt_one(con, "__want")
    want_cols = [r[0] for r in con.execute("DESCRIBE __want").fetchall()]
    if sorted(want_cols) != sorted(got.column_names):
        return f"{label}: columns {sorted(got.column_names)} != {sorted(want_cols)}"
    types = dict((r[0], r[1]) for r in con.execute("DESCRIBE __got").fetchall())
    sel = ", ".join(
        f'CAST("{c}" AS VARCHAR) AS "{c}"' if types[c].startswith("MAP")
        else f'"{c}"' for c in want_cols
    )
    n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                     for t in ("__got", "__want"))
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {sel} FROM __got EXCEPT ALL SELECT {sel} FROM __want)"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {sel} FROM __want EXCEPT ALL SELECT {sel} FROM __got)"
    ).fetchone()[0]
    if n_got != n_want or extra or missing:
        return (f"{label}: {n_got} rows read back, {n_want} expected; "
                f"{extra} unexpected, {missing} missing")
    return None


def diff_frames(got: pd.DataFrame, want: pd.DataFrame, label: str,
                corrupt: bool = False) -> str | None:
    """None when ``got`` equals ``want`` under the engine's oracle
    harness (``tests.oracle_harness.compare``), else its reason."""
    if corrupt:
        want = want.copy()
        c = want.columns[0]
        want.loc[want.index[0], c] = want[c].iloc[0] + 1
    try:
        # compare() takes the engine side as a DataFrame to collect
        compare(SimpleNamespace(toPandas=lambda: got), want, label)
    except AssertionError as e:
        return str(e)
    return None
