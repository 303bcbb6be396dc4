"""Output checks, run outside every timed region.

ETL: each table of both warehouses (the parquet warehouse, and the DuckDB
file opened read-only) must match the generator's expected table on row count and an order-independent
content hash, both computed by DuckDB over canonically cast columns.

Queries: a query's rows, canonicalized the way `tools/check.py` compares
them with the DuckDB oracle (columns by name, widened numerics, timestamps
as integers, rows sorted), hash to a digest that must equal the recorded
reference.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow as pa


def _canon_expr(name, typ):
    col = f'"{name}"'
    if pa.types.is_timestamp(typ):
        return f"epoch_us(CAST({col} AS TIMESTAMP))"
    if pa.types.is_integer(typ):
        return f"CAST({col} AS BIGINT)"
    if pa.types.is_floating(typ):
        return f"CAST({col} AS DOUBLE)"
    return f"CAST({col} AS VARCHAR)"


def _digest_sql(relation, schema):
    cols = sorted(schema.names)
    exprs = ", ".join(_canon_expr(c, schema.field(c).type) for c in cols)
    return f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) FROM {relation}"


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def table_digest(con, relation, schema):
    """(rows, content hash) of a relation, whose columns are those of the
    expected arrow `schema`."""
    n, h = con.execute(_digest_sql(relation, schema)).fetchone()
    return int(n), int(h)


def expected_digests(tables):
    con = _connect()
    out = {}
    for name, table in tables.items():
        con.register("expected", table)
        out[name] = table_digest(con, "expected", table.schema)
        con.unregister("expected")
    con.close()
    return out


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{listed}])"


def check_warehouses(wh_dir, tables):
    """Mismatches between the warehouses under `wh_dir` and the expected
    `tables` (name -> arrow table); empty when everything matches."""
    want = expected_digests(tables)
    con = _connect()
    problems = []
    duck = os.path.join(wh_dir, "duck.db")
    con.execute(f"ATTACH '{duck}' AS duck (READ_ONLY)")
    for name, table in tables.items():
        places = {"parquet": _parquet(os.path.join(wh_dir, f"{name}.parquet")),
                  "duckdb": f"duck.main.{name}"}
        for where, rel in places.items():
            try:
                got = table_digest(con, rel, table.schema) if rel else None
            except duckdb.Error as e:
                got = f"unreadable: {e}".splitlines()[0]
            if got != want[name]:
                problems.append(f"{where} {name}: got {got}, want {want[name]}")
    con.close()
    return problems


def canon(df):
    """`tools/check.py`'s canonical form of a result frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime") or dt.startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_digest(df):
    """(rows, hex digest) of a result frame in canonical form."""
    df = canon(df)
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return len(df), h.hexdigest()


def query_digest(out_dir):
    """(rows, hex digest) of a query result saved as parquet in `out_dir`."""
    con = duckdb.connect()
    df = con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    con.close()
    return frame_digest(df)
