"""Result checking: order-insensitive digests of pandas results and
the DuckDB oracle twin of each registry operator."""

from __future__ import annotations

import hashlib

import pandas as pd


def canon_digest(df: pd.DataFrame) -> tuple[int, str]:
    """(rows, sha256) over the sorted rows of ``df``: columns in name
    order, floats rendered at 6 decimals, everything else via ``str``,
    so Spark and DuckDB results of the same query digest equal."""
    cols = []
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            cols.append(s.round(6).map(lambda v: "%.6f" % v if pd.notna(v) else "NaN"))
        else:
            cols.append(s.astype(str))
    if len(df) == 0 or not cols:
        rows: list[str] = []
    else:
        rows = sorted(cols[0].str.cat(cols[1:], sep="|").tolist())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_digests(
    sf_dir: str, tables: tuple[str, ...], oracles: dict[str, str], tmp_dir: str
) -> dict[str, tuple[int, str]]:
    """Digest of each oracle SQL run by DuckDB over the same parquet
    files the operators read."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: canon_digest(con.sql(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def frame_checksums(df: pd.DataFrame) -> dict[str, int]:
    """Per-column multiset checksum (sum of 64-bit value hashes), after
    normalising the dtype differences a Spark round-trip may introduce
    (int width, timestamp unit)."""
    out = {"__rows__": len(df)}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif not pd.api.types.is_float_dtype(s):
            s = s.astype(str)
        out[c] = int(pd.util.hash_pandas_object(s, index=False).sum())
    return out
