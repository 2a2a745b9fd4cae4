"""Schema inference, identifier validation, and DDL generation — the
PySpark-native port of the reference's native layer (SURVEY.md §2.A
rows 4, 6, 7, 8; reference ``pandas_redshift/core.py:90-217``).

Deliberate deviations from the reference (SURVEY.md §7 "hard parts"):

- ``validate_column_names`` is pure — it returns the renamed frame /
  name list instead of mutating the caller's DataFrame in place
  (reference core.py:100,116 mutates).
- float64 maps to DOUBLE PRECISION, not REAL — the reference silently
  narrows 8-byte floats to 4 bytes (core.py:152-153); we preserve
  precision and document it.
- strings map to VARCHAR(256), string-for-string with the reference
  (core.py:158-159) — callers can override per-column types (e.g.
  VARCHAR(MAX)) via ``column_data_types``.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Redshift reserved words (public list, Amazon Redshift documentation —
# "Reserved words", database developer guide).  The reference ships the
# same list as a data file its validator re-reads on every call
# (core.py:96-108), so a user who edits the txt expects the edit
# honored.  We ship the same list as package data
# (sources/redshift_reserve_words.txt) and re-read it per validation
# call, keeping this inline frozenset as the fallback when the file is
# missing/unreadable.  Stored lowercase; membership checks lowercase.
_BUILTIN_RESERVED_WORDS = frozenset(
    """
    aes128 aes256 all allowoverwrite analyse analyze and any array as asc
    authorization backup between binary blanksasnull both bytedict bzip2 case cast
    check collate column constraint create credentials cross current_date
    current_time current_timestamp current_user current_user_id default
    deferrable deflate defrag delta delta32k desc disable distinct do else
    emptyasnull enable encode encrypt encryption end except explicit false
    for foreign freeze from full globaldict256 globaldict64k grant group gzip
    having identity ignore ilike in initially inner intersect into is isnull
    join leading left like limit localtime localtimestamp lun luns lzo lzop
    minus mostly13 mostly32 mostly8 natural new not notnull null nulls off
    offline offset oid old on only open or order outer overlaps parallel
    partition percent permissions placing primary raw readratio recover
    references rejectlog resort respect restore right select session_user
    similar snapshot some sysdate system table tag tdes text255 text32k then
    timestamp to top trailing true truncatecolumns union unique user using
    verbose wallet when where with without
    """.split()
)

#: package-data twin of the reference's shipped word list
#: (pandas_redshift/redshift_reserve_words.txt, loaded core.py:96-98)
_WORDS_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "redshift_reserve_words.txt"
)


def load_reserved_words(path: str | None = None) -> frozenset[str]:
    """Read the reserved-word data file (one word per line, any case),
    falling back to the built-in list when the file is absent — the
    reference's file-driven behavior (core.py:96-98) with a safety
    net the reference lacks."""
    try:
        with open(path or _WORDS_FILE) as f:
            words = frozenset(w.strip().lower() for w in f if w.strip())
        return words or _BUILTIN_RESERVED_WORDS
    except OSError:
        return _BUILTIN_RESERVED_WORDS


#: import-time snapshot for cheap membership checks / introspection;
#: ``validate_column_names`` re-reads the file per call so edits to
#: the txt are honored without a process restart.
REDSHIFT_RESERVED_WORDS = load_reserved_words()


class ReservedWordError(ValueError):
    """Raised when a column name collides with a Redshift reserved word
    (reference behavior: hard error before quoting, core.py:102-108)."""


def normalize_column_name(name: str) -> str:
    """Lowercase and double-quote names containing whitespace —
    the reference's two normalization rules (core.py:100,110-116)."""
    import re

    out = str(name).lower()
    already_quoted = out.startswith('"') and out.endswith('"') and len(out) >= 2
    if re.search(r"\s", out) and not already_quoted:
        out = f'"{out}"'
    return out


def validate_column_names(columns: Iterable[str]) -> list[str]:
    """Pure port of the reference's validate_column_names
    (core.py:90-117): lowercase everything, reject reserved words,
    quote whitespace-containing names.  Returns the new name list
    instead of mutating a DataFrame.

    Unlike the reference, names that collide after normalization
    (``A`` and ``a``) raise ``ValueError``: a table cannot hold both,
    and Spark would only find out after an overwrite had dropped the
    old table."""
    reserved = load_reserved_words()
    sources: dict[str, list[str]] = {}
    for name in columns:
        lowered = str(name).lower()
        if lowered in reserved:
            raise ReservedWordError(
                f"DataFrame column name {lowered!r} is a reserved word in Redshift! "
                "Please rename the column."
            )
        sources.setdefault(normalize_column_name(name), []).append(str(name))
    clashes = [f"{olds} -> {new!r}" for new, olds in sources.items() if len(olds) > 1]
    if clashes:
        raise ValueError(
            "DataFrame column names collide after normalization: " + "; ".join(clashes)
        )
    return list(sources)


def apply_validated_names(df: DataFrame) -> DataFrame:
    """Spark-side version: returns a NEW DataFrame with validated
    names (reference mutates in place; we don't)."""
    return df.toDF(*validate_column_names(df.columns))


def pd_dtype_to_redshift_dtype(dtype: str) -> str:
    """pandas dtype string -> Redshift DDL type (reference
    core.py:147-159, with the float64->DOUBLE PRECISION fix)."""
    dtype = str(dtype)
    if dtype.startswith("int64"):
        return "BIGINT"
    if dtype.startswith("int"):
        return "INTEGER"
    if dtype.startswith("float32"):
        return "REAL"
    if dtype.startswith("float"):
        return "DOUBLE PRECISION"
    if dtype.startswith("datetime"):
        return "TIMESTAMP"
    if dtype == "bool":
        return "BOOLEAN"
    return "VARCHAR(256)"


_SPARK_TO_REDSHIFT: list[tuple[type, str]] = [
    (T.LongType, "BIGINT"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "SMALLINT"),
    (T.ByteType, "SMALLINT"),
    (T.FloatType, "REAL"),
    (T.DoubleType, "DOUBLE PRECISION"),
    (T.BooleanType, "BOOLEAN"),
    (T.TimestampType, "TIMESTAMP"),
    (T.TimestampNTZType, "TIMESTAMP"),
    (T.DateType, "DATE"),
    (T.DecimalType, "DECIMAL"),
]


def spark_dtype_to_redshift_dtype(dt: T.DataType) -> str:
    """Spark type -> Redshift DDL type (for JDBC
    createTableColumnTypes; the Spark-native analogue of
    pd_dtype_to_redshift_dtype)."""
    for cls, ddl in _SPARK_TO_REDSHIFT:
        if isinstance(dt, cls):
            if isinstance(dt, T.DecimalType):
                return f"DECIMAL({dt.precision},{dt.scale})"
            return ddl
    return "VARCHAR(256)"


def get_column_data_types(
    frame: "pd.DataFrame | DataFrame", index: bool = False
) -> list[str]:
    """Column DDL types for a pandas or Spark DataFrame (reference
    core.py:162-168; ``index`` prepends the index dtype)."""
    if isinstance(frame, DataFrame):
        return [spark_dtype_to_redshift_dtype(f.dataType) for f in frame.schema.fields]
    types = [pd_dtype_to_redshift_dtype(frame[c].dtype.name) for c in frame.columns]
    if index:
        types.insert(0, pd_dtype_to_redshift_dtype(frame.index.dtype.name))
    return types


VALID_DISTSTYLES = ("even", "all", "key")


def layout_clause(
    diststyle: str = "even",
    distkey: str = "",
    sort_interleaved: bool = False,
    sortkey: str = "",
) -> str:
    """The Redshift physical-layout clauses the reference appends to
    CREATE TABLE (core.py:199-211): ``distkey(k)``, which overrides
    ``diststyle`` (core.py:205-207), else ``diststyle even|all``; then
    ``[interleaved] sortkey(k)``.  An empty ``diststyle`` writes no
    distribution clause (the JDBC ``createTableOptions`` path leaves
    it to the warehouse); :func:`build_create_table_ddl` rejects it."""
    parts = []
    if distkey:
        parts.append(f"distkey({distkey})")
    elif diststyle:
        if diststyle not in ("even", "all"):
            raise ValueError("diststyle must be either 'even' or 'all'")
        parts.append(f"diststyle {diststyle}")
    if sortkey:
        parts.append(("interleaved " if sort_interleaved else "") + f"sortkey({sortkey})")
    return " ".join(parts)


def build_create_table_ddl(
    table_name: str,
    columns: Sequence[str],
    column_data_types: Sequence[str],
    diststyle: str = "even",
    distkey: str = "",
    sort_interleaved: bool = False,
    sortkey: str = "",
) -> str:
    """CREATE TABLE DDL with Redshift physical-layout clauses —
    string-for-string what the reference builds (core.py:194-211),
    unit-tested against the reference's documented output shape.

    The reference's create_redshift_table executes ``drop table if
    exists`` immediately before this statement (core.py:215-216) —
    pair with :func:`build_drop_table_ddl` for the same
    overwrite-replaces-schema semantics."""
    if len(columns) != len(column_data_types):
        raise ValueError("columns and column_data_types must align")
    if not (distkey or diststyle):
        raise ValueError("diststyle must be either 'even' or 'all'")
    cols = ", ".join(f"{c} {t}" for c, t in zip(columns, column_data_types))
    clause = layout_clause(diststyle, distkey, sort_interleaved, sortkey)
    return f"create table {table_name} ({cols}) {clause}"


def build_drop_table_ddl(table_name: str) -> str:
    """``drop table if exists`` statement the reference executes before
    every CREATE (core.py:215-216) — overwrite replaces the schema
    instead of silently keeping a stale one."""
    return f"drop table if exists {table_name}"
