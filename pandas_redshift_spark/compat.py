"""Drop-in module-level API matching the reference exactly: a user of
``agawronski/pandas_redshift`` switches by changing one import —

    import pandas_redshift_spark.compat as pr
    pr.connect_to_redshift(dbname=..., host=..., user=...)
    pr.pandas_to_redshift(df, "schema.table")
    out = pr.redshift_to_pandas("SELECT * FROM schema.table")
    pr.close_up_shop()

Every public name, signature and default mirrors the reference
(``pandas_redshift/core.py``: connect_to_redshift :51, connect_to_s3
:62, redshift_to_pandas :82, validate_column_names :90, df_to_s3 :120,
pd_dtype_to_redshift_dtype :147, get_column_data_types :162,
create_redshift_table :171, s3_to_redshift :220, pandas_to_redshift
:269, exec_commit :307, close_up_shop :312, set_log_level :30,
mask_aws_credentials :43, S3_ACCEPTED_KWARGS :13-19).  The reference
keeps its connection in module globals; this shim keeps ONE module
bridge for the same UX — the object API (`sources.bridge.connect`) is
the recommended non-global interface.

Execution is Spark throughout: "redshift" queries run on the Spark
session's catalog (or a real warehouse over JDBC when host/dbname are
given), loads are distributed writes, extracts are distributed reads.
"""

from __future__ import annotations

from typing import Any, Optional

import pandas as pd
from pyspark.sql import SparkSession

from pandas_redshift_spark.session import build_session
from pandas_redshift_spark.sources.bridge import (
    S3_ACCEPTED_KWARGS,
    SparkRedshiftBridge,
    connect,
    ingest,
    logger,
    logging_config,
    mask_aws_credentials,
    set_log_level,
)
from pandas_redshift_spark.sources.schema import (
    get_column_data_types,
    pd_dtype_to_redshift_dtype,
    validate_column_names as _validate_names,
    apply_validated_names,
    build_create_table_ddl,
    build_drop_table_ddl,
)

__all__ = [
    "S3_ACCEPTED_KWARGS",
    "logger",
    "logging_config",
    "connect_to_redshift",
    "connect_to_s3",
    "redshift_to_pandas",
    "validate_column_names",
    "df_to_s3",
    "pd_dtype_to_redshift_dtype",
    "get_column_data_types",
    "create_redshift_table",
    "s3_to_redshift",
    "pandas_to_redshift",
    "exec_commit",
    "close_up_shop",
    "set_log_level",
    "mask_aws_credentials",
    "use_spark",
]

_bridge: Optional[SparkRedshiftBridge] = None
_staged: dict[str, str] = {}  # csv_name -> staged path (df_to_s3 -> s3_to_redshift handoff)


def use_spark(spark: SparkSession) -> None:
    """Optional: pin the SparkSession the shim should use (tests/apps
    embedding an existing session).  Without it, connect_to_redshift
    builds one."""
    global _bridge
    _bridge = SparkRedshiftBridge(spark=spark)


def _require_bridge() -> SparkRedshiftBridge:
    if _bridge is None or _bridge.closed:
        raise RuntimeError(
            "not connected: call connect_to_redshift(...) first "
            "(reference behavior: NameError on unset globals)"
        )
    return _bridge


def connect_to_redshift(
    dbname: str | None = None,
    host: str | None = None,
    user: str | None = None,
    port: int = 5439,
    **kwargs: Any,
) -> None:
    """core.py:51-59.  With host+dbname: JDBC remote mode.  Without:
    Spark IS the warehouse (local catalog)."""
    global _bridge
    spark = _bridge.spark if _bridge is not None else build_session("pandas_redshift_spark-compat")
    _bridge = connect(
        spark, dbname=dbname, host=host, port=port, user=user, **kwargs
    )


def connect_to_s3(
    aws_access_key_id: str | None = None,
    aws_secret_access_key: str | None = None,
    bucket: str | None = None,
    subdirectory: str | None = None,
    aws_iam_role: str | None = None,
    **kwargs: Any,
) -> None:
    """core.py:62-79: record S3 staging config (S3A session confs)."""
    _require_bridge().configure_s3(
        aws_access_key_id=aws_access_key_id,
        aws_secret_access_key=aws_secret_access_key,
        bucket=bucket,
        subdirectory=subdirectory,
        aws_iam_role=aws_iam_role,
        **kwargs,
    )


def redshift_to_pandas(
    sql_query: str, query_params: list | dict | None = None
) -> pd.DataFrame:
    """core.py:82-87: run SQL, return a pandas DataFrame.  Distributed
    execution + Arrow transfer replace the single-cursor fetchall.
    Both psycopg2 paramstyles are honored (positional ``%s`` +
    sequence, pyformat ``%(name)s`` + dict) plus the ``%%`` escape."""
    return _require_bridge().read_sql(sql_query, query_params=query_params)


def validate_column_names(data_frame):
    """core.py:90-117: lowercase, reject reserved words, quote
    whitespace-containing names; returns the renamed frame (the
    reference mutates in place; this copies)."""
    if isinstance(data_frame, pd.DataFrame):
        out = data_frame.copy()
        out.columns = _validate_names(out.columns)
        return out
    return apply_validated_names(data_frame)


def df_to_s3(
    data_frame,
    csv_name: str,
    index: bool,
    save_local: bool,
    delimiter: str,
    verbose: bool = True,
    **kwargs: Any,
) -> None:
    """core.py:120-144: stage the frame as CSV (distributed multi-file
    write instead of one put_object).  The staged path is remembered so
    a following s3_to_redshift(csv_name=...) finds it."""
    path = _require_bridge().stage_csv(
        data_frame,
        csv_name=csv_name,
        index=index,
        save_local=save_local,
        delimiter=delimiter,
        verbose=verbose,
        **kwargs,
    )
    _staged[csv_name] = path


def create_redshift_table(
    data_frame,
    redshift_table_name: str,
    column_data_types: list[str] | None = None,
    index: bool = False,
    append: bool = False,
    diststyle: str = "even",
    distkey: str = "",
    sort_interleaved: bool = False,
    sortkey: str = "",
    verbose: bool = True,
) -> None:
    """core.py:171-217: DROP+CREATE the (empty) table from the frame's
    schema with layout clauses; append skips the DDL, as in the
    reference's caller (core.py:297-300)."""
    if append:
        return
    b = _require_bridge()
    if isinstance(data_frame, pd.DataFrame):
        pdf = data_frame.reset_index() if index else data_frame
    else:
        pdf = data_frame
    names = _validate_names(pdf.columns)
    b.exec_sql(build_drop_table_ddl(redshift_table_name))
    if b.jdbc_options:
        # remote warehouse parses the Redshift layout clauses verbatim
        b.exec_sql(
            build_create_table_ddl(
                redshift_table_name,
                names,
                column_data_types or get_column_data_types(pdf),
                diststyle=diststyle,
                distkey=distkey,
                sort_interleaved=sort_interleaved,
                sortkey=sortkey,
            )
        )
    else:
        # local catalog: Spark SQL doesn't parse diststyle/sortkey —
        # create the empty table from the frame's schema; layout hints
        # apply at write time (plans/layout.apply_layout)
        empty = ingest(b.spark, pdf).limit(0).toDF(*names)
        empty.write.mode("overwrite").saveAsTable(redshift_table_name)


def s3_to_redshift(
    redshift_table_name: str,
    csv_name: str,
    delimiter: str = ",",
    quotechar: str = '"',
    dateformat: str = "auto",
    timeformat: str = "auto",
    region: str = "",
    parameters: str = "",
    verbose: bool = True,
) -> None:
    """core.py:220-266: COPY analogue — distributed scan of the staged
    CSV appended into the (pre-created) table.  dateformat/timeformat/
    region/parameters are COPY-syntax knobs with no Spark-side
    equivalent; accepted for signature parity."""
    b = _require_bridge()
    path = _staged.get(csv_name)
    if path is None:
        raise FileNotFoundError(
            f"no staged CSV named {csv_name!r}; call df_to_s3 first"
        )
    b.load_staged_csv(
        redshift_table_name, path, delimiter=delimiter, quotechar=quotechar, append=True
    )


def pandas_to_redshift(
    data_frame,
    redshift_table_name: str,
    column_data_types: list[str] | None = None,
    index: bool = False,
    save_local: bool = False,
    delimiter: str = ",",
    quotechar: str = '"',
    dateformat: str = "auto",
    timeformat: str = "auto",
    region: str = "",
    append: bool = False,
    diststyle: str = "even",
    distkey: str = "",
    sort_interleaved: bool = False,
    sortkey: str = "",
    parameters: str = "",
    verbose: bool = True,
    **kwargs: Any,
) -> None:
    """core.py:269-304, as one distributed write
    (:meth:`SparkRedshiftBridge.write_table`) instead of CSV -> S3 ->
    DROP/CREATE -> COPY.  Not atomic: like the reference, whose failed
    COPY leaves an empty table, an overwrite drops the old table
    first (v1 ``saveAsTable(mode="overwrite")``), so a load that fails
    mid-job leaves no table (ROADMAP.md, "One save path that stages
    and then swaps")."""
    _require_bridge().write_table(
        data_frame,
        redshift_table_name,
        column_data_types=column_data_types,
        index=index,
        append=append,
        diststyle=diststyle,
        distkey=distkey,
        sort_interleaved=sort_interleaved,
        sortkey=sortkey,
        verbose=verbose,
        **kwargs,
    )


def exec_commit(sql_query: str) -> None:
    """core.py:307-309: DDL/DML passthrough; commit implicit."""
    _require_bridge().exec_sql(sql_query)


def close_up_shop() -> None:
    """core.py:312-324: close and forget the module connection."""
    global _bridge
    if _bridge is not None:
        _bridge.close()
    _bridge = None
    _staged.clear()
