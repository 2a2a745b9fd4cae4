"""The reference's 14-function public API re-expressed Spark-first
(SURVEY.md §2.A / §7 Phase 2).

Where the reference moves data pandas -> CSV-in-memory -> single S3
object -> Redshift COPY over one socket (reference
``pandas_redshift/core.py:120-144,220-304``), the bridge moves it as a
distributed write: Arrow-ingest to a Spark DataFrame, task-parallel
columnar output through Spark's commit protocol.  No
module globals (reference core.py:52-63) — all state lives on one
:class:`SparkRedshiftBridge` object.

Every pandas frame reaches Spark through :func:`ingest`: it is split
into Arrow batches of ``arrowMaxRecordsPerBatch`` rows, which Spark
tasks decode (no row conversion on the driver), one partition per
batch and at most ``defaultParallelism`` partitions, so a load writes
at most that many files.

The JDBC path (live Redshift/Postgres) is built but exercised only
behind configuration — there is no warehouse in CI; the local catalog
/ parquet path is the tested default.
"""

from __future__ import annotations

import logging
import re
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pandas.api.types import is_float_dtype, is_integer_dtype
from pyspark.sql import DataFrame, SparkSession

from pandas_redshift_spark.plans.layout import (
    ZORDER_COL,
    apply_layout,
    sortkey_columns,
    zorder_codes,
)
from pandas_redshift_spark.session import scoped_confs, scratch_root
from pandas_redshift_spark.sources.schema import (
    apply_validated_names,
    get_column_data_types,
    layout_clause,
    validate_column_names,
)

logger = logging.getLogger("pandas_redshift_spark")
logger.addHandler(logging.NullHandler())

#: module-level masking default, mirrors reference logging_config
#: (core.py:23-28)
logging_config = {"logging_level": logging.INFO, "mask_secrets": True}

#: put_object kwargs the reference forwards to boto3 (core.py:13-19,
#: applied core.py:129-130) — same 24 names.  (The reference's list
#: contains 'CacheControl ' with a trailing space, a bug that makes
#: that kwarg silently unforwardable; we keep the intended name.)
S3_ACCEPTED_KWARGS = [
    "ACL", "Body", "CacheControl", "ContentDisposition", "ContentEncoding",
    "ContentLanguage", "ContentLength", "ContentMD5", "ContentType", "Expires",
    "GrantFullControl", "GrantRead", "GrantReadACP", "GrantWriteACP", "Metadata",
    "ServerSideEncryption", "StorageClass", "WebsiteRedirectLocation",
    "SSECustomerAlgorithm", "SSECustomerKey", "SSECustomerKeyMD5", "SSEKMSKeyId",
    "RequestPayer", "Tagging",
]

#: accepted kwargs that have a distributed-write (Hadoop S3A) analogue;
#: the rest are single-object put_object concepts with no multi-file
#: equivalent and are logged as skipped instead of silently dropped
_S3_KWARG_TO_HADOOP_CONF = {
    "ServerSideEncryption": "fs.s3a.server-side-encryption-algorithm",
    "SSEKMSKeyId": "fs.s3a.server-side-encryption.key",
    "StorageClass": "fs.s3a.create.storage.class",
    "ACL": "fs.s3a.acl.default",
}

#: Spark's size below which an Arrow ingest becomes a driver-side
#: ``LocalRelation``; :func:`ingest` sets it to 0 for its one call
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
_INGEST_LOCK = threading.Lock()

_LEVELS = {
    "debug": logging.DEBUG,
    "info": logging.INFO,
    "warn": logging.WARNING,
    "warning": logging.WARNING,
    "error": logging.ERROR,
}


def set_log_level(level: str, mask_secrets: bool = True) -> None:
    """Port of reference set_log_level (core.py:30-40)."""
    if level not in _LEVELS:
        raise ValueError(f"log level must be one of {sorted(_LEVELS)}")
    logger.setLevel(_LEVELS[level])
    logging_config["logging_level"] = _LEVELS[level]
    logging_config["mask_secrets"] = mask_secrets


_KEY_RE = re.compile(r"(aws_access_key_id|access.key)(['\"=: ]+)([A-Z0-9]{16,20})", re.I)
_SECRET_RE = re.compile(
    r"(aws_secret_access_key|secret.key)(['\"=: ]+)([A-Za-z0-9/+=]{30,60})", re.I
)
_PASSWORD_RE = re.compile(r"(password)(['\"=: ]+)(\S+)", re.I)


def mask_aws_credentials(s: str) -> str:
    """Redact credentials from loggable command text (port of
    reference mask_aws_credentials, core.py:43-48, extended to JDBC
    passwords)."""
    if not logging_config.get("mask_secrets", True):
        return s
    for pattern in (_KEY_RE, _SECRET_RE, _PASSWORD_RE):
        s = pattern.sub(lambda m: m.group(1) + m.group(2) + "*" * 8, s)
    return s


@dataclass
class SparkRedshiftBridge:
    """Connection-equivalent: one object holds what the reference keeps
    in module globals (psycopg2 conn core.py:52-59, boto3 client
    core.py:62-79).

    - ``jdbc_options`` non-empty -> remote mode: reads/writes go
      through `spark.read/write.format("jdbc")` with partitioned
      extract (fixes the one-socket fetchall bottleneck, core.py:86).
    - otherwise local-catalog mode: `spark.sql` executes on Spark
      itself and writes land in the session catalog / parquet paths.
    """

    spark: SparkSession
    jdbc_options: dict[str, str] = field(default_factory=dict)
    s3_options: dict[str, str] = field(default_factory=dict)
    closed: bool = False

    # -- connect_to_s3 (core.py:62-79) --------------------------------
    def configure_s3(
        self,
        aws_access_key_id: str | None = None,
        aws_secret_access_key: str | None = None,
        bucket: str | None = None,
        subdirectory: str | None = None,
        aws_iam_role: str | None = None,
        **kwargs: Any,
    ) -> "SparkRedshiftBridge":
        """Record S3 staging config as Hadoop S3A session confs (the
        Spark equivalent of the reference's boto3 globals)."""
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if aws_access_key_id:
            hconf.set("fs.s3a.access.key", aws_access_key_id)
        if aws_secret_access_key:
            hconf.set("fs.s3a.secret.key", aws_secret_access_key)
        if kwargs.get("aws_session_token"):
            hconf.set("fs.s3a.session.token", kwargs["aws_session_token"])
        self.s3_options = {
            "bucket": bucket or "",
            "subdirectory": (subdirectory + "/") if subdirectory else "",
            "aws_iam_role": aws_iam_role or "",
        }
        return self

    def _check_open(self) -> None:
        if self.closed:
            raise RuntimeError("bridge is closed (close_up_shop was called)")

    # -- redshift_to_pandas (core.py:82-87) ----------------------------
    def read_sql(
        self, sql_query: str, query_params: list | dict | None = None
    ) -> pd.DataFrame:
        """Execute SQL on the engine, return a *pandas* DataFrame —
        signature-compatible with reference redshift_to_pandas.  The
        distributed-native variant is :meth:`sql`."""
        return self.sql(sql_query, query_params).toPandas()

    def sql(self, sql_query: str, query_params: list | dict | None = None) -> DataFrame:
        """Distributed extract: Spark executes the SQL (local mode) or
        pushes the whole query down to the warehouse as a JDBC subquery
        (remote mode) — either way no single-socket fetchall.

        ``query_params`` follow psycopg2 (reference core.py:82-87
        passes them to cursor.execute): positional ``%s`` with a
        sequence OR pyformat ``%(name)s`` with a dict, with ``%%`` as a
        literal-percent escape.  Local mode rewrites placeholders to
        ``?`` and binds server-side via ``spark.sql(q, args=...)``
        (parameterized SQL, Spark 3.4+) — no string interpolation, so
        quoting/injection is the engine's problem, same as psycopg2.
        JDBC mode must push query TEXT down to the warehouse, so params
        are spliced as escaped SQL literals in a single pass (a
        previously-inserted value containing ``%s`` is never
        re-substituted)."""
        self._check_open()
        logger.info("executing query: %s", mask_aws_credentials(sql_query))
        if self.jdbc_options:
            # psycopg2 parity: ANY non-None params (even empty) turn
            # on placeholder processing — %% collapses and a leftover
            # %s without a value is an error
            if query_params is not None:
                sql_query = _bind_literals(sql_query, query_params)
            reader = (
                self.spark.read.format("jdbc")
                .options(**self.jdbc_options)
                .option("query", sql_query)
            )
            return reader.load()
        if query_params is not None:
            parts, names = _split_placeholders(sql_query)
            values = _resolve_params(names, query_params)
            if values:
                return self.spark.sql("?".join(parts), args=values)
            # empty params still collapse %% (psycopg2 semantics);
            # nothing to bind server-side
            return self.spark.sql(parts[0])
        return self.spark.sql(sql_query)

    def read_table(
        self,
        table_name: str,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> DataFrame:
        """Whole-table extract.  In JDBC mode with ``partition_column``
        set, Spark opens ``num_partitions`` parallel range-partitioned
        connections — the distributed fix for the reference's
        single-socket ``fetchall`` (core.py:86).  Bounds default to the
        column's MIN/MAX probed with one tiny bounds query."""
        self._check_open()
        if not self.jdbc_options:
            return self.spark.table(table_name)
        reader = self.spark.read.format("jdbc").options(**self.jdbc_options)
        if partition_column:
            if lower_bound is None or upper_bound is None:
                bounds = (
                    self.spark.read.format("jdbc")
                    .options(**self.jdbc_options)
                    .option(
                        "query",
                        # ANSI-quoted: unquoted identifiers case-fold in
                        # engine-specific direction (Derby upper,
                        # Redshift lower)
                        f'SELECT MIN("{partition_column}") AS "lo", '
                        f'MAX("{partition_column}") AS "hi" FROM {table_name}',
                    )
                    .load()
                    .first()
                )
                lower_bound = bounds["lo"] if lower_bound is None else lower_bound
                upper_bound = bounds["hi"] if upper_bound is None else upper_bound
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", str(num_partitions))
                .option("lowerBound", str(lower_bound))
                .option("upperBound", str(upper_bound))
            )
        return reader.option("dbtable", table_name).load()

    # -- pandas_to_redshift (core.py:269-304) --------------------------
    def write_table(
        self,
        data_frame: "pd.DataFrame | DataFrame",
        table_name: str,
        column_data_types: list[str] | None = None,
        index: bool = False,
        append: bool = False,
        diststyle: str = "even",
        distkey: str = "",
        sort_interleaved: bool = False,
        sortkey: str = "",
        verbose: bool = True,
        **kwargs: Any,
    ) -> None:
        """Load pipeline: validate names -> one distributed write (a
        JDBC load also infers its column types), in place of the
        reference's 4-step staged load (CSV -> S3 put_object ->
        DROP/CREATE -> COPY, core.py:289-304).  Names are validated
        once, before anything is written: a pandas frame is renamed
        before the ingest, so names that collide after normalization
        raise while the old table is still in place.

        A pandas frame is ingested by :func:`ingest`: Arrow batches of
        ``arrowMaxRecordsPerBatch`` rows decoded by tasks, at most
        ``defaultParallelism`` partitions, so a load without a
        ``distkey`` writes at most that many files.  A Spark frame keeps
        its own partitioning.

        The overwrite is not atomic.  In local-catalog mode it is v1
        ``saveAsTable(mode="overwrite")``, which drops the existing
        table before the job writes: a load that fails mid-job leaves
        no table at all, like the reference's DROP-then-COPY (see
        ROADMAP.md, "One save path that stages and then swaps").

        An interleaved ``sortkey`` over two or more integer/float
        columns of a pandas frame gets its Morton key from
        :func:`zorder_codes` on the driver, shipped as one extra int64
        column through the Arrow ingest and dropped before the save;
        any other interleaved load builds it with ``zorder_key``."""
        self._check_open()
        zorder = False
        if isinstance(data_frame, pd.DataFrame):
            if index:
                data_frame = data_frame.reset_index()
            data_frame = data_frame.copy(deep=False)
            data_frame.columns = validate_column_names(data_frame.columns)
            if sort_interleaved and not self.jdbc_options:
                zcols = _numeric_zorder_columns(data_frame, sortkey)
                if zcols:
                    data_frame[ZORDER_COL] = zorder_codes(data_frame, zcols)
                    zorder = True
            sdf = ingest(self.spark, data_frame)
        else:
            sdf = apply_validated_names(data_frame)

        mode = "append" if append else "overwrite"
        if self.jdbc_options:
            if column_data_types is None:
                column_data_types = get_column_data_types(sdf)
            ddl_types = ", ".join(
                f"{c} {t}" for c, t in zip(sdf.columns, column_data_types)
            )
            writer = (
                sdf.write.format("jdbc")
                .options(**self.jdbc_options)
                .option("dbtable", table_name)
                .option("createTableColumnTypes", ddl_types)
            )
            # layout clauses are Redshift DDL syntax — attach them only
            # for a Redshift endpoint or when explicitly requested, so
            # generic JDBC targets (tested live against Derby) work
            is_redshift = "redshift" in self.jdbc_options.get("url", "")
            if is_redshift or distkey or sortkey or diststyle != "even":
                layout = layout_clause(diststyle, distkey, sort_interleaved, sortkey)
                if layout:
                    writer = writer.option("createTableOptions", layout)
            writer.mode(mode).save()
        else:
            out = apply_layout(
                sdf,
                diststyle=diststyle,
                distkey=distkey,
                sortkey=ZORDER_COL if zorder else sortkey,
                sort_interleaved=sort_interleaved,
            )
            if zorder:
                out = out.drop(ZORDER_COL)
            out.write.mode(mode).saveAsTable(table_name)
        if verbose:
            logger.info("wrote table %s (mode=%s)", table_name, mode)

    # -- df_to_s3 (core.py:120-144) ------------------------------------
    def stage_csv(
        self,
        data_frame: "pd.DataFrame | DataFrame",
        csv_name: str | None = None,
        index: bool = False,
        save_local: bool = False,
        delimiter: str = ",",
        path_prefix: str | None = None,
        verbose: bool = True,
        **kwargs: Any,
    ) -> str:
        """Stage a DataFrame as CSV files — the distributed analogue of
        df_to_s3's single put_object (one file per task instead of one
        object total).  Returns the staged directory path: under
        ``path_prefix``, else the S3 bucket and subdirectory, else the
        application's :func:`~pandas_redshift_spark.session.scratch_root`.

        Reference parity (core.py:120-144): ``save_local`` writes a
        local CSV copy named ``csv_name`` first; extra ``kwargs`` are
        filtered against :data:`S3_ACCEPTED_KWARGS` — the ones with a
        distributed-write analogue become S3A confs, the rest are
        logged as skipped (a single put_object concept has no
        per-task-file equivalent)."""
        self._check_open()
        accepted = {
            k: v for k, v in kwargs.items() if k in S3_ACCEPTED_KWARGS and v is not None
        }
        dropped = sorted(set(kwargs) - set(accepted))
        if dropped:
            logger.warning("ignoring non-S3 kwargs (not in S3_ACCEPTED_KWARGS): %s", dropped)
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in accepted.items():
            conf = _S3_KWARG_TO_HADOOP_CONF.get(k)
            if conf:
                hconf.set(conf, str(v))
            else:
                logger.info("accepted S3 kwarg %s has no distributed-write analogue; skipped", k)
        if index and isinstance(data_frame, pd.DataFrame):
            data_frame = data_frame.reset_index()
        sdf = ingest(self.spark, data_frame)
        csv_name = csv_name or f"staged-{uuid.uuid4()}"
        if save_local:
            # reference core.py:132-135: one local CSV named csv_name.
            # pandas input round-trips directly; a Spark frame writes a
            # local csv DIRECTORY (never toPandas — the frame may not
            # fit one machine)
            if isinstance(data_frame, pd.DataFrame):
                data_frame.to_csv(csv_name, index=False, sep=delimiter)
            else:
                sdf.write.option("header", True).option("sep", delimiter).mode(
                    "overwrite"
                ).csv(csv_name)
            if verbose:
                logger.info("saved local copy at %s", csv_name)
        base = path_prefix or (
            f"s3a://{self.s3_options['bucket']}/{self.s3_options.get('subdirectory','')}"
            if self.s3_options.get("bucket")
            else scratch_root(self.spark)
        )
        path = f"{base.rstrip('/')}/{csv_name}"
        (
            sdf.write.option("header", True)
            .option("sep", delimiter)
            .mode("overwrite")
            .csv(path)
        )
        logger.info("staged csv at %s", path)
        return path

    # -- s3_to_redshift (core.py:220-266) -------------------------------
    def load_staged_csv(
        self,
        table_name: str,
        staged_path: str,
        delimiter: str = ",",
        quotechar: str = '"',
        append: bool = False,
    ) -> None:
        """Load staged CSV into a table — the COPY analogue: a
        distributed CSV scan + write instead of a warehouse-side COPY
        of one file (~one slice, core.py:139-141)."""
        self._check_open()
        sdf = (
            self.spark.read.option("header", True)
            .option("sep", delimiter)
            .option("quote", quotechar)
            .option("inferSchema", True)
            .csv(staged_path)
        )
        mode = "append" if append else "overwrite"
        sdf.write.mode(mode).saveAsTable(table_name)

    # -- exec_commit (core.py:307-309) -----------------------------------
    def exec_sql(self, sql_query: str) -> None:
        """DDL/DML passthrough (CTAS-with-UNION README.md:102-109) —
        executes on the session catalog; commit is implicit."""
        self._check_open()
        logger.info("exec: %s", mask_aws_credentials(sql_query))
        self.spark.sql(sql_query).collect()

    # -- close_up_shop (core.py:312-324) ----------------------------------
    def close(self, stop_spark: bool = False) -> None:
        self.closed = True
        self.jdbc_options = {}
        self.s3_options = {}
        if stop_spark:
            self.spark.stop()

    def __enter__(self) -> "SparkRedshiftBridge":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()


def ingest(spark: SparkSession, frame: "pd.DataFrame | DataFrame") -> DataFrame:
    """The bridge's one pandas -> Spark path; a Spark frame is returned
    as is, with its own partitioning.

    ``createDataFrame`` splits the frame into Arrow batches of
    ``arrowMaxRecordsPerBatch`` rows.  Below Spark's
    ``arrow.localRelationThreshold`` the driver would then turn every
    row into a ``LocalRelation``, Java-serialized into
    ``defaultParallelism`` tasks.  With the threshold at 0 for this one
    call, each batch becomes one RDD partition that a task decodes.
    More batches than ``defaultParallelism`` are coalesced to that many
    partitions, without a shuffle.  The threshold is restored under a
    module lock, so concurrent loads cannot leave it changed."""
    if not isinstance(frame, pd.DataFrame):
        return frame
    with _INGEST_LOCK, scoped_confs(spark, {_LOCAL_RELATION_THRESHOLD: "0"}):
        sdf = spark.createDataFrame(frame)
    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = -(-len(frame) // step) if step > 0 else 1
    slots = spark.sparkContext.defaultParallelism
    return sdf.coalesce(slots) if batches > slots else sdf


def connect(
    spark: SparkSession,
    dbname: str | None = None,
    host: str | None = None,
    port: int = 5439,
    user: str | None = None,
    password: str | None = None,
    **kwargs: Any,
) -> SparkRedshiftBridge:
    """Factory mirroring reference connect_to_redshift (core.py:51-59).
    With host/dbname it configures JDBC remote mode; without, Spark
    itself is the engine (local catalog)."""
    jdbc: dict[str, str] = {}
    if host and dbname:
        jdbc = {
            "url": f"jdbc:redshift://{host}:{port}/{dbname}",
            "user": user or "",
            "password": password or "",
            "driver": kwargs.pop("driver", "com.amazon.redshift.jdbc42.Driver"),
        }
        jdbc.update({k: str(v) for k, v in kwargs.items()})
    return SparkRedshiftBridge(spark=spark, jdbc_options=jdbc)


def _sql_literal(p: Any) -> str:
    if p is None:
        return "NULL"
    if isinstance(p, bool):
        return "TRUE" if p else "FALSE"
    if isinstance(p, (int, float)):
        return str(p)
    escaped = str(p).replace("'", "''")
    return f"'{escaped}'"


#: psycopg2 placeholder grammar (reference core.py:84 hands params to
#: cursor.execute): ``%%`` literal-escape first so ``'100%%'`` never
#: half-matches, then pyformat ``%(name)s``, then positional ``%s``.
_PLACEHOLDER_RE = re.compile(r"%%|%\(([^)]+)\)s|%s")


def _split_placeholders(sql_query: str) -> tuple[list[str], list[str | None]]:
    """Tokenize psycopg2-style placeholders.

    Returns ``(parts, names)`` where ``names[i]`` is the placeholder
    between ``parts[i]`` and ``parts[i+1]`` — ``None`` for positional
    ``%s``, the key for pyformat ``%(name)s``.  ``%%`` collapses to a
    literal ``%`` inside the surrounding part, matching psycopg2's
    escape semantics when params are supplied."""
    parts: list[str] = []
    names: list[str | None] = []
    buf: list[str] = []
    pos = 0
    for m in _PLACEHOLDER_RE.finditer(sql_query):
        buf.append(sql_query[pos : m.start()])
        if m.group(0) == "%%":
            buf.append("%")
        else:
            parts.append("".join(buf))
            buf = []
            names.append(m.group(1))  # None for bare %s
        pos = m.end()
    buf.append(sql_query[pos:])
    parts.append("".join(buf))
    return parts, names


def _resolve_params(names: list[str | None], params) -> list:
    """Order the supplied params against tokenized placeholders with
    psycopg2's rules: dict params require pyformat names (repeats
    allowed), sequence params require exactly-counted ``%s``."""
    if isinstance(params, dict):
        if any(n is None for n in names):
            raise ValueError(
                "dict params require %(name)s placeholders, but the "
                "query contains positional %s"
            )
        try:
            return [params[n] for n in names]
        except KeyError as exc:
            raise ValueError(f"query parameter {exc.args[0]!r} not supplied") from exc
    if any(n is not None for n in names):
        raise ValueError(
            "%(name)s placeholders require dict params, got a sequence"
        )
    if len(names) != len(params):
        raise ValueError(
            f"query has {len(names)} %s placeholders but "
            f"{len(params)} params were given"
        )
    return list(params)


def _bind_literals(sql_query: str, params) -> str:
    """Single-pass placeholder -> escaped-literal substitution for the
    JDBC text-pushdown path (local mode uses real server-side binding
    instead).  Tokenizing first means a param VALUE containing ``%s``
    can never be re-substituted.  Accepts both psycopg2 paramstyles
    (positional ``%s`` + sequence, pyformat ``%(name)s`` + dict) and
    the ``%%`` literal escape — reference core.py:84 semantics."""
    parts, names = _split_placeholders(sql_query)
    values = _resolve_params(names, params)
    out = [parts[0]]
    for v, tail in zip(values, parts[1:]):
        out.append(_sql_literal(v))
        out.append(tail)
    return "".join(out)


def _numeric_zorder_columns(frame: pd.DataFrame, sortkey: str) -> list | None:
    """The ``frame`` columns behind an interleaved ``sortkey`` when the
    driver can build its Morton key: two or more keys, each naming one
    of the frame's validated (lowercase) columns case-insensitively,
    as Spark resolves them, with an integer or float dtype, nullable
    ones included and bool excluded.  None sends the load down the
    ``zorder_key`` path."""
    keys = [k.lower() for k in sortkey_columns(sortkey)]
    if len(keys) < 2 or ZORDER_COL in frame.columns:
        return None
    if all(
        k in frame.columns and (is_integer_dtype(frame[k]) or is_float_dtype(frame[k]))
        for k in keys
    ):
        return keys
    return None
