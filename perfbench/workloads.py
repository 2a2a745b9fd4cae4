"""The workloads.  Each one names the corpus tables it reads, the
operation kinds it cycles through, how to prepare its inputs and
expected results (untimed), and how to run one operation."""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

import datagen
from checks import canon_digest, frame_checksums, oracle_digests


@dataclass
class Ctx:
    spark: object
    seed: int
    sf_dir: str
    warehouse: str
    tracer: object = None

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext(attrs)
        return self.tracer.span(name, **attrs)


@dataclass
class OpResult:
    latency_s: float
    ok: bool
    rows_extracted: int
    extract_s: float
    rows_loaded: int = 0
    bytes_loaded: int = 0


class RegistryWorkload:
    """Registry operators run by name and collected to pandas, each
    result compared with the digest of the operator's DuckDB oracle."""

    #: untimed rounds before the window: after its first, cold run a
    #: kind shows no trend in latency
    warmup_rounds = 1

    def __init__(self, name: str, kinds: tuple[str, ...], tables: tuple[str, ...]):
        self.name = name
        self.kinds = kinds
        self.tables = tables

    def prepare(self, seed: int, sf_dir: str, tmp: str, generate: bool = True) -> None:
        from pandas_redshift_spark.operators import all_queries

        if generate:
            datagen.write_corpus(seed, sf_dir, self.tables)
        specs = all_queries()
        self.specs = {k: specs[k] for k in self.kinds}
        self.expected = oracle_digests(
            sf_dir, self.tables, {k: s.oracle for k, s in self.specs.items()}, tmp
        )

    def start(self, ctx: Ctx) -> None:
        pass

    def run(self, ctx: Ctx, kind: str, index: int) -> OpResult:
        t0 = time.perf_counter()
        with ctx.span("operators.fn", kind=kind):
            df = self.specs[kind].fn(ctx.spark, ctx.sf_dir)
        with ctx.span("operators.collect", kind=kind):
            pdf = df.toPandas()
        dt = time.perf_counter() - t0
        ok = canon_digest(pdf) == self.expected[kind]
        return OpResult(dt, ok, len(pdf), dt)


#: write_table layout hints, cycled by etl_roundtrip
LAYOUTS = {
    "diststyle_even": {"diststyle": "even"},
    "distkey_sortkey": {"distkey": "id", "sortkey": "ts"},
    "interleaved_sortkey": {"sortkey": "qty,price", "sort_interleaved": True},
}
#: the extract's ``qty >= %s`` parameter; ``qty`` is uniform on 0..999,
#: so every operation of every seed keeps about half of the frame
ETL_MIN_QTY = 500


class EtlWorkload:
    """The bridge's load -> extract -> CTAS round trip on fresh data."""

    name = "etl_roundtrip"
    kinds = tuple(LAYOUTS)
    #: untimed rounds before the window: the first round is cold
    #: (13 s against 4 s for the second); later rounds still speed up
    #: slowly, by the same amount on every seed
    warmup_rounds = 2
    tables: tuple[str, ...] = ()

    def prepare(self, seed: int, sf_dir: str, tmp: str, generate: bool = True) -> None:
        pass

    def start(self, ctx: Ctx) -> None:
        from pandas_redshift_spark.sources.bridge import connect

        self.bridge = connect(ctx.spark)

    def run(self, ctx: Ctx, kind: str, index: int) -> OpResult:
        spark, bridge = ctx.spark, self.bridge
        frame = datagen.etl_frame(ctx.seed, index)
        # each kind overwrites its own tables, so a load never replaces a
        # table of another layout
        load, ctas = f"etl_load_{kind}", f"etl_ctas_{kind}"
        spark.sql(f"DROP TABLE IF EXISTS {ctas}")

        t0 = time.perf_counter()
        with ctx.span("bridge.write_table", kind=kind):
            bridge.write_table(frame, load, verbose=False, **LAYOUTS[kind])
        t1 = time.perf_counter()
        with ctx.span("bridge.read_sql"):
            out = bridge.read_sql(f"SELECT * FROM {load} WHERE qty >= %s", [ETL_MIN_QTY])
        t2 = time.perf_counter()
        with ctx.span("bridge.exec_sql"):
            bridge.exec_sql(
                f"CREATE TABLE {ctas} AS SELECT id, price FROM {load} "
                f"UNION ALL SELECT id, price FROM {load} WHERE qty >= {ETL_MIN_QTY}"
            )
        t3 = time.perf_counter()

        want = frame[frame["qty"] >= ETL_MIN_QTY]
        ok = (
            len(out.columns) == len(want.columns)
            and list(frame_checksums(out).values()) == list(frame_checksums(want).values())
            and _table_rows(os.path.join(ctx.warehouse, ctas)) == len(frame) + len(want)
        )
        nbytes = sum(os.path.getsize(p) for p in _parts(os.path.join(ctx.warehouse, load)))
        return OpResult(t3 - t0, ok, len(out), t2 - t1, len(frame), nbytes)


def _parts(table_dir: str) -> list[str]:
    return [os.path.join(table_dir, f) for f in os.listdir(table_dir) if f.endswith(".parquet")]


def _table_rows(table_dir: str) -> int:
    """Committed rows of a catalog table, from its parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in _parts(table_dir))


#: one query_mix round: three relational/TPC-H queries, a streaming
#: drain and an LLM-family dedup (its shingle and bucket frames go
#: through ``session.memoized_persist``).  An odd number of kinds with
#: spread-out latencies puts the pooled p50 inside one kind's
#: latencies rather than on the edge between two
QUERY_KINDS = (
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "join_star_broadcast",
    "streaming_tumbling_counts",
    "dedup_minhash_lsh",
)
QUERY_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")

WORKLOADS = {w.name: w for w in (EtlWorkload(), RegistryWorkload("query_mix", QUERY_KINDS, QUERY_TABLES))}
