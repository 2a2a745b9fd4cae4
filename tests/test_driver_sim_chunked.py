"""The chunked multiset-digest compare (tools/driver_sim.py, VERDICT
r10 item 2) must agree with the full canon_hash compare: same row
counts and equal-iff-equal digests across every value family the
registry emits (dates, timestamp strings, strings, floats, ints).

The chunked path exists so results too large to collect (15M rows at
sf10) can still be hash-certified: Spark computes per-Arrow-batch
(rows, sum-of-row-sha256 mod 2**128) partials via mapInPandas, DuckDB
streams fetch_df_chunk, and only O(batches) partials reach the driver.
Sum (not XOR) keeps the digest multiset-faithful; mod-2**128 addition
is associative, so chunking cannot change the total.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "driver_sim", os.path.join(REPO, "tools", "driver_sim.py")
)
ds = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ds)


def test_row_hash_sum_properties() -> None:
    df = pd.DataFrame(
        {"a": [1, 2, 2], "b": [1.25, float("nan"), 1.25], "s": ["x", "y", "x"]}
    )
    n, h = ds.row_hash_sum(df.copy())
    assert n == 3
    # order-independent
    n2, h2 = ds.row_hash_sum(df.iloc[::-1].copy())
    assert (n2, h2) == (n, h)
    # chunking-independent (associative combine)
    na, ha = ds.row_hash_sum(df.iloc[:1].copy())
    nb, hb = ds.row_hash_sum(df.iloc[1:].copy())
    assert na + nb == n and (ha + hb) % (1 << 128) == h
    # multiset-faithful: dropping one of the duplicate rows changes it
    n3, h3 = ds.row_hash_sum(df.iloc[:2].copy())
    assert (n3, h3) != (n, h)
    # empty frame
    assert ds.row_hash_sum(df.iloc[:0].copy()) == (0, 0)


@pytest.mark.parametrize(
    "name",
    [
        "window_running_sum",     # dates + exact money sums
        "events_tumbling_window", # timestamp-string buckets
        "agg_calendar_gap_fill",  # date spine + gap rows
        "tpch_q10_returned_items",# strings/floats/longs, top-N
    ],
)
def test_chunked_digest_agrees_with_canon_hash(spark, sf_dir, name) -> None:
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in ds.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    frame = qs[name](spark, sf_dir)
    sdf = frame.toPandas()

    pn, ph = ds.row_hash_sum(sdf.copy())
    sn, sh = ds.spark_chunk_digest(frame)
    on, oh = ds.duck_chunk_digest(con, oracles[name])
    opn, oph = ds.row_hash_sum(con.sql(oracles[name]).df())

    # Spark chunked == Spark plain; DuckDB chunked == DuckDB plain
    assert (sn, sh) == (pn, ph), name
    assert (on, oh) == (opn, oph), name
    # and the hash-green queries stay green under the chunked compare
    assert (sn, sh) == (on, oh), name
    assert ds.canon_hash(sdf.copy()) == ds.canon_hash(con.sql(oracles[name]).df())


def test_nullable_int_chunk_dtype_invariance() -> None:
    """ADVICE r11: a nullable integer column arrives as float64 only
    in chunks that CONTAIN a null, and chunk boundaries differ between
    engines — the digest must not depend on which chunk a row landed
    in.  Simulate both arrivals of the same logical rows."""
    # logical column: INT [5, 7, null, 9]
    int_cols = frozenset({"v"})
    as_int = pd.DataFrame({"v": pd.array([5, 7], dtype="int64")})
    as_float_with_null = pd.DataFrame({"v": [None, 9.0]}).astype("float64")
    one_chunk_nullable = pd.DataFrame(
        {"v": [5.0, 7.0, None, 9.0]}
    ).astype("float64")

    na, ha = ds.row_hash_sum(as_int.copy(), int_cols)
    nb, hb = ds.row_hash_sum(as_float_with_null.copy(), int_cols)
    nc, hc = ds.row_hash_sum(one_chunk_nullable.copy(), int_cols)
    assert (na + nb, (ha + hb) % (1 << 128)) == (nc, hc)

    # and WITHOUT the schema hint the split rendering diverges — the
    # exact false-red this guards against
    xa, ya = ds.row_hash_sum(as_int.copy())
    xb, yb = ds.row_hash_sum(as_float_with_null.copy())
    xc, yc = ds.row_hash_sum(one_chunk_nullable.copy())
    assert (xa + xb) == xc and (ya + yb) % (1 << 128) != yc


def test_digest_pool_prewarm_starts_every_worker(monkeypatch) -> None:
    """start_digest_pool must hand back a pool whose ``procs`` workers
    are all live before the first digest chunk is submitted — no-op
    warm-up tasks let one idle worker absorb every submit."""
    import multiprocessing

    # spawned workers unpickle the warm-up task by module name
    monkeypatch.syspath_prepend(os.path.join(REPO, "tools"))
    import driver_sim

    before = {p.pid for p in multiprocessing.active_children()}
    ex = driver_sim.start_digest_pool(3)
    try:
        workers = {p.pid for p in multiprocessing.active_children()} - before
        assert len(workers) == 3
        assert workers == {p.pid for p in ex._processes.values()}
    finally:
        ex.shutdown(wait=True)
        sys.modules.pop("driver_sim", None)
