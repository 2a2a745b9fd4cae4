"""Driver simulator: exercises __spark_entry__.py the way the external
driver does — vanilla session, any-cwd, entry + queries + oracle_sql
hash-compare against DuckDB at sf0.01."""

import hashlib
import os
import sys
import time

# Repo root: env override > location-relative (works from tools/) >
# the canonical checkout.  The file is routinely COPIED to /tmp and
# run from there (executor-side import checks need a non-repo cwd), so
# the relative guess must fall back when the copy isn't inside the
# repo.
_REPO = os.environ.get("SIM_REPO") or os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
if not os.path.exists(os.path.join(_REPO, "__spark_entry__.py")):
    _REPO = "/root/repo"
if not os.path.exists(os.path.join(_REPO, "__spark_entry__.py")):
    raise SystemExit(
        f"driver_sim: no __spark_entry__.py under {_REPO!r}; "
        "set SIM_REPO=/path/to/repo when running a copied script"
    )
sys.path.insert(0, _REPO)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
LIMIT = int(os.environ.get("SIM_LIMIT", "0"))  # 0 = all
ONLY_PREFIX = os.environ.get("SIM_ONLY", "")
#: comma-separated name SUBSTRINGS to skip — e.g. SIM_SKIP=_exact for
#: sf1 full-registry certs, where the quadratic oracle twins' DuckDB
#: all-pairs replay (20k vectors) stalls while the Spark side is fine
SKIP_SUBSTRS = [s for s in os.environ.get("SIM_SKIP", "").split(",") if s]
#: comma-separated EXACT names to run (overrides SIM_ONLY) — for
#: representative-subset sweeps, e.g. the local-cluster pytest guard
ONLY_NAMES = {s for s in os.environ.get("SIM_NAMES", "").split(",") if s}

#: SIM_CERT_ORACLES=1 — certification sweeps at big SF: queries whose
#: QuerySpec carries a ``cert_oracle`` builder use IT instead of the
#: primary SQL oracle (the primary replay is sandbox-infeasible at the
#: rung; the cert oracle pins a certified intermediate and replays the
#: rest — registry.py QuerySpec.cert_oracle).  Rows print as
#: ok(cert)/ok(chunked,cert) so cert logs show which gate ran.
USE_CERT_ORACLES = os.environ.get("SIM_CERT_ORACLES") == "1"


#: nonzero = CHUNKED MODE: every oracle-backed query compares via the
#: multiset digest instead of toPandas + canon_hash.  The chunked
#: path never materializes the result in the driver, so 15M-row
#: per-row certs (window_running_sum at sf10) fit a vanilla heap
#: (VERDICT r10 item 2).  r12 (ADVICE r11): the mode used to gate on
#: a frame.count() probe per query — an extra full execution even for
#: tiny results — but the digest compare is equally strict for ANY
#: size (counts + sorted column names + value multiset), so chunked
#: mode now digests everything and runs each side exactly once.  Off
#: by default only because the small-SF sweeps keep the full path's
#: DTYPE-DIFF diagnostics.
CHUNK_THRESHOLD = int(os.environ.get("SIM_CHUNK_THRESHOLD", "0"))

#: logical-schema integer types per engine — see ``_canon_frame``'s
#: ``int_cols`` (ADVICE r11: chunk-local dtype repair)
_SPARK_INT_TYPES = ("tinyint", "smallint", "int", "bigint")
_DUCK_INT_TYPES = (
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
)


def _canon_frame(df: pd.DataFrame, int_cols=()) -> pd.DataFrame:
    """Shared canonical formatting: column-name order, floats at
    round(6)/%.6f, everything else str().

    ``int_cols`` names columns that are INTEGER in the logical result
    schema (ADVICE r11): Arrow batches and fetch_df_chunk promote a
    nullable integer column to float64 only in chunks that contain a
    null, so per-chunk pandas dtype is not canonical — the same
    logical 5 would render '5' in one chunk and '5.000000' in
    another, and chunk boundaries differ between engines.  Columns
    listed here always render as integers ('%d', nulls as '<NA>' to
    match pandas' own Int64 string form) regardless of the dtype this
    particular chunk arrived with."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if c in int_cols and pd.api.types.is_float_dtype(df[c]):
            # '%d' % float silently rounds at/above 2**53 (float64 has
            # 53 mantissa bits) — two engines whose exact integers
            # differ by less than the float quantum would then hash
            # EQUAL (ADVICE r12).  Fail loudly instead of comparing a
            # lossy rendering; current cents sums (~1e14 at sf10) are
            # well under the guard.
            def _int_render(v):
                if not pd.notna(v):
                    return "<NA>"
                if abs(v) >= 2**53:
                    raise ValueError(
                        f"int col {c!r} value {v!r} exceeds float64 exact-"
                        "integer range (2**53); chunk arrived as float64 so "
                        "the digest would be precision-unsafe"
                    )
                return "%d" % v

            df[c] = df[c].map(_int_render)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6).map(lambda v: "%.6f" % v if pd.notna(v) else "NaN")
        else:
            df[c] = df[c].astype(str)
    return df


def canon_hash(df: pd.DataFrame) -> str:
    df = _canon_frame(df)
    if len(df) == 0:
        rows = []
    else:
        rows = sorted(df.apply(lambda r: "|".join(r.values), axis=1).tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def row_hash_sum(df: pd.DataFrame, int_cols=()) -> tuple[int, int]:
    """(rows, per-row-sha256 multiset digest) over one chunk.

    Each canonical row string hashes to sha256[:16] read as a 128-bit
    int; chunk digests are SUMS mod 2**128, so the total is
    order-independent AND multiset-faithful (XOR would cancel
    duplicate rows), and chunks combine associatively — the whole
    result never needs to sit in one process."""
    df = _canon_frame(df, int_cols)
    if len(df) == 0:
        return 0, 0
    tot = 0
    for s in df.apply(lambda r: "|".join(r.values), axis=1):
        tot = (
            tot + int.from_bytes(hashlib.sha256(s.encode()).digest()[:16], "big")
        ) % (1 << 128)
    return len(df), tot


def spark_chunk_digest(sdf) -> tuple[int, int]:
    """Distributed multiset digest of a Spark DataFrame: one
    mapInPandas pass emits a (rows, digest) row PER ARROW BATCH; only
    those tiny partials cross the driver.  Integer columns are named
    from the Spark schema so a null-bearing Arrow batch's float64
    promotion can't change the rendering (ADVICE r11)."""
    import pandas as _pd

    int_cols = frozenset(
        f.name
        for f in sdf.schema.fields
        if f.dataType.simpleString() in _SPARK_INT_TYPES
    )

    def part(it):
        for pdf in it:
            n, h = row_hash_sum(pdf, int_cols)
            yield _pd.DataFrame({"n": [n], "h": [str(h)]})

    rows = sdf.mapInPandas(part, schema="n long, h string").collect()
    n = sum(r["n"] for r in rows)
    h = sum(int(r["h"]) for r in rows) % (1 << 128)
    return n, h


#: worker processes for the oracle-side digest.  The per-chunk
#: ``row_hash_sum`` is pure Python (canon-format + sha256 per row) and
#: was the sf10 wall for big pair sets — multimodal_phash_near_dup's
#: replayed pairs outran a 2 h solo box single-threaded (VERDICT r12
#:  item 4).  The fold is an embarrassingly parallel multiset sum, so
#: chunks fan out to a process pool; DuckDB's fetch stays sequential
#: on the one connection (it is not the bottleneck).  1 = in-process.
DIGEST_PROCS = int(os.environ.get("SIM_DIGEST_PROCS", "1"))


#: set in each digest-pool worker by its initializer
_POOL_BARRIER = None


def _set_pool_barrier(barrier) -> None:
    global _POOL_BARRIER
    _POOL_BARRIER = barrier


def _pool_ready() -> int:
    _POOL_BARRIER.wait(timeout=300)
    return os.getpid()


def start_digest_pool(procs: int):
    """A ProcessPoolExecutor with all ``procs`` workers (and the
    executor's management thread) already started.

    Spawn, not fork: the parent holds live py4j/JVM client threads and
    a DuckDB connection; forking a multithreaded process can inherit
    held locks mid-acquire and hang workers intermittently.
    row_hash_sum's inputs (a pandas chunk + a frozenset) pickle fine,
    so spawn costs only interpreter startup per worker — amortized
    over the sweep.

    The pool must be full BEFORE the first fetch: the executor spawns
    workers lazily per submit, and the first real submit only happens
    after fetch_df_chunk has EXECUTED the oracle query — at which
    point a big DuckDB replay (e.g. the sf30 phash grid) holds tens of
    GB across enough mmaps that pthread_create/fork fail with ENOMEM
    ("can't start new thread"; two sf30 legs died exactly there).  A
    submit starts a new worker only while no started worker is idle,
    so the warm-up tasks wait on one barrier of ``procs`` parties:
    none returns until ``procs`` workers run one each."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    ctx = multiprocessing.get_context("spawn")
    ex = ProcessPoolExecutor(
        procs,
        mp_context=ctx,
        initializer=_set_pool_barrier,
        initargs=(ctx.Barrier(procs),),
    )
    for f in [ex.submit(_pool_ready) for _ in range(procs)]:
        f.result()
    return ex


def duck_chunk_digest(con, sql: str) -> tuple[int, int]:
    """Streaming multiset digest of a DuckDB result (fetch_df_chunk —
    never materializes the frame).  Integer columns come from the
    relation's own result types, mirroring ``spark_chunk_digest``.
    With SIM_DIGEST_PROCS>1 the per-chunk hashing runs in a process
    pool (in-flight bounded to 2x procs so queued chunks can't
    re-materialize the result in memory); digests sum associatively,
    so the parallel fold is exactly the sequential one."""
    rel = con.sql(sql)
    int_cols = frozenset(
        c
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in _DUCK_INT_TYPES
    )
    n_tot, h_tot = 0, 0
    if DIGEST_PROCS > 1:
        import collections

        futs = collections.deque()
        ex = start_digest_pool(DIGEST_PROCS)
        try:
            def drain_one():
                nonlocal n_tot, h_tot
                n, h = futs.popleft().result()
                n_tot += n
                h_tot = (h_tot + h) % (1 << 128)

            while True:
                chunk = rel.fetch_df_chunk(16)
                if len(chunk) == 0:
                    break
                futs.append(ex.submit(row_hash_sum, chunk, int_cols))
                while len(futs) >= DIGEST_PROCS * 2:
                    drain_one()
            while futs:
                drain_one()
        except BaseException:
            # best-effort teardown that must NOT mask the body error:
            # a with-block's __exit__ shutdown can raise its own
            # RuntimeError ('cannot join thread before it is started')
            # and REPLACE the original exception — the r14 sf30 phash
            # leg lost a DuckDB OOM behind exactly that.
            try:
                ex.shutdown(wait=False, cancel_futures=True)
            except Exception:
                pass
            raise
        ex.shutdown(wait=True)
        return n_tot, h_tot
    while True:
        chunk = rel.fetch_df_chunk(16)
        if len(chunk) == 0:
            break
        n, h = row_hash_sum(chunk, int_cols)
        n_tot += n
        h_tot = (h_tot + h) % (1 << 128)
    return n_tot, h_tot


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        # sf1 certs collect results that scale WITH the data (e.g.
        # unpivot of the fact table -> 18M rows): the default ~1g
        # local-mode heap dies serializing task results back to the
        # driver (TaskResultLost -> JVM OOM, observed r8).  The
        # compare harness inherently collects, so give it headroom.
        .config(
            "spark.driver.memory", os.environ.get("SIM_DRIVER_MEM", "8g")
        )
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SIM_MAX_RESULT", "4g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    res = e.entry(spark)
    n = res.count()
    print(f"SMOKE entry: {n} rows, schema: {[f.name for f in res.schema.fields]}")

    def duck_connect():
        """Fresh DuckDB connection with the sweep's resource bounds.

        Budget cap + spill (r12): an sf10 oracle replay built a >RAM
        join intermediate and the default 80%-of-RAM limit ballooned
        the sweep process to 110 GB before the kernel OOM-killed it.
        Factored into a function because a connection that HAS hit its
        budget is poisoned — after one OutOfMemoryException every
        later allocation fails ('bad allocation' at 2 KB; observed
        r12: one phash OOM turned the next 6 queries into false
        ERRORs) — so the sweep reconnects after any oracle-side
        failure instead of fate-sharing the whole tail."""
        c = duckdb.connect()
        # Default cap: min(24GB, 60% of detected RAM) — on a small host
        # a hardcoded 24GB would be HIGHER than DuckDB's own
        # 80%-of-RAM default and weaken the OOM protection (ADVICE
        # r12).  SIM_DUCK_MEM still overrides outright.
        mem = os.environ.get("SIM_DUCK_MEM")
        if mem is None:
            try:
                pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
                mem = f"{min(24, max(1, int(pages * 0.6 / 2**30)))}GB"
            except (ValueError, OSError):
                mem = "24GB"
        c.execute(f"SET memory_limit='{mem}'")
        spill = os.environ.get("SIM_DUCK_SPILL", "/tmp/duckdb_spill")
        os.makedirs(spill, exist_ok=True)
        c.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            c.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        return c

    con = duck_connect()

    qs = e.queries()
    oracles = e.oracle_sql()
    # single-JVM waivers (QuerySpec.single_jvm_only): under a
    # local-cluster master, a declared test-stand-in boundary is a
    # documented SKIP line, not a red row (VERDICT r10 item 3)
    is_multi_jvm = spark.sparkContext.master.startswith("local-cluster")
    try:
        from pandas_redshift_spark.operators import all_queries as _all_specs

        specs = _all_specs()
    except Exception:
        specs = {}
    failures = []
    items = [
        (name, fn)
        for name, fn in qs.items()
        if (name in ONLY_NAMES if ONLY_NAMES else (not ONLY_PREFIX or name.startswith(ONLY_PREFIX)))
        and not any(s in name for s in SKIP_SUBSTRS)
    ]
    if SKIP_SUBSTRS:
        skipped = [n for n in qs if any(s in n for s in SKIP_SUBSTRS)]
        print(f"SKIPPED ({len(skipped)} by SIM_SKIP): {', '.join(skipped)}")
    if LIMIT:
        items = items[:LIMIT]
    for i, (name, fn) in enumerate(items):
        spec = specs.get(name)
        waiver = getattr(spec, "single_jvm_only", None)
        if is_multi_jvm and waiver:
            print(f"SKIPPED(single-jvm waiver) {name}: {waiver}")
            continue
        t0 = time.perf_counter()
        # resolve the oracle SQL up front: cert-oracle builders may
        # run Spark jobs + register DuckDB temp tables (their own
        # failures report as the oracle side, not the Spark side)
        osql = oracles.get(name)
        cert_tag = ""
        if USE_CERT_ORACLES and spec is not None and getattr(spec, "cert_oracle", None):
            try:
                osql = spec.cert_oracle(spark, SF_DIR, con)
                cert_tag = ",cert"
            except Exception as exc:
                print(
                    f"ERROR {name} (cert-oracle build): {type(exc).__name__}: {str(exc)[:200]}"
                )
                failures.append(name)
                continue
            # the build may itself run Spark jobs (e.g. the semdedup
            # codebook replay); report it separately and restart the
            # clock so ok(...) timings measure the query under test,
            # not oracle construction (ADVICE r13 — cross-round
            # timing comparisons in cert logs were conflated)
            build_dt = time.perf_counter() - t0
            if build_dt >= 1.0:
                print(f"cert-oracle build {name}: {build_dt:.1f}s")
            t0 = time.perf_counter()
        try:
            frame = fn(spark, SF_DIR)
            if CHUNK_THRESHOLD and osql is not None:
                # chunked multiset-digest compare: nothing
                # result-sized ever reaches the driver on either side,
                # and each side executes exactly once (the old
                # frame.count() size probe doubled every query's cost
                # — ADVICE r11)
                sn, sh = spark_chunk_digest(frame)
                try:
                    ocols = sorted(con.sql(osql).columns)
                    on, oh = duck_chunk_digest(con, osql)
                except Exception as exc:
                    print(
                        f"ERROR {name} (oracle): {type(exc).__name__}: {str(exc)[:200]}"
                    )
                    failures.append(name)
                    try:
                        con.close()
                    except Exception:
                        pass
                    con = duck_connect()  # poisoned after OOM — see duck_connect
                    continue
                dt = time.perf_counter() - t0
                probs = []
                if sn != on:
                    probs.append(f"rows {sn} vs {on}")
                if sorted(frame.columns) != ocols:
                    probs.append(f"cols {sorted(frame.columns)} vs {ocols}")
                if not probs and sh != oh:
                    probs.append("value-digest MISMATCH (chunked)")
                if probs:
                    print(f"MISMATCH {name}: {'; '.join(probs)}")
                    failures.append(name)
                else:
                    print(f"ok(chunked{cert_tag}) {name}: {sn} rows [{dt:.1f}s]")
                continue
            sdf = frame.toPandas()
        except Exception as exc:
            print(f"ERROR {name}: {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            continue
        dt = time.perf_counter() - t0
        if osql is None:
            print(f"ok(rows-only) {name}: {len(sdf)} rows [{dt:.1f}s]")
            continue
        try:
            odf = con.sql(osql).df()
        except Exception as exc:
            print(f"ERROR {name} (oracle): {type(exc).__name__}: {str(exc)[:200]}")
            failures.append(name)
            try:
                con.close()
            except Exception:
                pass
            con = duck_connect()  # poisoned after OOM — see duck_connect
            continue
        probs = []
        if len(sdf) != len(odf):
            probs.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            probs.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            sd = {c: str(sdf[c].dtype) for c in sdf.columns}
            od = {c: str(odf[c].dtype) for c in odf.columns}
            diff = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
            # int64 vs int32 etc. are real driver mismatches only when
            # value strings differ; still report
            if diff:
                print(f"DTYPE-DIFF {name}: {diff}")
        if not probs and canon_hash(sdf.copy()) != canon_hash(odf.copy()):
            probs.append("value-hash MISMATCH")
        if probs:
            print(f"MISMATCH {name}: {'; '.join(probs)}")
            # Probabilistic ops gated against an EXACT oracle (the LSH
            # family) can fail certification through RECALL loss with
            # no arithmetic bug — the per-pair miss probability grows
            # with the width schedule (ADVICE r8).  When a registered
            # exact twin shares this oracle, say where to look.
            twin = f"{name}_exact"
            if twin in qs and oracles.get(twin) == osql:
                print(
                    f"  hint: {name} is probabilistic; its oracle is exact."
                    f" Run SIM_ONLY={twin} — if the twin is green, this is"
                    " recall loss (banding/width schedule), not arithmetic."
                )
            failures.append(name)
        else:
            tag = f"(cert)" if cert_tag else ""
            print(f"ok{tag} {name}: {len(sdf)} rows [{dt:.1f}s]")
    print("FAILURES:", ", ".join(failures) if failures else "none")


if __name__ == "__main__":
    main()
