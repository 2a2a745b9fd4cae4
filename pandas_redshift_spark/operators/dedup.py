"""Deduplication operators over ``documents`` (north-star extension,
SURVEY.md §2.C) — exact, hash-keyed, n-gram-Jaccard and MinHash-LSH.

Scale design: every variant avoids O(n^2) comparisons.  Exact dedup is
one hash shuffle on the content key; Jaccard joins only docs sharing a
shingle (inverted-index join); MinHash-LSH bands candidates so the
pair space stays near-linear at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables, ensure_parallelism, memoized_persist


@query(
    "dedup_exact",
    oracle="""
    SELECT
        min(doc_id) AS doc_id,
        CAST(count(*) AS BIGINT) AS n_copies,
        text
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group on the text itself, keep the lowest
    doc_id as the deterministic survivor.  One shuffle keyed on text
    (at 100 TB you'd key on sha2(text,256) to shrink shuffle rows —
    see dedup_exact_hash)."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "n_copies", "text")


@query(
    "dedup_exact_hash",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, lang, sha256(text) AS content_hash,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, lang, content_hash
    FROM hashed
    WHERE rn = 1
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup with window keep-first: survivors carry their
    metadata (not just the group key).  The shuffle key is the 32-byte
    digest, independent of document length — the right exact-dedup
    shape for 100 TB of long documents."""
    d = Tables(spark, sf_dir).documents
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        d.withColumn("content_hash", F.sha2("text", 256))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "content_hash")
    )


def shingles(text_col: str = "text", n: int = 3, tokens_col: str | None = None):
    """Distinct word n-gram shingles of a text column as an array
    (built-ins only: split -> sequence -> transform -> array_distinct).
    Texts with fewer than ``n`` tokens yield an EMPTY array — the
    guard matters because sequence(0, -1) would count downward and
    element_at(_, 0) throws under ANSI mode.

    Pass ``tokens_col`` naming an ALREADY-MATERIALIZED token-array
    column to make the per-gram ``element_at`` reads O(1): with the
    default inline ``split(text_col)``, the split subtree is embedded
    in the transform lambda and interpreted higher-order functions
    re-evaluate it per element — the whole text is re-split ~3n times
    per doc, O(n^2) character work (r14 before-plans showed
    ``split(text)`` x5 in the shingle projection; the materialized
    form measures ~2x faster at sf0.1 with identical output).  Use
    :func:`shingled` for the standard two-projection frame."""
    toks = F.col(tokens_col) if tokens_col else F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingled(
    d: DataFrame, alias: str = "shingle_set", text_col: str = "text", n: int = 3
) -> DataFrame:
    """``(doc_id, <alias>)`` via the two-projection shape: tokens are
    split in their own projection (multi-referenced by the consumer,
    so CollapseProject cannot inline the split back into the n-gram
    lambda), then shingled from the materialized array.  Identical
    strings in identical order to the inline form — only the
    evaluation count of ``split`` changes."""
    return d.select("doc_id", F.split(F.col(text_col), " ").alias("__toks__")).select(
        "doc_id", shingles(n=n, tokens_col="__toks__").alias(alias)
    )


def shingle_cte_sql(alias: str = "shingle_set") -> str:
    """The DuckDB CTE mirroring :func:`shingles` (distinct word
    3-grams; <3-token docs yield an empty set) — THE single source for
    every shingle-based oracle (jaccard, dfcut, containment,
    minhash-LSH, clustering, decontaminate).  Any change to shingle
    semantics lands here and in :func:`shingles` together, or the
    oracles silently desynchronize from the Spark side."""
    return f"""sh AS (
        SELECT doc_id,
               list_distinct([
                   tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3]
                   for i in range(greatest(len(tokens) - 2, 0))
               ]) AS {alias}
        FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    )"""


def shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingle_set) frame, built ONCE per (session,
    sf_dir) as a checkpoint (``memoized_persist``) and shared by every
    shingle-based operator (jaccard, dfcut, containment,
    decontaminate).

    Two reasons this is a memoized singleton rather than a per-query
    materialization:

    - the materialization boundary must sit BEFORE the explode so
      InferFiltersFromGenerate's inferred ``size(arr) > 0`` filter
      cannot drag the whole shingle-building expression below the
      repartition exchange into the scan stage (PLANS.md "Optimizer
      trap", measured 10-25x).  The build's own plan has no explode,
      and the consumers explode a checkpoint that has no scan;
    - one frame per session makes the shingle pass run once per
      session and keeps repeated invocations plan-stable, which is
      also the 100 TB shape: shingling is the expensive linear scan,
      every downstream dedup variant should share it.  A warm call
      plans over the checkpoint's one ``LogicalRDD`` leaf, never over
      the shingling lineage.

    Keyed on applicationId (via ``memoized_persist``) so a fresh
    SparkContext never sees a stale frame and stopped-session entries
    are evicted."""

    def build() -> DataFrame:
        d = ensure_parallelism(Tables(spark, sf_dir).documents)
        return shingled(d, alias="shingle_set")

    return memoized_persist(spark, ("shingle_frame", sf_dir), build)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT
        i.doc_a, i.doc_b,
        i.n_common * 1.0 / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via an inverted-index
    join: docs pair up only if they share a shingle, so the candidate
    space is sum-of-squares of posting lists, not |docs|^2.  Shingle
    selectivity is what keeps this linear-ish; at 100 TB you'd cap
    posting-list length (drop ultra-common shingles) — the standard
    "document frequency cut" — before the self-join."""
    # shared checkpointed shingle frame — the pre-explode boundary
    # (see shingle_frame) stops the InferFiltersFromGenerate pushdown
    # trap AND lets every shingle-based operator reuse one shingle pass
    sh = shingle_frame(spark, sf_dir)
    # carry the set size onto every posting row: |A| and |B| then ride
    # through the self-join for free (grouping keys), so no separate
    # sizes aggregate + two re-joins
    tok = sh.select(
        "doc_id", F.size("shingle_set").alias("n"), F.explode("shingle_set").alias("s")
    )
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # raw double, no round(): quotients have no exact decimal width, so
    # fixed-dp rounding is never engine-safe; identical IEEE divisions
    # agree bit-for-bit and the driver's %.6f canonicalization matches
    return inter.filter(jac >= 0.2).select("doc_a", "doc_b", jac.alias("jaccard"))


#: modulus for the affine minhash re-mix (2^31 - 1, Mersenne prime) —
#: small enough that every intermediate product below stays within a
#: signed 64-bit long, so the arithmetic is identical (and
#: ANSI-overflow-safe) in Spark AND DuckDB.
HASH_MOD = 2147483647


def md5_hash_spark_sql(col: str, start: int, length: int) -> str:
    """Spark-SQL text of the portable string hash: ``length`` hex chars
    of md5 starting at 1-based ``start``, parsed as a BIGINT.

    Engine-portable on purpose: md5 is the same algorithm everywhere,
    so DuckDB computes the bit-identical value
    (:func:`md5_hash_duckdb_sql`) — which is what lets the
    hash-family-dependent dedup operators (simhash, minhash-LSH) carry
    REAL value-hash oracles instead of rows-only checks.  Unlike a
    hand-rolled per-char fold (a higher-order ``aggregate`` lambda,
    which Spark evaluates interpreted, measured ~4x slower end-to-end),
    md5/substring/conv are ordinary codegen'd JVM expressions, so this
    is also a legitimate 100 TB path; swap in ``xxhash64`` for a
    further constant factor when oracle portability isn't needed.
    ``length`` <= 15 keeps the parsed value under 2^60 (no long
    overflow, no sign bit)."""
    assert length <= 15
    return (
        f"CAST(conv(substring(md5({col}), {start}, {length}), 16, 10) AS BIGINT)"
    )


def md5_hash_duckdb_sql(col: str, start: int, length: int) -> str:
    """DuckDB twin of :func:`md5_hash_spark_sql` (hex-literal cast)."""
    assert length <= 15
    return f"CAST(('0x' || substr(md5({col}), {start}, {length})) AS BIGINT)"


def _minhash_coeffs(n_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) coefficients of the universal hash
    family ``h_i(g1, g2) = (a_i*g1 + b_i*g2 + c_i) mod HASH_MOD`` —
    seeded so Spark and the DuckDB oracle embed identical literals."""
    import random

    rng = random.Random(42)
    return [
        (
            rng.randrange(1, HASH_MOD),
            rng.randrange(1, HASH_MOD),
            rng.randrange(0, HASH_MOD),
        )
        for _ in range(n_hashes)
    ]


def minhash_signatures(d: DataFrame, n_hashes: int = 32) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) MinHash signature frame.  The expensive
    variable-length string hash over each shingle runs ONCE per base
    (two portable polynomial hashes g1, g2); each signature is then a
    constant-cost affine re-mix ``(a_i*g1 + b_i*g2 + c_i) mod p`` —
    the standard universal-hash construction, with every intermediate
    modulo-reduced so nothing overflows a long under ANSI mode.

    P(mh_i(A) == mh_i(B)) = jaccard(A, B), so signature agreement is
    an unbiased jaccard estimator — calibration is unit-tested against
    the exact operator.  The portable hash (see
    :func:`md5_hash_spark_sql`) makes the whole signature — and the
    LSH pairs built on it — reproducible in DuckDB for the driver's
    value-hash oracle."""
    # md5 runs once per (shingle, base-hash) — twice per shingle.
    # Factoring the md5 into its own transform and parsing two
    # substrings from the materialized hex array was measured
    # SLOWER (0.79 s vs 0.71 s for the signature pass at sf0.1):
    # the intermediate 32-char string array costs more than the
    # second md5, and shingle-building dominates the stage anyway.
    g1 = f"{md5_hash_spark_sql('s', 1, 8)} % {HASH_MOD}"
    g2 = f"{md5_hash_spark_sql('s', 9, 8)} % {HASH_MOD}"
    sh = shingled(d, alias="ss").select(
        "doc_id",
        F.expr(f"transform(ss, s -> {g1})").alias("g1"),
        F.expr(f"transform(ss, s -> {g2})").alias("g2"),
    )
    coeffs = _minhash_coeffs(n_hashes)

    def _remix_min(i: int):
        a, b, c = coeffs[i]
        return F.expr(
            f"array_min(zip_with(g1, g2, (x, y) -> "
            f"((({a} * x) % {HASH_MOD} + ({b} * y) % {HASH_MOD} + {c}) % {HASH_MOD})))"
        )

    return sh.select(
        "doc_id", *[_remix_min(i).alias(f"mh{i}") for i in range(n_hashes)]
    )


def _band_fold_sql(b: int, band_size: int) -> str:
    """Portable fold of one band's ``band_size`` signature values into
    a single bucket key: ``acc = (acc*131 + mh) mod HASH_MOD`` (valid
    SQL text in both engines; every intermediate < 2^38)."""
    e = f"mh{b * band_size}"
    for r in range(1, band_size):
        e = f"(({e}) * 131 + mh{b * band_size + r}) % {HASH_MOD}"
    return e


def _minhash_lsh_oracle(n_hashes: int = 32, band_size: int = 4) -> str:
    """DuckDB twin of the full minhash-LSH pipeline — same shingles,
    same portable polynomial base hashes, same affine re-mix literals,
    same band fold, so the candidate pair set is bit-identical."""
    coeffs = _minhash_coeffs(n_hashes)
    g1 = f"{md5_hash_duckdb_sql('s', 1, 8)} % {HASH_MOD}"
    g2 = f"{md5_hash_duckdb_sql('s', 9, 8)} % {HASH_MOD}"
    mh_cols = ",\n        ".join(
        f"min((({a} * g1) % {HASH_MOD} + ({b} * g2) % {HASH_MOD} + {c}) % {HASH_MOD}) AS mh{i}"
        for i, (a, b, c) in enumerate(coeffs)
    )
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {_band_fold_sql(b, band_size)} AS h FROM mh"
        for b in range(n_hashes // band_size)
    )
    return f"""
    WITH {shingle_cte_sql("ss")},
    tok AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    gh AS (SELECT doc_id, {g1} AS g1, {g2} AS g2 FROM tok),
    mh AS (
        SELECT doc_id,
        {mh_cols}
        FROM gh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.h = b.h AND a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup candidates — the 100 TB-scale path.

    Pipeline: word-3-gram shingles -> TWO portable polynomial hashes
    over each shingle STRING (the expensive variable-length hash, done
    once per base) -> 32 minhash signatures via the affine universal
    family ``(a_i*g1 + b_i*g2 + c_i) mod p`` (constant-cost,
    overflow-safe under ANSI mode) -> 8 bands x 4 rows folded to one
    bucket key -> band-hash bucket join -> distinct candidate pairs.
    Only docs colliding in >=1 band are ever paired, so the shuffle
    volume is ~32 longs/doc regardless of document size.

    Every stage is engine-portable arithmetic, so the DuckDB oracle
    reproduces the exact candidate set — a full value-hash driver
    check on an LSH operator (rows-only before round 3).  On a real
    cluster you'd swap the base hash for xxhash64 (one expression,
    same plan shape) for the constant factor.
    """
    n_hashes, band_size = 32, 4

    def build_buckets() -> DataFrame:
        d = ensure_parallelism(Tables(spark, sf_dir).documents)
        sigs = minhash_signatures(d, n_hashes)
        bands = [
            F.expr(_band_fold_sql(b, band_size)).alias(f"band{b}")
            for b in range(n_hashes // band_size)
        ]
        banded = sigs.select("doc_id", *bands)
        # one row per (band_idx, band_hash) — the LSH bucket key
        return banded.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("h"))
                        for b in range(n_hashes // band_size)
                    ]
                )
            ).alias("bk"),
        ).select(
            "doc_id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.h").alias("h")
        )

    # both self-join sides reuse the signature pipeline; memoized so
    # repeated calls share ONE checkpointed bucket frame
    buckets = memoized_persist(spark, ("lsh_buckets", sf_dir, n_hashes), build_buckets)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


#: simhash width: 15 md5 hex chars = 60 portable bits
SIMHASH_BITS = 60


def _simhash_oracle() -> str:
    """DuckDB twin of the portable simhash: same token hash, same
    per-bit votes, same bit reassembly — bit-identical fingerprints."""
    h = md5_hash_duckdb_sql("t", 1, 15)
    votes = ",\n        ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    h AS (
        SELECT doc_id, {h} AS h FROM tok
    ),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM votes
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (60-bit, token-level) — near-dup docs get
    small Hamming distance.

    Computed entirely with built-ins: explode tokens -> portable
    60-bit md5-prefix token hash (see :func:`md5_hash_spark_sql` —
    reproducible in DuckDB, which is what upgrades this from a
    rows-only driver check to a value-hash oracle) -> per-bit +/-1
    vote aggregate -> reassemble bits.  One shuffle on doc_id; the
    hash and all 60 conditional-sum aggregates stay in whole-stage
    codegen.  On a real cluster swap the token hash for xxhash64
    (same plan, faster constant).
    """
    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("h", F.expr(md5_hash_spark_sql("tok", 1, 15)))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select("doc_id", fp.alias("simhash"))


def _components_output(labels: DataFrame) -> DataFrame:
    """(component_id, n_members, members) from a (node, label) frame —
    shared by both clustering variants so the output contract stays in
    lockstep with _CLUSTER_ORACLE's ``string_agg(node, ',' ORDER BY
    node)`` (comma separator, numeric member order).  The member list
    is a STRING because the driver's canonicalizer hashes row values
    and cannot sort/hash a raw array<long> cell."""
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("component_id")
    )


def jaccard_pairs_cte_sql(threshold: float = 0.2) -> str:
    """CTE chain (sh, tok, sizes, inter, pairs) producing the
    >=threshold jaccard pair graph — shared by the jaccard-adjacent
    oracles so the pair semantics can't fork."""
    return f"""{shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= {threshold}
    )"""


def components_cte_sql(threshold: float = 0.2) -> str:
    """Extends :func:`jaccard_pairs_cte_sql` with the recursive
    transitive closure: adds (edges, reach, comp) where ``comp`` maps
    every node in the pair graph to its component_id (the min
    reachable node — exactly the fixpoint min-label propagation
    converges to).  Requires ``WITH RECURSIVE`` at the call site."""
    return f"""{jaccard_pairs_cte_sql(threshold)},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS node, min(b) AS component_id FROM reach GROUP BY a)"""


#: DuckDB twin of the connected-components queries: the same >=0.2
#: jaccard pair graph, closed transitively with a recursive CTE.
#: Iterative Spark plan, recursive SQL oracle: the *results* are
#: comparable even though the algorithms differ, which is the whole
#: point of an oracle.
_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    {components_cte_sql()}
    SELECT component_id,
           CAST(count(*) AS BIGINT) AS n_members,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM comp GROUP BY component_id
    """


def _cluster_cert_oracle(spark: SparkSession, sf_dir: str, con) -> str:
    """Big-SF certification oracle for dedup_cluster_components
    (VERDICT r12 item 5): the primary oracle's recursive-CTE
    transitive closure materializes the full REACHABILITY relation —
    O(sum |component|^2) rows — and at sf30 exhausts memory WITHOUT
    spilling (recursive CTEs are non-spillable in DuckDB; fails at
    26 GB and 55 GB budgets, CERT_r12.md).  Recursion is the only
    infeasible piece, so this oracle replaces just that: DuckDB still
    computes the >=0.2 jaccard pair graph independently (the
    linear-feasible part — certified through dedup_ngram_jaccard at
    sf10/sf30), the closure runs as UNION-FIND over the fetched edge
    list in Python (path-halving, O(E a(N)) — exact, no recursion
    depth, nothing quadratic), labels are canonicalized to the
    component MINIMUM (the same fixpoint min-label propagation
    converges to), and the returned SQL formats (component_id,
    n_members, members) from the registered labels.  Unlike the other
    cert oracles this pins NOTHING from Spark — the whole computation
    is still engine-independent.
    tests/test_cert_oracles.py pins it == the recursive primary
    oracle == the Spark result at sf0.001."""
    import pandas as pd

    edges = con.sql(
        f"WITH {jaccard_pairs_cte_sql(0.2)} SELECT doc_a, doc_b FROM pairs"
    ).df()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in zip(edges["doc_a"].astype(int), edges["doc_b"].astype(int)):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, r), n)  # canonical min-label
    labels = pd.DataFrame(
        {
            "node": list(parent),
            "component_id": [roots[find(n)] for n in parent],
        }
    )
    con.register("cert_cc_labels", labels)
    return """
    SELECT component_id,
           CAST(count(*) AS BIGINT) AS n_members,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members
    FROM cert_cc_labels GROUP BY component_id
    """


@query(
    "dedup_cluster_components",
    oracle=_CLUSTER_ORACLE,
    cert_oracle=_cluster_cert_oracle,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the step
    that turns pairwise Jaccard matches into dedup GROUPS (transitive
    closure: if A~B and B~C, then {A,B,C} is one cluster with one
    survivor).  Iterative min-label propagation: every node starts
    labeled with min(self, neighbors) (round 1 baked into the seed);
    each hop every node takes the min label among itself and its
    neighbors; fixpoint in O(diameter) hops.  Near-dup graphs are
    overwhelmingly tiny cliques, so 1-2 materialized rounds close
    them — each round runs TWO hops (two shuffle join+aggregates)
    because the driver-side costs per round (convergence collect,
    ``localCheckpoint`` job) dominate, and propagation is monotone so
    deeper reach per materialization never changes the fixpoint.
    ``localCheckpoint`` truncates the growing lineage so round N
    doesn't re-execute rounds 1..N-1 (the classic iterative-DataFrame
    trap).  Convergence is detected by the strictly decreasing sum of
    labels — a cheap scalar aggregate, no row-diffing.  At 100 TB you'd switch the round body to the
    large-star/small-star formulation (same join shape, provably
    O(log n) rounds); the driver loop and checkpointing are identical.

    Checked four ways: the driver's value-hash oracle (a DuckDB
    recursive-CTE transitive closure — see ``_CLUSTER_ORACLE``),
    tests/test_extensions.py's union-find ground truth on the same
    pairs, the large-star/small-star twin below, and the adversarial
    chain-graph round-count fixture (tests/test_extensions.py) that
    measures the O(diameter)-vs-O(log n) trade the docstrings claim.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = propagate_components(pairs)
    return _components_output(labels)


def propagate_components(
    pairs: DataFrame, max_rounds: int = 10
) -> tuple[DataFrame, int]:
    """Min-label-propagation connected components over an undirected
    pair graph given as (doc_a, doc_b) rows.  Returns ``(labels,
    rounds)`` — a (node, label) frame at (or nearest to) the fixpoint
    and the number of MATERIALIZED rounds consumed, so callers (and
    the adversarial-skew test) can observe the O(diameter) round
    complexity directly.  See :func:`dedup_cluster_components` for the
    algorithm walkthrough; this helper is the exact loop that query
    runs, lifted so a synthetic worst-case graph can be pushed through
    it without re-deriving Jaccard pairs."""
    # undirected: propagate labels both ways
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # seed with min(self, neighbors) — same shuffle as the plain
    # distinct would cost, but it bakes round 1 of propagation into
    # the seed, so tiny cliques (the overwhelming case) converge one
    # join+agg+collect round earlier
    labels = (
        edges.groupBy(F.col("doc_a").alias("node"))
        .agg(F.least(F.min("doc_b"), F.col("doc_a")).alias("label"))
        .localCheckpoint()
    )

    def hop(lbl):
        neighbor = edges.join(lbl, edges.doc_a == lbl.node).select(
            F.col("doc_b").alias("node"), "label"
        )
        return (
            lbl.select("node", "label")
            .union(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    rounds = 0
    for _ in range(max_rounds):  # diameter bound; near-dup cliques close in 1-2
        # TWO hops per materialized round: the driver-side costs
        # (convergence collect + localCheckpoint job) dominate at small
        # graph sizes, and label propagation is monotone, so doubling
        # the per-round reach halves the materializations without
        # changing the fixpoint.
        labels = hop(hop(labels)).localCheckpoint()
        rounds += 1
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels, rounds


@query(
    "dedup_ngram_jaccard_dfcut",
    oracle=f"""
    WITH {shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    hot AS (SELECT s FROM tok GROUP BY s HAVING count(*) > 5),
    kept AS (
        SELECT doc_id, s FROM tok WHERE s NOT IN (SELECT s FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT
        i.doc_a, i.doc_b,
        i.n_common * 1.0 / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard_dfcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard with the DOCUMENT-FREQUENCY CUT applied —
    the mitigation PLANS.md prescribes for 100 TB: shingles appearing
    in more than K documents are dropped before the self-join, because
    a shingle in d documents contributes d^2 candidate pairs (the
    quadratic head is entirely hot shingles) while contributing almost
    no Jaccard evidence for near-dup pairs.  The hot set is tiny by
    Zipf's law, so it broadcasts as an anti join on the postings;
    Jaccard is then computed consistently over the cut shingle space
    (sizes recomputed per doc after the cut, riding a window over the
    same doc_id partitioning)."""
    def build_sized() -> DataFrame:
        sh = shingle_frame(spark, sf_dir)
        tok = sh.select("doc_id", F.explode("shingle_set").alias("s"))
        hot = (
            tok.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > 5)
            .select("s")
        )
        kept = tok.join(F.broadcast(hot), "s", "left_anti")
        return kept.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")).cast("bigint")
        )

    # both self-join sides reuse the cut postings; memoized (see
    # memoized_persist) so repeat calls don't rebuild them
    sized = memoized_persist(spark, ("dfcut_sized", sf_dir), build_sized)
    a = sized.alias("a")
    b = sized.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    # raw double, no round(): quotients have no exact decimal width, so
    # fixed-dp rounding is never engine-safe; identical IEEE divisions
    # agree bit-for-bit and the driver's %.6f canonicalization matches
    return inter.filter(jac >= 0.2).select("doc_a", "doc_b", jac.alias("jaccard"))


@query("dedup_cluster_components_lsstar", oracle=_CLUSTER_ORACLE)
def dedup_cluster_components_lsstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the provably O(log n)-round formulation that replaces
    min-label propagation's O(diameter) at 100 TB, where a single
    chain-shaped near-dup cluster would otherwise serialize the loop.

    large-star: every node connects its LARGER neighbors to the min of
    its neighborhood (incl. itself); small-star: every node connects
    its smaller-or-equal neighbors (and itself) to that min.  Both are
    one groupBy + one join re-emission — the same shuffle shape as one
    propagation round — but the composition provably halves component
    height per double-round.  Convergence = edge multiset fixpoint,
    detected by a 1-row (count, sum) aggregate; localCheckpoint
    truncates lineage per round as in dedup_cluster_components.

    Same output contract as dedup_cluster_components (the
    union-find-verified baseline); tests assert they agree
    component-for-component.  Iterative => rows-only driver check."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = lsstar_components(pairs)
    return _components_output(labels)


def lsstar_components(
    pairs: DataFrame, max_rounds: int = 15
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components over an undirected
    pair graph given as (doc_a, doc_b) rows.  Returns ``(labels,
    rounds)`` — a (node, label) frame and the number of materialized
    double-rounds consumed, so the adversarial-skew test can verify
    the O(log n) bound against :func:`propagate_components`'s
    O(diameter) on the same worst-case graph.  This is the exact loop
    :func:`dedup_cluster_components_lsstar` runs."""
    # canonical hi -> lo direction
    e = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"), F.least("doc_a", "doc_b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def edge_sig(df: DataFrame):
        return tuple(
            df.agg(
                F.count(F.lit(1)), F.sum("u"), F.sum("v")
            ).collect()[0]
        )

    def large_star(edges: DataFrame) -> DataFrame:
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv"))
        return (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        # edges already hi -> lo; min of smaller neighborhood
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        relink = edges.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        selfe = mins.select("u", F.col("m").alias("v"))
        return relink.union(selfe).filter(F.col("u") != F.col("v")).distinct()

    sig = edge_sig(e)
    rounds = 0
    for _ in range(max_rounds):  # O(log n) bound; near-dup graphs close in 2-3
        e = small_star(large_star(e)).localCheckpoint()
        rounds += 1
        new_sig = edge_sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint edges form stars: u -> component root (the min).  Roots
    # label themselves.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("label")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("label"))
    ).groupBy("node").agg(F.min("label").alias("label"))
    return labels, rounds


@query(
    "dedup_containment",
    oracle=f"""
    WITH {shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(sa.n AS BIGINT) AS n_grams_a,
           i.n_common * 1.0 / sa.n AS containment
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
    WHERE i.n_common * 1.0 / sa.n >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A in B) = |A∩B| / |A| >= 0.8 —
    the semantic that catches a short document wholly quoted inside a
    longer one, which symmetric Jaccard dilutes below threshold (the
    union in the denominator grows with |B|).  Training pipelines run
    BOTH: jaccard for same-size near-dups, containment for subset
    spam/quotes.  Same inverted-index join as dedup_ngram_jaccard —
    only |A| rides the posting rows (|B| never needed), pairs are
    DIRECTED (a != b, both orders scored).  Containment is a raw
    integer-quotient double (identical IEEE division both engines)."""
    sh = shingle_frame(spark, sf_dir)
    tok = sh.select(
        "doc_id", F.size("shingle_set").alias("n"), F.explode("shingle_set").alias("s")
    )
    a = tok.alias("a")
    b = tok.select("doc_id", "s").alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common") / F.col("na")
    return inter.filter(cont >= 0.8).select(
        "doc_a",
        "doc_b",
        F.col("na").cast("bigint").alias("n_grams_a"),
        cont.alias("containment"),
    )


@query(
    "dedup_provenance_crossref",
    oracle="""
    WITH groups AS (
        SELECT sha256(text) AS h,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               min(lang) AS lang
        FROM documents
        GROUP BY sha256(text)
        HAVING count(*) > 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_dup_groups,
           CAST(count(*) FILTER (n_sources = 1) AS BIGINT) AS n_within_source,
           CAST(count(*) FILTER (n_sources > 1) AS BIGINT) AS n_cross_source,
           CAST(sum(n_copies) AS BIGINT) AS n_dup_docs
    FROM groups
    GROUP BY lang
    """,
)
def dedup_provenance_crossref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate PROVENANCE: exact-dup groups classified by whether
    their copies live inside one source (re-crawl of the same site)
    or span sources (mirrors/syndication) — the breakdown that decides
    the fix (re-crawl dedup at ingest vs cross-source canonical
    selection).  One digest-keyed shuffle builds the groups; the
    per-lang report is a tiny re-agg."""
    d = Tables(spark, sf_dir).documents
    groups = (
        d.groupBy(F.sha2("text", 256).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
            F.min("lang").alias("lang"),
        )
        .filter(F.col("n_copies") > 1)
    )
    return groups.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_dup_groups"),
        F.count(F.when(F.col("n_sources") == 1, 1)).alias("n_within_source"),
        F.count(F.when(F.col("n_sources") > 1, 1)).alias("n_cross_source"),
        F.sum("n_copies").alias("n_dup_docs"),
    )


CHUNK_TOKENS = 16


@query(
    "dedup_chunk_level",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    idx AS (
        SELECT doc_id, toks,
               unnest(range(CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT))) AS i
        FROM tok
    ),
    chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, i*{CHUNK_TOKENS} + 1, i*{CHUNK_TOKENS} + {CHUNK_TOKENS}),
                   ' ')) AS chunk_h
        FROM idx
    ),
    dup AS (
        SELECT chunk_h FROM chunks GROUP BY chunk_h HAVING count(DISTINCT doc_id) > 1
    ),
    perdoc AS (
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(d.chunk_h) AS BIGINT) AS n_dup_chunks
        FROM chunks c LEFT JOIN dup d USING (chunk_h)
        GROUP BY c.doc_id
    )
    SELECT doc_id, n_chunks, n_dup_chunks,
           round(n_dup_chunks * 1.0 / n_chunks, 4) AS dup_chunk_fraction,
           CASE WHEN n_dup_chunks * 1.0 / n_chunks < 0.5 THEN TRUE ELSE FALSE END AS keep
    FROM perdoc
    """,
)
def dedup_chunk_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-style) dedup, the CCNet/RefinedWeb shape:
    split each document into consecutive ``CHUNK_TOKENS``-token chunks,
    digest each chunk, and mark chunks whose identical text appears in
    more than one document; report the per-document duplicated-chunk
    fraction and a keep/drop verdict (<50% duplicated content).

    The corpus here has no newlines, so fixed-width token windows stand
    in for paragraphs; on real web text the chunker would split on
    ``\\n`` first and fall back to token windows for oversized
    paragraphs — the downstream plan is identical.

    Scale design: the shuffle key is the 16-byte chunk digest, never
    the chunk text, so shuffle width is independent of chunk length.
    The expensive part at 100 TB is tokenize+digest over all text, so
    that pass runs ONCE: the reduced (chunk_h, doc_id, n_inst) frame is
    checkpointed (memoized, shingle_frame pattern) and both consumers —
    the HAVING-filtered duplicated-chunk set and the per-doc rollup it
    joins back to (inverted-index shape, no self-join) — read the
    stored digests instead of re-scanning the corpus.  Hot boilerplate
    chunks are bounded by the reduction to distinct (chunk, doc) pairs
    before any join; AQE skew-join covers the rest."""

    def build() -> DataFrame:
        d = ensure_parallelism(Tables(spark, sf_dir).documents)
        # tokens materialized first (same lambda-invariant fix as
        # shingled): inlined, the per-chunk slice re-evaluates
        # split(text) once per chunk
        tokd = d.select("doc_id", F.split("text", " ").alias("toks"))
        toks = F.col("toks")
        k = F.lit(CHUNK_TOKENS)
        idx = F.sequence(
            F.lit(0), F.ceil(F.size(toks) / CHUNK_TOKENS).cast("bigint") - 1
        )
        chunk_hashes = F.transform(
            idx,
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, (i * k + 1).cast("int"), CHUNK_TOKENS))
            ),
        )
        return (
            tokd.select("doc_id", F.explode(chunk_hashes).alias("chunk_h"))
            .groupBy("chunk_h", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_inst"))
        )

    grouped = memoized_persist(spark, ("chunk_frame", sf_dir), build)
    dup = (
        grouped.groupBy("chunk_h")
        .agg(F.count(F.lit(1)).alias("nd"))  # rows are distinct docs already
        .filter(F.col("nd") > 1)
        .select("chunk_h")
    )
    perdoc = (
        grouped.join(dup.withColumn("is_dup", F.lit(1)), "chunk_h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n_inst").alias("n_chunks"),
            F.sum(
                F.when(F.col("is_dup").isNotNull(), F.col("n_inst")).otherwise(0)
            ).alias("n_dup_chunks"),
        )
    )
    frac = F.col("n_dup_chunks") / F.col("n_chunks")
    return perdoc.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        F.round(frac, 4).alias("dup_chunk_fraction"),
        (frac < 0.5).alias("keep"),
    )
