"""Similarity search over ``embeddings.embedding: array<float>[64]``
(north-star extension, SURVEY.md §2.C).

Brute-force cosine is the correctness baseline (oracle-checked against
DuckDB's list_cosine_similarity); the LSH variant is the scale path —
random-hyperplane signatures bucket candidates so the pair space stays
near-linear instead of |queries| x |corpus|.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import (
    Tables,
    ensure_parallelism,
    memo,
    memoized_persist,
)
from pandas_redshift_spark.stats import table_rows

#: TESTDATA-pinned corpus embedding width (embeddings.embedding is
#: array<float>[64] at every scale factor).  THE single constant the
#: DuckDB oracles pin when they need compile-time plane literals while
#: the Spark side probes the width from data; a corpus-width change
#: must land here, and tests/test_extensions.py asserts the parquet
#: width still matches so drift is caught in-repo before a driver
#: hash mismatch would surface it.
EMBEDDING_DIMS = 64


def _double_array(values: list) -> Column:
    """``array<double>`` literal of ``values`` (``array<array<double>>``
    for a list of lists), built as ONE ``F.expr`` of SQL text: the LSH
    hyperplanes of :func:`hyperplane_buckets`.  ``F.lit(list)`` is
    ``array(*[lit(x) for x in list])`` in PySpark 4.1: one py4j round
    trip per element.  Each value is written as ``repr(float(x)) +
    "D"``, which parses back to the same double bit for bit (subnormals
    and -0.0 included); values must be finite."""

    def sql(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(sql(x) for x in v) + ")"
        return repr(float(v)) + "D"

    return F.expr(sql(values))


def dot(x: Column, y: Column) -> Column:
    """Dot product of two array<double> columns using only JVM
    built-ins (zip_with product + aggregate sum) — stays JVM-side, no
    Python round-trip.

    Measured dead end (r5): unrolling this into a 64-term
    ``element_at`` multiply-add chain to get inside whole-stage
    codegen ran ~4x SLOWER across the embedding suite
    (dedup_embedding_cosine 5.0 -> 17.1 s, sim_lsh_topk 3.2 -> 13.5 s
    at sf0.1) — each ``element_at`` re-evaluates a non-trivial child
    (e.g. the ``transform`` float->double cast) without common
    subexpression elimination in join/filter contexts, turning one
    O(dims) pass into O(dims^2) re-casting, while the "interpreted"
    fold actually walks the ArrayData once in a tight loop.  The
    PLANS.md per-character-fold lesson stands at per-ELEMENT
    granularity: a 64-element fold per pair is the fast shape."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity computing all three dot products inline.
    Prefer :func:`cosine_pre` with per-row precomputed norms in
    pairwise loops — this form re-derives |a| and |b| for every pair
    (3x the vector math)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a single dot product plus precomputed norms —
    norms are computed once per *row* (O(n)) instead of once per
    *pair* (O(n^2)).  Superseded in the pairwise hot paths by
    prenormalized vectors (``emb_n`` from :func:`_emb_double`), where
    the per-pair work collapses to a bare :func:`dot` with no division
    at all (r6 refactor; measured +9% on the SemDeDup pair stage,
    PLANS.md).  Kept for callers that hold raw vectors + norms."""
    return dot(a, b) / (norm_a * norm_b)


def _emb_double(t: Tables) -> DataFrame:
    """Corpus embeddings with per-row derived vector columns:

    - ``emb``: array<double> cast of the raw float vector (signature
      bits and centroid averages use this — raw values, no rescale);
    - ``nrm``: L2 norm, computed once per row;
    - ``emb_n``: the unit-normalized vector ``emb / nrm``.  Pairwise
      cosine anywhere downstream is then ONE dot-product fold per pair
      (``dot(a_n, b_n)``) with zero per-pair divisions — the O(n^2)
      stage does strictly less work, and the normalization cost is
      O(n).  DuckDB oracles mirror it with ``list_transform(emb,
      x -> x / nrm)`` + ``list_inner_product``, so both engines run
      the identical per-element divide-then-fold arithmetic and
      threshold compares stay bit-exact.

    Unused columns are pruned by Catalyst, so queries that never read
    ``emb_n`` (signature-only, centroid averages) don't pay the
    transform.

    Zero-norm vectors are FILTERED (ADVICE r7): ``emb / 0`` would make
    ``emb_n`` all-NaN, and NaN similarities silently diverge between
    the engines — Spark's strict-greater argmax folds never update on
    NaN (the vector would land in no cell), while DuckDB's
    ``row_number() OVER (ORDER BY lip DESC)`` sorts NaN first.  A
    norm-zero embedding carries no direction, so no similarity op can
    use it; dropping it is the only semantics both engines agree on,
    and ``_EN_CTE`` applies the identical predicate so the oracles see
    the same corpus.  (QC/profiling ops read the RAW table and still
    surface such rows as outliers.)
    """
    # vector math is CPU-bound: spread the (often single-file) corpus
    # across all slots before scoring
    e = t.embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    # emb_n via zip_with against array_repeat(nrm), NOT
    # transform(emb, x -> x / nrm): CollapseProject inlines the nrm
    # alias into the consuming lambda, and interpreted higher-order
    # functions re-evaluate the whole norm fold PER ELEMENT — O(d^2)
    # per row (the r14 before-plans show
    # ``transform(emb, x / SQRT(aggregate(...)))``).  As a plain
    # (non-lambda) child of zip_with, array_repeat(nrm, d) is
    # evaluated once per row however the optimizer inlines it, and the
    # per-element arithmetic is the identical ``x / nrm`` divide —
    # bit-exact vs the old form and the DuckDB twin (verified
    # element-wise over the full corpus), ~30% off the normalize
    # stage at sf0.1.  The repeat count is size(emb), not the
    # EMBEDDING_DIMS constant (ADVICE r14): zip_with null-pads the
    # shorter side, so a row whose vector length differed from the
    # constant would silently normalize to nulls instead of being
    # handled like any other length.
    return (
        ensure_parallelism(e)
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
        .filter(F.col("nrm") > 0)
        .withColumn(
            "emb_n",
            F.zip_with(
                F.col("emb"),
                F.array_repeat(F.col("nrm"), F.size(F.col("emb"))),
                lambda x, n: x / n,
            ),
        )
    )


#: shared oracle prefix: embeddings cast to double + unit-normalized
#: (the DuckDB twin of ``_emb_double``'s ``emb_n``) — per-element
#: divide by the L2 norm, then every cosine downstream is ONE
#: list_inner_product, the same arithmetic the Spark side folds.
#: The WHERE mirrors ``_emb_double``'s zero-norm filter exactly
#: (``sqrt(lip) > 0`` == ``lip > 0`` for non-negative lip).
_EN_CTE = """e0 AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    e AS MATERIALIZED (
        SELECT vec_id, label, emb,
               list_transform(
                   emb, x -> x / sqrt(list_inner_product(emb, emb))
               ) AS en
        FROM e0
        WHERE list_inner_product(emb, emb) > 0
    )"""


@query(
    "sim_bruteforce_topk",
    memo_plan=True,
    oracle=f"""
    WITH {_EN_CTE},
    q AS (SELECT vec_id, en FROM e WHERE vec_id < 10),
    scored AS (
        SELECT
            q.vec_id AS query_id,
            c.vec_id AS neighbor_id,
            round(list_inner_product(q.en, c.en), 4) AS score
        FROM q CROSS JOIN e c
        WHERE q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY score DESC, neighbor_id
               ) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, score, rn
    FROM ranked WHERE rn <= 5
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors: broadcast the
    (small) query set against the full corpus, score JVM-side, rank
    with a per-query window.  At scale: queries broadcast, corpus
    streams — one pass, no corpus shuffle; the window is per-query so
    the WindowGroupLimit keeps 5 rows per partition."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t)
    q = broadcast(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb_n").alias("q_en"),
        )
    )
    scored = (
        emb.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("q_en"), F.col("emb_n")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(F.col("rn") <= 5)


_PAIRS_THRESHOLD_ORACLE = f"""
    WITH {_EN_CTE},
    sub AS (SELECT vec_id, label, en FROM e WHERE vec_id % 5 = 0)
    SELECT
        a.vec_id AS vec_a,
        b.vec_id AS vec_b,
        (a.label = b.label) AS same_label,
        round(list_inner_product(a.en, b.en), 4) AS score
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.en, b.en) >= 0.3
    """


def _sample_sides(t: Tables):
    """(a, b) projections of the deterministic 1/5 sample with
    prenormalized vectors, for pair scoring."""
    sub = _emb_double(t).filter(F.col("vec_id") % 5 == 0)
    a = sub.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("la"),
        F.col("emb_n").alias("ean"),
    )
    b = sub.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        F.col("emb_n").alias("ebn"),
    )
    return sub, a, b


def _pairs_threshold_select(cand: DataFrame) -> DataFrame:
    score = dot(F.col("ean"), F.col("ebn"))
    return cand.filter(score >= 0.3).select(
        "vec_a",
        "vec_b",
        (F.col("la") == F.col("lb")).alias("same_label"),
        F.round(score, 4).alias("score"),
    )


@query("sim_pairs_threshold")
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine >= 0.3 pairs on the deterministic 1/5 sample, with the
    label agreement bit — DEFAULT = the bucketed scale path: random-
    hyperplane bands from :func:`hyperplane_buckets` (24 planes, 8
    NARROW 3-bit bands) generate candidates; only same-bucket pairs
    are exactly re-scored.  Measured on this corpus: ~88% recall at
    ~1.6x pruning — and an IVF-cell candidate generator measures the
    same Pareto (0.88 recall / 1.4x at nprobe=4), because a 0.3
    threshold (~72 degrees) sits near-orthogonal, where NO locality
    scheme separates matches from the uniform background; LSH prunes
    hard only at high thresholds (see dedup_embedding_cosine: recall
    ~1 at 0.999).  The low threshold here exercises the
    candidate/re-score SHAPE — sum-of-squares of bucket sizes, never
    |sample|^2 — which is what survives 100 TB once the threshold is
    a production one.  (Fixed 3-bit bands mean per-band occupancy
    still tracks the sample size — the candidate count is
    sum-of-squares OVER 8 BUCKETS per band, ~|sample|^2/8 per band,
    not truly linear; at a production threshold the width-scaled
    banding dedup_embedding_cosine uses (w ∝ log N) is the scale
    form, but at cosine 0.3 each extra bit costs ~0.6x per-band
    recall, so width cannot scale without also scaling the band
    COUNT — the honest statement is that near-orthogonal thresholds
    have no sub-quadratic exact-recall scheme.)  Approximate by
    design, so no SQL oracle (rows-only driver check); the unit test
    measures recall against sim_pairs_threshold_exact."""
    t = Tables(spark, sf_dir)
    sub, a, b = _sample_sides(t)
    buckets = hyperplane_buckets(t, sub, n_planes=24, band_bits=3).select(
        "vec_id", "bucket"
    )
    # broadcast one side of the bucket self-join and round-robin
    # spread the other: a shuffle join here partitions by bucket VALUE
    # (8 bands x 3 bits = 64 keys, tiny map output), so AQE coalesces
    # the stage that ENUMERATES the quadratic candidate set down to
    # 1-2 tasks — measured at sf10 (r11): the 40k-row sample's ~5.3M
    # output pairs took 1484 s on 2 tasks, vs fan-out work spreading
    # with the streamed partitions after this rewrite (the
    # multimodal_phash_near_dup expansion hazard, same fix).  The
    # broadcast side is sample x 8 narrow (id, bucket) rows.  NOTE:
    # an explicit broadcast() hint is honored regardless of
    # autoBroadcastJoinThreshold — there is NO automatic fallback; if
    # the sample ever outgrows the 8 GB broadcast limit the hint must
    # be REMOVED (or made conditional on an estimated sample size) to
    # fall back to the shuffle join + AQE skew-split, whose
    # candidate-count math (sum of per-bucket squares) is identical
    cand_ids = (
        ensure_parallelism(buckets).alias("x")
        .join(
            broadcast(buckets.alias("y")),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        # dedup multi-band collisions on the id pair only — carrying the
        # 64-dim arrays through the bucket join (and hashing them in a
        # distinct) would dominate; re-attach vectors after
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cand = cand_ids.join(a, "vec_a").join(b, "vec_b")
    return _pairs_threshold_select(cand)


@query("sim_pairs_threshold_exact", oracle=_PAIRS_THRESHOLD_ORACLE)
def sim_pairs_threshold_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.3 on the 1/5 sample — the EXACT oracle
    baseline that grounds sim_pairs_threshold's recall test.  The
    quadratic pair space is the point of a baseline; it is NOT the
    100 TB path (the bucketed default is)."""
    t = Tables(spark, sf_dir)
    sub, a, b = _sample_sides(t)
    # fan the probe side out to all slots (single-file scans arrive in
    # 1-2 partitions and serialize the O(n^2) join); values unchanged
    cand = ensure_parallelism(a).join(broadcast(b), F.col("vec_a") < F.col("vec_b"))
    return _pairs_threshold_select(cand)


def lsh_band_width(n_rows: int, target_occupancy: int = 64) -> int:
    """Corpus-scaled band width for high-threshold LSH:
    ``clamp(ceil(log2(n / target_occupancy)), 4, 16)`` — the per-band
    bucket space 2^w tracks the corpus so expected occupancy stays
    ~constant and same-bucket candidate pairs grow ~linearly instead
    of N^2/2^w (the r8 sf1 sweep measured the fixed-w form at 16.4x
    on a 10x data step).  Only valid at high thresholds, where each
    extra bit costs ~(1-p) with p small; near-orthogonal thresholds
    cannot width-scale (see sim_pairs_threshold)."""
    return min(16, max(4, math.ceil(math.log2(max(n_rows, target_occupancy) / target_occupancy))))


def hyperplane_buckets(
    t: Tables,
    emb: DataFrame,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane (signed random projection) LSH bucketing —
    the shared candidate-generation machinery of every ANN operator
    here.  Returns the input columns plus ``bucket`` with one exploded
    row per band.

    Signatures: ``n_planes`` deterministic pseudo-random ±1
    hyperplanes (seeded PRNG, materialized driver-side as literal
    arrays — they are constants, so evaluating a hash per (plane, dim)
    per row would be pure waste) — sign of <v, h_p> gives bit p.
    Vectors agreeing on any contiguous ``band_bits``-bit band land in
    a shared bucket.  Everything is built-ins, so the signature pass
    is one codegen stage over the corpus.  The band count/width sets
    the recall-vs-pruning point: wide bands (4 bits) for
    high-threshold near-dup recall, narrow bands for low thresholds.
    """
    # probe the embedding width from the data — literal planes of the
    # wrong length would zip_with-pad with nulls and silently zero
    # every signature bit.  One probe job per session per corpus, like
    # stats.table_rows.
    n_dims = memo(
        t.spark, "emb_width", (t.sf_dir,),
        lambda: t.embeddings.select(F.size("embedding").alias("d")).first()["d"],
    )
    planes = hyperplane_literals(n_planes, n_dims, seed)

    def plane_bit(p: int) -> Column:
        # sign of <emb, h_p> with h_p a literal ±1 array.  Bits come
        # from the RAW vector on purpose: sign(<v,h>) == sign(<v/|v|,h>)
        # mathematically, but the normalized fold could flip an
        # ulp-scale near-zero projection, so both engines pin the raw
        # form and stay bit-identical.
        h_p = _double_array(planes[p])
        return F.when(dot(F.col("emb"), h_p) > 0, F.lit(1)).otherwise(F.lit(0))

    # passthrough: callers choose which vector columns ride along with
    # the bucket (id-only for pair candidates, emb_n for re-score)
    keep = list(emb.columns)
    sig = emb.select(
        *keep, *[plane_bit(p).alias(f"bit{p}") for p in range(n_planes)]
    )
    n_bands = n_planes // band_bits
    bands = [
        F.concat_ws(
            "", *[F.col(f"bit{b * band_bits + r}") for r in range(band_bits)]
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    banded = sig.select(*keep, *bands)
    return banded.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.concat_ws("|", F.lit(str(b)), F.col(f"band{b}"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )


def hyperplane_literals(
    n_planes: int, n_dims: int, seed: int = 42
) -> list[list[float]]:
    """Seeded ±1 hyperplane literals — THE single source for both the
    Spark signature pass (:func:`hyperplane_buckets`, which probes
    ``n_dims`` from the data) and the DuckDB oracle
    (:func:`_lsh_topk_oracle`, which pins the corpus width).  One draw
    order; editing either consumer cannot desynchronize the planes."""
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(n_dims)]
        for _ in range(n_planes)
    ]


def _lsh_topk_oracle(
    n_planes: int = 16,
    band_bits: int = 4,
    seed: int = 42,
    n_dims: int = EMBEDDING_DIMS,
) -> str:
    """DuckDB twin of sim_lsh_topk: the SAME seeded ±1 hyperplane
    literals (``n_dims`` pinned to the corpus embedding width,
    TESTDATA.md), same sign bits, same band buckets, same exact
    re-score.  Valid because both engines fold the dot product
    left-to-right over identical doubles (verified bit-exact), so
    even the raw-double sign tests and rank orderings agree."""
    planes = hyperplane_literals(n_planes, n_dims, seed)
    bits = ",\n        ".join(
        f"CASE WHEN list_inner_product(emb, {planes[p]}) > 0 THEN 1 ELSE 0 END AS bit{p}"
        for p in range(n_planes)
    )
    n_bands = n_planes // band_bits
    band_rows = "\n        UNION ALL ".join(
        "SELECT vec_id, '{b}|' || {bits} AS bucket FROM sig".format(
            b=b,
            bits=" || ".join(
                f"CAST(bit{b * band_bits + r} AS VARCHAR)" for r in range(band_bits)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH {_EN_CTE},
    sig AS (
        SELECT vec_id,
        {bits}
        FROM e
    ),
    buckets AS (
        {band_rows}
    ),
    q AS (SELECT vec_id AS query_id, bucket FROM buckets WHERE vec_id < 10),
    cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM buckets c JOIN q ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_inner_product(qe.en, ne.en), 4) AS score
        FROM cand
        JOIN e qe ON qe.vec_id = cand.query_id
        JOIN e ne ON ne.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rn FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS BIGINT) AS rn FROM scored
    ) WHERE rn <= 5
    """


@query("sim_lsh_topk", oracle=_lsh_topk_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH — the
    100 TB path.  The plane literals are seeded constants, so the
    whole pipeline is deterministic and the DuckDB oracle reproduces
    it exactly (see :func:`_lsh_topk_oracle`; rows-only before round
    3); the unit test additionally measures recall vs
    sim_bruteforce_topk.  Candidates come from
    :func:`hyperplane_buckets` (16 planes, 4 bands); only candidates
    are exactly re-scored."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t)
    buckets = hyperplane_buckets(t, emb, n_planes=16, band_bits=4)
    # query side's vec_id<10 filter pushes to the scan, so its
    # recompute is 10 signature rows — not worth pinning a persist
    q = buckets.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_n").alias("q_en"),
        "bucket",
    )
    cand = (
        buckets.join(broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "q_en", F.col("vec_id").alias("neighbor_id"), "emb_n"
        )
        # dedup multi-band collisions on the id pair only — a full-row
        # distinct would hash the 64-dim arrays themselves
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("q_en"), F.col("emb_n")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(F.col("rn") <= 5)


_EMB_DEDUP_ORACLE = f"""
    WITH {_EN_CTE},
    dups AS (
        SELECT DISTINCT b.vec_id AS dup_id
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_inner_product(a.en, b.en) >= 0.999
    )
    SELECT e.vec_id, (dups.dup_id IS NOT NULL) AS is_duplicate
    FROM e LEFT JOIN dups ON e.vec_id = dups.dup_id
    """


def _emb_dedup_mark(e: DataFrame, dups: DataFrame) -> DataFrame:
    return e.join(
        broadcast(dups), F.col("vec_id") == F.col("dup_id"), "left"
    ).select("vec_id", F.col("dup_id").isNotNull().alias("is_duplicate"))


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (SURVEY.md §2.C dedup family): a
    vector is a duplicate iff some lower-id vector is cosine >= 0.999
    to it — keep-first survivor selection, no transitive closure.

    DEFAULT = the LSH-bucketed scale path: candidates are same-bucket
    pairs from :func:`hyperplane_buckets` (4 bands of ``w`` bits,
    exactly re-scored).  WIDE bands are right for a 0.999 threshold —
    a pair at cosine 0.999 is <=2.6 degrees apart, so each bit
    disagrees with p~=0.014 and even 9-bit bands miss with only
    (1-(1-p)^9)^4 ~= 2e-4 per pair.

    The band WIDTH scales with the corpus — ``w = clamp(ceil(log2(
    N/64)), 4, 16)`` — so the per-band bucket space 2^w tracks N and
    expected occupancy stays ~constant.  With FIXED w the same-bucket
    pair count is the classic LSH quadratic N^2/2^w: the r8 sf1 sweep
    measured 16.4x on a 10x data step (over the 15x superlinear
    flag) at the old fixed w=4; width-scaling (w=5 at sf0.1, w=9 at
    sf1) restores ~linear candidate growth while the exact re-score
    keeps precision exact.  Cost: the signature pass computes 4*w
    dot folds per row — O(log N) bits, linear in the corpus.

    The oracle is kept: at the driver's scale factors recall is 1
    (verified against the all-pairs twin
    dedup_embedding_cosine_exact, the formally-exact O(n^2)
    baseline, at every SF incl. sf1)."""
    t = Tables(spark, sf_dir)
    e = _emb_double(t).select("vec_id", "emb", "emb_n")
    # band width from the memoized RAW-table count (stats.table_rows,
    # one job/session) — counting the normalized frame here ran the
    # full scan+filter+transform pipeline on every invocation (ADVICE
    # r8).  Raw vs zero-norm-filtered N only nudges w at an exact
    # log2 boundary, and w affects recall, not the oracle contract.
    w = lsh_band_width(table_rows(t, "embeddings"))
    buckets = hyperplane_buckets(t, e, n_planes=4 * w, band_bits=w)
    cand_ids = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("emb_n").alias("ean"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("emb_n").alias("ebn"))
    dups = (
        cand_ids.join(a, "id_a")
        .join(b, "id_b")
        .filter(dot(F.col("ean"), F.col("ebn")) >= 0.999)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return _emb_dedup_mark(e, dups)


@query("dedup_embedding_cosine_exact", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs broadcast variant of dedup_embedding_cosine — the
    formally-exact O(n^2) baseline the bucketed default's recall is
    measured against.  Not the 100 TB path."""
    t = Tables(spark, sf_dir)
    e = _emb_double(t).select("vec_id", "emb_n")
    # the probe side is one small parquet file (1-2 input partitions);
    # without a round-robin fan-out the O(n^2) broadcast join runs
    # near-serial — at sf3 (60k vectors, 1.8e9 pairs) that turned the
    # recall-cert baseline into a half-hour straggler on 2 tasks.
    # Row values are unchanged (pure repartition).
    a = ensure_parallelism(
        e.select(F.col("vec_id").alias("id_a"), F.col("emb_n").alias("ean"))
    )
    b = e.select(F.col("vec_id").alias("id_b"), F.col("emb_n").alias("ebn"))
    dups = (
        a.join(broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(dot(F.col("ean"), F.col("ebn")) >= 0.999)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return _emb_dedup_mark(e, dups)


#: spherical-k-means training schedule shared by the Spark trainer and
#: the oracle replay — one source, the two can't drift.
KMEANS_ITERS = 2
KMEANS_SAMPLE_MOD = 4

#: Hard ceiling for the DRIVER-side super-centroid trainer
#: (:func:`super_centroids` is O(iters * K * sqrt(K) * dims) pure
#: Python — ~1e8 float ops at this bound, seconds; past it the
#: identical schedule must lift into the Spark trainer).  ADVICE r7:
#: extreme-K runs fail LOUDLY here instead of silently burning the
#: driver for hours.
SUPER_TRAIN_MAX_K = 16384

#: Above this K the flat trainer's per-iteration driver traffic
#: (collect of K x dims per-cell means + broadcast of the K x dims
#: codebook) stops being acceptable and training switches to the
#: two-level HIERARCHICAL schedule (:func:`train_kmeans_hierarchical`)
#: whose driver traffic is O(sqrt(K) x dims): only the S = ceil(
#: sqrt(K)) super-codebook ever crosses the driver; the K child
#: centroids live and iterate as a DataFrame keyed by super-cell and
#: reach :func:`_assign_two_level` as a shuffle-joined frame, never
#: broadcast.  Ceiling math: S <= 16384 covers K <= 2.7e8, i.e.
#: N <= 3.3e10 vectors under the K = N/125 schedule — past 100 TB of
#: 64-dim embeddings.  Matches SUPER_TRAIN_MAX_K (the flat path's own
#: driver bound); every fixture SF trains K well below it, so
#: certified hashes are untouched.
KMEANS_FLAT_TRAIN_MAX_K = 16384


def _seed_frame(samp: DataFrame, k_cells: int) -> DataFrame:
    """The K smallest-id sample vectors — k-means seeds.  ``orderBy +
    limit`` plans as TakeOrderedAndProject (per-partition top-K, tiny
    merge on the driver); the r6 global-window ``row_number`` form was
    a single-partition sort of the WHOLE sample — a straggler at scale
    (VERDICT r6 item 3).  tests/test_plans.py pins this plan shape."""
    return (
        samp.orderBy("vec_id")
        .limit(k_cells)
        .select(F.col("vec_id").alias("cell"), F.col("emb_n").alias("c_en"))
    )


def _argmax_join(
    rows: DataFrame,
    book: DataFrame,
    cid: str,
    cen: str,
    on: str | None = None,
    keep: tuple = ("emb_n",),
) -> DataFrame:
    """Each ``(vec_id, emb_n, ...)`` row's max-dot codebook entry, as a
    join + group-by: ``rows`` meets every ``book`` row (or, with
    ``on``, those sharing that key) and ``max(struct(sim, -cid))``
    keeps the greatest sim and, on exact float ties, the greatest
    ``-cid`` = SMALLEST id — the strict-greater fold of
    :func:`argmax_dot` and DuckDB's ``row_number() OVER (ORDER BY lip
    DESC, id)``.  NaN sims can't arise: ``_emb_double`` filters
    zero-norm vectors and centroids are unit vectors.  ``keep``
    columns are constant per vec_id, so ``first()`` is
    value-deterministic.  Returns ``(vec_id, *keep, cid)``."""
    pairs = rows.join(book, on) if on else rows.join(book, how="cross")
    nid = (-F.col(cid)).cast("long").alias("nid")
    return (
        pairs.withColumn("sim", dot(F.col("emb_n"), F.col(cen)))
        .groupBy("vec_id")
        .agg(
            *[F.first(c).alias(c) for c in keep],
            F.max(F.struct("sim", nid)).alias("m"),
        )
        .select("vec_id", *keep, (-F.col("m.nid")).cast("long").alias(cid))
    )


def _pinned_means(members: DataFrame, vec: str, keys: tuple) -> DataFrame:
    """Per ``(*keys, dim)`` mean of the members' ``vec`` arrays,
    ORDER-PINNED: members summed left-to-right in vec_id-asc order
    (fold over ``array_sort(collect_list(struct(vec_id, val)))``;
    DuckDB: ``list_inner_product(array_agg(val ORDER BY vec_id),
    ones)``), divided by the double count — bit-exact across engines
    with NO rounding pin (the r6 ``round(avg(), 6)`` pin was itself a
    flake source: the engines round 6dp boundary values differently,
    ADVICE r6).  Member lists are ~(sample/K) elements, constant under
    the K = N/125 schedule, so collect_list stays bounded.  Returns
    ``(*keys, dim, cv)`` with 0-based ``dim``."""
    return (
        members.select(*keys, "vec_id", F.posexplode(vec).alias("dim", "val"))
        .groupBy(*keys, "dim")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                F.lit(0.0),
                lambda acc, x: acc + x["val"],
            ).alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(*keys, "dim", (F.col("sv") / F.col("cnt")).alias("cv"))
    )


def train_pq_books(
    spark: SparkSession,
    emb: DataFrame,
    n_sub: int,
    sub_dims: int | None,
    k_codes: int,
    cache_key: tuple,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
) -> list[list]:
    """The Lloyd trainer: deterministic sampled spherical k-means on
    ``n_sub`` contiguous ``sub_dims``-wide slices of every vector at
    once, carrying the subspace ``m`` through each stage and grouping
    on ``(m, cell)``.  ``sub_dims=None`` splits the vector evenly, so
    ``n_sub=1`` trains on whole vectors of any length — the flat
    codebook behind the IVF operators
    (:func:`train_kmeans_centroid_values`); product quantization
    trains ``PQ_M`` slices of ``PQ_SUB`` dims.  (Trained codebooks
    replaced the r4/r5 first-K-by-id seeds, whose loose cell geometry
    showed as a 1.4% Cauchy-Schwarz pruning rate, PLANS.md.)

    Replayed per subspace by :func:`_kmeans_ctes`, step for step:

    - sample: ``vec_id % sample_mod == 0`` (deterministic, no RNG);
    - seeds: the K smallest-id sample vectors (:func:`_seed_frame`),
      sliced per subspace on the driver; ``cell`` keeps the seed's
      vec_id;
    - per iteration: assign each sample slice to its max-dot centroid
      with :func:`argmax_dot` over subspace ``m``'s codebook in the
      broadcast :func:`_codebook_row` (ties -> smaller cell id),
      re-average per (m, cell, dim) with :func:`_pinned_means`, then
      renormalize on the driver with a left-to-right sum-of-squares
      fold;
    - a cell that captured no vectors, or whose mean is all zeros
      (reachable for a sub-slice of nonzero vectors, ADVICE r8), keeps
      its previous centroid — the oracle's CASE guard.

    Jobs: one seed collect and ``iters`` mean collects whatever
    ``n_sub``; with their shuffle stages and codebook broadcasts that
    is 10 Spark jobs for the PQ 8 x 32 and the flat K=16 trainings at
    sf0.01 and sf0.1 (sequential per-subspace training burned ~25 s
    of cold start at sf0.1 on 24 tiny-job round trips).  Only
    ``n_sub x K x sub_dims`` doubles ever reach the driver — the
    ML-KMeans pattern; at 100 TB the sample predicate becomes a
    fixed-size draw and the schedule and replay stay identical.

    Returns ``books``: for each ``m``, the ``[(cell, [floats])]`` list
    in cell-id order.  Memoized in the ``kmeans`` family; the slice
    width rides in the key, since a width-blind key would hand back
    wrong-width centroids."""

    def build() -> list[list]:
        samp = emb.filter(F.col("vec_id") % sample_mod == 0).select("vec_id", "emb_n")
        seeds = _seed_frame(samp, k_codes).collect()
        width = sub_dims or len(seeds[0]["c_en"]) // n_sub
        cents = {
            (m, r["cell"]): list(r["c_en"][m * width : (m + 1) * width])
            for r in seeds
            for m in range(n_sub)
        }  # (m, cell) -> centroid
        # the sample, exploded once per subspace: (vec_id, m, sub_en)
        exploded = samp.select(
            "vec_id",
            "emb_n",
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        ).select(
            "vec_id",
            "m",
            F.slice(F.col("emb_n"), F.col("m") * width + 1, F.lit(width)).alias(
                "sub_en"
            ),
        )

        def books() -> list[list]:
            return [
                sorted((c, v) for (m, c), v in cents.items() if m == mm)
                for mm in range(n_sub)
            ]

        book = F.element_at(F.col("books"), F.col("m") + 1)
        for _ in range(iters):
            assigned = exploded.crossJoin(_codebook_row(spark, books=books())).select(
                "vec_id",
                "m",
                argmax_dot(F.col("sub_en"), book).alias("cell"),
                "sub_en",
            )
            by_cell: dict[tuple, dict[int, float]] = {}
            for r in _pinned_means(assigned, "sub_en", ("m", "cell")).collect():
                by_cell.setdefault((r["m"], r["cell"]), {})[r["dim"]] = r["cv"]
            nxt = {}
            for mc, prev in cents.items():
                vals = by_cell.get(mc)
                if vals is None:
                    nxt[mc] = prev
                    continue
                raw = [vals[i] for i in range(width)]
                acc = 0.0
                for v in raw:  # left-to-right fold == both engines' fold
                    acc = acc + v * v
                nrm = math.sqrt(acc)
                nxt[mc] = prev if nrm == 0.0 else [v / nrm for v in raw]
            cents = nxt
        return books()

    key = (*cache_key, n_sub, sub_dims, k_codes, iters, sample_mod)
    return memo(spark, "kmeans", key, build)


def train_kmeans_centroid_values(
    spark: SparkSession,
    emb: DataFrame,
    k_cells: int,
    cache_key: tuple,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
) -> list:
    """The flat ``[(cell, [centroid floats])]`` codebook in cell-id
    order: :func:`train_pq_books`' one-subspace, whole-vector call
    (see there for the algorithm and the oracle-replay pins).  Training
    runs once per (session, cache_key, K, schedule); repeat calls and
    the probe + assign stages of one query reuse it."""
    return train_pq_books(
        spark, emb, 1, None, k_cells, cache_key, iters, sample_mod
    )[0]


def train_kmeans_centroids(
    spark: SparkSession,
    emb: DataFrame,
    k_cells: int,
    cache_key: tuple,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
) -> DataFrame:
    """:func:`train_kmeans_centroid_values` as a broadcast ``(cell,
    c_en)`` DataFrame of LITERAL centroid values, so downstream
    assign/probe plans are shallow.  Callers that need the VALUES
    (e.g. the two-level SemDeDup assignment, which derives
    super-centroids from them driver-side) call
    :func:`train_kmeans_centroid_values` directly."""
    return broadcast(
        spark.createDataFrame(
            train_kmeans_centroid_values(
                spark, emb, k_cells, cache_key, iters, sample_mod
            ),
            schema="cell long, c_en array<double>",
        )
    )


def _kmeans_ctes(
    k_expr: str,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
    n_dims: int = EMBEDDING_DIMS,
    suffix: str = "",
    src: str = "e",
) -> str:
    """CTE chain replaying :func:`train_pq_books` in DuckDB —
    same sample, seeds, assignment rule, order-pinned per-dim means
    (members summed vec_id-asc via ``list_inner_product(array_agg(val
    ORDER BY vec_id), ones)`` — bit-exact with Spark's sorted
    collect_list fold, no rounding), and left-fold renormalization (``en[dim]`` is 1-indexed here and
    0-indexed in Spark's posexplode; the packed arrays line up
    element-for-element).  Assumes the ``e`` CTE from ``_EN_CTE`` is in
    scope; ``k_expr`` may be a literal or a scalar subquery.  Emits a
    final ``cents{suffix}(cell, c_en)`` CTE.

    ``suffix``/``src`` exist for multi-codebook replays (the PQ oracle
    trains one codebook PER SUBSPACE): every internal CTE name gets
    ``suffix`` appended so chains don't collide, and the training rows
    come from ``src`` — either a CTE name or a parenthesized subquery
    producing ``(vec_id, en)`` (e.g. a ``list_slice`` of ``e.en``).
    The re-referenced chain nodes (samp, it{i}_c, cents) are ``AS
    MATERIALIZED``: DuckDB inlines plain CTEs PER REFERENCE, so a
    chain whose level i references level i-1 twice re-executes an
    exponentially growing subtree — the unhinted two-level SemDeDup
    replay at sf1 spilled past 80 GB of disk before failing, vs 6 s
    materialized (r8 sf1 certification).  Results are identical;
    only the evaluation strategy is pinned."""
    x = suffix
    parts = [
        f"""samp{x} AS MATERIALIZED (
        SELECT vec_id, en, row_number() OVER (ORDER BY vec_id) AS srn
        FROM {src} WHERE vec_id % {sample_mod} = 0
    ),
    kdims{x} AS (SELECT unnest(range(1, {n_dims} + 1)) AS dim),
    it0_c{x} AS (
        SELECT vec_id AS cell, en AS c_en FROM samp{x} WHERE srn <= {k_expr}
    )"""
    ]
    for i in range(1, iters + 1):
        prev = f"it{i-1}_c{x}"
        parts.append(
            f"""it{i}_asg{x} AS (
        SELECT vec_id, cell FROM (
            SELECT s.vec_id, c.cell, row_number() OVER (
                PARTITION BY s.vec_id
                ORDER BY list_inner_product(s.en, c.c_en) DESC, c.cell
            ) AS c_rn
            FROM samp{x} s CROSS JOIN {prev} c
        ) WHERE c_rn = 1
    ),
    it{i}_vals{x} AS (
        SELECT a.cell, d.dim,
               array_agg(s.en[d.dim] ORDER BY s.vec_id) AS vals,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM it{i}_asg{x} a JOIN samp{x} s ON a.vec_id = s.vec_id
        CROSS JOIN kdims{x} d
        GROUP BY a.cell, d.dim
    ),
    it{i}_avg{x} AS (
        SELECT cell, dim,
               list_inner_product(vals, list_transform(vals, x -> 1.0)) / cnt
                   AS cv
        FROM it{i}_vals{x}
    ),
    it{i}_arr{x} AS (
        SELECT cell, array_agg(cv ORDER BY dim) AS c_raw
        FROM it{i}_avg{x} GROUP BY cell
    ),
    it{i}_c{x} AS MATERIALIZED (
        -- empty cluster (NULL) OR all-zero mean (possible for a
        -- sub-slice of nonzero vectors): keep the previous centroid,
        -- matching the Python trainers' nrm == 0 guard — DuckDB's
        -- x/0.0 would otherwise emit inf/nan where Python raises
        SELECT p.cell,
               CASE WHEN w.c_raw IS NULL
                         OR list_inner_product(w.c_raw, w.c_raw) = 0
                    THEN p.c_en
                    ELSE list_transform(w.c_raw,
                        x -> x / sqrt(list_inner_product(w.c_raw, w.c_raw)))
               END AS c_en
        FROM {prev} p LEFT JOIN it{i}_arr{x} w ON p.cell = w.cell
    )"""
        )
    parts.append(
        f"cents{x} AS MATERIALIZED (SELECT cell, c_en FROM it{iters}_c{x})"
    )
    return ",\n    ".join(parts)


def _lip(a: list, b: list) -> float:
    """Left-to-right dot-product fold over Python floats — the exact
    arithmetic of Spark's ``aggregate(zip_with(...))`` fold and
    DuckDB's ``list_inner_product`` (bit-exact across all three, see
    tests/test_extensions.py::test_dot_product_cross_engine_parity)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def super_centroids(
    cents: list, s_cells: int, iters: int = KMEANS_ITERS
) -> tuple[list, dict]:
    """Level-2 codebook for hierarchical (two-level) IVF assignment:
    spherical k-means over the K CHILD centroids themselves, S =
    ``s_cells`` cells — so a vector finds its cell by scoring S
    super-centroids, then only the winning super-cell's children:
    N x (S + K/S) ~ 2N*sqrt(K) dot products instead of the flat N x K
    (the r6-verdict quadratic term: K grows with N under the SemDeDup
    K = N/125 schedule, so flat assignment was N^2/125 at scale).

    Runs DRIVER-SIDE over the literal child centroids (K x dims
    doubles — the same driver-scalar class the Lloyd updates
    in :func:`train_pq_books` already collect per iteration,
    so this adds no new scale class; at extreme K the identical
    schedule lifts into the Spark trainer unchanged).  Every float op
    is pinned to the engines' shared arithmetic so the DuckDB replay
    (:func:`_super_ctes`) reproduces the values BIT-EXACTLY, with no
    6dp rounding pin needed at this level:

    - seeds: the S smallest-cell-id child centroids (cell-asc order);
    - assignment: argmax of the left-fold dot (:func:`_lip` ==
      ``list_inner_product``), strict-greater keeps the earlier
      (smaller-id) super-cell — identical to ``row_number() OVER
      (ORDER BY lip DESC, sup)``;
    - per-dim mean: members in cell-asc order, summed left-to-right
      via ``acc + v * 1.0`` == DuckDB ``list_inner_product(array_agg(v
      ORDER BY cell), list_transform(vals, x -> 1.0))``, divided by
      the double count — order-pinned, so no rounding is required
      (this is the ADVICE-r6 deterministic-fold mean, applied to the
      level it was invented for);
    - renormalize: ``x / sqrt(lip(raw, raw))``; an empty super-cell
      keeps its previous centroid.

    Returns ``(sups, c2s)``: the final ``[(sup_id, [floats])]`` list
    (seed order) and the child-cell -> super-cell dict assigned
    against the FINAL centroids."""
    if len(cents) > SUPER_TRAIN_MAX_K:
        raise ValueError(
            f"super_centroids: K={len(cents)} child centroids exceeds "
            f"SUPER_TRAIN_MAX_K={SUPER_TRAIN_MAX_K} — the driver-side "
            "Lloyd loop is O(iters*K*sqrt(K)*dims); lift this schedule "
            "into the train_pq_books Spark trainer (identical "
            "steps, distributed sample jobs) before raising the bound"
        )
    cs = sorted((cell, list(vec)) for cell, vec in cents)

    def nearest(vec: list, sups: list) -> int:
        best_sim, best_id = float("-inf"), -1
        for sid, sen in sups:
            s = _lip(vec, sen)
            if s > best_sim:
                best_sim, best_id = s, sid
        return best_id

    sups = [(cell, list(vec)) for cell, vec in cs[:s_cells]]
    for _ in range(iters):
        members: dict[int, list] = {}
        for cell, vec in cs:  # cell-asc: the mean's pinned fold order
            members.setdefault(nearest(vec, sups), []).append(vec)
        nxt = []
        for sid, prev in sups:
            vecs = members.get(sid)
            if not vecs:
                nxt.append((sid, prev))
                continue
            cnt = float(len(vecs))
            raw = []
            for dim in range(len(prev)):
                acc = 0.0
                for v in vecs:
                    acc = acc + v[dim] * 1.0
                raw.append(acc / cnt)
            nrm = math.sqrt(_lip(raw, raw))
            # all-zero mean: keep previous (matches oracle CASE guard)
            nxt.append((sid, prev if nrm == 0.0 else [x / nrm for x in raw]))
        sups = nxt
    c2s = {cell: nearest(vec, sups) for cell, vec in cs}
    return sups, c2s


def argmax_dot(vec: Column, cands: Column) -> Column:
    """Id of the candidate (array<struct<id, cen>>, id-ascending) with
    the max dot product against ``vec`` — ties keep the smallest id,
    exactly ``row_number() OVER (ORDER BY dot DESC, id)`` = 1.

    A pure per-row fold over a codebook column of the one-row
    :func:`_codebook_row`: nearest-centroid assignment is a cross join
    with that single broadcast row and a NARROW projection — no
    shuffle, no window — the plan you want when the corpus is 100 TB
    and the codebook is kilobytes.  (Past the flat trainer's ceiling
    the same argmax runs as a join + max(struct) partial agg,
    :func:`_argmax_join`, over a child codebook that never reaches the
    driver.)"""
    init = F.struct(
        F.lit(float("-inf")).alias("sim"), F.lit(-1).cast("long").alias("id")
    )

    def step(acc: Column, c: Column) -> Column:
        s = dot(vec, c["cen"])
        return F.when(
            s > acc["sim"], F.struct(s.alias("sim"), c["id"].alias("id"))
        ).otherwise(acc)

    return F.aggregate(cands, init, step, lambda acc: acc["id"])


#: One codebook as Spark data: its candidates in id order, the shape
#: :func:`argmax_dot` folds over.
_CANDS = "array<struct<id: bigint, cen: array<double>>>"


def _codebook_row(spark: SparkSession, **books) -> DataFrame:
    """Driver-side codebooks as ONE broadcast row, a column per
    keyword.  A value is a codebook ``[(id, vec)]`` (column type
    ``_CANDS``), a list of codebooks, one per PQ subspace
    (``array<_CANDS>``), or a ``{sup: codebook}`` dict
    (``map<bigint, _CANDS>``); each codebook is sorted into id order,
    the order :func:`argmax_dot`'s smallest-id tie rule needs.

    The centroids travel as relation data, like the reference's staged
    ``COPY`` (pandas_redshift/core.py:220-304), not as plan literals:
    the plan stays O(1) in K and building it costs one
    ``createDataFrame`` call, whatever the codebook size.  Consumers
    cross join the row — a BroadcastNestedLoopJoin whose build side is
    this single row — and read the columns in a projection.  Doubles
    cross as pickled Python floats, bit for bit."""

    def cands(book) -> list:
        return [(int(i), [float(x) for x in v]) for i, v in sorted(book)]

    types, row = [], []
    for name, v in books.items():
        if isinstance(v, dict):
            types.append(f"{name} map<bigint, {_CANDS}>")
            row.append({int(k): cands(b) for k, b in v.items()})
        elif isinstance(v[0], list):
            types.append(f"{name} array<{_CANDS}>")
            row.append([cands(b) for b in v])
        else:
            types.append(f"{name} {_CANDS}")
            row.append(cands(v))
    return broadcast(spark.createDataFrame([tuple(row)], schema=", ".join(types)))


def _assign_two_level_row(
    spark: SparkSession, emb: DataFrame, sups: list, c2s: dict, cents: list
) -> DataFrame:
    """Two-level nearest-cell assignment for the flat regime: the super
    codebook ``sups`` and each super-cell's children (``c2s`` maps a
    child cell of ``cents`` to its super) ride in one
    :func:`_codebook_row`, and two :func:`argmax_dot` folds pick the
    super, then the cell among that super's children.  Only supers
    that won at least one child are candidates (a vector routed to a
    childless super would have no cell).  Same dots and tie rule as
    :func:`_assign_two_level`, the join form the hierarchical regime
    runs.  Returns ``(vec_id, cell, emb_n)``."""
    kids: dict[int, list] = {}
    for cell, vec in cents:
        kids.setdefault(c2s[cell], []).append((cell, vec))
    book = _codebook_row(
        spark, sups=[(s, v) for s, v in sups if s in kids], kids=kids
    )
    emb_n = F.col("emb_n")
    cell = argmax_dot(emb_n, F.element_at("kids", argmax_dot(emb_n, F.col("sups"))))
    # persist the PRENORMALIZED vector only: the pair stage downstream
    # then runs one dot fold per candidate pair — no per-pair
    # divisions, and a ~half-size persisted frame
    return emb.crossJoin(book).select("vec_id", cell.alias("cell"), "emb_n")


def _sup_frame(spark: SparkSession, sups: list) -> DataFrame:
    """Broadcast ``(sup, s_en)`` frame of super-centroid literals."""
    return broadcast(
        spark.createDataFrame(
            [(int(s), [float(x) for x in v]) for s, v in sups],
            schema="sup long, s_en array<double>",
        )
    )


def _assign_two_level(
    spark: SparkSession, emb: DataFrame, sups: list, child_df: DataFrame
) -> DataFrame:
    """Two-level nearest-cell assignment over codebook FRAMES: level 1
    broadcasts the S-row super codebook ``sups`` (live supers only —
    the level-2 join is INNER on ``sup``, so a vector routed to a
    childless super would vanish); level 2 joins each vector to its
    super's rows of the child codebook ``child_df`` ``(sup, cell,
    c_en)``.  Both levels are :func:`_argmax_join`, so the math is the
    flat regime's fold (:func:`_assign_two_level_row`): the same dot
    per candidate, the same smallest-id tie rule.

    The hierarchical regime's child codebook is
    :func:`train_kmeans_hierarchical`'s checkpointed frame,
    shuffle-joined on ``sup`` so each vector meets only its
    super-cell's ~sqrt(K) children and nothing O(K) crosses the driver
    or a broadcast.  Each level's partial-agg max shrinks N*S /
    N*(K/S) candidate rows to N before its exchange on vec_id.
    Returns ``(vec_id, cell, emb_n)``."""
    v2s = _argmax_join(emb, _sup_frame(spark, sups), "sup", "s_en")
    return _argmax_join(v2s, child_df, "cell", "c_en", on="sup").select(
        "vec_id", "cell", "emb_n"
    )


def train_kmeans_hierarchical(
    spark: SparkSession,
    emb: DataFrame,
    k_cells: int,
    cache_key: tuple,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
) -> tuple[list, DataFrame]:
    """Two-level spherical k-means for K past the flat trainer's
    driver ceiling (VERDICT r9 item 3): returns ``(sups, child_df)``
    where ``sups`` is the live S = ceil(sqrt(K)) super-centroid
    literal list (driver traffic O(sqrt(K) x dims)) and ``child_df``
    is the K-row child codebook ``(sup, cell, c_en)`` as a
    checkpointed DATAFRAME that never crosses the driver.

    Schedule (per-level arithmetic identical to the flat trainer —
    smallest-id seeds, smallest-id argmax ties, order-pinned member
    folds, zero-norm keep-prev):

    1. supers: :func:`train_kmeans_centroid_values` at K=S.
    2. the sample is assigned to its nearest super with
       :func:`_argmax_join` against the broadcast S-row codebook.
    3. per super-cell, ceil(K/S) children seed from the cell's
       smallest-id sample vectors and run the same Lloyd iterations
       ENTIRELY as DataFrame ops — assignment is :func:`_argmax_join`
       shuffle-joined on ``sup`` (children co-partitioned with their
       members), means are :func:`_pinned_means`, renorm + keep-prev
       are native array ops.  ``localCheckpoint`` after each
       iteration truncates lineage; per-iteration driver traffic is
       zero.

    Only supers that won at least one child are returned, so the
    output feeds :func:`_assign_two_level` directly.  Replayed in
    DuckDB by :func:`_hier_replay_ctes` (the cert oracle's
    hierarchical regime); no fixture SF reaches the threshold, so the
    forced-threshold tests in tests/test_extensions.py and
    tests/test_cert_oracles.py exercise it."""

    def build() -> tuple[list, DataFrame]:
        s_cells = math.ceil(math.sqrt(k_cells))
        k_child = math.ceil(k_cells / s_cells)
        sups = train_kmeans_centroid_values(
            spark, emb, s_cells, ("hier_super", *cache_key)
        )
        samp = emb.filter(F.col("vec_id") % sample_mod == 0).select("vec_id", "emb_n")
        samp_sup = _argmax_join(
            samp, _sup_frame(spark, sups), "sup", "s_en"
        ).localCheckpoint(eager=True)

        w_seed = Window.partitionBy("sup").orderBy("vec_id")
        child = (
            samp_sup.withColumn("rn", F.row_number().over(w_seed))
            .filter(F.col("rn") <= k_child)
            .select("sup", F.col("vec_id").alias("cell"), F.col("emb_n").alias("c_en"))
            .localCheckpoint(eager=True)
        )

        for _ in range(iters):
            asg = _argmax_join(
                samp_sup, child, "cell", "c_en", on="sup", keep=("sup", "emb_n")
            )
            newc = (
                _pinned_means(asg, "emb_n", ("sup", "cell"))
                .groupBy("sup", "cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                        lambda s: s["cv"],
                    ).alias("raw")
                )
                .withColumn(
                    "nrm",
                    F.sqrt(F.aggregate("raw", F.lit(0.0), lambda a, v: a + v * v)),
                )
                .select(
                    "sup",
                    "cell",
                    F.when(F.col("nrm") == 0.0, F.lit(None))
                    .otherwise(F.transform("raw", lambda v: v / F.col("nrm")))
                    .alias("new_en"),
                )
            )
            # keep-prev: empty cells and zero-norm means keep the old
            # centroid, same rule as the flat trainer's driver branch
            child = (
                child.join(newc, ["sup", "cell"], "left")
                .select("sup", "cell", F.coalesce("new_en", "c_en").alias("c_en"))
                .localCheckpoint(eager=True)
            )

        # only supers that won at least one child are scoreable: a
        # corpus vector whose nearest super had no sample members (hence
        # no children) would vanish from the inner level-2 join,
        # breaking the every-vector-covered contract (ADVICE r10).  The
        # distinct-sup collect is O(S) = O(sqrt(K)) driver rows, the
        # same order as the ``sups`` literal itself.
        live = {r[0] for r in child.select("sup").distinct().collect()}
        sups = [(s, v) for s, v in sups if s in live]

        return sups, child

    # the memoized child codebook is checkpointed, so repeat calls
    # reuse it without re-running the Lloyd iterations
    return memo(
        spark,
        "kmeans_hier",
        ("hier", *cache_key, k_cells, iters, sample_mod),
        build,
    )


def _super_ctes(iters: int = KMEANS_ITERS) -> str:
    """CTE chain replaying :func:`super_centroids` + the two-level
    vector assignment in DuckDB, BIT-exactly (all reductions are
    ``list_inner_product`` folds; the per-dim means aggregate members
    in cell-asc order and divide by the double count — no rounding).
    Assumes ``e`` (vectors), ``cents`` (child centroids), ``kk(k)``
    and ``kdims(dim)`` CTEs in scope; emits ``assigned(vec_id,
    cell)``."""
    parts = [
        """skk AS (
        SELECT CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS s FROM kk
    ),
    sup0 AS MATERIALIZED (
        SELECT sup, s_en FROM (
            SELECT cell AS sup, c_en AS s_en,
                   row_number() OVER (ORDER BY cell) AS srn
            FROM cents
        ) WHERE srn <= (SELECT s FROM skk)
    )"""
    ]
    for i in range(1, iters + 1):
        prev = f"sup{i-1}"
        parts.append(
            f"""sup{i}_asg AS (
        SELECT cell, sup FROM (
            SELECT c.cell, s.sup, row_number() OVER (
                PARTITION BY c.cell
                ORDER BY list_inner_product(c.c_en, s.s_en) DESC, s.sup
            ) AS rn
            FROM cents c CROSS JOIN {prev} s
        ) WHERE rn = 1
    ),
    sup{i}_vals AS (
        SELECT a.sup, d.dim,
               array_agg(c.c_en[d.dim] ORDER BY c.cell) AS vals,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM sup{i}_asg a JOIN cents c ON a.cell = c.cell
        CROSS JOIN kdims d
        GROUP BY a.sup, d.dim
    ),
    sup{i}_avg AS (
        SELECT sup, dim,
               list_inner_product(vals, list_transform(vals, x -> 1.0)) / cnt
                   AS cv
        FROM sup{i}_vals
    ),
    sup{i}_arr AS (
        SELECT sup, array_agg(cv ORDER BY dim) AS s_raw
        FROM sup{i}_avg GROUP BY sup
    ),
    sup{i} AS MATERIALIZED (
        -- NULL (empty) or all-zero mean: keep the previous centroid
        -- (same nrm == 0 guard as the Python trainer)
        SELECT p.sup,
               CASE WHEN w.s_raw IS NULL
                         OR list_inner_product(w.s_raw, w.s_raw) = 0
                    THEN p.s_en
                    ELSE list_transform(w.s_raw,
                        x -> x / sqrt(list_inner_product(w.s_raw, w.s_raw)))
               END AS s_en
        FROM {prev} p LEFT JOIN sup{i}_arr w ON p.sup = w.sup
    )"""
        )
    parts.append(
        f"""c2s AS MATERIALIZED (
        SELECT cell, sup FROM (
            SELECT c.cell, s.sup, row_number() OVER (
                PARTITION BY c.cell
                ORDER BY list_inner_product(c.c_en, s.s_en) DESC, s.sup
            ) AS rn
            FROM cents c CROSS JOIN sup{iters} s
        ) WHERE rn = 1
    ),
    v2s AS MATERIALIZED (
        SELECT vec_id, sup FROM (
            SELECT e.vec_id, s.sup, row_number() OVER (
                PARTITION BY e.vec_id
                ORDER BY list_inner_product(e.en, s.s_en) DESC, s.sup
            ) AS rn
            FROM e CROSS JOIN sup{iters} s
            WHERE s.sup IN (SELECT DISTINCT sup FROM c2s)
        ) WHERE rn = 1
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, m.cell, row_number() OVER (
                PARTITION BY v.vec_id
                ORDER BY list_inner_product(ev.en, c.c_en) DESC, m.cell
            ) AS rn
            FROM v2s v
            JOIN e ev ON ev.vec_id = v.vec_id
            JOIN c2s m ON m.sup = v.sup
            JOIN cents c ON c.cell = m.cell
        ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


def _super_train_ctes(iters: int = KMEANS_ITERS) -> str:
    """Just the super-codebook training + child->super map portion of
    :func:`_super_ctes` (skk, sup0..sup{iters}, c2s) — for callers that
    pair it with the SKINNY assignment below.  Emitted text for these
    CTEs is pinned identical to the ones inside :func:`_super_ctes` by
    tests/test_cert_oracles.py, so the two can't drift."""
    full = _super_ctes(iters)
    marker = ",\n    v2s AS MATERIALIZED"
    return full[: full.index(marker)]


def _skinny_assign_ctes(sup_cte: str) -> str:
    """Two-level assignment emitting ``assigned(vec_id, cell)`` with
    SPILL-SAFE windows: :func:`_super_ctes`' assignment computes the
    dot product inside the window ORDER BY, so the window's sort input
    carries BOTH 64-double list columns on every candidate row — at
    sf30 that is 42M x ~1KB ~ 42 GB of sort payload and the r13 leg
    exhausted the 71 GB spill volume (cert_sf30_ivf_cc_r13.log: 'No
    space left on device').  Here each score set is projected to
    (vec_id, id, ip) — 24 B/row — in a MATERIALIZED CTE before the
    window, so the sort payload shrinks 40x and stays in memory.
    Same floats, same strict-desc/smallest-id tie-break: results are
    bit-identical to the fat form (pinned at sf0.001 by the cert
    triangle test)."""
    return f"""sup_scores AS MATERIALIZED (
        SELECT e.vec_id, s.sup, list_inner_product(e.en, s.s_en) AS ip
        FROM e CROSS JOIN {sup_cte} s
        WHERE s.sup IN (SELECT DISTINCT sup FROM c2s)
    ),
    v2s AS MATERIALIZED (
        SELECT vec_id, sup FROM (
            SELECT vec_id, sup, row_number() OVER (
                PARTITION BY vec_id ORDER BY ip DESC, sup
            ) AS rn
            FROM sup_scores
        ) WHERE rn = 1
    ),
    cell_scores AS MATERIALIZED (
        SELECT v.vec_id, m.cell, list_inner_product(ev.en, c.c_en) AS ip
        FROM v2s v
        JOIN e ev ON ev.vec_id = v.vec_id
        JOIN c2s m ON m.sup = v.sup
        JOIN cents c ON c.cell = m.cell
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
                PARTITION BY vec_id ORDER BY ip DESC, cell
            ) AS rn
            FROM cell_scores
        ) WHERE rn = 1
    )"""


#: DuckDB twin of sim_ivf_topk: trained k-means centroids, nearest-1
#: cell assignment for the corpus, nearest-4 probes for the queries,
#: exact re-score in probed cells, top-5 — all deterministic (ties
#: broken by cell/neighbor id; dot products bit-exact across engines).
#: (sim_ivf_topk keeps FLAT assignment: its K=16 is fixed, so the
#: N x K term is linear here; dedup_semantic_ivf, whose K grows with
#: N, routes through the two-level :func:`_super_ctes` replay.)
_IVF_ASSIGN_CTES = f"""{_EN_CTE},
    {_kmeans_ctes("16")},
    cellsim AS (
        SELECT e.vec_id, c.cell,
               list_inner_product(e.en, c.c_en) AS c_sim
        FROM e CROSS JOIN cents c
    ),
    ranked AS (
        SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY c_sim DESC, cell
        ) AS c_rn FROM cellsim
    ),
    assigned AS (SELECT vec_id, cell FROM ranked WHERE c_rn = 1)"""

_IVF_TOPK_ORACLE = f"""
    WITH {_IVF_ASSIGN_CTES},
    probes AS (
        SELECT vec_id AS query_id, cell FROM ranked
        WHERE vec_id < 10 AND c_rn <= 4
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_inner_product(qe.en, ne.en), 4) AS score
        FROM assigned a
        JOIN probes p ON a.cell = p.cell
        JOIN e qe ON qe.vec_id = p.query_id
        JOIN e ne ON ne.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, score, rn FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS BIGINT) AS rn FROM scored
    ) WHERE rn <= 5
    """


@query("sim_ivf_topk", oracle=_IVF_TOPK_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF (inverted-file) coarse
    quantization — the other classic ANN scale path next to LSH.
    Training is deterministic (seeded sample, no RNG), so the DuckDB
    oracle replays the full train/assign/probe/score pipeline exactly
    (rows-only before round 3); the unit test additionally measures
    recall vs sim_bruteforce_topk.

    Build: K=16 coarse centroids TRAINED by deterministic sampled
    spherical k-means (:func:`train_kmeans_centroids` — seeded from
    the sample, two Lloyd iterations, oracle-replayed step for step).
    Every vector is assigned to its nearest centroid by a cross join
    with the 16 centroids and a ``row_number`` window partitioned by
    ``vec_id``, so each call shuffles the corpus once.  Probe: each
    query searches only its nprobe=4 nearest cells, so the scored
    candidate set is ~nprobe/K of the corpus instead of all of it."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t).select("vec_id", "emb_n")
    k_cells, nprobe = 16, 4

    # cache_key carries no operator name: training is a pure function
    # of (corpus, K, iters, sample_mod) — all already in the memo key —
    # so any operator needing the same codebook shares ONE training
    # (dedup_semantic_ivf reuses this K=16 codebook whenever its
    # N/125 schedule also lands on 16, e.g. at every test SF).
    cents = train_kmeans_centroids(
        spark, emb, k_cells, cache_key=("kmeans", sf_dir)
    )

    def nearest_cells(df: DataFrame, id_col: str, n: int) -> DataFrame:
        """Top-n cells by cosine(centroid, vector) per input row."""
        w = Window.partitionBy(id_col).orderBy(
            F.col("c_sim").desc(), F.col("cell")
        )
        return (
            df.join(cents, how="cross")
            .withColumn("c_sim", dot(F.col("emb_n"), F.col("c_en")))
            .withColumn("c_rn", F.row_number().over(w))
            .filter(F.col("c_rn") <= n)
            .drop("c_en", "c_sim", "c_rn")
        )

    # corpus: each vector lives in exactly its nearest cell
    assigned = nearest_cells(emb, "vec_id", 1)
    # queries: probe the nprobe nearest cells
    q = emb.filter(F.col("vec_id") < 10)
    probes = broadcast(
        nearest_cells(q, "vec_id", nprobe).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb_n").alias("q_en"),
            "cell",
        )
    )
    scored = (
        assigned.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("q_en"), F.col("emb_n")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(F.col("rn") <= 5)


#: Product-quantization geometry: EMBEDDING_DIMS is split into PQ_M
#: contiguous subspaces of PQ_SUB dims, each with its own trained
#: PQ_CODES-centroid codebook — a vector compresses to PQ_M small code
#: ids (8 subspaces x 32 codes: 5 bits each, one byte each when
#: byte-aligned — the classic M=8 PQ layout at this corpus's 64
#: dims).  PQ_SHORTLIST is the ADC candidate pool re-ranked exactly.
#: Settings are the r8 measured sweet spot on this corpus: recall@5
#: vs sim_bruteforce_topk 0.78 (sf0.001) / 0.84 (sf0.01) — above the
#: trained-IVF operator's 0.64-0.66 — while 16 codes/shortlist 32
#: sat at 0.46/0.56.
PQ_M = 8
PQ_SUB = EMBEDDING_DIMS // PQ_M
PQ_CODES = 32
PQ_SHORTLIST = 64


def pq_shortlist(n_rows: int) -> int:
    """Corpus-scaled ADC re-rank pool: ``clamp(n // 100, 64, 4096)``.
    A FIXED shortlist shrinks relative to the corpus, so ADC
    quantization noise crowds out more true neighbors as N grows —
    measured recall@5 vs brute force at shortlist=64: 0.84 (sf0.01,
    N=500) -> 0.64 (sf0.1, N=2k) -> 0.44 (sf1, N=20k).  Scaling the
    pool ~N/100 (sf1: 200 -> recall 0.72) keeps the re-rank cost a
    fixed ~1% of brute force per query; the 4096 cap bounds the
    rescore at extreme N, where recall budget should move to more
    codes/subspaces instead.  The DuckDB oracle computes the same
    formula from count(*) of the RAW embeddings table (matching the
    Spark side's stats.table_rows — the fixtures have no zero-norm
    vectors, so raw == filtered N), so hashes stay engine-consistent
    at every SF (and the 64 floor keeps driver-SF outputs
    byte-identical to the fixed-shortlist era)."""
    return min(4096, max(PQ_SHORTLIST, n_rows // 100))


def _pq_adc_oracle() -> str:
    """DuckDB twin of :func:`sim_pq_adc_topk`: per-subspace trainer
    replays (suffixed :func:`_kmeans_ctes` chains over ``list_slice``
    sub-vectors), nearest-code corpus encoding, ADC scoring as the
    m-ascending sum of per-subspace inner products (left-associated
    ``+`` chain == Spark's m-ascending ``aggregate`` fold), shortlist,
    exact re-rank — deterministic end to end, ties by code/neighbor
    id."""
    parts = [_EN_CTE]
    for m in range(PQ_M):
        a, b = m * PQ_SUB + 1, (m + 1) * PQ_SUB
        src = f"(SELECT vec_id, list_slice(en, {a}, {b}) AS en FROM e)"
        parts.append(
            _kmeans_ctes(
                str(PQ_CODES), n_dims=PQ_SUB, suffix=f"_p{m}", src=src
            )
        )
        parts.append(
            f"""code_p{m} AS (
        SELECT vec_id, cell FROM (
            SELECT s.vec_id, c.cell, row_number() OVER (
                PARTITION BY s.vec_id
                ORDER BY list_inner_product(
                    list_slice(s.en, {a}, {b}), c.c_en) DESC, c.cell
            ) AS rn
            FROM e s CROSS JOIN cents_p{m} c
        ) WHERE rn = 1
    )"""
        )
    adc_terms = " + ".join(
        f"list_inner_product(list_slice(q.en, {m * PQ_SUB + 1}, "
        f"{(m + 1) * PQ_SUB}), c{m}.c_en)"
        for m in range(PQ_M)
    )
    code_joins = "\n        ".join(
        f"JOIN code_p{m} k{m} ON k{m}.vec_id = x.vec_id "
        f"JOIN cents_p{m} c{m} ON c{m}.cell = k{m}.cell"
        for m in range(PQ_M)
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body},
    q AS (SELECT vec_id, en FROM e WHERE vec_id < 10),
    adc AS (
        SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
               {adc_terms} AS adc
        FROM e x
        {code_joins}
        CROSS JOIN q
        WHERE x.vec_id <> q.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc DESC, neighbor_id
            ) AS srn FROM adc
        ) WHERE srn <= least(4096, greatest({PQ_SHORTLIST},
                                            (SELECT count(*) FROM embeddings) // 100))
    )
    SELECT query_id, neighbor_id, score, rn FROM (
        SELECT s.query_id, s.neighbor_id,
               round(list_inner_product(qe.en, ne.en), 4) AS score,
               CAST(row_number() OVER (
                   PARTITION BY s.query_id
                   ORDER BY round(list_inner_product(qe.en, ne.en), 4) DESC,
                            s.neighbor_id
               ) AS BIGINT) AS rn
        FROM short s
        JOIN e qe ON qe.vec_id = s.query_id
        JOIN e ne ON ne.vec_id = s.neighbor_id
    ) WHERE rn <= 5
    """


def _pq_lut(sub, m: int) -> Column:
    """Positional LUT for subspace ``m``: one dot per code, in
    position order.  A named closure, NOT an inline two-arg lambda —
    ``F.transform`` passes the ELEMENT INDEX as a second lambda
    parameter, so a ``lambda c, m=m`` capture silently receives the
    code index instead of the subspace (r8: every LUT sliced the
    wrong dims and the shortlist went near-random)."""
    book = F.element_at(F.col("books"), m + 1)
    return F.transform(book, lambda c: dot(sub(F.col("emb_n"), m), c["cen"]))


def _pq_exprs() -> tuple:
    """The corpus ``__subs__`` and ``codes`` array columns and the
    per-query ``luts`` array column, over the ``books`` column of the
    trained books' :func:`_codebook_row`."""

    def sub(col: Column, m: int) -> Column:
        return F.slice(col, m * PQ_SUB + 1, PQ_SUB)

    # corpus encode reads PRE-SLICED subvectors (``subs_col`` below,
    # materialized in its own projection by the caller): with
    # ``slice(emb_n, ...)`` as the fold's query vector, the
    # interpreted per-candidate lambda re-allocates the 8-double slice
    # for every one of the 32 candidates x 8 subspaces = 2048 array
    # copies per row (r14); ``element_at`` on a materialized
    # array<array<double>> attribute is a reference read.  Same dot
    # folds over the same doubles — arithmetic unchanged.
    subs_col = F.array(*[sub(F.col("emb_n"), m) for m in range(PQ_M)]).alias(
        "__subs__"
    )
    codes_col = F.array(
        *[
            argmax_dot(
                F.element_at(F.col("__subs__"), m + 1),
                F.element_at(F.col("books"), m + 1),
            )
            for m in range(PQ_M)
        ]
    ).alias("codes")
    luts_col = F.array(*[_pq_lut(sub, m) for m in range(PQ_M)]).alias("luts")
    return subs_col, codes_col, luts_col


@query("sim_pq_adc_topk", oracle=_pq_adc_oracle(), memo_plan=True)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via product quantization with
    asymmetric-distance (ADC) scoring + exact re-rank — THE
    compressed-vector ANN path for corpora whose raw embeddings don't
    fit executor memory (Jegou et al., "Product Quantization for
    Nearest Neighbor Search"; reference analogue: the embeddings table
    a pandas_redshift user would round-trip through Redshift,
    core.py:82).

    Build (all deterministic, replayed step for step by the DuckDB
    oracle):

    - split the 64-dim unit vector into PQ_M=8 contiguous 8-dim
      subspaces; train an independent PQ_CODES=32-centroid codebook
      per subspace with the SAME sampled spherical k-means schedule as
      IVF (:func:`train_pq_books`, all 8 subspaces in one batched
      run — memoized per session under a key that carries the slice
      width);
    - encode: each corpus vector becomes 8 code ids (argmax dot vs the
      32 sub-centroids, ties -> smaller id) — a NARROW fold projection
      over the 8x32x8 = 2k-double codebook, shipped as one broadcast
      row (:func:`_codebook_row`), after which the scoring scan reads
      ~8 longs per vector instead of 64 doubles: that 8x scan shrink
      is the entire point at 100 TB;
    - ADC: each query precomputes a 32-entry lookup table per subspace
      (dot of its sub-vector against every sub-centroid — 256 tiny
      folds once per QUERY, not per pair); per (query, vector) the
      score is then 8 map lookups + 8 adds, JVM-side via
      ``zip_with(codes, luts) -> aggregate``;
    - shortlist the PQ_SHORTLIST=64 best ADC candidates per query
      (ties by neighbor id), then re-rank them EXACTLY (one broadcast
      join back to the raw vectors — 64xQ rows, negligible) and emit
      top-5 by true cosine.

    Scale shape: the corpus is scanned once to encode (narrow), once
    to score (narrow over the 100x-smaller codes frame, 10 broadcast
    query LUTs); the only shuffle is the per-query top-k window over
    Q=10 partitions — same waived shape as sim_bruteforce_topk — and
    the exact re-rank touches 64xQ rows.  The unit test pins recall
    vs sim_bruteforce_topk; the oracle pins every float.

    The BUILT plan is session-memoized (``memo_plan=True``):
    assembling it (the codebook row and the argmax and LUT fold trees
    of :func:`_pq_exprs`) took a median 0.68 s at sf0.01 with the
    codebooks already trained (local[4]), mostly py4j round trips, so
    only a session's first call pays it.  Later calls get the same
    DataFrame object back, so their
    actions reuse the shuffle output the first action left behind:
    AQE replays only the final stage, not the parquet scans."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t).select("vec_id", "emb_n")
    # corpus-scaled re-rank pool, sized from the memoized raw-table
    # count (stats.table_rows) — the r8 version eagerly counted the
    # normalized frame per call (VERDICT r8 item 4); warm calls now
    # launch no sizing job at all
    short_n = pq_shortlist(table_rows(t, "embeddings"))

    # batched trainer: all 8 sub-codebooks in one 10-job run,
    # bit-identical per subspace to sequential
    # train_kmeans_centroid_values calls on the sliced frames (the
    # equality is test-pinned; the slice WIDTH rides in the memo key —
    # a width-blind key would hand back stale wrong-width centroids
    # whose truncated dot folds collapse recall to the ~random
    # 0.02-0.10 band, measured in the r8 geometry sweep)
    books = train_pq_books(
        spark, emb, PQ_M, PQ_SUB, PQ_CODES, cache_key=(sf_dir,)
    )
    # RANK-COMPRESS cell ids to 1-based POSITIONS (id-ascending, so
    # position order == cell-id order and every tie-break stays
    # aligned with the oracle's ORDER BY ..., cell): a code is then
    # its LUT index
    book = _codebook_row(
        spark,
        books=[list(enumerate((cen for _, cen in b), 1)) for b in books],
    )
    subs_col, codes_col, luts_col = _pq_exprs()

    # corpus -> 8 code positions: pre-slice the subvectors in their
    # own projection (multi-referenced, so they materialize once per
    # row), then one narrow projection of argmax folds over the
    # codebook row's sub-codebooks reading the slices by reference
    codes = emb.select("vec_id", subs_col).crossJoin(book).select("vec_id", codes_col)

    # queries -> per-subspace POSITIONAL LUTs (one dot per code, in
    # position order), computed once per query row; m-ascending array
    # order mirrors the codes array
    qlut = broadcast(
        emb.filter(F.col("vec_id") < 10)
        .crossJoin(book)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb_n").alias("q_en"),
            luts_col,
        )
    )

    # ADC score: zip the 8 code positions with the 8 LUTs, sum the
    # lookups — the m-ascending left fold the oracle's `+` chain
    # reproduces
    adc = (
        codes.join(qlut, how="cross")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "adc",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("luts"),
                    lambda c, l: F.element_at(l, c.cast("int")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    short = (
        adc.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= short_n)
        .select("query_id", "q_en", F.col("vec_id").alias("neighbor_id"))
    )
    # exact re-rank: join the RAW corpus to the broadcast shortlist
    # FIRST, then normalize only the ~shortlist x Q survivors (r15: the
    # previous shape normalized the ENTIRE corpus — a second full
    # emb_n pass plus its ensure_parallelism exchange — just to feed a
    # 64xQ-row broadcast join; the per-row divide-by-norm arithmetic
    # below is _emb_double's exact expression, so every score is
    # bit-identical).  _emb_double's zero-norm guard is not repeated:
    # the shortlist holds only its survivors, and Catalyst would push
    # the guard below the join, folding the norm over every corpus row.
    raw = t.embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    exact = (
        raw.join(broadcast(short), "neighbor_id")
        .withColumn("nrm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
        .withColumn(
            "n_en",
            F.zip_with(
                F.col("emb"),
                F.array_repeat(F.col("nrm"), F.size(F.col("emb"))),
                lambda x, n: x / n,
            ),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        exact.select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("q_en"), F.col("n_en")), 4).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rn") <= 5)
    )


@query(
    "sim_centroid_by_label",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    dims AS (SELECT unnest(range(1, 9)) AS dim)
    SELECT e.label, CAST(d.dim AS INT) AS dim, round(avg(e.emb[d.dim]), 6) AS centroid_val
    FROM e CROSS JOIN dims d
    GROUP BY e.label, d.dim
    """,
)
def sim_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (first 8 dims shown): posexplode + avg — the
    aggregate shape behind IVF coarse quantization (centroid build is a
    plain group-by, mergeable at any scale)."""
    t = Tables(spark, sf_dir)
    e = _emb_double(t)
    flat = e.select(
        "label", F.posexplode("emb").alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).cast("int").alias("dim"), "val")
    return (
        flat.filter(F.col("dim") <= 8)
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


@query(
    "sim_knn_classify",
    oracle=f"""
    WITH {_EN_CTE},
    q AS (
        SELECT vec_id, label, en FROM e WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.vec_id AS neighbor_id, c.label AS n_label,
               round(list_inner_product(q.en, c.en), 4) AS score
        FROM q CROSS JOIN e c WHERE q.vec_id <> c.vec_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id
            ) AS rn FROM scored
        ) WHERE rn <= 5
    ),
    votes AS (
        SELECT query_id, true_label, n_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM topk GROUP BY query_id, true_label, n_label
    )
    SELECT query_id, true_label,
           CAST(n_label AS INT) AS predicted_label, votes,
           (n_label = true_label) AS correct
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY votes DESC, n_label
        ) AS vr FROM votes
    ) WHERE vr = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification (k=5, cosine): the similarity-search
    consumer a training pipeline actually runs — label propagation /
    quality transfer from a labeled seed set.  Composition of the
    exact top-k (broadcast queries, one corpus pass) + a majority vote
    (two tiny per-query windows); ties break to the smallest label."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t)
    q = broadcast(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("emb_n").alias("q_en"),
        )
    )
    scored = emb.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.round(dot(F.col("q_en"), F.col("emb_n")), 4).alias("score"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(w_rank)).filter(F.col("rn") <= 5)
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").cast("int").alias("predicted_label"),
            "votes",
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
    )


@query(
    "sim_centroid_drift",
    oracle="""
    WITH e AS (
        SELECT label, vec_id % 2 AS split, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    dims AS (SELECT unnest(range(1, 65)) AS dim),
    cent AS (
        SELECT e.label, d.dim,
               round(avg(CASE WHEN e.split = 0 THEN e.emb[d.dim] END), 6) AS c0,
               round(avg(CASE WHEN e.split = 1 THEN e.emb[d.dim] END), 6) AS c1
        FROM e CROSS JOIN dims d
        GROUP BY e.label, d.dim
    )
    SELECT label,
           round(sqrt(sum((c0 - c1) * (c0 - c1))), 6) AS drift_l2,
           CAST(count(*) AS BIGINT) AS n_dims
    FROM cent
    GROUP BY label
    """,
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per-label centroid of two
    deterministic corpus splits (vec_id parity stands in for
    yesterday's batch vs today's), then the L2 distance between the
    two centroids — the cheapest "did my embedding space move?" check
    a training pipeline runs per ingest.

    Shape: posexplode -> one (label, dim) shuffle with map-side
    partial avg -> one tiny (label) re-agg; both aggregates are
    mergeable, so the pass is a single linear scan at 100 TB.
    Centroids are rounded at 6dp BEFORE differencing so both engines
    difference identical doubles (avg accumulation order differs
    across engines; sqrt itself is IEEE-correctly-rounded and safe)."""
    t = Tables(spark, sf_dir)
    e = _emb_double(t).withColumn("split", F.col("vec_id") % 2)
    flat = e.select(
        "label", "split", F.posexplode("emb").alias("dim0", "val")
    ).select("label", "split", (F.col("dim0") + 1).alias("dim"), "val")
    cent = flat.groupBy("label", "dim").agg(
        F.round(F.avg(F.when(F.col("split") == 0, F.col("val"))), 6).alias("c0"),
        F.round(F.avg(F.when(F.col("split") == 1, F.col("val"))), 6).alias("c1"),
    )
    diff = F.col("c0") - F.col("c1")
    return cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(diff * diff)), 6).alias("drift_l2"),
        F.count(F.lit(1)).alias("n_dims"),
    )


#: canonical low-rung fixture for the cert-sweep trainer drift pin
KMEANS_DRIFT_FIXTURE = "/root/testdata/sf0.01"


def _trainer_codebook_drift_check(spark: SparkSession) -> None:
    """Break the self-referential loop in the big-SF semdedup cert
    (ADVICE r13): that oracle pins the codebook exported from the SAME
    memoized trainer the query under test uses, so its inline sanity
    checks (unit norm, seed stratum) cannot catch a wrong-but-VALID
    trainer regression — e.g. a schedule change that still emits
    unit-norm, on-stratum centroids would certify against itself.

    This check re-grounds the trainer independently at cert time: run
    the live trainer on the canonical low-rung fixture (same
    seed/schedule rules — deterministic sample, smallest-id seeds,
    K = max(16, N/125)) and compare the exported codebook BIT-EXACTLY
    against the DuckDB :func:`_kmeans_ctes` replay of the same
    schedule.  Any drift in the trainer code fails the cert sweep
    loudly before the big-SF pin, instead of silently certifying the
    drifted codebook.  Cost: one small training run (memo-cached per
    session) + a seconds-scale DuckDB replay."""
    import duckdb

    fixture = KMEANS_DRIFT_FIXTURE
    t = Tables(spark, fixture)
    emb = _emb_double(t).select("vec_id", "emb_n")
    k = max(16, math.ceil(table_rows(t, "embeddings") / 125.0))
    trained = sorted(
        (int(c), [float(x) for x in v])
        for c, v in train_kmeans_centroid_values(
            spark, emb, k, cache_key=("kmeans", fixture)
        )
    )
    dcon = duckdb.connect()
    try:
        dcon.sql(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{fixture}/embeddings.parquet')"
        )
        rows = dcon.sql(
            f"WITH {_EN_CTE}, {_kmeans_ctes(str(k))} "
            "SELECT cell, c_en FROM cents ORDER BY cell"
        ).fetchall()
    finally:
        dcon.close()
    replay = [(int(c), [float(x) for x in v]) for c, v in rows]
    if trained != replay:
        bad = [
            (a[0], b[0])
            for a, b in zip(trained, replay)
            if a != b
        ][:5]
        raise AssertionError(
            "trainer drift: live codebook != independent _kmeans_ctes "
            f"replay on {fixture} (k={k}; {len(trained)} vs {len(replay)} "
            f"cells; first diverging cells {bad}) — the big-SF cert "
            "pin would certify a drifted trainer; fix the trainer or "
            "the replay before certifying"
        )


def _hier_replay_ctes(
    k_cells: int,
    iters: int = KMEANS_ITERS,
    sample_mod: int = KMEANS_SAMPLE_MOD,
    n_dims: int = EMBEDDING_DIMS,
) -> str:
    """CTE chain replaying the HIERARCHICAL schedule
    (:func:`train_kmeans_hierarchical` + :func:`_assign_two_level` over
    its child frame) in DuckDB, bit-exactly, ending in ``assigned(vec_id, cell)`` over
    the full corpus (VERDICT r13 item 5: the hierarchical regime had
    no replay — its cert boundary was a NotImplementedError guard).

    Level per level, same arithmetic pins as :func:`_kmeans_ctes`:

    1. supers: the flat schedule at S = ceil(sqrt(K)) on the sample —
       literally ``_kmeans_ctes`` with suffix ``hs`` (emits
       ``centshs``), the machinery already certified at sf0.01-sf3;
    2. ``samp_sup``: each sample vector to its max-dot super
       (``row_number ORDER BY lip DESC, id`` == Spark's
       ``max(struct(sim, -id))`` — ties to the smaller id);
    3. child seeds: per super, the ceil(K/S) smallest-id sample
       members (``row_number OVER (PARTITION BY sup ORDER BY
       vec_id)``), cell = seed vec_id — globally unique;
    4. per iteration: assignment joins each sample vector only to ITS
       super's children (the shuffle-join schedule), order-pinned
       per-(sup,cell,dim) member folds (``array_agg(val ORDER BY
       vec_id)`` x ones == Spark's sorted collect_list fold),
       left-fold renorm, keep-prev on empty/zero-norm (Spark emits
       NULL for zero-norm then coalesces — same CASE here);
    5. final: corpus vector -> max-dot LIVE super (supers holding >=1
       child) -> max-dot child within that super.

    Re-referenced chain nodes are AS MATERIALIZED (the r8 lesson:
    DuckDB inlines plain CTEs per reference).  Feasibility: the
    replay is CHEAPER than the flat one at the same K — level-1 is
    N x S dots and child assignment meets only ~sqrt(K) children per
    vector — so forced-threshold rungs certify comfortably; a TRUE
    hierarchical rung (K > 16384 means >2e9 corpus vectors) would
    want the skinny-window projection treatment first
    (:func:`_skinny_assign_ctes`)."""
    s_cells = math.ceil(math.sqrt(k_cells))
    k_child = math.ceil(k_cells / s_cells)
    parts = [
        _kmeans_ctes(str(s_cells), iters, sample_mod, n_dims, suffix="hs"),
        f"""hkdims AS (SELECT unnest(range(1, {n_dims} + 1)) AS dim),
    samp_sup AS MATERIALIZED (
        SELECT vec_id, en, sup FROM (
            SELECT s.vec_id, s.en, c.cell AS sup, row_number() OVER (
                PARTITION BY s.vec_id
                ORDER BY list_inner_product(s.en, c.c_en) DESC, c.cell
            ) AS rn
            FROM samphs s CROSS JOIN centshs c
        ) WHERE rn = 1
    ),
    child0 AS MATERIALIZED (
        SELECT sup, vec_id AS cell, en AS c_en FROM (
            SELECT sup, vec_id, en, row_number() OVER (
                PARTITION BY sup ORDER BY vec_id
            ) AS rn FROM samp_sup
        ) WHERE rn <= {k_child}
    )""",
    ]
    for i in range(1, iters + 1):
        prev = f"child{i-1}"
        parts.append(
            f"""ch{i}_asg AS (
        SELECT vec_id, sup, cell FROM (
            SELECT s.vec_id, s.sup, c.cell, row_number() OVER (
                PARTITION BY s.vec_id
                ORDER BY list_inner_product(s.en, c.c_en) DESC, c.cell
            ) AS rn
            FROM samp_sup s JOIN {prev} c ON s.sup = c.sup
        ) WHERE rn = 1
    ),
    ch{i}_vals AS (
        SELECT a.sup, a.cell, d.dim,
               array_agg(s.en[d.dim] ORDER BY s.vec_id) AS vals,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM ch{i}_asg a JOIN samp_sup s ON a.vec_id = s.vec_id
        CROSS JOIN hkdims d
        GROUP BY a.sup, a.cell, d.dim
    ),
    ch{i}_avg AS (
        SELECT sup, cell, dim,
               list_inner_product(vals, list_transform(vals, x -> 1.0)) / cnt
                   AS cv
        FROM ch{i}_vals
    ),
    ch{i}_arr AS (
        SELECT sup, cell, array_agg(cv ORDER BY dim) AS c_raw
        FROM ch{i}_avg GROUP BY sup, cell
    ),
    child{i} AS MATERIALIZED (
        SELECT p.sup, p.cell,
               CASE WHEN w.c_raw IS NULL
                         OR list_inner_product(w.c_raw, w.c_raw) = 0
                    THEN p.c_en
                    ELSE list_transform(w.c_raw,
                        x -> x / sqrt(list_inner_product(w.c_raw, w.c_raw)))
               END AS c_en
        FROM {prev} p LEFT JOIN ch{i}_arr w
            ON p.sup = w.sup AND p.cell = w.cell
    )"""
        )
    parts.append(
        f"""livesup AS (SELECT DISTINCT sup FROM child{iters}),
    v2s AS MATERIALIZED (
        SELECT vec_id, en, sup FROM (
            SELECT v.vec_id, v.en, c.cell AS sup, row_number() OVER (
                PARTITION BY v.vec_id
                ORDER BY list_inner_product(v.en, c.c_en) DESC, c.cell
            ) AS rn
            FROM e v CROSS JOIN (
                SELECT c.cell, c.c_en FROM centshs c
                JOIN livesup l ON c.cell = l.sup
            ) c
        ) WHERE rn = 1
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell, row_number() OVER (
                PARTITION BY v.vec_id
                ORDER BY list_inner_product(v.en, c.c_en) DESC, c.cell
            ) AS rn
            FROM v2s v JOIN child{iters} c ON v.sup = c.sup
        ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


def _semdedup_cert_oracle(spark: SparkSession, sf_dir: str, con) -> str:
    """Big-SF certification oracle for dedup_semantic_ivf (VERDICT r12
    item 3): the primary oracle's Lloyd-training replay (sample x K
    cross joins, materialized per iteration) spills >71 GB at sf10,
    while every LIVE stage of it is already certified elsewhere —
    :func:`train_kmeans_centroid_values` is replayed BIT-EXACTLY by
    :func:`_kmeans_ctes` at sf0.01/sf1/sf3 and through sim_ivf_topk at
    sf10.  So this oracle PINS exactly one intermediate — the trained
    child codebook, exported from the same memoized trainer the query
    uses — and replays everything downstream INDEPENDENTLY in SQL:
    super-centroid training from the pinned codebook, two-level
    nearest-cell assignment of every vector, the within-cell pairwise
    cosine >= tau sweep, and the min-id-wins keep rule.  Cost is
    O(N*(S + K/S)) dots + O(sum |cell|^2) pairs — linear under the
    K = N/125 schedule, no iterated cross joins, nothing to spill.
    Two cheap training sanity checks run inline (unit-norm centroids,
    seed ids drawn from the sample stratum) so a corrupted export
    fails loudly rather than certifying garbage.
    tests/test_cert_oracles.py pins this oracle == the primary oracle
    == the Spark result at sf0.001."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    emb = _emb_double(t).select("vec_id", "emb_n")
    n_vecs = table_rows(t, "embeddings")
    k_cells = max(16, math.ceil(n_vecs / 125.0))
    if k_cells > KMEANS_FLAT_TRAIN_MAX_K:
        # HIERARCHICAL regime (r14, VERDICT r13 item 5 — this used to
        # be a NotImplementedError guard): replay the ENTIRE two-level
        # schedule independently in SQL (:func:`_hier_replay_ctes`) —
        # nothing pinned, so no drift check is needed.  The replay is
        # cheaper than the flat one at equal K (child assignment
        # meets only ~sqrt(K) children per vector), so the regime is
        # certifiable at any forced-threshold rung; pinned == the
        # Spark result at sf0.001 by tests/test_cert_oracles.py.
        return f"""
    WITH {_EN_CTE},
    {_hier_replay_ctes(k_cells)},
    m AS MATERIALIZED (
        SELECT a.vec_id, a.cell, e.en
        FROM assigned a JOIN e ON a.vec_id = e.vec_id
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.en, b.en) >= 0.3
    )
    SELECT m.vec_id, m.cell, d.vec_id IS NULL AS kept
    FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
    """
    # ground the trainer against the low-rung independent replay
    # BEFORE the self-referential pin (ADVICE r13: the inline sanity
    # checks below can't catch a wrong-but-valid codebook)
    _trainer_codebook_drift_check(spark)
    cents = train_kmeans_centroid_values(
        spark, emb, k_cells, cache_key=("kmeans", sf_dir)
    )
    cents_pd = pd.DataFrame(
        {
            "cell": [int(c) for c, _ in cents],
            "c_en": [[float(x) for x in v] for _, v in cents],
        }
    )
    con.register("cert_semdedup_cents", cents_pd)
    # training sanity on the pinned export: spherical k-means emits
    # unit-norm centroids; seeds (and thus cell ids) come from the
    # vec_id % sample_mod == 0 stratum
    bad_norm, bad_seed = con.sql(
        f"""
        SELECT
            sum(CASE WHEN abs(list_inner_product(CAST(c_en AS DOUBLE[]),
                                                 CAST(c_en AS DOUBLE[])) - 1.0)
                          > 1e-9 THEN 1 ELSE 0 END),
            sum(CASE WHEN cell % {KMEANS_SAMPLE_MOD} <> 0 THEN 1 ELSE 0 END)
        FROM cert_semdedup_cents
        """
    ).fetchone()
    if bad_norm or bad_seed:
        raise AssertionError(
            f"pinned codebook failed training sanity: {bad_norm} non-unit "
            f"centroids, {bad_seed} off-stratum cell ids"
        )
    return f"""
    WITH {_EN_CTE},
    kk AS (SELECT CAST({k_cells} AS BIGINT) AS k),
    kdims AS (SELECT unnest(range(1, {EMBEDDING_DIMS + 1})) AS dim),
    cents AS MATERIALIZED (
        SELECT cell, CAST(c_en AS DOUBLE[]) AS c_en FROM cert_semdedup_cents
    ),
    {_super_train_ctes()},
    {_skinny_assign_ctes(f"sup{KMEANS_ITERS}")},
    m AS (
        SELECT a.vec_id, a.cell, e.en
        FROM assigned a JOIN e ON a.vec_id = e.vec_id
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.en, b.en) >= 0.3
    )
    SELECT m.vec_id, m.cell, d.vec_id IS NULL AS kept
    FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
    """


@query(
    "dedup_semantic_ivf",
    memo_plan=True,
    cert_oracle=_semdedup_cert_oracle,
    oracle=f"""
    WITH {_EN_CTE},
    kk AS (
        -- RAW count, matching the Spark side's metadata-only
        -- t.embeddings.count() (not the zero-norm-filtered e)
        SELECT greatest(16, CAST(ceil(count(*) / 125.0) AS BIGINT)) AS k
        FROM embeddings
    ),
    {_kmeans_ctes("(SELECT k FROM kk)")},
    {_super_ctes()},
    m AS (
        SELECT a.vec_id, a.cell, e.en
        FROM assigned a JOIN e ON a.vec_id = e.vec_id
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_inner_product(a.en, b.en) >= 0.3
    )
    SELECT m.vec_id, m.cell, d.vec_id IS NULL AS kept
    FROM m LEFT JOIN dup d ON m.vec_id = d.vec_id
    """,
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    coarse-cluster the embeddings, then inside each cluster drop every
    vector that has ANY lower-id cluster-mate above the cosine
    threshold — the embedding-space analogue of near-dup text removal,
    used to prune semantically-redundant training data that n-gram
    methods can't see.  (This is the PARALLEL drop rule: a vector is
    dropped on similarity to any earlier mate, kept or dropped —
    slightly more aggressive than the sequential greedy sweep, which
    would be inherently order-dependent and unshardable; the parallel
    rule is order-free, one join, and exactly SQL-replayable.)

    Clustering uses TRAINED centroids (deterministic sampled spherical
    k-means, :func:`train_kmeans_centroid_values` — same codebook as
    sim_ivf_topk) with TWO-LEVEL nearest-cell assignment (r6-verdict
    item 2): S = ceil(sqrt(K)) super-centroids are derived from the
    child codebook (:func:`super_centroids`), each vector scores the S
    supers, then only its winning super-cell's children — N x (S +
    K/S) ~ 2N*sqrt(K) dot products where flat assignment was N x K =
    N^2/125 under the K schedule below, the term that made the r6
    pipeline quadratic at scale.  The keep rule is min-id-wins, making
    the result order-free and the DuckDB replay exact (dot products
    are bit-identical across engines, so the threshold compare needs
    no rounding guard; the super-trainer's means are order-pinned
    folds, bit-exact with no rounding at all).

    Scale design: this IS the SemDeDup cost model, now linear
    end-to-end — the assignment crosses the corpus with ONE broadcast
    codebook row and projects two argmax folds over it
    (:func:`_assign_two_level_row`: no shuffle, no window), so plan
    size stays O(1) while the K = N/125 schedule grows.  Past
    ``KMEANS_FLAT_TRAIN_MAX_K`` the codebook comes from
    :func:`train_kmeans_hierarchical` and :func:`_assign_two_level`
    shuffle-joins its child frame instead.  Measured (eager
    checkpoint of the assignment, codebook warm, local[4], medians of
    11 alternating pairs): 0.48 s at sf0.01 K=16 and 0.41 s at sf0.1
    K=16, where the former plan-literal path took 0.44 s and 0.45 s;
    0.55 s at sf0.1 K=160 and 0.79 s at K=480, where the former
    broadcast child-frame path took 0.96 s and 1.30 s.  The pairwise
    stage is confined within cells, so the candidate space is
    sum(|cell|^2) not |corpus|^2.  **K scales with the
    corpus**: K = max(16, ceil(N/125)) holds the target cell size at
    ~125, so the within-cell pairwise work stays LINEAR in N (the r5
    sf1 scale sample measured the fixed-16 version at 19x on a 10x
    data step — the quadratic sum(|cell|^2) blowup this formula
    removes; both engines compute K from the same count).  The
    assignment frame is memoized (``memoized_persist``) because the
    self-join consumes it twice."""
    t = Tables(spark, sf_dir)
    tau = 0.3

    def build() -> DataFrame:
        emb = _emb_double(t).select("vec_id", "emb_n")
        # scalar count for the K schedule — raw-table count via the
        # session memo (stats.table_rows; the ADVICE r5 fix moved it
        # off the transformed frame, r9 consolidated the job itself)
        n_vecs = table_rows(t, "embeddings")
        k_cells = max(16, math.ceil(n_vecs / 125.0))
        if k_cells > KMEANS_FLAT_TRAIN_MAX_K:
            # past the flat trainer's driver ceiling: hierarchical
            # training + shuffle-join assignment — nothing O(K)
            # crosses the driver (VERDICT r9 item 3).  Never reached
            # at a fixture SF (threshold math in the constant's doc);
            # structural contract tested via forced threshold.
            hsups, child_df = train_kmeans_hierarchical(
                spark, emb, k_cells, cache_key=("kmeans", sf_dir)
            )
            return _assign_two_level(spark, emb, hsups, child_df)
        cents = train_kmeans_centroid_values(
            spark, emb, k_cells, cache_key=("kmeans", sf_dir)
        )
        sups, c2s = super_centroids(cents, math.ceil(math.sqrt(k_cells)))
        return _assign_two_level_row(spark, emb, sups, c2s, cents)

    # the threshold is part of the memo key: the assignment PATH
    # (flat vs hierarchical) is a function of it, and the
    # hierarchical-regime tests flip it mid-session — a keyless memo would replay the
    # other path's checkpointed frame
    assigned = memoized_persist(
        spark, ("semdedup_assigned", sf_dir, KMEANS_FLAT_TRAIN_MAX_K), build
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dup = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(dot(F.col("a.emb_n"), F.col("b.emb_n")) >= tau)
        .select(F.col("b.vec_id").alias("dup_id"))
        .distinct()
    )
    return (
        assigned.join(dup, F.col("vec_id") == F.col("dup_id"), "left")
        .select("vec_id", "cell", F.col("dup_id").isNull().alias("kept"))
    )


@query(
    "pipe_decontaminate_semantic",
    memo_plan=True,
    oracle=f"""
    WITH {_EN_CTE},
    bench AS (SELECT vec_id, en FROM e WHERE vec_id % 53 = 0),
    corpus AS (SELECT vec_id, en FROM e WHERE vec_id % 53 <> 0),
    flagged AS (
        SELECT c.vec_id,
               max(list_inner_product(c.en, b.en)) AS max_bench_sim
        FROM corpus c CROSS JOIN bench b
        GROUP BY c.vec_id
    )
    SELECT vec_id, round(max_bench_sim, 6) AS max_bench_sim,
           max_bench_sim >= 0.25 AS contaminated
    FROM flagged
    """,
)
def pipe_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-space twin of
    pipe_decontaminate: flag training vectors whose cosine to ANY
    benchmark vector (vec_id % 53 stands in for the eval set) reaches
    the threshold, catching paraphrased/translated eval leakage that
    n-gram overlap can't see (the modern eval-hygiene step next to the
    13-gram check).

    Scale design: identical to the n-gram variant — the benchmark set
    is tiny, so it BROADCASTS against the streamed corpus (one pass,
    zero corpus shuffles beyond the per-vector rollup, which AQE
    coalesces); per-pair work is one dot fold over prenormalized
    vectors — no per-pair division or norm reads at all.
    Dot-product folds are bit-exact across engines, so max + threshold
    compare need no tolerance; the max is rounded only for display.
    Reference delegates relational work via pandas_redshift/core.py:84
    and has no vector surface at all."""
    t = Tables(spark, sf_dir)
    emb = _emb_double(t).select("vec_id", "emb_n")
    is_bench = F.col("vec_id") % 53 == 0
    bench = broadcast(
        emb.filter(is_bench).select(F.col("emb_n").alias("b_en"))
    )
    sim = dot(F.col("emb_n"), F.col("b_en"))
    return (
        emb.filter(~is_bench)
        .join(bench, how="cross")
        .groupBy("vec_id")
        .agg(F.max(sim).alias("max_bench_sim"))
        .select(
            "vec_id",
            F.round("max_bench_sim", 6).alias("max_bench_sim"),
            (F.col("max_bench_sim") >= 0.25).alias("contaminated"),
        )
    )
