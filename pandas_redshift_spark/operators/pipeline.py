"""Training-data pipeline stages over ``documents`` (north-star
extension, SURVEY.md §2.C): deterministic dataset splits, greedy
sequence packing, benchmark decontamination, stratified sampling and a
quality-filter funnel.

These are the operations a 100 TB pretraining corpus actually goes
through between raw crawl and tokenizer.  All of them are pure
built-in-function plans (no Python UDFs): hashing is ``md5``/*xxhash*,
packing is a window cumulative sum, decontamination is an
inverted-index join against a broadcast benchmark set.  Determinism is
the design center — every stage is a pure function of (doc_id, text),
so re-runs and backfills produce byte-identical splits at any scale.

The reference has no pipeline surface at all (it forwards SQL text,
pandas_redshift/core.py:84); these extend the delegated-SQL model with
the operators its Redshift backend could not express.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pandas_redshift_spark.operators.dedup import shingle_cte_sql, shingle_frame
from pandas_redshift_spark.operators.exactsum import money_sum, money_sum_sql
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables


@query(
    "pipe_split_deterministic",
    oracle="""
    WITH assigned AS (
        SELECT
            CASE
                WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train'
                WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'f'
                    THEN 'val'
                ELSE 'test'
            END AS split,
            n_chars
        FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
)
def pipe_split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-independent hash:
    first hex nibble of md5('split:'||doc_id) — 13/16 train, 2/16 val,
    1/16 test.  Hash-based assignment is the scale-correct pattern: no
    global sort or sampling pass, stable under re-partitioning and
    incremental appends, and any worker can recompute membership
    without coordination.  The salt prefix decorrelates this split
    from any other hash use of doc_id."""
    d = Tables(spark, sf_dir).documents
    nib = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1)
    split = (
        F.when(nib < "d", "train").when(nib < "f", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "pipe_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, n_tokens,
               CAST((sum(n_tokens) OVER w - n_tokens) // 2048 AS BIGINT) AS bin_id
        FROM toks
        WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT lang, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed
    GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """,
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate documents (per language,
    in doc_id order) into ~2048-token training bins — bin id is the
    exclusive running token count integer-divided by the budget.  One
    window shuffle on lang; the same plan shape packs 100 TB because
    the window never materializes more than a partition.  In a real
    tokenizer pipeline n_tokens comes from text_bpe_token_estimate;
    whitespace counts keep the oracle exact here."""
    d = Tables(spark, sf_dir).documents
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = toks.select(
        "lang",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048)
        .cast("bigint")
        .alias("bin_id"),
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("lang", "bin_id")
    )


@query(
    "pipe_decontaminate",
    memo_plan=True,
    oracle=f"""
    WITH {shingle_cte_sql()},
    bench AS (
        SELECT DISTINCT unnest(shingle_set) AS s FROM sh WHERE doc_id % 53 = 0
    ),
    train AS (
        SELECT doc_id, len(shingle_set) AS n_grams, unnest(shingle_set) AS s
        FROM sh WHERE doc_id % 53 <> 0
    )
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_hit,
           round(count(*) * 1.0 / t.n_grams, 4) AS overlap
    FROM train t JOIN bench b ON t.s = b.s
    GROUP BY t.doc_id, t.n_grams
    HAVING count(*) * 1.0 / t.n_grams >= 0.05
    ORDER BY overlap DESC, doc_id
    """,
)
def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    3-gram sets overlap an eval/benchmark set (here: doc_id % 53 == 0
    stands in for the benchmark corpus) above 5%.  The benchmark's
    distinct shingles are tiny relative to the corpus, so the
    membership probe is a BROADCAST join against the exploded training
    shingles — the corpus-side data never shuffles, which is what
    makes contamination checks affordable at 100 TB."""
    # shared persisted shingle frame — pre-explode cache boundary stops
    # the InferFiltersFromGenerate pushdown trap (see dedup.shingle_frame)
    sh = shingle_frame(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % 53 == 0)
        .select(F.explode("shingle_set").alias("s"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % 53 != 0).select(
        "doc_id",
        F.size("shingle_set").cast("bigint").alias("n_grams"),
        F.explode("shingle_set").alias("s"),
    )
    hit = (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    overlap = F.col("n_hit") / F.col("n_grams")
    return (
        hit.filter(overlap >= 0.05)
        .select("doc_id", "n_grams", "n_hit", F.round(overlap, 4).alias("overlap"))
        .orderBy(F.col("overlap").desc(), "doc_id")
    )


@query(
    "pipe_sample_stratified",
    oracle="""
    WITH keyed AS (
        SELECT lang,
               substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN bucket < (CASE WHEN lang = 'en' THEN '1a'
                                             ELSE '80' END)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM keyed
    GROUP BY lang
    ORDER BY lang
    """,
)
def pipe_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-language rates (the standard
    rebalancing move: keep ~10% of dominant 'en', ~50% of the rest)
    via deterministic hash buckets — substring(md5, 1, 2) gives 256
    lexicographic buckets, and a per-stratum hex threshold selects the
    rate.  Unlike TABLESAMPLE this is reproducible across engines,
    partitionings and runs, and supports exact set-difference audits
    between two sampling configs."""
    d = Tables(spark, sf_dir).documents
    bucket = F.substring(
        F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))), 1, 2
    )
    thresh = F.when(F.col("lang") == "en", "1a").otherwise("80")
    return (
        d.select("lang", bucket.alias("bucket"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("bucket") < thresh, 1).otherwise(0)).alias("n_sampled"),
        )
        .orderBy("lang")
    )


@query(
    "pipe_quality_funnel",
    oracle="""
    WITH scored AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_tokens,
               n_chars
        FROM documents
    ),
    staged AS (
        SELECT lang,
               CASE
                   WHEN n_tokens < 20 THEN 'reject_too_short'
                   WHEN n_chars > 5.8 * n_tokens THEN 'reject_long_tokens'
                   WHEN n_chars < 5.1 * n_tokens THEN 'reject_short_tokens'
                   ELSE 'keep'
               END AS stage
        FROM scored
    )
    SELECT lang, stage, CAST(count(*) AS BIGINT) AS n_docs
    FROM staged
    GROUP BY lang, stage
    ORDER BY lang, stage
    """,
)
def pipe_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel (C4/Gopher-style rule cascade, reduced to
    the signals this corpus carries): classify every document into its
    FIRST failing rule — too few tokens, implausibly long average
    token, implausibly short average token — or 'keep', and report the
    funnel per language.  A single narrow projection + 20-group
    aggregate: the whole filter cascade costs one corpus scan and
    nothing shuffles but the counts."""
    d = Tables(spark, sf_dir).documents
    n_tokens = F.size(F.split(F.col("text"), " "))
    stage = (
        F.when(n_tokens < 20, "reject_too_short")
        .when(F.col("n_chars") > 5.8 * n_tokens, "reject_long_tokens")
        .when(F.col("n_chars") < 5.1 * n_tokens, "reject_short_tokens")
        .otherwise("keep")
    )
    return (
        d.select("lang", stage.alias("stage"))
        .groupBy("lang", "stage")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "stage")
    )


@query(
    "pipe_domain_reweight",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cells
    )
    SELECT
        c.lang, c.source, c.n_docs,
        c.n_docs * 1.0 / t.total AS share,
        t.total * 1.0 / (t.n_cells * c.n_docs) AS weight
    FROM cells c CROSS JOIN tot t
    """,
)
def pipe_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting — the sampling-weight table a
    training pipeline derives before drawing a balanced mix: per
    (lang, source) cell, its corpus share and the resampling weight
    that equalizes the mixture (weight = uniform_target / share).
    One group-by; the totals ride a broadcast cross join of a 1-row
    aggregate (no second corpus pass).  Fractions are raw
    integer-quotient doubles (identical IEEE division both engines)."""
    d = Tables(spark, sf_dir).documents
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = F.broadcast(
        cells.agg(
            F.sum("n_docs").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )
    return cells.crossJoin(tot).select(
        "lang",
        "source",
        "n_docs",
        (F.col("n_docs") / F.col("total")).alias("share"),
        (F.col("total") / (F.col("n_cells") * F.col("n_docs"))).alias("weight"),
    )


@query(
    "pipe_mix_sample",
    oracle="""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    ),
    target AS (SELECT min(n_docs) AS tgt FROM cells),
    hashed AS (
        SELECT d.lang, d.source, c.n_docs, t.tgt,
               (d.doc_id * 2654435761) % 4294967296 AS u
        FROM documents d
        JOIN cells c ON d.lang = c.lang AND d.source = c.source
        CROSS JOIN target t
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(any_value(tgt) AS BIGINT) AS target_per_cell
    FROM hashed
    WHERE u * n_docs < tgt * 4294967296
    GROUP BY lang, source
    """,
)
def pipe_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-mixture downsampling — the consumer of
    pipe_domain_reweight's weights: every (lang, source) cell is
    down-sampled to ~the smallest cell's size by a DETERMINISTIC
    arithmetic hash (Knuth multiplicative, exact BIGINT arithmetic in
    both engines — no floats, no RNG, so reruns and engines agree
    row-for-row).  Keep rule: u * n_cell < target * 2^32, i.e.
    P(keep) = target/n_cell without a division.  One group-by for
    cell sizes (broadcast back), one scan to sample — no shuffle of
    the corpus itself."""
    d = Tables(spark, sf_dir).documents
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    target = F.broadcast(cells.agg(F.min("n_docs").alias("tgt")))
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    return (
        d.join(F.broadcast(cells), ["lang", "source"])
        .crossJoin(target)
        .withColumn("u", u)
        .filter(F.col("u") * F.col("n_docs") < F.col("tgt") * F.lit(4294967296))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.any_value("tgt").cast("bigint").alias("target_per_cell"),
        )
    )


@query(
    "pipe_dedup_keepfirst",
    oracle=f"""
    WITH {shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    dropped AS (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.5
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (dr.doc_id IS NULL) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (dr.doc_id IS NOT NULL) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.lang
    """,
)
def pipe_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup PASS with keep-first survivor policy — the
    composition a training pipeline actually ships: a document is
    dropped iff some LOWER-id document is jaccard >= 0.5 to it (no
    transitive closure — each doc checks only its own partners, which
    keeps the pass one inverted-index join + one anti-join-shaped mark,
    fully SQL-expressible; the clustering ops cover the transitive
    variant).  Emits per-language kept/dropped counts — the corpus
    report that gates the pass in production."""
    from pandas_redshift_spark.operators.dedup import dedup_ngram_jaccard

    d = Tables(spark, sf_dir).documents
    dropped = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        d.join(F.broadcast(dropped.withColumn("is_dropped", F.lit(1))), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("is_dropped").isNull(), 1)).alias("n_kept"),
            F.count("is_dropped").alias("n_dropped"),
        )
    )


@query(
    "pipe_shard_write",
    oracle="""
    WITH split AS (
        SELECT lang, count(*) AS n_docs
        FROM documents GROUP BY lang
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(CAST(ceil(n_docs / 2000.0) AS BIGINT) AS BIGINT) AS n_shards_min
    FROM split
    """,
)
def pipe_shard_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard writer: emit the corpus as fixed-size parquet
    shards (maxRecordsPerFile caps rows per file; partitionBy(lang)
    groups shards per language — the layout a dataloader streams).
    Returns the shard inventory read back FROM THE FILES: docs per
    lang plus the minimum shard count the cap implies; the written
    shard count is asserted >= that floor in tests (a task may emit
    more, smaller files — never an oversize one).

    Scale: maxRecordsPerFile bounds shard size with zero extra
    shuffles (files roll over during the write); the optional
    repartition before it controls parallelism, not correctness."""
    from pandas_redshift_spark.operators.sourcesinks import _stage_dir

    d = Tables(spark, sf_dir).documents
    path = _stage_dir(spark, "train_shards")
    (
        d.repartition(8)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 2000)
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.ceil(F.count(F.lit(1)) / 2000.0).cast("bigint").alias("n_shards_min"),
    )


@query(
    "pipe_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
    vocab AS (
        SELECT tok FROM freq ORDER BY cnt DESC, tok LIMIT 10
    ),
    marked AS (
        SELECT t.lang, t.tok, v.tok IS NOT NULL AS in_vocab
        FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (NOT in_vocab) AS BIGINT) AS oov_tokens,
           count(*) FILTER (NOT in_vocab) * 1.0 / count(*) AS oov_rate
    FROM marked
    GROUP BY lang
    """,
)
def pipe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build + coverage report: the top-K tokens
    by corpus frequency become the vocab (deterministic (count, token)
    tie-break), and each language's out-of-vocabulary token rate is
    the shipped metric — the number that decides whether a tokenizer
    needs retraining when a new source lands.  K=10 against this
    corpus's 31-token vocabulary so the rate is non-degenerate; the
    plan is identical at K=64k.

    Shape: one (token) partial-agg shuffle builds frequencies; the
    top-K is a tiny sorted limit that BROADCASTS back onto the
    per-language token stream (corpus-side rows never shuffle for the
    membership probe — same broadcast-probe pattern as
    pipe_decontaminate).  OOV rate is an exact integer-count quotient
    (raw double)."""
    d = Tables(spark, sf_dir).documents
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        freq.orderBy(F.col("cnt").desc(), "tok")
        .limit(10)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    marked = tok.join(F.broadcast(vocab), "tok", "left")
    oov = F.count(F.when(F.col("in_vocab").isNull(), 1))
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        oov.alias("oov_tokens"),
        (oov / F.count(F.lit(1))).alias("oov_rate"),
    )


@query(
    "pipe_corpus_report",
    oracle="""
    WITH base AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    ),
    quality AS (
        SELECT lang,
               CAST(count(*) FILTER (
                   len(string_split(text, ' ')) BETWEEN 20 AND 1000
                   AND len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) > 0.05
               ) AS BIGINT) AS n_pass_quality
        FROM documents GROUP BY lang
    ),
    dups AS (
        SELECT lang, CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_exact_dups
        FROM documents GROUP BY lang
    ),
    vocab AS (
        SELECT lang,
               count(DISTINCT tok) * 1.0 / count(*) AS type_token_ratio
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY lang
    )
    SELECT b.lang, b.n_docs, b.total_chars,
           q.n_pass_quality,
           q.n_pass_quality * 1.0 / b.n_docs AS quality_pass_rate,
           d.n_exact_dups,
           d.n_exact_dups * 1.0 / b.n_docs AS exact_dup_rate,
           v.type_token_ratio
    FROM base b
    JOIN quality q ON b.lang = q.lang
    JOIN dups d ON b.lang = d.lang
    JOIN vocab v ON b.lang = v.lang
    """,
)
def pipe_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus health dashboard in ONE call: per-language document
    and character mass, quality-filter pass rate (same predicate as
    text_quality_score), exact-duplicate rate, and type-token ratio —
    the four numbers a data curator checks after every ingest batch.

    Composition shape: four independent per-lang aggregates (each one
    shuffle, two of them sharing the documents scan via Spark's scan
    reuse) joined on the tiny lang key — aggregates-then-join, never
    join-then-aggregate, so the join inputs are |langs| rows each
    regardless of corpus size.  All rates are exact integer-count
    quotients (raw doubles)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    base = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    quality = d.groupBy("lang").agg(
        F.count(
            F.when(n.between(20, 1000) & (uniq / n > 0.05), 1)
        ).alias("n_pass_quality")
    )
    dups = d.groupBy("lang").agg(
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_exact_dups")
    )
    vocab = (
        d.select("lang", F.explode(toks).alias("tok"))
        .groupBy("lang")
        .agg((F.countDistinct("tok") / F.count(F.lit(1))).alias("type_token_ratio"))
    )
    return (
        base.join(quality, "lang")
        .join(dups, "lang")
        .join(vocab, "lang")
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "n_pass_quality",
            (F.col("n_pass_quality") / F.col("n_docs")).alias("quality_pass_rate"),
            "n_exact_dups",
            (F.col("n_exact_dups") / F.col("n_docs")).alias("exact_dup_rate"),
            "type_token_ratio",
        )
    )


@query(
    "pipe_incremental_dedup",
    oracle="""
    WITH hist AS (
        SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(count(hist.h) AS BIGINT) AS n_dup_vs_corpus,
           CAST(count(*) - count(hist.h) AS BIGINT) AS n_kept
    FROM batch b LEFT JOIN hist ON b.h = hist.h
    GROUP BY b.lang
    """,
)
def pipe_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-ingest shape: only the NEW batch
    (doc_id % 10 == 0 stands in for today's crawl) is checked against
    the existing corpus' content-hash set; history is never re-paired
    against itself.  This asymmetry is what makes continuous dedup
    affordable: per ingest you pay |batch| probes against a hash
    index, not |corpus|² — and the digest set is exactly what a
    production pipeline persists between runs (dedup_exact_hash
    builds it).

    Shape: history collapses to distinct 32-byte digests (shuffle
    keyed on the digest, independent of document length); the batch
    left-joins that set and aggregates per language."""
    d = Tables(spark, sf_dir).documents
    hist = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("in_hist", F.lit(1))
    )
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", F.sha2("text", 256).alias("h")
    )
    return (
        batch.join(hist, "h", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.count("in_hist").alias("n_dup_vs_corpus"),
            (F.count(F.lit(1)) - F.count("in_hist")).alias("n_kept"),
        )
    )


@query(
    "pipe_train_manifest",
    oracle="""
    WITH assigned AS (
        SELECT lang, text, n_chars,
               CASE
                   WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                       THEN 'train'
                   WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'f'
                       THEN 'val'
                   ELSE 'test'
               END AS split,
               len(string_split(text, ' ')) AS n_tokens,
               len(string_split(text, ' ')) BETWEEN 20 AND 1000
                   AND len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) > 0.05 AS passes
        FROM documents
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(*) FILTER (passes) AS BIGINT) AS n_pass_quality,
           count(*) FILTER (passes) * 1.0 / count(*) AS quality_rate
    FROM assigned
    GROUP BY lang, split
    """,
)
def pipe_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANIFEST — the artifact a training pipeline actually hands
    to the trainer: per (language, split) document counts, token and
    character mass, and quality pass-rates, with the SAME
    deterministic split rule as pipe_split_deterministic and the SAME
    quality predicate as text_quality_score (consistency across
    registered operators is the contract — a manifest computed with
    different rules than the shard writer is a silent training bug).

    Shape: one scan, all per-row signals computed narrow, one
    (lang, split) partial-agg shuffle.  Every rate is an exact
    integer-count quotient."""
    d = Tables(spark, sf_dir).documents
    nib = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1)
    split = F.when(nib < "d", "train").when(nib < "f", "val").otherwise("test")
    toks = F.split("text", " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    passes = n.between(20, 1000) & (uniq / n > 0.05)
    assigned = d.select(
        "lang",
        "n_chars",
        split.alias("split"),
        n.alias("n_tokens"),
        passes.alias("passes"),
    )
    return assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.count(F.when(F.col("passes"), 1)).alias("n_pass_quality"),
        (F.count(F.when(F.col("passes"), 1)) / F.count(F.lit(1))).alias("quality_rate"),
    )


@query(
    "pipe_feature_binning",
    oracle=f"""
    WITH cuts AS (
        SELECT quantile_cont(o_totalprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
        FROM orders
    )
    SELECT 1 + len(list_filter(cuts.c, x -> o.o_totalprice > x)) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(min(o.o_totalprice), 2) AS lo,
           round(max(o.o_totalprice), 2) AS hi,
           {money_sum_sql("o.o_totalprice")} AS total
    FROM orders o CROSS JOIN cuts
    GROUP BY 1
    """,
)
def pipe_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (decile binning) of a numeric feature —
    done the SCALE way: the 9 decile cuts come from one mergeable
    percentile aggregate, BROADCAST to every row, and the bin index is
    counting cuts below the value (a 9-element array filter, pure
    codegen).  The naive ntile(10) formulation drags the ENTIRE table
    through one global sort partition; this plan touches raw rows only
    with narrow ops.

    Cross-engine note: interpolated cuts land strictly between
    2dp-exact prices (or exactly on one when the quantile index is
    integral), so last-ulp interpolation differences can never flip a
    row across a cut."""
    o = Tables(spark, sf_dir).orders
    cuts = o.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(i / 10) for i in range(1, 10)])
        ).alias("c")
    )
    binned = o.crossJoin(F.broadcast(cuts)).select(
        "o_totalprice",
        (F.size(F.filter(F.col("c"), lambda x: F.col("o_totalprice") > x)) + 1)
        .cast("bigint")
        .alias("decile"),
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        # N/10-row groups: the float sum measured margin 27x at sf1
        # and 0.04x at sf3 (r10 probe) — a certain mismatch at sf3 —
        # so the total folds exact integer cents.
        money_sum("o_totalprice").alias("total"),
    )


def _dedup_cascade_oracle() -> str:
    """DuckDB twin of the cascade: same stage markers (window
    keep-first for exact, >=0.5 pair partners for near-dup, transitive
    >=0.2 components for cluster), same cumulative set-difference
    accounting."""
    from pandas_redshift_spark.operators.dedup import components_cte_sql

    return f"""
    WITH RECURSIVE
    {components_cte_sql(0.2)},
    r1 AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn > 1
    ),
    near AS (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.5
    ),
    r2 AS (
        SELECT doc_id FROM near
        WHERE doc_id NOT IN (SELECT doc_id FROM r1)
    ),
    clus AS (SELECT node AS doc_id FROM comp WHERE node <> component_id),
    r3 AS (
        SELECT doc_id FROM clus
        WHERE doc_id NOT IN (SELECT doc_id FROM r1 UNION SELECT doc_id FROM r2)
    ),
    cnt AS (
        SELECT (SELECT count(*) FROM r1) AS c1,
               (SELECT count(*) FROM r2) AS c2,
               (SELECT count(*) FROM r3) AS c3,
               (SELECT count(*) FROM documents) AS n_raw
    )
    SELECT 1 AS stage_order, 'raw' AS stage,
           CAST(0 AS BIGINT) AS n_removed, CAST(n_raw AS BIGINT) AS n_remaining
    FROM cnt
    UNION ALL SELECT 2, 'exact_dup', CAST(c1 AS BIGINT), CAST(n_raw - c1 AS BIGINT) FROM cnt
    UNION ALL SELECT 3, 'near_dup_keepfirst', CAST(c2 AS BIGINT),
           CAST(n_raw - c1 - c2 AS BIGINT) FROM cnt
    UNION ALL SELECT 4, 'cluster_transitive', CAST(c3 AS BIGINT),
           CAST(n_raw - c1 - c2 - c3 AS BIGINT) FROM cnt
    """


def _cascade_cert_oracle(spark: SparkSession, sf_dir: str, con) -> str:
    """Big-SF certification oracle for pipe_dedup_cascade (VERDICT r12
    item 3): the primary oracle's recursive-CTE transitive closure over
    the full pair graph is the sandbox-infeasible piece at sf10 (the
    closure does not spill — CERT_r12.md).  This oracle PINS exactly
    one intermediate: the (node, component_id) membership exported
    from Spark's dedup_cluster_components — itself hash-certified
    against the full recursive closure in the SAME sweep (green at
    sf3/sf10) — and recomputes everything else independently in
    DuckDB: exact-dup marks, the full shingle/jaccard >= 0.5 near-dup
    marks, and the cumulative set-difference funnel.
    tests/test_cert_oracles.py pins this oracle == the primary oracle
    == the Spark result at sf0.001."""
    import pyspark.sql.functions as F

    from pandas_redshift_spark.operators.dedup import (
        dedup_cluster_components,
        jaccard_pairs_cte_sql,
    )

    comp_pd = (
        dedup_cluster_components(spark, sf_dir)
        .select(
            "component_id",
            F.explode(F.split("members", ",")).alias("node_s"),
        )
        .select(
            F.col("node_s").cast("bigint").alias("node"),
            F.col("component_id").cast("bigint").alias("component_id"),
        )
        .toPandas()
    )
    con.register("cert_cascade_comp", comp_pd)
    # Every mark CTE is MATERIALIZED: r1/near/r2 are referenced from
    # r2/r3 AND the cnt scalar subqueries, and an un-materialized CTE
    # inlines per reference — the whole shingle/inter pipeline would
    # re-execute ~4x, which is exactly how the r13 sf10 leg overran a
    # 60 GB memory budget + 71 GB of spill while the single-execution
    # jaccard query certs in ~416 s (cert_sf10_cascade_r13.log vs
    # cert_sf10_r11.log).
    return f"""
    WITH {jaccard_pairs_cte_sql(0.2)},
    comp AS (SELECT node, component_id FROM cert_cascade_comp),
    r1 AS MATERIALIZED (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn > 1
    ),
    near AS MATERIALIZED (
        SELECT DISTINCT i.doc_b AS doc_id
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.5
    ),
    r2 AS MATERIALIZED (
        SELECT doc_id FROM near
        WHERE doc_id NOT IN (SELECT doc_id FROM r1)
    ),
    clus AS (SELECT node AS doc_id FROM comp WHERE node <> component_id),
    r3 AS MATERIALIZED (
        SELECT doc_id FROM clus
        WHERE doc_id NOT IN (SELECT doc_id FROM r1 UNION SELECT doc_id FROM r2)
    ),
    cnt AS (
        SELECT (SELECT count(*) FROM r1) AS c1,
               (SELECT count(*) FROM r2) AS c2,
               (SELECT count(*) FROM r3) AS c3,
               (SELECT count(*) FROM documents) AS n_raw
    )
    SELECT 1 AS stage_order, 'raw' AS stage,
           CAST(0 AS BIGINT) AS n_removed, CAST(n_raw AS BIGINT) AS n_remaining
    FROM cnt
    UNION ALL SELECT 2, 'exact_dup', CAST(c1 AS BIGINT), CAST(n_raw - c1 AS BIGINT) FROM cnt
    UNION ALL SELECT 3, 'near_dup_keepfirst', CAST(c2 AS BIGINT),
           CAST(n_raw - c1 - c2 AS BIGINT) FROM cnt
    UNION ALL SELECT 4, 'cluster_transitive', CAST(c3 AS BIGINT),
           CAST(n_raw - c1 - c2 - c3 AS BIGINT) FROM cnt
    """


@query(
    "pipe_dedup_cascade",
    oracle=_dedup_cascade_oracle(),
    cert_oracle=_cascade_cert_oracle,
)
def pipe_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup CASCADE report — the stage-by-stage shrinkage
    accounting a production corpus pass publishes: exact dedup, then
    near-dup keep-first (jaccard >= 0.5 lower-id partner), then
    transitive clustering (>= 0.2 components, one survivor per
    component), each stage counting only documents not already removed
    by an earlier stage (cumulative set difference).  Cheap stages run
    first so expensive ones see a smaller corpus — the canonical
    cascade ordering at 100 TB, where exact dedup typically removes
    30-60% before any shingling happens.

    Accounting caveat: the counts are FULL-CORPUS stage marks combined
    by set difference, not a literally re-evaluated cascade — a doc
    whose only >=0.5 partner was itself removed by exact-dedup still
    counts as removed at the near-dup stage.  The oracle applies the
    identical marking rule, so Spark and DuckDB agree; a
    re-run-each-stage-on-the-shrunken-corpus variant would report
    slightly different per-stage counts (same final survivor set).

    All counting is DataFrame aggregates (no collect); the per-stage
    1-row counts cross-join (broadcast, 1 row each) into one frame and
    unpivot via ``stack`` into the 4-row funnel."""
    from pandas_redshift_spark.operators.dedup import (
        dedup_cluster_components,
        dedup_ngram_jaccard,
    )

    d = Tables(spark, sf_dir).documents
    w = Window.partitionBy("text").orderBy("doc_id")
    r1 = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    near = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    r2 = near.join(r1, "doc_id", "left_anti")
    clus = (
        dedup_cluster_components(spark, sf_dir)
        .select(
            "component_id",
            F.explode(F.split("members", ",")).alias("node_s"),
        )
        .select("component_id", F.col("node_s").cast("bigint").alias("doc_id"))
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id")
    )
    r3 = clus.join(r1.union(r2.select("doc_id")), "doc_id", "left_anti")
    counts = (
        d.agg(F.count(F.lit(1)).alias("n_raw"))
        .crossJoin(F.broadcast(r1.agg(F.count(F.lit(1)).alias("c1"))))
        .crossJoin(F.broadcast(r2.agg(F.count(F.lit(1)).alias("c2"))))
        .crossJoin(F.broadcast(r3.agg(F.count(F.lit(1)).alias("c3"))))
    )
    return counts.selectExpr(
        """stack(4,
            1, 'raw', CAST(0 AS BIGINT), n_raw,
            2, 'exact_dup', c1, n_raw - c1,
            3, 'near_dup_keepfirst', c2, n_raw - c1 - c2,
            4, 'cluster_transitive', c3, n_raw - c1 - c2 - c3
        ) AS (stage_order, stage, n_removed, n_remaining)"""
    )


@query(
    "pipe_url_canonicalize",
    oracle="""
    SELECT doc_id,
           'https://WWW.' || source || '.Example.COM/docs/' || doc_id
               || '?utm_source=feed&ref=' || lang || '&id=' || doc_id || '#frag'
               AS raw_url,
           lower(source) || '.example.com' AS canonical_host,
           'example.com' AS domain,
           '/docs/' || doc_id AS path,
           CAST(doc_id AS VARCHAR) AS id_param,
           'https://' || lower(source) || '.example.com/docs/' || doc_id
               || '?id=' || doc_id AS canonical_url
    FROM documents
    """,
)
def pipe_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup: parse the URL into
    components (JVM ``parse_url``), lowercase the host, strip a
    leading ``www.``, drop the fragment and tracking params
    (``utm_*``/``ref``, keeping ``id``), extract the registrable
    domain, and re-assemble the canonical form — the key under which
    crawl snapshots dedup.

    The synthetic corpus has no URL column, so the query first builds
    one deterministically from (source, doc_id, lang) — mixed-case
    host, tracking params, fragment.  The ORACLE side never parses:
    it states the expected canonical output directly from the base
    columns, so the hash compare verifies that Spark's parse +
    canonicalize pipeline lands exactly on spec.

    Scale design: pure map stage — parse_url/regexp are codegen'd
    JVM expressions, zero shuffles, zero joins; the canonical_url
    column then feeds the standard digest-keyed exact dedup."""
    d = Tables(spark, sf_dir).documents
    raw = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&ref="),
        F.col("lang"),
        F.lit("&id="),
        F.col("doc_id").cast("string"),
        F.lit("#frag"),
    )
    host = F.lower(F.parse_url(raw, F.lit("HOST")))
    canonical_host = F.regexp_replace(host, r"^www\.", "")
    domain = F.regexp_extract(canonical_host, r"([^.]+\.[^.]+)$", 1)
    path = F.parse_url(raw, F.lit("PATH"))
    id_param = F.parse_url(raw, F.lit("QUERY"), F.lit("id"))
    canonical = F.concat(
        F.lit("https://"), canonical_host, path, F.lit("?id="), id_param
    )
    return d.select(
        "doc_id",
        raw.alias("raw_url"),
        canonical_host.alias("canonical_host"),
        domain.alias("domain"),
        path.alias("path"),
        id_param.alias("id_param"),
        canonical.alias("canonical_url"),
    )


#: Overlapping-chunk geometry: CHUNK_W-token windows every CHUNK_S
#: tokens (overlap = W - S).  Sized to the fixture corpus (docs run
#: ~40-100 tokens) so the fan-out path is actually exercised; real
#: RAG/context-window pipelines run the identical plan at W=512+.
CHUNK_W = 32
CHUNK_S = 24


@query(
    "pipe_chunk_overlap",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(range(
                   0,
                   CAST(greatest(ceil((len(toks) - {CHUNK_W}) / {CHUNK_S}.0),
                                 0) AS BIGINT) * {CHUNK_S} + 1,
                   {CHUNK_S})) AS st
        FROM d
    )
    SELECT doc_id,
           CAST(st // {CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(st AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, st + 1, st + {CHUNK_W})) AS BIGINT)
               AS n_tokens,
           md5(array_to_string(list_slice(toks, st + 1, st + {CHUNK_W}), ' '))
               AS chunk_digest
    FROM s
    """,
)
def pipe_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize overlapping token-window chunks per document — the
    RAG / context-window preprocessing stage (every retrieval corpus
    and long-document training pipeline runs one; the reference's
    Redshift backend has no array fan-out to express it,
    pandas_redshift/core.py:84).

    Chunking rule (minimal cover with overlap, deterministic):
    windows of CHUNK_W tokens starting every CHUNK_S, with the LAST
    start being the smallest stride multiple whose window reaches the
    document end — ``max(0, ceil((n - W) / S)) * S`` — so short
    documents yield exactly one chunk and no window is a strict
    suffix of its predecessor.  Emits (doc_id, chunk_idx, start_tok,
    n_tokens, chunk_digest); the digest (md5 — same algorithm both
    engines) stands in for chunk text so downstream exact-dedup /
    provenance joins shuffle 16-byte keys, never text.

    Scale design: scan -> generate (explode of an arithmetic
    ``sequence``, fan-out bounded by ~n/S per doc) -> narrow project;
    NO shuffle, no window, no join — the whole operator is one
    codegen'd map stage, embarrassingly parallel at any corpus size.
    The per-chunk ``slice`` re-reads only its own window, so work is
    O(total tokens x W/S), the inherent overlap cost."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    n = F.size(toks)
    last = (
        F.greatest(
            F.ceil((n - F.lit(CHUNK_W)) / F.lit(float(CHUNK_S))), F.lit(0)
        ).cast("long")
        * CHUNK_S
    )
    chunk = F.slice(F.col("toks"), F.col("st") + 1, CHUNK_W)
    return (
        d.select("doc_id", toks.alias("toks"), n.alias("n_toks"), last.alias("last"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("last"), F.lit(CHUNK_S).cast("long")
                )
            ).alias("st"),
        )
        .select(
            "doc_id",
            (F.col("st") / CHUNK_S).cast("long").alias("chunk_idx"),
            F.col("st").alias("start_tok"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_digest"),
        )
    )
