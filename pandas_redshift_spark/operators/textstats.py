"""Text-analysis operators over ``documents`` (north-star extension,
SURVEY.md §2.C): token counting, quality scoring, language-ID
heuristic, word frequencies, fingerprinting.

All hot-path logic is JVM built-ins (split/filter/aggregate/explode);
nothing is row-at-a-time Python, so every operator here is one codegen
scan plus at most one aggregate shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from pandas_redshift_spark.operators.dedup import shingle_cte_sql, shingle_frame
from pandas_redshift_spark.operators.registry import query
from pandas_redshift_spark.session import Tables, ensure_parallelism, memoized_persist

# tiny deterministic stopword list used by quality scoring (shared by
# the Spark and oracle sides; a real pipeline would broadcast a larger
# dictionary)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@query(
    "text_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS tokens FROM documents)
    SELECT
        doc_id,
        lang,
        CAST(len(tokens) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(tokens)) AS BIGINT) AS n_unique_tokens,
        CAST(n_chars AS BIGINT) AS n_chars,
        round(n_chars * 1.0 / len(tokens), 4) AS avg_token_len,
        CAST(len(list_filter(tokens, t -> t IN {_SW_SQL})) AS BIGINT) AS n_stopwords
    FROM tok
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts, vocabulary size, stopword count —
    per-document, no shuffle at all (pure map stage)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round(F.col("n_chars") / F.size(toks), 4).alias("avg_token_len"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("bigint").alias(
            "n_stopwords"
        ),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tokens, n_chars FROM documents)
    SELECT
        doc_id,
        round(len(list_filter(tokens, t -> t IN {_SW_SQL})) * 1.0 / len(tokens), 4)
            AS stopword_ratio,
        round(len(list_distinct(tokens)) * 1.0 / len(tokens), 4) AS unique_ratio,
        least(round(len(tokens) / 100.0, 4), 1.0) AS length_score,
        CASE WHEN len(tokens) BETWEEN 20 AND 1000
              AND len(list_distinct(tokens)) * 1.0 / len(tokens) > 0.05
             THEN TRUE ELSE FALSE END AS passes_filter
    FROM tok
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals (Gopher/C4-style): stopword ratio,
    type-token ratio, length score, and a boolean keep/drop verdict."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return d.select(
        "doc_id",
        F.round(sw / n, 4).alias("stopword_ratio"),
        F.round(uniq / n, 4).alias("unique_ratio"),
        F.least(F.round(n / 100.0, 4), F.lit(1.0)).alias("length_score"),
        (n.between(20, 1000) & (uniq / n > 0.05)).alias("passes_filter"),
    )


@query(
    "text_lang_source_stats",
    oracle="""
    SELECT
        lang,
        source,
        CAST(count(*) AS BIGINT) AS n_docs,
        round(avg(n_chars), 4) AS avg_chars,
        CAST(min(n_chars) AS BIGINT) AS min_chars,
        CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition stats per (lang, source) — the bread-and-
    butter monitoring query of a training-data pipeline."""
    d = Tables(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


@query(
    "text_word_freq",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    freq AS (SELECT word, count(*) AS n FROM tok GROUP BY word)
    SELECT word, CAST(n AS BIGINT) AS n
    FROM freq
    ORDER BY n DESC, word
    LIMIT 25
    """,
)
def text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 word frequencies: explode -> count -> top-k.
    Partial aggregation collapses each input partition to its local
    vocabulary before the shuffle, so shuffle volume is O(vocab) not
    O(tokens)."""
    d = Tables(spark, sf_dir).documents
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(25)
    )


# per-language marker words for the language-ID heuristic (public
# high-frequency function words; deterministic, dictionary-free)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de5", "shi4", "le5", "zai4"),
}


def _marker_count(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))


def langid_pred_cte_sql() -> str:
    """DuckDB CTEs (``tok`` -> ``scores`` -> ``pred``) computing the
    marker-word language prediction per document — generated FROM
    :data:`LANG_MARKERS` so the marker sets and the priority-order
    tie-break chain are single-sourced for every langid oracle
    (text_langid_heuristic, profile_langid_confusion); edits to the
    dict land on the Spark side and in every oracle together (same
    rule as PII_PATTERNS / shingle_cte_sql)."""
    langs = list(LANG_MARKERS)
    scores = ",\n            ".join(
        "len(list_filter(tokens, t -> t IN ({}))) AS s_{}".format(
            ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    whens = "\n            ".join(
        "WHEN {} THEN '{}'".format(
            " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1 :]), lang
        )
        for i, lang in enumerate(langs[:-1])
    )
    return f"""tok AS (SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents),
    scores AS (
        SELECT doc_id, lang AS actual_lang,
            {scores}
        FROM tok
    ),
    pred AS (
        SELECT doc_id, actual_lang,
            CASE
            {whens}
            ELSE '{langs[-1]}'
            END AS predicted_lang
        FROM scores
    )"""


@query(
    "text_langid_heuristic",
    oracle=f"""
    WITH {langid_pred_cte_sql()}
    SELECT doc_id, actual_lang, predicted_lang FROM pred
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count per-language function words,
    argmax with a fixed tie-break order (LANG_MARKERS key order:
    en > es > de > fr > zh).  Dictionary scoring is a pure map stage;
    a real n-gram model would swap in a broadcast table without
    changing the plan shape.  The priority-argmax chain is generated
    from the same dict the oracle CTE is, so adding a language is a
    one-line change."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    s = {lang: _marker_count(toks, lang) for lang in LANG_MARKERS}
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = s[lang] >= s[langs[i + 1]]
        for other in langs[i + 2 :]:
            cond = cond & (s[lang] >= s[other])
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    return d.select("doc_id", F.col("lang").alias("actual_lang"), pred.alias("predicted_lang"))


_FINGERPRINT_ORACLE = """
    SELECT doc_id,
        list_reduce(
            list_prepend(CAST(0 AS BIGINT), [
                CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 2147483647
                for t in string_split(text, ' ')
            ]),
            (acc, h) -> (acc * 1000003 + h) % 2147483647
        ) AS fingerprint,
        CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """


@query("text_fingerprint", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash over
    the token stream, computed with F.aggregate — a pure fold, no
    Python.  The per-token hash is an md5 prefix (same algorithm in
    DuckDB), so since round 3 the fold is reproduced verbatim by the
    SQL oracle — a full value-hash driver check; unit test additionally
    asserts equal texts <=> equal fingerprints.
    """
    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    # modulus 2^31-1 keeps acc*1000003 + h < 2^52 — no ANSI long
    # overflow (Spark 4 runs ANSI mode by default)
    fp = F.expr(
        "aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, t) -> "
        "(acc * 1000003 + CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
        " % 2147483647) % 2147483647)"
    )
    return d.select("doc_id", fp.alias("fingerprint"), F.col("n_chars").cast("bigint").alias("n_chars"))


@query(
    "text_bpe_token_estimate",
    oracle="""
    SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT)
            AS n_bpe_tokens,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token count estimate (brief: "token counting (whitespace
    + a BPE-ish regex)"): letter runs stay one token, digits split
    per-character, punctuation splits per-character — the
    GPT-2-family pre-tokenizer shape.  Pure regexp_extract_all, stays
    in codegen; the whitespace count rides along for the ratio."""
    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), F.lit(0))
        ).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rn
        FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed sklearn-style idf = ln((N+1)/(df+1)) + 1) with
    top-3 terms per document — all built-ins, exactly reproducible in
    SQL (unlike HashingTF, whose bucketed counts are hash-specific).
    Two shuffles ((doc, term) counts and term document-frequencies) +
    a broadcast of the df table; the per-doc window prunes to 3 rows
    via WindowGroupLimit."""
    from pyspark.sql.functions import broadcast as _bc

    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size joins in as a broadcast 1-row aggregate — keeps the
    # whole query one lazy plan (an eager d.count() would scan the
    # table at call time even if the result is never executed)
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(_bc(df), "term")
        .crossJoin(_bc(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


@query(
    "text_bigram_collocations",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS tokens FROM documents
    ),
    bigrams AS (
        SELECT unnest([
            tokens[i+1] || ' ' || tokens[i+2]
            for i in range(greatest(len(tokens) - 1, 0))
        ]) AS bg
        FROM toks
    ),
    unigrams AS (SELECT unnest(tokens) AS w FROM toks),
    bc AS (SELECT bg, count(*) AS cab FROM bigrams GROUP BY bg),
    uc AS (SELECT w, count(*) AS c FROM unigrams GROUP BY w),
    tot AS (
        SELECT (SELECT sum(c) FROM uc) AS n,
               (SELECT sum(cab) FROM bc) AS b
    )
    SELECT bg AS bigram, CAST(cab AS BIGINT) AS n_pair,
           (cab * 1.0 / b) / ((ua.c * 1.0 / n) * (ub.c * 1.0 / n)) AS lift
    FROM bc
    JOIN uc ua ON ua.w = string_split(bg, ' ')[1]
    JOIN uc ub ON ub.w = string_split(bg, ' ')[2]
    CROSS JOIN tot
    WHERE cab >= 20
    ORDER BY lift DESC, bigram
    LIMIT 50
    """,
)
def text_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-word bigram lift (= exp(PMI) —
    the log is deliberately omitted so the score is pure IEEE
    mul/div on exact counts, bit-identical across engines; libm log
    implementations are not).  Two explode+count shuffles (bigrams,
    unigrams), two broadcast joins of the unigram counts back onto
    bigram rows, scalar totals as a 1-row cross join.  The min-support
    cut (>=20) happens before the joins, so at 100 TB only the bigram
    head — not the long tail — flows through scoring."""
    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    # tokens materialized in their own projection: with the split
    # inlined, the bigram lambda's element_at re-evaluates
    # split(text) per position — O(n^2) character work per doc (r14;
    # same fix as dedup.shingled).  Multi-referencing the alias keeps
    # CollapseProject from inlining it back.
    toks = F.col("toks")
    tokd = d.select(F.split(F.col("text"), " ").alias("toks"))
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    bigram_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, (i + 1).cast("int")),
                F.element_at(toks, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = tokd.select(F.explode(bigram_arr).alias("bg"))
    unigrams = tokd.select(F.explode(toks).alias("w"))
    bc_all = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cab"))
    bc = bc_all.filter(F.col("cab") >= 20)
    uc = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # totals re-aggregate the count aggregates (ReuseExchange), NOT the
    # raw corpus — two fewer full explode passes at 100 TB
    tot = broadcast(
        uc.agg(F.sum("c").alias("n")).crossJoin(bc_all.agg(F.sum("cab").alias("b")))
    )
    ua = uc.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    ub = uc.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    lift = (F.col("cab") / F.col("b")) / (
        (F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n"))
    )
    return (
        bc.withColumn("wa", F.split(F.col("bg"), " ").getItem(0))
        .withColumn("wb", F.split(F.col("bg"), " ").getItem(1))
        .join(broadcast(ua), "wa")
        .join(broadcast(ub), "wb")
        .crossJoin(tot)
        .select(
            F.col("bg").alias("bigram"),
            F.col("cab").alias("n_pair"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "bigram")
        .limit(50)
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
    pos AS (
        SELECT doc_id, unnest(tokens) AS t,
               generate_subscripts(tokens, 1) AS pos
        FROM tok
    ),
    marked AS (
        SELECT doc_id, pos, t,
               CASE WHEN t = lag(t) OVER (PARTITION BY doc_id ORDER BY pos)
                    THEN 0 ELSE 1 END AS is_new
        FROM pos
    ),
    runs AS (
        SELECT doc_id,
               sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING
               ) AS run_id
        FROM marked
    ),
    run_len AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS rl
        FROM runs GROUP BY doc_id, run_id
    ),
    top_tok AS (
        SELECT doc_id, max(c) AS top_c FROM (
            SELECT doc_id, count(*) AS c FROM pos GROUP BY doc_id, t
        ) GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               [tokens[i] || ' ' || tokens[i+1]
                for i in range(1, greatest(len(tokens), 1))] AS bigrams
        FROM tok
    )
    SELECT
        tok.doc_id,
        CAST(len(tok.tokens) AS BIGINT) AS n_tokens,
        top_tok.top_c * 1.0 / len(tok.tokens) AS top_token_frac,
        (len(bg.bigrams) - len(list_distinct(bg.bigrams))) * 1.0
            / greatest(len(bg.bigrams), 1) AS dup_bigram_frac,
        (SELECT max(rl) FROM run_len r WHERE r.doc_id = tok.doc_id) AS max_token_run
    FROM tok
    JOIN top_tok ON tok.doc_id = top_tok.doc_id
    JOIN bg ON tok.doc_id = bg.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document — the filters a
    training-data pipeline uses to drop boilerplate/spam: fraction of
    mass in the single most-frequent token, duplicated-bigram fraction,
    and the longest consecutive-equal-token run (window over
    posexplode; the run detector is the classic gaps-and-islands
    lag/cumsum, one shuffle keyed by doc).

    Fractions are RAW integer-quotient doubles (identical IEEE
    division in both engines — same rule as jaccard)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("tokens"))

    tok = base.select("doc_id", F.posexplode("tokens").alias("pos", "t"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        tok.withColumn(
            "is_new",
            F.when(F.col("t") == F.lag("t").over(w_doc), F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn(
            "run_id",
            F.sum("is_new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "run_id")
        .agg(F.count(F.lit(1)).alias("rl"))
        .groupBy("doc_id")
        .agg(F.max("rl").cast("bigint").alias("max_token_run"))
    )
    top_tok = (
        tok.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    # bigrams WITH multiplicity (shingles() would distinct them away)
    n = F.size("tokens")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("tokens", (i + 1).cast("int")),
                F.element_at("tokens", (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stats = base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        bigrams.alias("bigrams"),
    ).select(
        "doc_id",
        "n_tokens",
        (
            (F.size("bigrams") - F.size(F.array_distinct("bigrams")))
            / F.greatest(F.size("bigrams"), F.lit(1))
        ).alias("dup_bigram_frac"),
    )
    return (
        stats.join(top_tok, "doc_id")
        .join(runs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("top_c") / F.col("n_tokens")).alias("top_token_frac"),
            "dup_bigram_frac",
            "max_token_run",
        )
    )


@query(
    "text_vocab_stats",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT lang, tok, count(*) AS cnt
        FROM tok GROUP BY lang, tok
    )
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS distinct_tokens,
           CAST(count(*) FILTER (cnt = 1) AS BIGINT) AS hapax_tokens,
           count(*) * 1.0 / sum(cnt) AS type_token_ratio,
           count(*) FILTER (cnt = 1) * 1.0 / count(*) AS hapax_ratio
    FROM freq
    GROUP BY lang
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary profile per language: total token mass,
    vocabulary size, hapax legomena (tokens seen exactly once) and the
    derived type-token / hapax ratios — the Heaps/Zipf health numbers
    a corpus report tracks as ingest grows (a collapsing hapax ratio
    flags boilerplate or dedup failure; TTR drift flags a source mix
    change).

    Shape: explode -> one (lang, token) partial-agg shuffle (map-side
    combine absorbs the Zipf head) -> one tiny per-lang re-agg.  Both
    ratios are exact integer-count quotients emitted as raw doubles
    (identical IEEE division both engines)."""
    d = Tables(spark, sf_dir).documents
    freq = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return freq.groupBy("lang").agg(
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.count(F.when(F.col("cnt") == 1, 1)).alias("hapax_tokens"),
        (F.count(F.lit(1)) / F.sum("cnt")).alias("type_token_ratio"),
        (F.count(F.when(F.col("cnt") == 1, 1)) / F.count(F.lit(1))).alias("hapax_ratio"),
    )


@query(
    "text_normalize_dedupe_ready",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens_raw,
               array_to_string(
                   list_filter(string_split(text, ' '),
                               t -> t <> 'a' AND t <> 'the'),
                   ' ') AS norm_text
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_tokens_raw AS BIGINT) AS n_tokens_raw,
           CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens_norm,
           sha256(norm_text) AS norm_hash
    FROM norm
    """,
)
def text_normalize_dedupe_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass that precedes exact dedup: strip stopwords
    ('a', 'the' in this corpus), re-join, fingerprint the normalized
    text — so trivially-padded copies collapse to one content hash.
    Emits before/after token counts plus the dedup-ready digest.

    Shape: pure per-row narrow transforms (split -> filter ->
    concat -> sha2), zero shuffles — embarrassingly parallel at any
    scale, and the digest (not the text) is what a downstream exact
    dedup shuffles."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    kept = F.filter(toks, lambda t: (t != "a") & (t != "the"))
    norm = F.array_join(kept, " ")
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens_raw"),
        F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens_norm"),
        F.sha2(norm, 256).alias("norm_hash"),
    )


# PII detector patterns, shared verbatim by the Spark and oracle sides.
# Both engines' regex dialects (Java util.regex / RE2) agree on this
# conservative subset: explicit classes, bounded repetition, no
# lookaround, no backreferences.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
    "phone": r"\+[0-9][0-9 ]{7,}[0-9]",
    "digitrun": r"[0-9]{9,}",
}


def pii_hit_counts(text_col: Column) -> dict[str, Column]:
    """Per-category non-overlapping match counts over a text column —
    the reusable detector core (JVM ``regexp_count``, codegen'd; no
    Python in the loop).  Applied to ``documents`` by
    :func:`text_pii_scan`; unit-tested on adversarial synthetic strings
    in tests/test_extensions.py."""
    return {
        name: F.regexp_count(text_col, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


#: DuckDB CTE grafting deterministic PII artifacts onto
#: arithmetically-chosen docs (doc_id mod 7/11/13/17) — the driver
#: corpus is synthetic word salad with no real PII, so without the
#: graft a hash check would compare all-zero counts.  THE single
#: source for every PII oracle (scan + redact); :func:`_pii_enriched`
#: is its Spark twin and any change lands in both together.
PII_ENRICH_CTE = """enriched AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' from 192.168.' || (doc_id % 256) || '.17' ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' call +1 415 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 17 = 0 THEN ' ssn 123456789' ELSE '' END
               AS text
        FROM documents
    )"""


def _pii_enriched() -> Column:
    """Spark twin of :data:`PII_ENRICH_CTE` (same deterministic
    artifact graft, expressed over the ``doc_id``/``text`` columns)."""
    doc_id = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            doc_id % 7 == 0,
            F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com now")),
        ).otherwise(""),
        F.when(
            doc_id % 11 == 0,
            F.concat(F.lit(" from 192.168."), (doc_id % 256).cast("string"), F.lit(".17")),
        ).otherwise(""),
        F.when(
            doc_id % 13 == 0,
            F.concat(F.lit(" call +1 415 555 01"), F.lpad((doc_id % 100).cast("string"), 2, "0")),
        ).otherwise(""),
        F.when(doc_id % 17 == 0, F.lit(" ssn 123456789")).otherwise(""),
    )


@query(
    "text_pii_scan",
    oracle=f"""
    WITH {PII_ENRICH_CTE},
    hits AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS n_email,
               len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}')) AS n_ipv4,
               len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS n_phone,
               len(regexp_extract_all(text, '{PII_PATTERNS["digitrun"]}')) AS n_digitrun
        FROM enriched
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_email + n_ipv4 + n_phone + n_digitrun > 0) AS BIGINT)
               AS n_docs_flagged,
           CAST(sum(n_email) AS BIGINT) AS total_emails,
           CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
           CAST(sum(n_phone) AS BIGINT) AS total_phones,
           CAST(sum(n_digitrun) AS BIGINT) AS total_digit_runs,
           round(count(*) FILTER (n_email + n_ipv4 + n_phone + n_digitrun > 0) * 1.0
                 / count(*), 4) AS flag_rate
    FROM hits
    GROUP BY source
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-content scan: per-source counts of email, IPv4,
    phone-number, and long-digit-run matches plus a flagged-document
    rate — the pre-training redaction/drop report.

    The driver corpus is synthetic word salad with no real PII, which
    would make a hash check vacuous (all zeros), so the query first
    grafts deterministic PII artifacts onto arithmetically-chosen docs
    (doc_id mod 7/11/13/17) — both engines apply the identical
    construction, so the hash compare genuinely exercises regex
    extraction parity, not just zero-count agreement.  The detector
    core (:func:`pii_hit_counts`) is what a real pipeline calls on raw
    text.

    Scale design: detection is a pure map stage (JVM regexp_count under
    codegen, no Python); the only shuffle is the per-source rollup.
    Redaction (regexp_replace with the same patterns) composes onto the
    same scan without another pass."""
    d = Tables(spark, sf_dir).documents
    counts = pii_hit_counts(_pii_enriched())
    hits = d.select(
        "source",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        counts["digitrun"].alias("n_digitrun"),
    )
    any_hit = (
        F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") + F.col("n_digitrun") > 0
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(any_hit, 1)).alias("n_docs_flagged"),
        F.sum("n_email").alias("total_emails"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum("n_phone").alias("total_phones"),
        F.sum("n_digitrun").alias("total_digit_runs"),
        F.round(F.count(F.when(any_hit, 1)) / F.count(F.lit(1)), 4).alias("flag_rate"),
    )


ZIPF_FIT_TOP_N = 100


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (SELECT lang, token, count(*) AS freq FROM tok GROUP BY lang, token),
    ranked AS (
        SELECT lang, freq,
               row_number() OVER (PARTITION BY lang ORDER BY freq DESC, token) AS rnk
        FROM freq
    ),
    fit AS (SELECT lang, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
            FROM ranked WHERE rnk <= {ZIPF_FIT_TOP_N}),
    sums AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
               (count(*) * sum(x*y) - sum(x) * sum(y))
                 / (count(*) * sum(x*x) - sum(x) * sum(x)) AS slope,
               avg(x) AS xbar, avg(y) AS ybar
        FROM fit GROUP BY lang
    )
    SELECT lang, n_terms, round(slope, 4) AS zipf_slope,
           round(ybar - slope * xbar, 4) AS zipf_intercept
    FROM sums
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope/intercept of
    log(freq) vs log(rank) over the top-{N} terms — the corpus-health
    number that catches template/boilerplate floods (slope near 0) and
    over-aggressive dedup (slope cliff) before training.

    Closed-form regression on aggregate sums (no iteration): one
    (lang, token) partial-count shuffle, a per-lang rank window over
    the (tiny) vocab frame, and a per-lang 1-row fold.  Frequency ties
    rank deterministically (token asc tie-break) so both engines fit
    identical point sets."""
    d = Tables(spark, sf_dir).documents
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("token"))
    fit = (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_FIT_TOP_N)
        .select(
            "lang",
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1))
    sums = fit.groupBy("lang").agg(
        n.cast("bigint").alias("n_terms"),
        (
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        ).alias("slope"),
        F.avg("x").alias("xbar"),
        F.avg("y").alias("ybar"),
    )
    return sums.select(
        "lang",
        "n_terms",
        F.round("slope", 4).alias("zipf_slope"),
        F.round(F.col("ybar") - F.col("slope") * F.col("xbar"), 4).alias("zipf_intercept"),
    )


@query(
    "pipe_pii_redact",
    oracle=f"""
    WITH {PII_ENRICH_CTE}
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
                 '{PII_PATTERNS["ipv4"]}', '<IP>', 'g'),
               '{PII_PATTERNS["phone"]}', '<PHONE>', 'g'),
             '{PII_PATTERNS["digitrun"]}', '<DIGITS>', 'g') AS text_redacted,
           CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"]}'))
              + len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}'))
              + len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}'))
              + len(regexp_extract_all(text, '{PII_PATTERNS["digitrun"]}')) AS BIGINT)
               AS n_redactions
    FROM enriched
    """,
)
def pipe_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction transform — the write-path partner of
    :func:`text_pii_scan`: every email / IPv4 / phone / long-digit-run
    match is replaced with a typed placeholder token, and the match
    count is carried so downstream stages can drop heavily-redacted
    docs without re-scanning.

    Replacement order is fixed (email -> ip -> phone -> digitrun) and
    every placeholder is digit-free, so an earlier replacement can
    never manufacture a match for a later (digit-bearing) pattern;
    single-pass replace means a '<EMAIL>' placeholder abutting a
    leftover '@domain.tld' (adjacent emails in the source) can itself
    still match the email pattern — both engines share that
    single-pass semantics, so the redacted text stays hash-stable
    across regex engines (Java util.regex vs RE2) — exercised over the
    same deterministic artifact graft as the scan.

    Scale design: a pure map stage (JVM ``regexp_replace`` /
    ``regexp_count`` under codegen) — zero shuffles, composes onto any
    scan for free.  Reference delegates text transforms via
    pandas_redshift/core.py:84."""
    d = Tables(spark, sf_dir).documents
    text = _pii_enriched()
    redacted = text
    for name, token in (
        ("email", "<EMAIL>"),
        ("ipv4", "<IP>"),
        ("phone", "<PHONE>"),
        ("digitrun", "<DIGITS>"),
    ):
        redacted = F.regexp_replace(redacted, F.lit(PII_PATTERNS[name]), F.lit(token))
    counts = pii_hit_counts(text)
    n_red = (
        counts["email"] + counts["ipv4"] + counts["phone"] + counts["digitrun"]
    ).cast("bigint")
    return d.select(
        "doc_id",
        redacted.alias("text_redacted"),
        n_red.alias("n_redactions"),
    )


@query(
    "text_dup_ngram_coverage",
    oracle=f"""
    WITH {shingle_cte_sql()},
    tok AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    dfreq AS (SELECT s, count(*) AS df FROM tok GROUP BY s),
    per_doc AS (
        SELECT tok.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (dfreq.df >= 2) AS BIGINT) AS n_shared
        FROM tok JOIN dfreq ON tok.s = dfreq.s
        GROUP BY tok.doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           round(n_shared * 1.0 / n_shingles, 6) AS dup_coverage
    FROM per_doc
    """,
)
def text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram duplication coverage: for each document,
    the fraction of its distinct 3-gram shingles that also occur in at
    least one OTHER document — the RefinedWeb/Gopher-style
    "memorization risk" number that near-dup removal is judged by
    (doc-level Jaccard can stay low while 80% of a doc's n-grams are
    corpus-duplicated boilerplate).

    Because ``shingle_set`` is per-doc distinct, a shingle's row count
    across the frame IS its document frequency — so coverage needs
    only the shared memoized shingle frame (one shingling pass per
    session, same frame jaccard/containment/decontaminate use), a
    per-shingle count, and a co-partitioned join back: the
    document-frequency table is corpus-sized vocabulary, so it joins
    on the shingle key it was grouped by (no broadcast of an
    unbounded side, no second shuffle of the posting list), then one
    per-doc rollup.  Docs with <3 tokens have no shingles and drop
    out in both engines alike."""
    sh = shingle_frame(spark, sf_dir)
    tok = sh.select("doc_id", F.explode("shingle_set").alias("s"))
    dfreq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        tok.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("df") >= 2, 1)).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias("dup_coverage"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    model AS (SELECT term, count(*) AS tc FROM tok GROUP BY term),
    totals AS (
        SELECT CAST(sum(tc) AS DOUBLE) AS n_total,
               CAST(count(*) AS DOUBLE) AS n_vocab
        FROM model
    ),
    scored AS (
        SELECT tok.doc_id,
               -ln((model.tc + 1.0) / (totals.n_total + totals.n_vocab)) AS nlp
        FROM tok JOIN model ON tok.term = model.term CROSS JOIN totals
    ),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(nlp), 6) AS avg_neglogp
        FROM scored GROUP BY doc_id
    ),
    cut AS (
        SELECT round(avg(avg_neglogp) + 0.5 * stddev_pop(avg_neglogp), 6) AS tail_cut
        FROM per_doc
    )
    SELECT doc_id, n_tokens, avg_neglogp,
           avg_neglogp > cut.tail_cut AS is_tail
    FROM per_doc CROSS JOIN cut
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram language-model quality score: train an
    add-one-smoothed unigram model on the corpus itself, score each
    document by its mean per-token negative log-probability, and flag
    the "tail" (worst-quality) docs whose score sits more than half a
    population-stddev above the corpus mean — the classic
    perplexity-bucket filter (CCNet trains the LM on a trusted corpus;
    the self-trained variant here needs no external artifact and flags
    the same template-flood / gibberish outliers).

    Scale design: the model is vocabulary-sized, orders of magnitude
    smaller than the token stream, so it BROADCASTS onto the stream
    (the stream itself is never shuffled by term — the one shape that
    survives a 100 TB corpus); the per-doc frame is memoized
    because both the tail cutoff and the final projection consume it,
    and the cutoff joins back as a broadcast 1-row aggregate.  Token
    scan -> per-term partial counts is the only big shuffle."""
    d = ensure_parallelism(Tables(spark, sf_dir).documents)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # the model is consumed twice (totals fold + stream broadcast);
    # memoizing the vocab-sized frame keeps corpus passes at
    # two (model build, scoring scan) instead of three
    model = memoized_persist(
        spark,
        ("unigram_model", sf_dir),
        lambda: tok.groupBy("term").agg(F.count(F.lit(1)).alias("tc")),
    )
    totals = model.agg(
        F.sum("tc").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("n_vocab"),
    )
    nlp = -F.log((F.col("tc") + 1.0) / (F.col("n_total") + F.col("n_vocab")))

    def build() -> DataFrame:
        scored = (
            tok.join(broadcast(model), "term")
            .crossJoin(broadcast(totals))
            .select("doc_id", nlp.alias("nlp"))
        )
        return scored.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nlp"), 6).alias("avg_neglogp"),
        )

    per_doc = memoized_persist(spark, ("unigram_perdoc", sf_dir), build)
    # tail_cut is rounded to the same 6dp precision as avg_neglogp on
    # BOTH sides (Spark here, DuckDB in the oracle): the strict >
    # against an unrounded float could flip between engines for a doc
    # whose score lands within ulps of the cut
    cut = per_doc.agg(
        F.round(
            F.avg("avg_neglogp") + 0.5 * F.stddev_pop("avg_neglogp"), 6
        ).alias("tail_cut")
    )
    return per_doc.crossJoin(broadcast(cut)).select(
        "doc_id",
        "n_tokens",
        "avg_neglogp",
        (F.col("avg_neglogp") > F.col("tail_cut")).alias("is_tail"),
    )
