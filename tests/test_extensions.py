"""Semantic tests for the approximate / non-oracle operators:
LSH recall vs brute force, MinHash candidate quality vs exact Jaccard,
fingerprint determinism, simhash locality, approx_count_distinct error,
and the multimodal UDF's byte_mean (excluded from the SQL oracle)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pandas_redshift_spark.operators.aggregation import agg_approx_count_distinct
from pandas_redshift_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from pandas_redshift_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    make_feature_extractor,
)
from pandas_redshift_spark.operators.similarity import (
    sim_bruteforce_topk,
    sim_ivf_topk,
    sim_lsh_topk,
    sim_pq_adc_topk,
)
from pandas_redshift_spark.operators.textstats import text_fingerprint
from pandas_redshift_spark.session import Tables


def test_minhash_candidates_cover_high_jaccard_pairs(spark, sf_dir):
    """Banded MinHash (32 hashes, 8 bands of 4) should surface nearly
    every pair with true Jaccard >= 0.5 (collision prob per band is
    j^4; 1-(1-j^4)^8 ≈ 0.42 at j=0.5, ≈ 0.97 at j=0.8 — and the
    corpus' near-dup pairs are far above 0.5)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.8).collect()
    }
    cands = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    if exact:
        recall = len(exact & cands) / len(exact)
        assert recall >= 0.9, f"minhash recall {recall} over {len(exact)} true pairs"


def test_fingerprint_deterministic_and_content_keyed(spark, sf_dir):
    fp1 = {r.doc_id: r.fingerprint for r in text_fingerprint(spark, sf_dir).collect()}
    fp2 = {r.doc_id: r.fingerprint for r in text_fingerprint(spark, sf_dir).collect()}
    assert fp1 == fp2
    # identical texts must collide; distinct texts should (with this
    # corpus) essentially never collide
    d = Tables(spark, sf_dir).documents
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    by_text: dict[str, set] = {}
    for doc_id, t in texts.items():
        by_text.setdefault(t, set()).add(fp1[doc_id])
    for t, fps in by_text.items():
        assert len(fps) == 1, "same text produced different fingerprints"


def test_simhash_identical_texts_equal(spark, sf_dir):
    sh = {r.doc_id: r.simhash for r in dedup_simhash(spark, sf_dir).collect()}
    d = Tables(spark, sf_dir).documents
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}
    by_text: dict[str, set] = {}
    for doc_id, t in texts.items():
        by_text.setdefault(t, set()).add(sh[doc_id])
    for fps in by_text.values():
        assert len(fps) == 1


def test_lsh_topk_is_subset_of_universe_and_overlaps_exact(spark, sf_dir):
    """Random-hyperplane LSH: every reported neighbor must be a real
    vector, scores must match brute-force scores for the same pair,
    and the top-1 overlap with exact search should be substantial."""
    exact = sim_bruteforce_topk(spark, sf_dir).filter(F.col("rn") == 1).collect()
    approx = sim_lsh_topk(spark, sf_dir).collect()
    assert approx, "LSH returned nothing"
    exact_scores = {
        (r.query_id, r.neighbor_id): r.score
        for r in sim_bruteforce_topk(spark, sf_dir).collect()
    }
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert abs(exact_scores[(r.query_id, r.neighbor_id)] - r.score) < 1e-6


def test_pairs_threshold_bucketed_recall_vs_exact(spark, sf_dir):
    """The registered sim_pairs_threshold default is LSH-bucketed;
    every reported pair must exist in the exact all-pairs result with
    the same score (no false positives — candidates are exactly
    re-scored), and recall at this band setting should clear 0.6."""
    from pandas_redshift_spark.operators.similarity import (
        sim_pairs_threshold,
        sim_pairs_threshold_exact,
    )

    exact = {
        (r.vec_a, r.vec_b): (r.same_label, r.score)
        for r in sim_pairs_threshold_exact(spark, sf_dir).collect()
    }
    approx = sim_pairs_threshold(spark, sf_dir).collect()
    assert approx, "bucketed pairs returned nothing"
    for r in approx:
        assert (r.vec_a, r.vec_b) in exact, "false positive pair"
        assert exact[(r.vec_a, r.vec_b)] == (r.same_label, r.score)
    recall = len(approx) / len(exact)
    assert recall >= 0.6, f"bucketed pair recall {recall}"


def test_embedding_dedup_bucketed_matches_exact(spark, sf_dir):
    """dedup_embedding_cosine (bucketed default) must agree row-for-row
    with the all-pairs exact twin at test scale (0.999-threshold LSH
    miss probability ~1e-5/pair)."""
    from pandas_redshift_spark.operators.similarity import (
        dedup_embedding_cosine,
        dedup_embedding_cosine_exact,
    )

    a = {(r.vec_id, r.is_duplicate) for r in dedup_embedding_cosine(spark, sf_dir).collect()}
    b = {
        (r.vec_id, r.is_duplicate)
        for r in dedup_embedding_cosine_exact(spark, sf_dir).collect()
    }
    assert a == b


def test_ivf_topk_scores_match_exact_and_recall(spark, sf_dir):
    """IVF probe results are a subset of the exact pair space: every
    reported score must equal the brute-force score for that pair, and
    top-1 recall over the probed queries should be substantial (the
    corpus is clustered, so nprobe=4 of 16 cells covers most true
    neighbors)."""
    approx = sim_ivf_topk(spark, sf_dir).collect()
    assert approx, "IVF returned nothing"
    exact_rows = sim_bruteforce_topk(spark, sf_dir).collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact_rows}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert abs(exact_scores[(r.query_id, r.neighbor_id)] - r.score) < 1e-6
    top1_exact = {(r.query_id, r.neighbor_id) for r in exact_rows if r.rn == 1}
    top1_ivf = {(r.query_id, r.neighbor_id) for r in approx if r.rn == 1}
    recall = len(top1_exact & top1_ivf) / len(top1_exact)
    assert recall >= 0.5, f"IVF top-1 recall {recall}"
    # full top-5 recall floor at TRAINED-codebook geometry (VERDICT r6
    # item 7): measured 0.64-0.66 across sf0.001/0.01/0.1 with the
    # sampled spherical k-means codebook; a codebook regression (e.g.
    # back to first-K-by-id seeds, or a broken Lloyd update) drops
    # well below the floor and fails loudly here.
    all_exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    all_ivf = {(r.query_id, r.neighbor_id) for r in approx}
    top5_recall = len(all_exact & all_ivf) / len(all_exact)
    assert top5_recall >= 0.5, f"IVF top-5 recall {top5_recall}"


def test_pq_adc_topk_scores_exact_and_recall(spark, sf_dir):
    """PQ/ADC results re-rank EXACTLY: every reported score must equal
    the brute-force score for that pair (the rerank computes the same
    prenormalized dot, rounded 4dp).  Recall@5 vs brute force must
    clear 0.6 — the r8 geometry sweep measured 0.78 (sf0.001) / 0.84
    (sf0.01) at M=8 x 32 codes x shortlist 64, while broken geometry
    (wrong-width codebooks silently truncating the dot folds — the
    memo-key hazard the ``pq`` cache key's width component guards)
    collapses to the ~random 0.02-0.10 band and fails loudly here."""
    approx = sim_pq_adc_topk(spark, sf_dir).collect()
    assert approx, "PQ returned nothing"
    exact_rows = sim_bruteforce_topk(spark, sf_dir).collect()
    exact_scores = {(r.query_id, r.neighbor_id): r.score for r in exact_rows}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert abs(exact_scores[(r.query_id, r.neighbor_id)] - r.score) < 1e-6
    all_exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    all_pq = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(all_exact & all_pq) / len(all_exact)
    assert recall >= 0.6, f"PQ top-5 recall {recall}"


def test_pq_batched_trainer_matches_sequential(spark, sf_dir):
    """The batched multi-subspace trainer must return bit-identical
    codebooks to PQ_M sequential train_kmeans_centroid_values calls on
    the sliced frames — the per-m _kmeans_ctes oracle replay (and so
    the driver hash gate) stands on this equality.  Any drift in the
    batched pipeline's sample, seeds, argmax ties, order-pinned means
    or renorm folds shows up here as a float diff."""
    import pyspark.sql.functions as F2

    from pandas_redshift_spark.operators.similarity import (
        PQ_CODES,
        PQ_M,
        PQ_SUB,
        _emb_double,
        train_kmeans_centroid_values,
        train_pq_books,
    )

    emb = _emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n")
    batched = train_pq_books(
        spark, emb, PQ_M, PQ_SUB, PQ_CODES, cache_key=(sf_dir,)
    )
    for m in range(PQ_M):
        seq = train_kmeans_centroid_values(
            spark,
            emb.select(
                "vec_id",
                F2.slice(F2.col("emb_n"), m * PQ_SUB + 1, PQ_SUB).alias("emb_n"),
            ),
            PQ_CODES,
            cache_key=("pq_seq_twin", sf_dir, m, PQ_SUB),
        )
        assert batched[m] == seq, f"subspace {m} codebook drifted"


def test_trainers_start_fewer_jobs_than_window_argmax(spark, sf_dir):
    """A fresh Lloyd training assigns with argmax_dot over one broadcast
    codebook row: no per-iteration shuffle for a row_number window and
    no K x m-row codebook frame.  The window form started 12 jobs for
    each of these two trainings at sf0.001 and sf0.01 (counted by job
    group); each must now start fewer."""
    import uuid

    from pandas_redshift_spark.operators.similarity import (
        PQ_CODES,
        PQ_M,
        PQ_SUB,
        _emb_double,
        train_kmeans_centroid_values,
        train_pq_books,
    )
    from tests.conftest import jobs_of

    window_form_jobs = 12
    emb = _emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n")
    key = ("trainer_jobs", uuid.uuid4().hex)
    _, pq_jobs = jobs_of(
        spark, lambda: train_pq_books(spark, emb, PQ_M, PQ_SUB, PQ_CODES, key)
    )
    _, flat_jobs = jobs_of(
        spark, lambda: train_kmeans_centroid_values(spark, emb, 16, key)
    )
    assert pq_jobs < window_form_jobs, pq_jobs
    assert flat_jobs < window_form_jobs, flat_jobs


def test_trained_centroids_tighten_cells_vs_id_codebook(spark, sf_dir):
    """The r6 trained codebook (sampled spherical k-means) must
    produce TIGHTER cells than the r4/r5 first-K-by-id seeds it
    replaced: mean cosine between each vector and its assigned
    centroid — the quantity k-means maximizes, and what makes
    nprobe/K probing and within-cell SemDeDup pair confinement
    actually work at scale — should improve.  Guards against a
    regression to an untrained codebook (VERDICT r5 item 3)."""
    import pyspark.sql.functions as F

    from pandas_redshift_spark.operators.similarity import (
        _emb_double,
        dot,
        train_kmeans_centroids,
    )
    from pandas_redshift_spark.session import Tables
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    t = Tables(spark, sf_dir)
    emb = _emb_double(t).select("vec_id", "emb_n")
    k = 16

    def mean_assign_sim(cents) -> float:
        w = Window.partitionBy("vec_id").orderBy(
            F.col("c_sim").desc(), F.col("cell")
        )
        assigned = (
            emb.join(cents, how="cross")
            .withColumn("c_sim", dot(F.col("emb_n"), F.col("c_en")))
            .withColumn("c_rn", F.row_number().over(w))
            .filter(F.col("c_rn") == 1)
        )
        return assigned.agg(F.avg("c_sim")).first()[0]

    id_codebook = broadcast(
        emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cell"), F.col("emb_n").alias("c_en")
        )
    )
    trained = train_kmeans_centroids(
        spark, emb, k, cache_key=("tightness_test", sf_dir)
    )
    untrained_sim = mean_assign_sim(id_codebook)
    trained_sim = mean_assign_sim(trained)
    assert trained_sim > untrained_sim, (
        f"trained codebook mean assignment cosine {trained_sim:.4f} did not "
        f"beat the id codebook's {untrained_sim:.4f}"
    )


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    li = Tables(spark, sf_dir).lineitem
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_orders
        for r in agg_approx_count_distinct(spark, sf_dir).collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.1


def test_multimodal_byte_mean(spark, sf_dir):
    """byte_mean isn't SQL-oracle-checkable; verify it against a
    driver-side recomputation on a sample."""
    d = Tables(spark, sf_dir).documents.limit(20)
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    feats = {
        r.doc_id: r
        for r in payloads.mapInPandas(make_feature_extractor(), schema=FEATURE_SCHEMA).collect()
    }
    for r in d.select("doc_id", "text").collect():
        raw = r.text.encode("utf-8")
        got = feats[r.doc_id]
        assert got.n_bytes == len(raw)
        assert got.first_byte == raw[0]
        assert abs(got.byte_mean - round(sum(raw) / len(raw), 4)) < 1e-3


def test_media_codec_parses_real_containers():
    """The r6 decode seam must PARSE, not pattern-match: the BMP path
    honors the pixel-array offset, row stride padding, and bottom-up
    rows; the WAV path walks RIFF chunks (including a stranger chunk
    before fmt/data) and decodes int16 samples.  Checked against an
    independent stdlib ``wave`` reader plus hand-computed values."""
    import io
    import struct
    import wave

    import pytest

    from pandas_redshift_spark.operators.multimodal import (
        decode_media_bytes,
        encode_bmp,
        encode_wav,
    )

    # 1px-wide BMP forces maximal row padding (3 bytes data + 1 pad)
    blob = encode_bmp(10)  # w = 4 + 10 % 13 = 14 ... pick one with pad
    f = decode_media_bytes(blob)
    assert (f["width"], f["height"]) == (4 + 10 % 13, 3 + 10 % 7)
    # stride != w*3 for this width, so a padding-naive decoder would
    # fold pad zeros into later rows and shift every pixel
    assert ((f["width"] * 3 + 3) & ~3) != f["width"] * 3
    exp = sum(
        (10 + 7 * x + 13 * y) % 256
        + (30 + 5 * x + 11 * y) % 256
        + (50 + 3 * x + 19 * y) % 256
        for x in range(f["width"])
        for y in range(f["height"])
    )
    assert f["content_sum"] == exp

    # WAV: stdlib wave agrees on every header-derived feature
    blob = encode_wav(7)
    with wave.open(io.BytesIO(blob)) as w:
        assert w.getframerate() == 8000 * (1 + 7 % 3)
        assert w.getnframes() == 50 + 7 % 100
        assert w.getsampwidth() == 2 and w.getnchannels() == 1
    f = decode_media_bytes(blob)
    assert f["sample_rate"] == 8000 * (1 + 7 % 3)
    assert f["n_samples"] == 50 + 7 % 100
    assert f["duration_ms"] == f["n_samples"] * 1000 // f["sample_rate"]

    # chunk walk: a LIST chunk inserted before fmt must be skipped
    body = blob[12:]
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    rebuilt = (
        struct.pack("<4sI4s", b"RIFF", 4 + len(extra) + len(body), b"WAVE")
        + extra
        + body
    )
    assert decode_media_bytes(rebuilt) == f

    # unknown containers refuse loudly (the PIL/librosa seam)
    with pytest.raises(ValueError):
        decode_media_bytes(b"\x89PNG\r\n\x1a\n....")


def test_cluster_components_match_union_find(spark, sf_dir):
    """The iterative large-star/small-star loop must produce exactly
    the components a driver-side union-find computes on the same
    pairs."""
    from pandas_redshift_spark.operators.dedup import dedup_cluster_components

    pairs = [
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected: dict[int, list[int]] = {}
    for node in parent:
        expected.setdefault(find(node), []).append(node)
    expected_sets = {
        root: sorted(members) for root, members in expected.items()
    }

    got = {
        r.component_id: [int(x) for x in r.members.split(",")]
        for r in dedup_cluster_components(spark, sf_dir).collect()
    }
    assert got == expected_sets
    # every component's id is its min member (deterministic survivor)
    for cid, members in got.items():
        assert cid == min(members)


def test_hll_sketch_union_tracks_exact_counts(spark, sf_dir):
    """HLL sketch estimates (lgConfigK=12 -> ~1.6% rsd) must track the
    exact distinct-user counts, and the unioned ALL row must cover the
    full user set without rescanning events."""
    from pandas_redshift_spark.operators.aggregation import agg_hll_sketch_union

    got = {r.event_type: r.approx_users for r in agg_hll_sketch_union(spark, sf_dir).collect()}
    e = Tables(spark, sf_dir).events
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    exact["ALL"] = e.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_minhash_estimates_calibrated(spark, sf_dir):
    """MinHash signature agreement is an unbiased jaccard estimator
    (P[component match] = J): over the true near-dup pairs, the
    32-component estimate must track exact jaccard within the
    binomial noise band (se = sqrt(J(1-J)/32) ~ 0.09)."""
    from pandas_redshift_spark.operators.dedup import (
        dedup_ngram_jaccard,
        minhash_signatures,
    )
    from pandas_redshift_spark.session import Tables

    n_hashes = 32
    sigs = minhash_signatures(Tables(spark, sf_dir).documents, n_hashes)
    exact = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.2)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(n_hashes)
    )
    est = (
        exact.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "jaccard", (agree / n_hashes).alias("est"))
        .collect()
    )
    assert est, "no pairs to calibrate on"
    errs = [abs(r.est - r.jaccard) for r in est]
    mean_err = sum(errs) / len(errs)
    assert mean_err < 0.12, f"minhash mean abs error {mean_err} over {len(errs)} pairs"


def test_banded_range_join_equals_naive_between(spark, sf_dir):
    """The banding rewrite must be EXACTLY the naive BETWEEN join for
    any window geometry — checked over several window widths/strides,
    including windows spanning 1, 2 and 3 band buckets and windows
    shorter than the band."""
    import pyspark.sql.functions as F

    from pandas_redshift_spark.session import Tables

    li = (
        Tables(spark, sf_dir)
        .lineitem.select(F.col("l_shipdate").cast("date").alias("d"))
    )
    epoch = F.lit("1995-01-01").cast("date")
    for n_win, stride, width, band in [(12, 30, 44, 30), (8, 45, 10, 30), (6, 20, 75, 30)]:
        w = spark.range(n_win).select(
            F.col("id").alias("wid"),
            F.date_add(epoch, (F.col("id") * stride).cast("int")).alias("ws"),
            F.date_add(epoch, (F.col("id") * stride + width).cast("int")).alias("we"),
        )
        naive = (
            li.join(w, (F.col("d") >= F.col("ws")) & (F.col("d") <= F.col("we")))
            .groupBy("wid")
            .count()
        )
        wb = w.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.datediff("ws", epoch) / band),
                    F.floor(F.datediff("we", epoch) / band),
                )
            ),
        )
        banded = (
            li.withColumn("bucket", F.floor(F.datediff("d", epoch) / band))
            .join(wb, ["bucket"])
            .filter((F.col("d") >= F.col("ws")) & (F.col("d") <= F.col("we")))
            .groupBy("wid")
            .count()
        )
        a = {r["wid"]: r["count"] for r in naive.collect()}
        b = {r["wid"]: r["count"] for r in banded.collect()}
        assert a == b, f"geometry {(n_win, stride, width, band)}: {a} != {b}"


def test_zorder_key_matches_pure_python_interleave(spark):
    """The JVM Morton-key expression must equal a reference Python
    implementation bit-for-bit on a controlled frame (normalization +
    interleave arithmetic, including clamp edges)."""
    from pandas_redshift_spark.plans.layout import zorder_key

    rows = [(0, 0), (15, 15), (7, 3), (1, 14), (15, 0), (0, 15), (8, 8)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_key(df, ["x", "y"], bits=4)).collect()
    }

    def py_z(x, y, lo=0, hi=15, bits=4):
        top = (1 << bits) - 1
        def norm(v):
            return min(top, max(0, int((v - lo) * (top / (hi - lo)))))
        nx, ny = norm(x), norm(y)
        z = 0
        for b in range(bits):
            z |= ((nx >> b) & 1) << (2 * b)
            z |= ((ny >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        assert z == py_z(x, y), f"({x},{y}): {z} != {py_z(x, y)}"


_ZORDER_DTYPES = ("int32", "int64", "float64", "Int64", "Float64")
_INT_RANGE = {"int32": (-(2**31), 2**31 - 1)}


@st.composite
def _zorder_key_column(draw, rows: int) -> pd.Series:
    """One numeric key column: plain or nullable ints, floats with
    NaN/None/±inf, negatives; sometimes constant or all-null.  In a
    nullable ``Float64`` column NaN stays a value next to the nulls."""
    dtype = draw(st.sampled_from(_ZORDER_DTYPES))
    nullable = dtype in ("float64", "Int64", "Float64")
    lo, hi = _INT_RANGE.get(dtype, (-(2**63), 2**63 - 1))
    if dtype in ("float64", "Float64"):
        value = st.one_of(
            st.floats(allow_nan=True, allow_infinity=True),
            st.sampled_from([np.nan, np.inf, -np.inf, -0.0, -1.5]),
        )
    else:
        value = st.integers(lo, hi)
    if nullable:
        value = st.one_of(st.none(), value)
    shape = draw(st.sampled_from(["mixed", "constant", "all_null"]))
    if shape == "all_null" and nullable:
        values = [None] * rows
    elif shape == "constant":
        values = [draw(value)] * rows
    else:
        values = draw(st.lists(value, min_size=rows, max_size=rows))
    if dtype == "Float64":
        null = np.array([v is None for v in values])
        data = np.array([0.0 if v is None else v for v in values])
        return pd.Series(pd.arrays.FloatingArray(data, null))
    return pd.Series(values, dtype=dtype)


@st.composite
def _zorder_frames(draw) -> pd.DataFrame:
    rows = draw(st.integers(1, 12))
    ncols = draw(st.integers(2, 3))
    return pd.DataFrame(
        {f"k{i}": draw(_zorder_key_column(rows)) for i in range(ncols)}
    )


@given(frame=_zorder_frames())
@example(
    frame=pd.DataFrame(
        {
            "k0": pd.arrays.FloatingArray(
                np.array([1.0, np.nan, 3.0, 0.0, -2.5]),
                np.array([False, False, False, True, False]),
            ),
            "k1": [np.inf, 1.0, -4.0, np.nan, 2.0],
            "k2": pd.array([None, 7, -3, 7, 2**62], dtype="Int64"),
        }
    )
)
@settings(max_examples=40, deadline=None)
def test_zorder_codes_equal_zorder_key(spark, frame):
    """The driver-side numpy Morton key must equal the Spark Column key
    bit for bit on the same frame after Arrow ingest, across nulls,
    NaN, infinities, negatives, constant and all-null columns."""
    from pandas_redshift_spark.plans.layout import zorder_codes, zorder_key

    cols = list(frame.columns)
    sdf = spark.createDataFrame(frame)
    want = [r[0] for r in sdf.select(zorder_key(sdf, cols)).collect()]
    got = zorder_codes(frame, cols)
    assert got.dtype == np.int64
    assert got.tolist() == want


def test_results_invariant_under_partition_count(spark, sf_dir):
    """Cluster-shape independence: the same query must return the same
    rows under different shuffle.partitions settings (what changes
    between local[32] and a 1000-executor cluster).  Catches any
    accidental partition-dependent logic (per-partition ids, rand(),
    mapPartitions state) in deterministic operators."""
    import hashlib

    from pandas_redshift_spark.operators import all_queries

    names = [
        "q1_pricing_summary",
        "dedup_minhash_lsh",
        "pipe_split_deterministic",
        "join_range_banded",
        "events_sessionization",
        "text_tfidf_top_terms",
        # r4: agg_global's avg over 60k decimal multiples landed
        # EXACTLY on a 6dp rounding tie — summation order (a function
        # of partition count) flipped the rounded digit.  Global
        # whole-corpus folds are the highest-risk rounding class;
        # keep one in the invariance net.
        "agg_global",
        "text_unigram_logprob",
        # r5: PSI sums ln-terms over the (type, bin) frame — the sum
        # order varies with partition count; keep it in the net.
        "profile_drift_psi",
        "dml_scd2_dimension",
        # r9: the sf1 float-rounding incident (operators/exactsum.py) —
        # join_star_broadcast's round(sum(float), 4) over ~240k-row
        # groups mismatched its oracle with code and data unchanged.
        # The converted scaled-integer sums are order-independent by
        # construction; keep the two worst former offenders plus the
        # cube grand-total cell (past the 2^53-cents cliff) in the net.
        "join_star_broadcast",
        "join_inner",
        "agg_cube",
        # r10: representatives of the conversion waves — the whole-table
        # q6 sum, the per-row running-window fold (the one shape proven
        # NOT bitwise-deterministic as float), and the two-level
        # per-user -> per-variant events sum.  Order-free by
        # construction now; a regression back to float sums would
        # reintroduce partition-count dependence exactly here.
        "tpch_q6_revenue_forecast",
        "window_running_sum",
        "events_experiment_abtest",
    ]
    specs = all_queries()

    def result_hash(name):
        df = specs[name].fn(spark, sf_dir)
        rows = sorted(repr(r) for r in df.collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    def fresh():
        # memoized frames (shingles, unigram model/per-doc, LSH
        # buckets) are checkpointed once per (appId, sf_dir): without
        # dropping them, the second partition-count run would read the
        # FIRST run's checkpoints and the comparison is vacuous for
        # any memoized query; plan memos hold plans over those
        # checkpoints
        from tests.conftest import drop_memo

        drop_memo("persist", "frame")
        spark.catalog.clearCache()

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        fresh()
        h32 = {n: result_hash(n) for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        fresh()
        h7 = {n: result_hash(n) for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        fresh()
    diff = [n for n in names if h32[n] != h7[n]]
    assert not diff, f"partition-count-dependent results: {diff}"


def test_md5_hash_family_cross_engine_parity(spark):
    """The portable hash family must be bit-identical in Spark and
    DuckDB over adversarial inputs (empty, unicode, long, quotes) —
    this equality is what the simhash/minhash/fingerprint oracles
    stand on.  Also pins the no-overflow envelope of the affine
    re-mix at the extreme coefficient/hash values."""
    import duckdb

    from pandas_redshift_spark.operators.dedup import (
        HASH_MOD,
        md5_hash_duckdb_sql,
        md5_hash_spark_sql,
    )

    cases = [
        "", "a", "hello world", "x" * 10_000, "naïve café ünïcode 漢字",
        "it's \"quoted\"", "tab\tnewline\nmix", "0", " leading trailing ",
    ]
    rows = spark.createDataFrame([(c,) for c in cases], ["t"])
    got = {
        r.t: (r.h8, r.h15)
        for r in rows.selectExpr(
            "t",
            f"{md5_hash_spark_sql('t', 1, 8)} AS h8",
            f"{md5_hash_spark_sql('t', 1, 15)} AS h15",
        ).collect()
    }
    con = duckdb.connect()
    # same expressions the oracles embed, parameterized over the cases
    duck_sql = (
        f"SELECT {md5_hash_duckdb_sql('$1', 1, 8)}, "
        f"{md5_hash_duckdb_sql('$1', 1, 15)}"
    )
    for c in cases:
        d8, d15 = con.execute(duck_sql, [c]).fetchone()
        assert got[c] == (d8, d15), c
    # overflow envelope: worst-case affine re-mix stays inside a long
    a = b = HASH_MOD - 1
    g = HASH_MOD - 1
    assert (a * g) % HASH_MOD + (b * g) % HASH_MOD + (HASH_MOD - 1) < 2**63
    assert a * g < 2**63


def test_percentiles_approx_within_tolerance_of_exact(spark, sf_dir):
    """percentiles_approx is rows-only at the driver (GK-sketch values
    are engine-specific) — THIS test is its correctness check: the
    sketch median must land within 1% relative error of the exact
    interpolated median for every group (accuracy=10000 bounds rank
    error at 1/10000, far tighter than 1% value error here)."""
    from pandas_redshift_spark.operators.advanced import (
        percentiles_approx,
        percentiles_exact,
    )

    exact = {
        r.l_returnflag: r.median_price for r in percentiles_exact(spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r.median_price_approx
        for r in percentiles_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for flag, med in exact.items():
        assert abs(approx[flag] - med) / med < 0.01, (flag, approx[flag], med)


def test_sample_bernoulli_fraction_subset_and_reproducible(spark, sf_dir):
    """Both samplers — the hash-default (driver hash-verified) and the
    engine-RNG TABLESAMPLE variant (rows-only at the driver; THIS test
    is its correctness check) — must draw a subset of the source whose
    kept ROW fraction concentrates around 10% and reproduce the
    identical row multiset on a second run.

    The concentration bound is on row counts, not key-set sizes: this
    corpus's lineitem has duplicate (l_orderkey, l_linenumber) pairs
    (see test_lineitem_fixture_pk_duplicates_documented), and the
    keyed md5 default keeps/drops all rows of a key together — so the
    kept-row variance is sum over key groups of |group|^2 * p(1-p),
    not n * p(1-p).  The r6 red test compared a deduplicated key SET
    against 0.1 * rowcount, which a keyed sampler can never satisfy
    on a corpus with duplicate keys."""
    import collections
    import math

    from pandas_redshift_spark.operators.advanced import (
        sample_bernoulli,
        sample_bernoulli_rng,
    )

    li = Tables(spark, sf_dir).lineitem
    src_rows = [
        (r.l_orderkey, r.l_linenumber)
        for r in li.select("l_orderkey", "l_linenumber").collect()
    ]
    n_src = len(src_rows)
    src_keys = set(src_rows)
    group_sizes = collections.Counter(src_rows)
    # keyed sampler: Var = p(1-p) * sum(|group|^2); row-RNG sampler:
    # Var = p(1-p) * n.  The keyed bound dominates, use it for both.
    sigma = math.sqrt(0.1 * 0.9 * sum(g * g for g in group_sizes.values()))
    for fn in (sample_bernoulli, sample_bernoulli_rng):
        got1 = sorted(
            (r.l_orderkey, r.l_linenumber, r.l_extendedprice)
            for r in fn(spark, sf_dir).collect()
        )
        # 5-sigma row-count concentration holds even at sf0.001
        assert abs(len(got1) - 0.1 * n_src) < 5 * sigma + 1, fn.__name__
        assert {(k, ln) for k, ln, _ in got1} <= src_keys, fn.__name__
        got2 = sorted(
            (r.l_orderkey, r.l_linenumber, r.l_extendedprice)
            for r in fn(spark, sf_dir).collect()
        )
        assert got1 == got2, fn.__name__


def test_sample_bernoulli_keyed_keeps_key_groups_whole(spark, sf_dir):
    """The md5 default samples by KEY: every (l_orderkey,
    l_linenumber) group is kept or dropped in full — the property that
    makes the sample resumable and shard-independent at 100 TB, and
    the property the r6 test failure traced to.  Verify the kept key
    count concentrates around 0.1 * distinct keys and that no kept key
    is missing any of its source rows."""
    import math

    from pandas_redshift_spark.operators.advanced import sample_bernoulli

    li = Tables(spark, sf_dir).lineitem
    src = li.groupBy("l_orderkey", "l_linenumber").count()
    n_keys = src.count()
    kept = sample_bernoulli(spark, sf_dir)
    kept_counts = kept.groupBy("l_orderkey", "l_linenumber").count()
    n_kept_keys = kept_counts.count()
    sigma = math.sqrt(n_keys * 0.1 * 0.9)
    assert abs(n_kept_keys - 0.1 * n_keys) < 5 * sigma + 1
    # every kept key carries its FULL source multiplicity
    mismatched = (
        kept_counts.alias("k")
        .join(
            src.alias("s"),
            ["l_orderkey", "l_linenumber"],
        )
        .filter(F.col("k.count") != F.col("s.count"))
        .count()
    )
    assert mismatched == 0


def test_lineitem_fixture_pk_duplicates_documented(spark, sf_dir):
    """The generated corpus's lineitem is NOT unique on (l_orderkey,
    l_linenumber) — surprising (it's the TPC-H primary key) but
    fixture-induced, per the r6 verdict.  Pin the fact so the next
    operator keyed on that pair states its duplicate semantics up
    front instead of failing a 5-sigma test: sample_bernoulli keeps
    key groups whole (test above), join_multi_key joins on the pair
    and so multiplies matching groups, events_dedup_exact dedups
    events (not lineitem) by content digest and is unaffected."""
    li = Tables(spark, sf_dir).lineitem
    n_rows = li.count()
    n_keys = li.select("l_orderkey", "l_linenumber").distinct().count()
    assert n_keys < n_rows, (
        "lineitem (l_orderkey, l_linenumber) became unique — the keyed-"
        "sampler variance bound and join_multi_key multiplicity notes "
        "can be simplified"
    )


def test_embedding_width_matches_pinned_constant(spark):
    """The LSH/IVF oracles bake plane literals of EMBEDDING_DIMS while
    the Spark side probes the width from data — a TESTDATA width
    change must fail HERE, not as a driver hash mismatch on an
    otherwise-correct operator."""
    from pandas_redshift_spark.operators.similarity import EMBEDDING_DIMS
    from pandas_redshift_spark.session import Tables

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        widths = (
            Tables(spark, sf_dir)
            .embeddings.select(F.size("embedding").alias("d"))
            .distinct()
            .collect()
        )
        assert [r.d for r in widths] == [EMBEDDING_DIMS], sf_dir


def test_dot_product_cross_engine_parity(spark):
    """Spark's aggregate fold and DuckDB's list_inner_product both sum
    left-to-right, so dot products over identical doubles must be
    BIT-exact — the equality every raw-double sign test / cosine
    ranking oracle (sim_lsh_topk, sim_ivf_topk) stands on.  Exercised
    over adversarial magnitudes where any reassociation or fused
    summation would change the low bits."""
    import duckdb

    from pandas_redshift_spark.operators.similarity import dot

    vecs = [
        ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
        ([0.1] * 64, [0.3] * 64),
        ([1e-300, 1e300, -1e300, 1e-300], [2.0, 1.0, 1.0, 2.0]),
        ([3.141592653589793, -2.718281828459045], [1.4142135623730951, 1.7320508075688772]),
    ]
    sdf = spark.createDataFrame(vecs, ["a", "b"]).select(dot("a", "b").alias("d"))
    got = [r.d for r in sdf.collect()]
    con = duckdb.connect()
    want = [
        con.execute("SELECT list_inner_product($1::DOUBLE[], $2::DOUBLE[])", [a, b]).fetchone()[0]
        for a, b in vecs
    ]
    import struct

    assert [struct.pack("<d", g) for g in got] == [struct.pack("<d", w) for w in want]


def test_pii_detector_counts_on_adversarial_strings(spark):
    """The reusable detector core must count non-overlapping matches
    correctly on strings the synthetic corpus never produces: multiple
    PII items in one doc, PII at string boundaries, and look-alikes
    that must NOT match (bare @, short digit runs, trailing-dot IP
    prefix)."""
    from pandas_redshift_spark.operators.textstats import pii_hit_counts

    cases = [
        # (text, email, ipv4, phone, digitrun)
        ("a@b.co and c.d+x@e-f.org together", 2, 0, 0, 0),
        ("ip 10.0.0.1 then 255.255.255.255", 0, 2, 0, 0),
        ("call +1 415 555 0100 or +44 20 7946 0958", 0, 0, 2, 0),
        ("card 1234567890123456", 0, 0, 0, 1),
        ("no pii here, just words @ and 123.456", 0, 0, 0, 0),
        ("edge@case.io", 1, 0, 0, 0),
        ("9.9.9.9", 0, 1, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in cases], ["text"])
    counts = pii_hit_counts(F.col("text"))
    got = (
        df.select(
            "text",
            counts["email"].alias("e"),
            counts["ipv4"].alias("i"),
            counts["phone"].alias("p"),
            counts["digitrun"].alias("d"),
        )
        .collect()
    )
    by_text = {r.text: (r.e, r.i, r.p, r.d) for r in got}
    for text, *expected in cases:
        assert by_text[text] == tuple(expected), text


def test_chunk_dedup_counts_instances_and_partial_tail(spark, tmp_path):
    """Chunk semantics pinned on a constructed corpus: 16-token chunks,
    a partial tail chunk is still a chunk, a chunk repeated WITHIN one
    doc is not cross-doc duplicated, and every instance of a cross-doc
    duplicated chunk counts toward its doc's fraction."""
    import pandas as pd

    from pandas_redshift_spark.operators.dedup import dedup_chunk_level

    A = " ".join(f"a{i}" for i in range(16))  # exactly one chunk
    B = " ".join(f"b{i}" for i in range(16))
    C = " ".join(f"c{i}" for i in range(8))  # partial tail
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            # doc0: A + B           -> chunks [A, B]
            # doc1: A + C           -> chunks [A, C-tail]
            # doc2: B + B           -> chunks [B, B] (within-doc repeat)
            # doc3: unique tokens   -> chunks [u, u-tail]
            "text": [
                f"{A} {B}",
                f"{A} {C}",
                f"{B} {B}",
                " ".join(f"u{i}" for i in range(24)),
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 0, 0, 0],
        }
    )
    sf = str(tmp_path / "mini")
    import os

    os.makedirs(sf)
    docs.to_parquet(os.path.join(sf, "documents.parquet"))
    out = {r.doc_id: r for r in dedup_chunk_level(spark, sf).collect()}
    # A appears in docs 0,1 -> dup; B appears in docs 0,2 -> dup.
    assert (out[0].n_chunks, out[0].n_dup_chunks) == (2, 2)  # A,B both dup
    assert (out[1].n_chunks, out[1].n_dup_chunks) == (2, 1)  # A dup, tail not
    # doc2's B chunks are cross-doc dups (B also in doc0): both instances count
    assert (out[2].n_chunks, out[2].n_dup_chunks) == (2, 2)
    assert out[2].keep is False
    assert (out[3].n_chunks, out[3].n_dup_chunks) == (2, 0)
    assert out[3].keep is True


def test_zipf_slope_is_minus_one_on_exact_zipf_corpus(spark, tmp_path):
    """A corpus whose term frequencies are exactly C/rank must fit
    slope -1 (log-log linear), pinning the regression arithmetic."""
    import os

    import pandas as pd

    from pandas_redshift_spark.operators.textstats import text_zipf_slope

    # term t_r occurs floor(64 / r) times for rank r in 1..8 -> freq
    # halving is NOT exact zipf; instead use freq = 2^(8-r) and rank =
    # 2^(r-1)... simplest exact construction: freq_r = K / r with K
    # divisible by all ranks.  lcm(1..8) = 840.
    K = 840
    words: list[str] = []
    for r in range(1, 9):
        words += [f"t{r:02d}"] * (K // r)
    docs = pd.DataFrame(
        {
            "doc_id": [0],
            "text": [" ".join(words)],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [0],
        }
    )
    sf = str(tmp_path / "zipf")
    os.makedirs(sf)
    docs.to_parquet(os.path.join(sf, "documents.parquet"))
    row = text_zipf_slope(spark, sf).collect()[0]
    assert row.lang == "en"
    assert row.n_terms == 8
    assert abs(row.zipf_slope - (-1.0)) < 1e-4
    # intercept = ln(K); output is rounded to 4dp
    import math

    assert abs(row.zipf_intercept - math.log(K)) < 1e-4


def test_abtest_assignment_is_md5_parity_and_counts_add_up(spark, sf_dir):
    """Variant assignment must be the md5-hex parity of the stringified
    user_id (verified against Python's hashlib), and the readout's
    group sizes must partition the user universe."""
    import hashlib

    from pandas_redshift_spark.operators.events import events_experiment_abtest

    row = events_experiment_abtest(spark, sf_dir).collect()[0]
    users = [
        r.user_id
        for r in Tables(spark, sf_dir).events.select("user_id").distinct().collect()
    ]
    expect_treat = sum(
        int(hashlib.md5(str(u).encode()).hexdigest()[0], 16) % 2 for u in users
    )
    assert row.n_treatment == expect_treat
    assert row.n_control + row.n_treatment == len(users)
    assert 0 <= row.conv_control <= row.n_control
    assert 0 <= row.conv_treatment <= row.n_treatment


def test_chunk_dedup_matches_python_reference_on_random_corpus(spark, tmp_path):
    """Differential check against an independent pure-Python
    implementation on a seeded random corpus built from shared
    16-token 'paragraph units' (guaranteeing cross-doc chunk
    collisions) plus unique filler."""
    import os
    import random

    import pandas as pd

    from pandas_redshift_spark.operators.dedup import CHUNK_TOKENS, dedup_chunk_level

    rng = random.Random(1234)
    units = [
        " ".join(f"u{u}w{i}" for i in range(CHUNK_TOKENS)) for u in range(6)
    ]
    texts = []
    for d in range(40):
        parts = [rng.choice(units) for _ in range(rng.randint(0, 3))]
        # unique filler, random length (may produce a partial tail chunk)
        filler_len = rng.randint(1, 40)
        parts.append(" ".join(f"d{d}f{i}" for i in range(filler_len)))
        rng.shuffle(parts)
        texts.append(" ".join(parts))
    docs = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": texts,
            "lang": ["en"] * 40,
            "source": ["s"] * 40,
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path / "rand")
    os.makedirs(sf)
    docs.to_parquet(os.path.join(sf, "documents.parquet"))

    # pure-Python reference
    def chunks_of(text: str) -> list[str]:
        toks = text.split(" ")
        return [
            " ".join(toks[i : i + CHUNK_TOKENS])
            for i in range(0, len(toks), CHUNK_TOKENS)
        ]

    per_doc = {d: chunks_of(t) for d, t in zip(docs.doc_id, docs.text)}
    owners: dict[str, set[int]] = {}
    for d, cs in per_doc.items():
        for c in cs:
            owners.setdefault(c, set()).add(d)
    expected = {
        d: (
            len(cs),
            sum(1 for c in cs if len(owners[c]) > 1),
        )
        for d, cs in per_doc.items()
    }

    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks) for r in dedup_chunk_level(spark, sf).collect()}
    assert got == expected


def test_pii_counts_match_python_re_on_random_strings(spark):
    """Differential check of the PII regexes against Python's ``re``
    on seeded random compositions of PII snippets and noise (the two
    regex dialects must agree on this conservative pattern subset)."""
    import random
    import re

    from pandas_redshift_spark.operators.textstats import PII_PATTERNS, pii_hit_counts

    rng = random.Random(99)
    snippets = [
        "alice@example.com",
        "bob.smith+tag@mail.co.uk",
        "10.1.2.3",
        "256.300.1.2",  # still matches the naive ipv4 pattern (by design)
        "+1 650 555 0199",
        "98765432109",
        "word",
        "a@b",  # no TLD -> no email match
        "1.2.3",  # too few octets
        "+12",  # too short for phone
        "12345678",  # 8 digits: below digitrun threshold
    ]
    texts = [
        " ".join(rng.choice(snippets) for _ in range(rng.randint(1, 12)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    counts = pii_hit_counts(F.col("text"))
    rows = df.select(
        "text", *[counts[k].alias(k) for k in PII_PATTERNS]
    ).collect()
    for r in rows:
        for k, pat in PII_PATTERNS.items():
            assert getattr(r, k) == len(re.findall(pat, r.text)), (k, r.text)


def test_pii_redact_leaves_no_residual_matches(spark, sf_dir):
    """After the redaction cascade, re-running the detector on the
    redacted text must find ZERO ipv4/phone/digitrun matches — those
    are guaranteed by construction (every placeholder is digit-free,
    so no replacement can manufacture a digit-bearing match).  The
    email category is asserted on THIS corpus but is not a structural
    guarantee: '<EMAIL>' abutting a leftover '@domain.tld' (input like
    'a@b.cc@d.ee') re-forms a valid email, a single-pass
    regexp_replace semantics both engines share."""
    from pandas_redshift_spark.operators.textstats import (
        PII_PATTERNS,
        pii_hit_counts,
        pipe_pii_redact,
    )

    red = pipe_pii_redact(spark, sf_dir)
    residual = pii_hit_counts(F.col("text_redacted"))
    leftovers = red.select(
        *[residual[k].alias(k) for k in PII_PATTERNS]
    ).groupBy().sum().collect()[0]
    assert all(v == 0 for v in leftovers), leftovers
    # every artifact-grafted doc (id % 7/11/13/17) reports >=1 redaction
    flagged = red.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("n_redactions") == 0)
    ).count()
    assert flagged == 0


def test_pii_redact_matches_python_re_cascade(spark):
    """Differential check: Spark's regexp_replace cascade must produce
    byte-identical redacted text to Python ``re.sub`` applied in the
    same order, over seeded compositions of PII snippets and noise."""
    import random
    import re

    from pandas_redshift_spark.operators.textstats import PII_PATTERNS

    rng = random.Random(7)
    snippets = [
        "alice@example.com",
        "call +1 650 555 0199 now",
        "10.1.2.3",
        "ssn 987654321",
        "plain words only",
        "a@b 1.2.3 +12 12345678",
    ]
    texts = [
        " ".join(rng.choice(snippets) for _ in range(rng.randint(1, 10)))
        for _ in range(40)
    ]
    order = (("email", "<EMAIL>"), ("ipv4", "<IP>"), ("phone", "<PHONE>"), ("digitrun", "<DIGITS>"))
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    col = F.col("text")
    for name, token in order:
        col = F.regexp_replace(col, F.lit(PII_PATTERNS[name]), F.lit(token))
    got = [r[0] for r in df.select(col).collect()]
    for t, g in zip(texts, got):
        want = t
        for name, token in order:
            want = re.sub(PII_PATTERNS[name], token, want)
        assert g == want, (t, g, want)


def test_unigram_logprob_rare_doc_scores_worse(spark, tmp_path):
    """A doc made of corpus-rare terms must score a higher mean
    negative log-prob than one made of the dominant term, and the
    smoothed probabilities must reproduce a hand-computed value."""
    import math
    import shutil

    import pandas as pd

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "uni")
    (tmp_path / "uni").mkdir()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["common common common", "common common rare", "rare oddball common"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [20, 18, 19],
        }
    )
    docs.to_parquet(f"{d}/documents.parquet")
    from pandas_redshift_spark.operators.textstats import text_unigram_logprob

    out = {r.doc_id: r for r in text_unigram_logprob(spark, d).collect()}
    # corpus: common x6, rare x2, oddball x1 -> total 9, vocab 3
    p = {"common": 7 / 12, "rare": 3 / 12, "oddball": 2 / 12}
    expect1 = -math.log(p["common"])
    got1 = out[1].avg_neglogp
    assert abs(got1 - round(expect1, 6)) < 1e-9, (got1, expect1)
    assert out[1].avg_neglogp < out[2].avg_neglogp < out[3].avg_neglogp
    assert out[1].n_tokens == 3


def test_dup_ngram_coverage_bounds_and_identical_docs(spark, sf_dir):
    """Coverage is in [0,1]; fully-duplicated docs (exact dupes exist
    in the corpus via shared shingles) reach coverage 1 iff every
    shingle is shared — spot-check consistency with the containment
    operator's inputs: n_shared <= n_shingles always."""
    from pandas_redshift_spark.operators.textstats import text_dup_ngram_coverage

    cov = text_dup_ngram_coverage(spark, sf_dir)
    bad = cov.filter(
        (F.col("n_shared") > F.col("n_shingles"))
        | (F.col("dup_coverage") < 0)
        | (F.col("dup_coverage") > 1)
    ).count()
    assert bad == 0
    assert cov.count() > 0


def test_semantic_ivf_dedup_matches_numpy_reference(spark):
    """Differential check of dedup_semantic_ivf against a pure-Python
    replay of the FULL pipeline at sf0.001 — prenormalization, the
    deterministic sampled k-means training (seeds, per-iteration
    assignment, order-pinned unrounded per-dim means, left-fold
    renorm, empty-cell carryover), the r7 TWO-LEVEL assignment
    (super-centroid k-means over the child codebook with the same
    pinned means, then nearest-child-within-super), and the parallel
    min-id drop rule.  Dot products use an explicit LEFT-TO-RIGHT
    fold over element products — the same order as Spark's
    ``aggregate`` — so the reference is bit-identical to the engine;
    BLAS matmul (blocked/FMA/pairwise) can differ in the last ulps,
    which would make threshold/argmax decisions at a boundary a
    data-dependent flake.  (The per-dim means accumulate members in
    vec_id-asc order — the pinned fold all three replays share — so
    no rounding is needed anywhere in the trainer.)"""
    import math

    import numpy as np
    import pandas as pd

    from pandas_redshift_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_SAMPLE_MOD,
        dedup_semantic_ivf,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.vec_id: (r.cell, r.kept)
        for r in dedup_semantic_ivf(spark, sf).collect()
    }
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    order = np.argsort(ids)
    V, ids = V[order], ids[order]

    def dot_seq(a, b):
        # element products are exact per-element in both engines;
        # accumulate strictly left-to-right like Spark's fold
        acc = 0.0
        for p in (np.asarray(a) * np.asarray(b)).tolist():
            acc += p
        return acc

    # prenormalize exactly like _emb_double: per-element divide by the
    # left-fold norm
    en = []
    for v in V:
        nrm = math.sqrt(dot_seq(v, v))
        en.append([x / nrm for x in v.tolist()])

    k_cells = max(16, math.ceil(len(ids) / 125.0))
    samp_idx = [i for i in range(len(ids)) if ids[i] % KMEANS_SAMPLE_MOD == 0]
    # cents: list of (cell_id, centroid) — seeds are the first K sample
    # vectors by vec_id
    cents = [(int(ids[i]), en[i]) for i in samp_idx[:k_cells]]

    def assign_cell(vec):
        sims = [(dot_seq(vec, c_en), -cell) for cell, c_en in cents]
        best = max(range(len(cents)), key=lambda k: sims[k])
        return best

    for _ in range(KMEANS_ITERS):
        members = {j: [] for j in range(len(cents))}
        for i in samp_idx:
            members[assign_cell(en[i])].append(i)
        nxt = []
        for j, (cell, prev) in enumerate(cents):
            rows = members[j]
            if not rows:
                nxt.append((cell, prev))
                continue
            # pinned mean: members summed left-to-right in vec_id-asc
            # order (rows IS vec_id-asc), divided by the double count
            raw = []
            for d in range(len(en[0])):
                acc = 0.0
                for i in rows:
                    acc = acc + en[i][d] * 1.0
                raw.append(acc / float(len(rows)))
            acc = 0.0
            for v in raw:
                acc = acc + v * v
            nrm = math.sqrt(acc)
            nxt.append((cell, [v / nrm for v in raw]))
        cents = nxt

    # two-level assignment (r7): spherical k-means over the CHILD
    # codebook gives S=ceil(sqrt(K)) super-centroids; a vector scores
    # the supers, then only its winning super's children.  Means here
    # are UNROUNDED, accumulated in cell-asc member order (the pinned
    # fold both engines replay bit-exactly).
    s_cells = math.ceil(math.sqrt(k_cells))
    cs = sorted(cents)

    def assign_sup(vec, sups):
        sims = [(dot_seq(vec, s_en), -sid) for sid, s_en in sups]
        return sups[max(range(len(sups)), key=lambda k: sims[k])][0]

    sups = [(c, list(v)) for c, v in cs[:s_cells]]
    for _ in range(KMEANS_ITERS):
        smembers = {}
        for c, v in cs:
            smembers.setdefault(assign_sup(v, sups), []).append(v)
        nxt = []
        for sid, prev in sups:
            vecs = smembers.get(sid)
            if not vecs:
                nxt.append((sid, prev))
                continue
            raw = []
            for d in range(len(prev)):
                acc = 0.0
                for v in vecs:
                    acc = acc + v[d] * 1.0
                raw.append(acc / float(len(vecs)))
            acc = 0.0
            for v in raw:
                acc = acc + v * v
            nrm = math.sqrt(acc)
            nxt.append((sid, [v / nrm for v in raw]))
        sups = nxt
    c2s = {c: assign_sup(v, sups) for c, v in cs}
    by_sup = {}
    for c, v in cs:
        by_sup.setdefault(c2s[c], []).append((c, v))
    sups_live = [(s, v) for s, v in sups if s in by_sup]

    def assign_two_level(vec):
        kids = by_sup[assign_sup(vec, sups_live)]
        sims = [(dot_seq(vec, v), -c) for c, v in kids]
        return kids[max(range(len(kids)), key=lambda k: sims[k])][0]

    cell = [assign_two_level(en[i]) for i in range(len(ids))]
    for i, vid in enumerate(ids):
        mates = [
            j
            for j in range(len(ids))
            if cell[j] == cell[i]
            and ids[j] < vid
            and dot_seq(en[j], en[i]) >= 0.3
        ]
        expect_kept = not mates
        assert got[vid] == (cell[i], expect_kept), (vid, got[vid], cell[i], expect_kept)


_CHAIN_N = 33  # chain 0-1-...-32: diameter 32


def _chain_and_star_pairs(spark):
    """Adversarial-skew fixture (VERDICT r4 item 7): one giant
    CHAIN-shaped near-dup cluster — the worst case a power-law corpus
    produces when a template floods with gradually drifting content,
    so consecutive revisions pair but distant ones don't — plus a
    hub-and-spokes cluster (the hot-shingle hub shape), with the
    labels they must get."""
    chain = [(i, i + 1) for i in range(_CHAIN_N - 1)]
    star = [(100, 100 + j) for j in range(1, 40)]  # hub 100, 39 spokes
    pairs = spark.createDataFrame(chain + star, "doc_a: long, doc_b: long")
    truth = {i: 0 for i in range(_CHAIN_N)}
    truth.update({100 + j: 100 for j in range(40)})
    return pairs, truth


def test_adversarial_chain_lsstar_within_log_rounds(spark):
    """On the chain + star graph, large-star/small-star
    (``lsstar_components``) labels every node with its component's min
    and stays inside its O(log n) round budget (log2(33) ~ 5 rounds,
    +margin) — the bound dedup.py's docstrings claim for 100 TB,
    measured rather than asserted in prose.  Min-label propagation
    needed 16 rounds plus a confirming one on this chain."""
    from pandas_redshift_spark.operators.dedup import lsstar_components

    pairs, truth = _chain_and_star_pairs(spark)
    labels, rounds = lsstar_components(pairs, max_rounds=15)
    rows = labels.collect()
    assert len(rows) == len(truth), "one (node, label) row per node"
    assert {r.node: r.label for r in rows} == truth
    assert rounds <= 8, f"lsstar took {rounds} rounds (> log-bound)"


def test_components_loop_raises_when_out_of_rounds(spark):
    """A loop that stops at ``max_rounds`` before its fixpoint holds
    partial labels that would split the chain cluster; it must say so
    instead of returning them."""
    import pytest

    from pandas_redshift_spark.operators.dedup import lsstar_components

    pairs, _truth = _chain_and_star_pairs(spark)
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        lsstar_components(pairs, max_rounds=1)


def test_components_loop_runs_no_driver_collect(spark, monkeypatch):
    """The fixpoint test rides the checkpoint jobs (``observe``): no
    round pays a separate ``collect`` for its edge signature."""
    from pandas_redshift_spark.operators.dedup import lsstar_components

    pairs, _truth = _chain_and_star_pairs(spark)
    calls = []
    frame_cls = type(pairs)  # the concrete (classic) DataFrame class
    real = frame_cls.collect

    def spy(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(frame_cls, "collect", spy)
    _labels, rounds = lsstar_components(pairs, max_rounds=15)
    assert rounds >= 2
    assert calls == []


def test_scd2_versions_tile_per_user_timeline(spark, sf_dir):
    """SCD2 semantic invariants (beyond the oracle hash): per user,
    version numbers are 1..n dense, exactly one current version,
    each valid_to equals the NEXT version's valid_from (intervals
    tile with no gaps or overlaps), and consecutive versions never
    carry the same segment (the collapse worked)."""
    from pandas_redshift_spark.operators.sourcesinks import dml_scd2_dimension

    rows = dml_scd2_dimension(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user, "SCD2 output is empty"
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.version_no)
        assert [v.version_no for v in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for v in vs if v.is_current) == 1
        assert vs[-1].is_current and vs[-1].valid_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
            assert a.segment != b.segment, f"uncollapsed duplicate: {user}"


def test_attribution_pairs_within_horizon_and_complete(spark, sf_dir):
    """Stream-stream join invariants: every emitted pair is a real
    (click, purchase) edge for the same user inside the 1-hour
    horizon, and the pair set is EXACTLY the batch time-range join
    (no watermark loss under AvailableNow single-batch drain)."""
    import datetime

    from pandas_redshift_spark.operators.streaming_exec import (
        streaming_attribution_join,
    )
    from pandas_redshift_spark.session import Tables

    got = {
        (r.click_id, r.purchase_id)
        for r in streaming_attribution_join(spark, sf_dir).collect()
    }
    ev = Tables(spark, sf_dir).events.select("event_id", "user_id", "event_type", "ts")
    rows = ev.collect()
    clicks = [r for r in rows if r.event_type == "click"]
    purchases = [r for r in rows if r.event_type == "purchase"]
    by_user: dict[int, list] = {}
    for p in purchases:
        by_user.setdefault(p.user_id, []).append(p)
    want = set()
    horizon = datetime.timedelta(hours=1)
    for c in clicks:
        for p in by_user.get(c.user_id, ()):
            if c.ts <= p.ts <= c.ts + horizon:
                want.add((c.event_id, p.event_id))
    assert got == want


def test_xml_roundtrip_escapes_special_characters(spark, tmp_path):
    """The supplier fixture contains no XML-hostile characters, so the
    registered roundtrip never exercises escaping — pin it here:
    ampersands, angle brackets, quotes, and non-ASCII must survive a
    write+read cycle byte-for-byte."""
    rows = [
        (1, 'a&b <tag> "quoted" \'single\''),
        (2, "less<than & more>than"),
        (3, "unicode: café — 中文"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "k INT, s STRING")
    path = str(tmp_path / "xml_escape")
    df.write.mode("overwrite").option("rowTag", "row").format("xml").save(path)
    back = (
        spark.read.option("rowTag", "row")
        .schema("k INT, s STRING")
        .format("xml")
        .load(path)
    )
    assert {(r.k, r.s) for r in back.collect()} == set(rows)


def test_psi_drift_invariants(spark, sf_dir):
    """PSI and TVD structural properties (beyond the oracle hash):
    PSI >= 0 (each term (p-q)*ln(p/q) is non-negative), TVD in
    [0, 1], and the population totals per type must sum to the
    table's row count."""
    from pandas_redshift_spark.operators.profiling import profile_drift_psi
    from pandas_redshift_spark.session import Tables

    rows = profile_drift_psi(spark, sf_dir).collect()
    assert rows, "drift report is empty"
    for r in rows:
        assert r.psi >= 0, r
        assert 0 <= r.tvd <= 1, r
    total = sum(r.n_ref_total + r.n_cur_total for r in rows)
    assert total == Tables(spark, sf_dir).events.count()


def _semdedup_codebook(spark, sf_dir, k):
    """``(emb, sups, c2s, cents)``: the flat-regime two-level codebook
    dedup_semantic_ivf assigns with, trained at ``k`` cells."""
    import pandas_redshift_spark.operators.similarity as sim

    emb = sim._emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n")
    cents = sim.train_kmeans_centroid_values(
        spark, emb, k, cache_key=("kmeans", sf_dir)
    )
    sups, c2s = sim.super_centroids(cents, math.ceil(math.sqrt(k)))
    return emb, sups, c2s, cents


@pytest.mark.parametrize("k", [16, 100])
def test_semdedup_row_assignment_matches_join_form(spark, sf_dir, k):
    """The flat regime's codebook-row assignment (two argmax_dot folds
    over one broadcast row) must be ROW-IDENTICAL to _assign_two_level,
    the join + max(struct) form the hierarchical regime keeps, on the
    same trained codebook: same floats, same strict-greater/smallest-id
    argmax, so not a single vector may change cell."""
    from pyspark.sql.functions import broadcast

    import pandas_redshift_spark.operators.similarity as sim

    emb, sups, c2s, cents = _semdedup_codebook(spark, sf_dir, k)
    row_form = sim._assign_two_level_row(spark, emb, sups, c2s, cents)
    child_df = broadcast(
        spark.createDataFrame(
            [(c2s[c], c, v) for c, v in cents],
            schema="sup long, cell long, c_en array<double>",
        )
    )
    live = set(c2s.values())
    live_sups = [(s, v) for s, v in sups if s in live]
    join_form = sim._assign_two_level(spark, emb, live_sups, child_df)
    got = sorted((r.vec_id, r.cell) for r in row_form.collect())
    want = sorted((r.vec_id, r.cell) for r in join_form.collect())
    assert got == want
    assert len({c for _, c in got}) > 1


def test_semdedup_row_plan_carries_no_codebook_literals(spark, sf_dir):
    """The codebook row keeps the assignment plan O(1) in K: the
    centroids travel as broadcast relation data, so no centroid double
    is printed in the plan (the deleted literal path printed every dim
    of every centroid verbatim).  The one join is the nested-loop join
    with the single codebook row."""
    import pandas_redshift_spark.operators.similarity as sim

    emb, sups, c2s, cents = _semdedup_codebook(spark, sf_dir, 16)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = (
        sim._assign_two_level_row(spark, emb, sups, c2s, cents)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    jdouble = spark._jvm.java.lang.Double
    for _, vec in cents:
        for x in vec:  # as the plan would print it
            assert jdouble.toString(x) not in plan, (x, plan[:2000])
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_super_trainer_rejects_extreme_k(spark):
    """ADVICE r7: past SUPER_TRAIN_MAX_K the driver-side super-trainer
    must fail LOUDLY (naming the Spark-trainer lift path) instead of
    silently burning O(K^1.5) Python float ops."""
    import pytest

    import pandas_redshift_spark.operators.similarity as sim

    cents = [(i, [1.0]) for i in range(sim.SUPER_TRAIN_MAX_K + 1)]
    with pytest.raises(ValueError, match="SUPER_TRAIN_MAX_K"):
        sim.super_centroids(cents, 4)


def test_zero_norm_embeddings_filtered_both_engines(spark, tmp_path):
    """ADVICE r7: a zero-norm embedding would make emb_n all-NaN and
    the engines disagree on NaN ordering (Spark's strict-greater fold
    never updates; DuckDB sorts NaN first).  _emb_double FILTERS such
    rows and _EN_CTE applies the identical predicate, so both engines
    see the same (directional) corpus."""
    import duckdb
    import pandas as pd

    import pandas_redshift_spark.operators.similarity as sim
    from pandas_redshift_spark.session import Tables

    df = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "label": ["a", "b", "c"],
            "embedding": [[1.0, 0.0], [0.0, 0.0], [0.6, 0.8]],
        }
    )
    df.to_parquet(tmp_path / "embeddings.parquet")
    got = (
        sim._emb_double(Tables(spark, str(tmp_path)))
        .select("vec_id")
        .collect()
    )
    spark_ids = sorted(r.vec_id for r in got)
    assert spark_ids == [0, 2]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    oracle_ids = [
        r[0]
        for r in con.execute(
            f"WITH {sim._EN_CTE} SELECT vec_id FROM e ORDER BY vec_id"
        ).fetchall()
    ]
    assert oracle_ids == spark_ids


def test_chunk_overlap_covers_every_token_with_overlap(spark, sf_dir):
    """Minimal-cover property of pipe_chunk_overlap: per document the
    chunk windows cover token positions [0, n) with consecutive
    chunks overlapping by exactly W-S (except a shorter tail), no
    chunk is empty, and chunk_idx enumerates stride multiples."""
    from pandas_redshift_spark.operators.pipeline import (
        CHUNK_S,
        CHUNK_W,
        pipe_chunk_overlap,
    )
    from pandas_redshift_spark.session import Tables

    rows = pipe_chunk_overlap(spark, sf_dir).collect()
    n_toks = {
        r["doc_id"]: r["n"]
        for r in Tables(spark, sf_dir)
        .documents.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        )
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_toks), "every document chunks"
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = n_toks[doc_id]
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i and c.start_tok == i * CHUNK_S
            assert 1 <= c.n_tokens <= CHUNK_W
            if i < len(chunks) - 1:
                assert c.n_tokens == CHUNK_W  # only the tail may be short
        last = chunks[-1]
        assert last.start_tok + last.n_tokens == n, "tail reaches doc end"
        if n > CHUNK_W:
            assert len(chunks) >= 2, "long docs must fan out"


def test_lsh_band_width_schedule():
    """Pin the corpus-scaled LSH band-width rule (the r8 fix for the
    fixed-width quadratic): w doubles the bucket space every corpus
    doubling past the 64-occupancy target, clamped to [4, 16].  A
    silent revert to fixed w=4 re-opens the N^2/16 candidate blowup
    (measured 16.4x on a 10x step at sf1)."""
    from pandas_redshift_spark.operators.similarity import lsh_band_width

    assert lsh_band_width(1) == 4        # degenerate corpora clamp low
    assert lsh_band_width(500) == 4      # sf0.001 / sf0.01
    assert lsh_band_width(2000) == 5     # sf0.1
    assert lsh_band_width(20000) == 9    # sf1
    assert lsh_band_width(10**9) == 16   # clamp high
    # monotone non-decreasing across doublings
    widths = [lsh_band_width(64 * 2**k) for k in range(20)]
    assert widths == sorted(widths)


def test_phash_near_dup_exhaustive_low_hamming_and_recall(sf_dir):
    """The 8x8-bit >=2-shared-bands banding must surface EVERY pair
    at Hamming <= 6 (pigeonhole: 6 flips leave >= 2 of 8 bands
    untouched — recall exactly 1, VERDICT r8 item 5; the old 4x16
    rule measured 0.959), and emitted distances must equal the
    ground-truth Hamming (precision 1).  Runs the registered ORACLE
    against a brute-force all-pairs truth query, both in DuckDB over
    the sf_dir fixture (ADVICE r9: no hardcoded path)."""
    import os

    import duckdb

    from pandas_redshift_spark.operators import all_queries

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    banded = con.sql(all_queries()["multimodal_phash_near_dup"].oracle).df()
    got = {(int(r.doc_a), int(r.doc_b)): int(r.hamming) for r in banded.itertuples()}
    truth_df = con.sql("""
    WITH img AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                 FROM documents WHERE doc_id % 2 = 0),
    cells AS (SELECT a.i, b.j FROM (SELECT unnest(range(0,8)) AS i) a
              CROSS JOIN (SELECT unnest(range(0,8)) AS j) b),
    grid AS (SELECT m.doc_id, c.i, c.j,
        ( (m.doc_id + 7*((c.i*m.w)//8) + 13*((c.j*m.h)//8)) % 256
        + (m.doc_id*3 + 5*((c.i*m.w)//8) + 11*((c.j*m.h)//8)) % 256
        + (m.doc_id*5 + 3*((c.i*m.w)//8) + 19*((c.j*m.h)//8)) % 256) // 3 AS gray
      FROM img m CROSS JOIN cells c),
    tot AS (SELECT doc_id, sum(gray) AS s FROM grid GROUP BY doc_id),
    hashes AS MATERIALIZED (
        SELECT g.doc_id, string_agg(CASE WHEN g.gray*64 > t.s THEN '1' ELSE '0' END,
               '' ORDER BY g.j*8+g.i) AS ahash
        FROM grid g JOIN tot t USING (doc_id) GROUP BY g.doc_id),
    pos AS (SELECT unnest(range(1,65)) AS p)
    SELECT x.doc_id AS a, y.doc_id AS b,
           sum(CASE WHEN substring(x.ahash,pos.p,1) <> substring(y.ahash,pos.p,1)
                    THEN 1 ELSE 0 END) AS hd
    FROM hashes x JOIN hashes y ON x.doc_id < y.doc_id CROSS JOIN pos
    GROUP BY x.doc_id, y.doc_id HAVING hd <= 6
    """).df()
    truth = {(int(r.a), int(r.b)): int(r.hd) for r in truth_df.itertuples()}
    # precision 1 + exact distances
    for pair, hd in got.items():
        assert truth.get(pair) == hd, f"{pair}: banded {hd} vs truth {truth.get(pair)}"
    # exhaustive over the full hd <= 6 threshold: recall exactly 1
    assert got == truth, (
        f"banding missed {len(set(truth) - set(got))} true pairs, e.g. "
        f"{sorted(set(truth) - set(got))[:5]}"
    )


def test_semdedup_hierarchical_trainer_structural(spark, sf_dir, monkeypatch):
    """Forced-threshold contract for the big-K hierarchical path
    (VERDICT r9 item 3): with KMEANS_FLAT_TRAIN_MAX_K monkeypatched
    below the fixture's K, dedup_semantic_ivf must route through
    train_kmeans_hierarchical + _assign_two_level and still
    satisfy the operator's semantic contract.  The path is NOT
    oracle-replayed (no fixture SF reaches the real threshold), so
    this test IS its correctness gate:

    - the child codebook has one row per (sup, cell), <= K cells,
      every centroid unit-norm, every sup drawn from the super list;
    - the assignment covers every corpus vector exactly once;
    - every DROPPED vector has an earlier same-cell mate at
      cosine >= tau, and every KEPT vector has none (the min-id-wins
      parallel drop rule, re-verified from raw vectors).
    """
    import math

    import pyspark.sql.functions as F

    import pandas_redshift_spark.operators.similarity as sim
    from pandas_redshift_spark.session import Tables
    from pandas_redshift_spark.stats import table_rows

    monkeypatch.setattr(sim, "KMEANS_FLAT_TRAIN_MAX_K", 8)

    t = Tables(spark, sf_dir)
    emb = sim._emb_double(t).select("vec_id", "emb_n")
    n_vecs = table_rows(t, "embeddings")
    k_cells = max(16, math.ceil(n_vecs / 125.0))
    assert k_cells > 8  # the monkeypatched threshold really forces it

    sups, child = sim.train_kmeans_hierarchical(
        spark, emb, k_cells, cache_key=("kmeans", sf_dir)
    )
    crows = child.collect()
    assert 0 < len(crows) <= k_cells
    assert len({(r["sup"], r["cell"]) for r in crows}) == len(crows)
    sup_ids = {s for s, _ in sups}
    # ADVICE r10 fix: the trainer returns ONLY live supers (those with
    # >=1 child), so the inner join in _assign_two_level can
    # never drop a vector routed to a childless super
    assert sup_ids == {r["sup"] for r in crows}
    for r in crows:
        assert r["sup"] in sup_ids
        nrm = sum(v * v for v in r["c_en"])
        assert abs(nrm - 1.0) < 1e-9, (r["sup"], r["cell"], nrm)

    out = sim.dedup_semantic_ivf(spark, sf_dir)
    a = out.join(emb, "vec_id")
    n_corpus = emb.count()
    assert out.count() == n_corpus
    assert out.select("vec_id").distinct().count() == n_corpus

    tau = 0.3
    pairs = (
        a.alias("d")
        .join(
            a.alias("o"),
            (F.col("o.cell") == F.col("d.cell"))
            & (F.col("o.vec_id") < F.col("d.vec_id")),
        )
        .filter(sim.dot(F.col("d.emb_n"), F.col("o.emb_n")) >= tau)
        .select(F.col("d.vec_id").alias("vid"))
        .distinct()
    )
    flagged = {r["vid"] for r in pairs.collect()}
    dropped = {r["vec_id"] for r in out.filter(~F.col("kept")).collect()}
    assert dropped == flagged
