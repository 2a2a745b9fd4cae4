"""Plan-shape assertions: the physical plans PLANS.md documents must
actually hold — pushdown reaches scans, dims broadcast, bucketed
joins don't shuffle, and batch relational queries never drop into
Python evaluation."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from pandas_redshift_spark.operators import all_queries
from tests.conftest import jobs_of


def _plan(spark, name, sf_dir):
    df = all_queries()[name].fn(spark, sf_dir)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(mode)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    plan = _plan(spark, "bucketed_join_colocated", sf_dir)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_filters_push_to_scan(spark, sf_dir):
    plan = _plan(spark, "tpch_q3_shipping_priority", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(c_mktsegment,BUILDING\)", plan)


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "tpch_q5_local_supplier_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_scan_prunes(spark, sf_dir):
    plan = _plan(spark, "sink_partitioned_prune", sf_dir)
    assert re.search(r"PartitionFilters: \[[^\]]*event_type", plan), plan


def test_dynamic_partition_pruning_subquery(spark, sf_dir):
    plan = _plan(spark, "join_dynamic_partition_prune", sf_dir)
    assert "dynamicpruning" in plan, plan


def test_relational_queries_stay_jvm_side(spark, sf_dir):
    """No Python-eval nodes in any §2.B relational plan (UDFs are only
    allowed in the multimodal/stateful extension surface)."""
    py_nodes = re.compile(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas")
    for name in (
        "q1_pricing_summary",
        "join_star_broadcast",
        "window_topk_per_group",
        "dedup_minhash_lsh",
        "sim_lsh_topk",
        "text_langid_heuristic",
        "text_bpe_token_estimate",
        # r10: the exactsum scaled-integer conversions are pure F.*
        # expression rewrites — pin representatives of each converted
        # family so a future edit can't quietly drop one into Python
        "tpch_q6_revenue_forecast",
        "tpch_q14_promo_effect",
        "window_running_sum",
        "window_trailing_30d",
        "events_multi_grain_rollup",
        "skew_salted_agg",
        "pipe_feature_binning",
    ):
        assert not py_nodes.search(_plan(spark, name, sf_dir)), name


def test_bucketed_similarity_defaults_have_no_all_pairs_join(spark, sf_dir):
    """Round-2 guard: the registered sim_pairs_threshold and
    dedup_embedding_cosine defaults are LSH-bucketed — their plans must
    contain no nested-loop (all-pairs) join.  The *_exact twins keep
    that shape on purpose; they are baselines, not defaults."""
    for name in ("sim_pairs_threshold", "dedup_embedding_cosine"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # and the exact twin IS the all-pairs baseline (sanity: the guard
    # above would be vacuous if nothing produced a nested-loop join)
    assert "BroadcastNestedLoopJoin" in _plan(spark, "sim_pairs_threshold_exact", sf_dir)


def test_shingle_transform_never_reaches_a_scan(spark, sf_dir, monkeypatch):
    """Regression guard for the InferFiltersFromGenerate trap
    (PLANS.md): the shingle-building expression must not be dragged
    into any FileScan's data filters — that would run the whole
    transform (twice) in the single-task pre-shuffle scan stage.  The
    memoized shingle ARRAYS (pre-explode — a post-explode build leaves
    the trap alive inside the build's own plan) keep the scan stages
    expression-free.

    The consumers read the shingles from a checkpoint, so their plans
    hold no scan of ``documents``; the scan lives only in the plans of
    the memoized builds, which the spy on ``session.checkpoint_build``
    captures before they run.  The round-1 order-dependent failure
    was exactly a build plan the consumer's cold explain did not
    show."""
    from tests.conftest import drop_memo, on_memo_build

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")

    def explain(df):
        return df._jdf.queryExecution().explainString(mode)

    builds = []
    on_memo_build(monkeypatch, lambda frame: builds.append(explain(frame)))
    for name in ("pipe_decontaminate", "dedup_ngram_jaccard", "dedup_ngram_jaccard_dfcut"):
        # pipe_decontaminate's plan memo would skip its builds
        drop_memo("persist", "frame")
        builds.clear()
        consumer = explain(all_queries()[name].fn(spark, sf_dir))
        scanned_documents = False
        for plan in (consumer, *builds):
            for line in plan.splitlines():
                if "FileScan" in line:
                    scanned_documents |= "documents" in line
                    assert "array_distinct" not in line, (name, line[:300])
                    assert "transform(" not in line, (name, line[:300])
        assert scanned_documents, name


def test_warm_minhash_call_plans_over_the_checkpoint(spark, sf_dir):
    """A warm ``dedup_minhash_lsh`` call starts no job while building
    its plan, plans over the checkpointed bucket frame (one
    ``LogicalRDD`` leaf, none of the md5 / ``zip_with`` signature
    lineage) and collects in 3 jobs."""
    fn = all_queries()["dedup_minhash_lsh"].fn
    fn(spark, sf_dir).collect()  # builds the memoized buckets
    df, build_jobs = jobs_of(spark, lambda: fn(spark, sf_dir))
    assert build_jobs == 0
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "LogicalRDD" in plan, plan
    assert "zip_with" not in plan and "md5" not in plan, plan
    _, collect_jobs = jobs_of(spark, df.collect)
    assert collect_jobs == 3


def test_warm_lsh_call_starts_no_job(spark, sf_dir):
    """A warm ``sim_lsh_topk`` call builds its plan without starting a
    job: ``hyperplane_buckets`` probes the embedding width once per
    session and corpus, not on every call."""
    fn = all_queries()["sim_lsh_topk"].fn
    fn(spark, sf_dir).collect()
    _, build_jobs = jobs_of(spark, lambda: fn(spark, sf_dir))
    assert build_jobs == 0


@pytest.mark.parametrize(
    ("name", "two_loop_jobs"),
    [
        ("dedup_cluster_components", 19),
        ("dedup_cluster_components_lsstar", 31),
        ("pipe_dedup_cascade", 32),
    ],
)
def test_components_warm_jobs_below_two_loop_counts(spark, sf_dir, name, two_loop_jobs):
    """Warm ``fn()`` + ``collect`` of each connected-components
    operator starts fewer jobs than when min-label propagation and
    large-star/small-star were separate loops, each paying a driver
    collect per round for its convergence test.  The pins are the
    two-loop counts at sf0.001 and sf0.01 (``pipe_dedup_cascade`` ran
    32 or 33; the lower one is pinned); at sf0.01 the one loop runs
    14, 14 and 28."""
    fn = all_queries()[name].fn
    fn(spark, sf_dir).collect()
    _, jobs = jobs_of(spark, lambda: fn(spark, sf_dir).collect())
    assert jobs < two_loop_jobs


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """The 100 TB semi-join-reduction lever: when a shuffle join's
    build side is selective, Spark's InjectRuntimeFilter rewrites the
    probe side with might_contain(bloom_filter_agg(...)) so the fact
    scan discards non-joining rows BEFORE the shuffle.  Local testdata
    sits under the default 10 GB application-side threshold, so the
    test scopes the thresholds down (and disables broadcast to force
    the shuffle-join shape the rule targets), then restores every
    conf."""
    import pyspark.sql.functions as F

    from pandas_redshift_spark.session import Tables, scoped_confs

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    with scoped_confs(spark, confs):
        t = Tables(spark, sf_dir)
        sel = t.part.filter(F.col("p_size") == 1).select("p_partkey")
        j = (
            t.lineitem.join(sel, t.lineitem.l_partkey == sel.p_partkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("q"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized


def test_pq_rerank_norm_computed_above_the_join(spark, sf_dir):
    """sim_pq_adc_topk's exact re-rank normalizes only the joined
    shortlist rows: no norm (SQRT) is folded on the raw corpus side of
    the re-rank join, where a pushed-down ``nrm > 0`` filter would put
    it, and the norm is computed above that join."""
    df = all_queries()["sim_pq_adc_topk"].fn(spark, sf_dir)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    # the re-rank join is the plan's topmost join; its left child is
    # the raw corpus, printed down to the right child's "+-" marker
    top = next(i for i, ln in enumerate(lines) if "Join Inner" in ln)
    child_col = lines[top].index("+-") + 3
    right = next(
        i for i in range(top + 1, len(lines)) if lines[i][child_col:].startswith("+-")
    )
    assert any("SQRT" in ln for ln in lines[:top]), lines[:top]
    raw_side = lines[top + 1 : right]
    assert not any("SQRT" in ln for ln in raw_side), raw_side


def test_banded_range_join_avoids_nested_loop(spark, sf_dir):
    """join_range_banded states a pure BETWEEN range join but must
    execute as a hash equi-join on the band bucket — no nested-loop /
    cartesian node anywhere in the plan."""
    plan = _plan(spark, "join_range_banded", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_zorder_layout_bounds_every_sortkey_column(spark, sf_dir, tmp_path):
    """Interleaved-sortkey (Z-order) layout evidence: under a
    lexicographic sort the second sortkey column spans its FULL range
    in every file; under the Morton interleave both columns' per-file
    min/max spans are bounded — the multi-column zone-map property the
    reference's `interleaved sortkey` promises."""
    import glob as _glob

    import pyarrow.parquet as _pq
    import pyspark.sql.functions as F

    from pandas_redshift_spark.plans.layout import zorder_key
    from pandas_redshift_spark.session import Tables

    li = Tables(spark, sf_dir).lineitem.select("l_partkey", "l_suppkey")

    def avg_span(path, col):
        spans = []
        for f in _glob.glob(str(path) + "/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    lex, zed = str(tmp_path / "lex"), str(tmp_path / "zed")
    li.repartitionByRange(16, "l_partkey", "l_suppkey").sortWithinPartitions(
        "l_partkey", "l_suppkey"
    ).write.mode("overwrite").parquet(lex)
    z = zorder_key(li, ["l_partkey", "l_suppkey"])
    li.withColumn("__z", z).repartitionByRange(16, "__z").sortWithinPartitions(
        "__z"
    ).drop("__z").write.mode("overwrite").parquet(zed)

    full_supp = li.agg(
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("r")
    ).first()["r"]
    full_part = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("r")
    ).first()["r"]
    # second column: z-order must beat lexicographic (which is ~full range)
    assert avg_span(zed, "l_suppkey") < avg_span(lex, "l_suppkey")
    assert avg_span(zed, "l_suppkey") < 0.5 * full_supp
    # leading column: z-order stays bounded well under the full range
    assert avg_span(zed, "l_partkey") < 0.75 * full_part


# Every registered query is plan-audited (plans/audit.py).  A finding
# must be fixed or waived HERE with the scale justification; a waiver
# that stops firing fails the test too (no stale waivers).
_AUDIT_WAIVERS = {
    # -- single-partition exchanges on tiny, already-reduced frames --
    "agg_global": {"single_part": "global scalar agg: final 1-row exchange after distributed partials"},
    "agg_hll_sketch_union": {"single_part": "union of per-group sketches into one row — sketch bytes, not data"},
    "events_funnel": {"single_part": "step counts: 3-row frame ordered globally"},
    "events_ordered_funnel": {"single_part": "step counts: 3-row frame ordered globally"},
    "events_sessionized_funnel": {"single_part": "global 1-row final count over the per-session aggregate"},
    "events_rfm_segmentation": {
        "single_part": "exact ntile + corpus-max window over the per-user aggregate (|users| rows); approx_percentile cuts at 1e9 users (docstring)",
    },
    "join_cross": {"bnlj": "the operator IS a cross join (5-row dim side, broadcast)"},
    "agg_calendar_gap_fill": {"single_part": "1-row min/max bounds aggregate that seeds the day spine"},
    "agg_market_basket": {
        "single_part": "global order count: 1-row aggregate",
        "bnlj": "1-row order-total broadcast cross join",
    },
    "embed_bias_outliers": {
        "single_part": "1-row corpus mean/std aggregate",
        "bnlj": "1-row stats frame broadcast cross join; corpus never reshuffles",
    },
    "profile_fk_integrity": {
        "single_part": "per-edge 1-row orphan-count aggregates, unioned into the report"
    },
    "profile_events_quality": {
        "single_part": "single-scan rule report: 1-row conditional-sum aggregate"
    },
    "pipe_domain_reweight": {"single_part": "corpus totals: 1-row frame", "bnlj": "1-row totals broadcast cross join"},
    "pipe_feature_binning": {"single_part": "1-row decile-cuts aggregate", "bnlj": "1-row cuts broadcast cross join"},
    "pipe_mix_sample": {"single_part": "per-cell targets: |lang x source| rows", "bnlj": "tiny target frame broadcast"},
    "pipe_dedup_cascade": {
        "single_part": "funnel output: four 1-row stage-count aggregates",
        "bnlj": "1-row stage counts broadcast cross-joined into the funnel frame",
    },
    "sink_zorder_layout": {"single_part": "final global 1-row aggregate over the filtered read-back"},
    "source_schema_evolution": {"single_part": "final global 1-row aggregate"},
    "subquery_not_in_nulls": {"single_part": "NOT IN null-probe: 1-row existence aggregate"},
    "subquery_scalar": {"single_part": "uncorrelated scalar subquery: 1-row aggregate broadcast"},
    "text_bigram_collocations": {"single_part": "corpus bigram total: 1-row frame", "bnlj": "1-row total broadcast cross join"},
    "text_tfidf_top_terms": {"single_part": "corpus doc count: 1-row frame", "bnlj": "1-row count broadcast cross join"},
    "text_unigram_logprob": {"single_part": "model totals + tail cutoff: two 1-row aggregates", "bnlj": "1-row totals/cutoff broadcast cross joins"},
    "tpch_q11_important_stock": {"single_part": "global threshold window over the |parts|-row aggregate — buys ONE fact scan (the 1-row-agg + broadcast-theta shape duplicated the partval subtree)"},
    "tpch_q14_promo_effect": {"single_part": "global scalar agg final step"},
    "tpch_q15_top_supplier": {"single_part": "global max window over the supplier-level aggregate (|suppliers| rows) — buys ONE fact scan instead of the scalar-agg shape's duplicated revenue subtree"},
    "tpch_q17_small_quantity_revenue": {"single_part": "global scalar agg final step"},
    "tpch_q19_discounted_revenue": {"single_part": "global scalar agg final step"},
    "tpch_q22_global_sales_opportunity": {"single_part": "global avg balance: 1-row agg", "bnlj": "1-row avg broadcast theta join"},
    "tpch_q6_revenue_forecast": {"single_part": "global scalar agg final step"},
    "window_percent_rank_global": {"single_part": "PERCENT_RANK() OVER () parity op — documented global window"},
    "window_trailing_30d": {"single_part": "global time-range window over the DAILY aggregate (|days| rows), raw orders never enter the window"},
    "window_moving_median": {"single_part": "global 7-row frame window over the DAILY aggregate (|days| rows)"},
    "events_peak_concurrency": {"single_part": "global sweep over session BOUNDARIES (2 rows/session), not raw events"},
    "events_experiment_abtest": {"single_part": "experiment readout: 1-row conditional-sum fold over the per-user aggregate"},
    "window_revenue_share": {"single_part": "percent-of-total: share of a 1-row exact total"},
    # -- Expand nodes that ARE the operator's semantics --
    "agg_cube": {"expand": "CUBE = expand over grouping-set combinations (2^k groups)"},
    "agg_rollup": {"expand": "ROLLUP = expand over the grouping hierarchy"},
    "agg_grouping_sets": {"expand": "GROUPING SETS = expand per requested set"},
    "agg_grouping_id_rollup": {"expand": "ROLLUP + GROUPING() id — same expand"},
    "events_multi_grain_rollup": {"expand": "multi-grain rollup = grouping sets over time buckets (one scan instead of per-grain scans)"},
    "events_sliding_window": {"expand": "slide semantics: every event belongs to width/slide overlapping windows — inherent fan-out of 2"},
    # -- BNLJ with a broadcast side of <= 10 rows (query/total sets) --
    "sim_bruteforce_topk": {"bnlj": "10 broadcast query vectors; corpus streams one pass (exact baseline by design)"},
    "sim_knn_classify": {"bnlj": "10 broadcast query vectors"},
    "sim_ivf_topk": {"bnlj": "10 broadcast query vectors vs centroid table"},
    "sim_pq_adc_topk": {"bnlj": "10 broadcast query LUTs vs the 8x-smaller codes frame; 64xQ-row shortlist broadcast back for exact re-rank"},
    # dedup_semantic_ivf lost its bnlj waiver in r7: the two-level
    # assignment is a narrow literal-fold projection (no join at all),
    # and the pair stage self-joins on the equi cell key.
    "pipe_decontaminate_semantic": {"bnlj": "tiny benchmark vector set broadcast against the streamed corpus — the decontamination shape, corpus never shuffles"},
    # -- deliberately-quadratic oracle baselines (LSH twins are the defaults) --
    "dedup_embedding_cosine_exact": {"bnlj": "O(n^2) ORACLE BASELINE; registered default is the LSH-bucketed twin"},
    "sim_pairs_threshold_exact": {"bnlj": "O(n^2) ORACLE BASELINE; registered default is the LSH-bucketed twin"},
    # -- Python-eval surface: the documented multimodal/stateful seam --
    "multimodal_features": {"python_eval": "mapInPandas byte-level featurizer — Arrow-batched"},
    "multimodal_frame_sample": {"python_eval": "mapInPandas frame fan-out — Arrow-batched"},
    "multimodal_resize": {"python_eval": "mapInPandas nearest-neighbor resize seam — Arrow-batched, oracle-checked"},
    "multimodal_decode": {"python_eval": "mapInPandas REAL BMP/WAV encode+parse stages — Arrow-batched, closed-form oracle"},
    "multimodal_phash_dedup": {"python_eval": "mapInPandas REAL BMP parse + integer aHash — Arrow-batched, closed-form oracle; hash grouping is JVM-side"},
    "multimodal_phash_near_dup": {"python_eval": "same Arrow-batched hasher; banding, candidate join and Hamming fold are JVM-side"},
    # -- §2.B UDF-row exemplars (r9): the Python node IS the exhibit --
    "udf_scalar_pandas_score": {"python_eval": "scalar pandas_udf exemplar — ArrowEvalPython is the documented mechanics being demonstrated (module docstring says use F.sqrt in production)"},
    "udf_grouped_agg_weighted_mean": {"python_eval": "grouped-agg pandas_udf exemplar — AggregateInPandas on exact integer cents (audit rule extended r9 to see this node)"},
    "udf_grouped_map_robust_zscore": {"python_eval": "applyInPandas exemplar — FlatMapGroupsInPandas, 1-row summary per group"},
}


def test_kmeans_seed_selection_has_no_single_partition_sort(spark, sf_dir, monkeypatch):
    """The k-means trainer's seed draw must plan as
    TakeOrderedAndProject (per-partition top-K + driver merge), not
    the r6 global-window row_number — an Exchange SinglePartition of
    the whole training sample (VERDICT r6 item 3).  Audited on the
    seed frames the trainer really draws, for both its flat and its
    product-quantization call, so the shape can't regress."""
    import pandas_redshift_spark.operators.similarity as sim
    from pandas_redshift_spark.plans.audit import audit_plan
    from pandas_redshift_spark.session import Tables

    drawn = []
    real = sim._seed_frame

    def spy(samp, k_cells):
        drawn.append(real(samp, k_cells))
        return drawn[-1]

    monkeypatch.setattr(sim, "_seed_frame", spy)
    emb = sim._emb_double(Tables(spark, sf_dir)).select("vec_id", "emb_n")
    key = ("seed_plan_audit", sf_dir)
    sim.train_kmeans_centroid_values(spark, emb, 16, key, iters=1)
    sim.train_pq_books(spark, emb, sim.PQ_M, sim.PQ_SUB, sim.PQ_CODES, key, iters=1)
    assert len(drawn) == 2
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    for seeds in drawn:
        assert not [f for f in audit_plan(seeds) if f.rule == "single_part"]
        plan = seeds._jdf.queryExecution().explainString(mode)
        assert "TakeOrderedAndProject" in plan, plan


def test_every_registered_plan_passes_audit(spark, sf_dir, monkeypatch):
    """Every operator's plan, and the plan of every memoized build it
    makes, passes the audit or is waived.  A memoized frame is a
    checkpoint, so the consumer's plan no longer shows its build: the
    spy on ``session.checkpoint_build`` audits each build before it is
    checkpointed and counts its findings against the operator that
    made it.  The persist memo is dropped before every operator, so
    each consumer builds its frames itself: both phash operators'
    ``mapInPandas`` lives only in ``_phash_frame``'s build."""
    from pandas_redshift_spark.operators import all_queries
    from pandas_redshift_spark.plans.audit import audit_plan
    from tests.conftest import drop_memo, on_memo_build

    build_findings = []
    on_memo_build(monkeypatch, lambda frame: build_findings.extend(audit_plan(frame)))
    # a plan memo from an earlier test's call would return its plan
    # without running the builds under it; and a frame an earlier test
    # cached would render under InMemoryRelation in a matching plan
    drop_memo("frame")
    spark.catalog.clearCache()

    unwaived, fired = [], set()
    for name, spec in sorted(all_queries().items()):
        waivers = _AUDIT_WAIVERS.get(name, {})
        drop_memo("persist")
        build_findings.clear()
        df = spec.fn(spark, sf_dir)
        for f in audit_plan(df) + build_findings:
            if f.rule in waivers:
                fired.add((name, f.rule))
            else:
                unwaived.append(f"{name}: {f.rule}: {f.detail}")
    assert not unwaived, "\n".join(unwaived)
    stale = {
        (n, r) for n, ws in _AUDIT_WAIVERS.items() for r in ws
    } - fired
    assert not stale, f"stale waivers (finding no longer fires): {sorted(stale)}"


def test_no_registered_query_returns_nonscalar_columns(spark, sf_dir):
    """Driver-canonicalizer contract (round-2 postmortem): the
    external driver hash-compares results by sorting pandas object
    columns, which raises ``unhashable type: numpy.ndarray`` on
    array/map/struct/binary outputs — the ONLY driver ERR class this
    repo has ever produced.  Every registered query must therefore
    project scalar columns only (stringify arrays before returning,
    as dedup_cluster_components does for ``members``)."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    offenders = []
    for name, spec in sorted(all_queries().items()):
        df = spec.fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders
