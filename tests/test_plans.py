"""Physical-plan shape audits: the properties that make queries survive
a 100x scale-up, asserted mechanically so a plan regression fails CI
like a wrong answer would.

Checks: predicate pushdown reaches the parquet scan, column pruning
shrinks ReadSchema, dimension joins broadcast (never nested-loop over
big sides), the bucketed interval join stays an equi-join, and top-k
rank windows get the WindowGroupLimit pushdown."""

from pyspark.sql import functions as F

from datas_spark.io.sources import read_table


# the audit machinery lives in the engine package (datas_spark.plans)
# so pipelines can reuse the same gates; tests consume it from there
from datas_spark.plans import global_window_violations  # noqa: E402,F401
from datas_spark.plans import plan_text as _plan  # noqa: E402


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    plan = _plan(ev.select("event_id"))
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_column_pruning_shrinks_read_schema(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    plan = _plan(docs)
    # only the projected columns reach the scan — never the text column
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_dimension_join_broadcasts(spark, sf_dir):
    from datas_spark.registry import QUERIES

    plan = _plan(QUERIES["order_totals_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from datas_spark.registry import QUERIES

    plan = _plan(QUERIES["events_value_bands"](spark, sf_dir))
    # the whole point of the bucketed encoding: the range predicate
    # becomes an equi-join on the bucket id
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_no_cross_product(spark, sf_dir):
    from datas_spark.registry import QUERIES

    plan = _plan(QUERIES["events_asof_click"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the salted variant crossJoins ONE broadcast row (the lazy ts
    # bounds) — a 1-row BroadcastNestedLoopJoin is the correct plan;
    # what must never appear is an unbroadcast cartesian product
    salted = _plan(QUERIES["events_asof_click_salted"](spark, sf_dir))
    assert "CartesianProduct" not in salted


def test_topk_rank_windows_get_group_limit_pushdown(spark, sf_dir):
    from datas_spark.registry import QUERIES

    # rank<=k filters over row_number windows should push into the sort
    # (WindowGroupLimit, Spark 3.5+) — each partition keeps only k rows
    # before the final window pass
    for name in ("tfidf_top_terms", "cosine_topk"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "WindowGroupLimit" in plan


def test_exact_dedup_aggregates_map_side(spark, sf_dir):
    from datas_spark.registry import QUERIES

    plan = _plan(QUERIES["exact_dedup"](spark, sf_dir))
    # min_by survivor election must PARTIAL-aggregate map-side (the
    # shuffle then carries one candidate per (fingerprint, task)), and
    # never be a window over every row
    assert "partial_min_by" in plan
    assert "Window" not in plan


def test_tpch_shapes_broadcast_dims_and_push_dates(spark, sf_dir):
    from datas_spark.registry import QUERIES

    plan = _plan(QUERIES["regional_revenue"](spark, sf_dir))
    # region/nation dimension chain broadcasts; no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the order-date window is pushed into the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    q1 = _plan(QUERIES["pricing_summary"](spark, sf_dir))
    # shipdate predicate reaches the lineitem scan; partial agg map-side
    assert "LessThanOrEqual(l_shipdate" in q1
    assert "partial_sum" in q1 or "HashAggregate" in q1
    q3 = _plan(QUERIES["top_unshipped_orders"](spark, sf_dir))
    # top-k runs as TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in q3


def test_all_registered_queries_avoid_scale_antipatterns(spark, sf_dir):
    """Sweep EVERY registered query's physical plan for the three
    single-node scale killers: an unbroadcast cartesian product, a
    nested-loop join that isn't the documented 1-row-bounds crossJoin
    pattern, and a partition-less window ranking raw rows. This is the
    regression gate that keeps new queries honest."""
    import __spark_entry__ as E

    # BroadcastNestedLoopJoin is legitimate ONLY against a broadcast
    # literal-sized frame (1-row min/max bounds, tiny query sets,
    # centroid tables). Each entry documents which tiny frame crosses.
    bnlj_ok = {
        "events_asof_click_salted",   # 1-row lazy ts bounds
        "cosine_topk",                     # broadcast query set
        "ivf_topk", "ivf_topk_learned",    # centroids + query set
        "near_dup_pagerank",               # 1-row node count (dangling mass)
        "standardize_embeddings",          # 1-row packed per-dim mu/sd
        "tfidf_top_terms",                 # 1-row corpus doc count (idf)
        "ties_merge", "ties_merge_global", "ties_merge_minority",  # 1-row vote totals
        "events_key_skew",                 # 1-row count total (share_pct)
        "events_funnel",                   # 1-row per-stage count frames
        "bm25_topk",                       # 1-row corpus constants (N, avgdl)
        "corpus_term_drift",               # 1-row totals/vocab constants
        "idle_customer_balance",           # 1-row (tot, cnt) balance scalar
        "hybrid_search_rrf",               # BM25 constants + 1-row query vec
        "hard_negative_mining",            # broadcast anchor set
        "label_rebalance",                 # 1-row majority-count target
        "events_value_hist_quantiles",     # 3-row quantile-target literals
        "events_type_hour_chi2",           # 1-row grand-total scalar
        "revenue_concentration",           # 1-row percentile threshold
        "important_part_value",            # 1-row scoped-total scalar (Q11)
        "sq8_topk",                        # 1-row amax + broadcast query set
        "customer_rfm_segments",           # 1-row quartile thresholds
        "region_share_rollup",             # 1-row global-total scalar
        "events_timed_funnel",             # 1-row per-stage count frames
        "corpus_mixture_stats",            # 1-row token-total scalar
        "corpus_mixture_entropy",          # 1-row token-total scalar
        "winsorized_doc_lengths",          # 1-row percentile thresholds
        "cluster_cohesion",                # 1-row global-total scalar
        "nearest_centroid_labels",         # packed broadcast centroid row
        "dsir_importance_weights",         # 1-row smoothing scalars
        "bigram_pmi_top",                  # 1-row bigram-total scalar
        "value_band_woe",                  # 1-row quartile thresholds + totals
        "composite_quality_index",         # 1-row decile cut points
        "benford_first_digit",             # 1-row digit-total scalar
        "bootstrap_mean_ci",               # 1-row point-estimate scalar
        "source_keyness_terms",            # 1-row grand-total token count
        "events_value_psi",                # 1-row decile-cut + total scalars
        "hll_type_overlap",                # <=|groups|^2-row pair fan vs registers
        "lang_agreement_kappa",            # 1-row chance-agreement scalar
        "negative_sample_views",           # 1-row item-count scalar
        "segment_target_encoding",         # 1-row global-prior scalar
        "bm25_rerank_proxy",               # 1-row corpus-constant scalars (BM25)
        "churn_survival_curve",            # 1-row collected day-array scalar
        "proxy_calibration_ece",           # 1-row bin-total scalar
        "value_lift_table",                # 1-row base-rate total scalar
        "source_length_ks",                # 1-row grand-total + grid fan scalars
        "unimax_source_allocation",        # 1-row (small_sum, n_large) scalar
        "unimax_mixture_sample",           # same scalar via the allocation subplan
        # round 6
        "pq_topk",                         # broadcast per-query ADC LUTs (|q| rows)
        "ivfpq_topk",                      # same LUTs + broadcast probe/cell frames
        "ivf_recall_report",               # cosine_topk's broadcast query set
        "matryoshka_recall",               # two cosine_topk query-set broadcasts
        "lang_source_mi",                  # 1-row grand-total scalar
        "customer_t_closeness",            # 1-row quartile thresholds + grid×bucket scalars
        "entity_resolution_eval",          # 1-row metrics agg × 1-row truth-count scalar
        "scd2_from_snapshots",             # key frame × broadcast TINY snapshot list (one row per export)
        # round 7
        "unigram_lm_score",                # 1-row corpus token-total scalar
        "doremi_domain_weights",           # same total + 1-row (k, tot) normalization scalar
        "layout_skipping_whatif",          # 1-row lazy n_rows_matching scalar (ADVICE r6: no call-time action)
        "hilbert_vs_zorder_skipping",      # same lazy selectivity scalar
        "jl_recall_report",                # cosine_topk's broadcast 3-query set (both chains)
        # round 8
        "simhash_near_dup",                # 1-row lazy corpus count (auto bucket cap)
        "simhash_cap_agreement",           # 1-row Venn-count + hot-bucket scalars
        "experiment_cuped_readout",        # 1-row pooled-moment scalars (theta, mx)
        "conformal_coverage_audit",        # 1-row ratio/k-rank/q-hat scalars
        "dsir_ess_report",                 # dsir's 1-row smoothing scalars (inherited subplan)
        "experiment_hte_segments",         # 1-row packed pooled/Q scalar frame
        "ql_dirichlet_topk",               # 1-row corpus constants (sum_dl, |q|) — the bm25 shape
        "lexical_rrf_fusion",              # both retrievers' 1-row corpus constants
        # round 9
        "self_bleu",                       # 1-row pooled effective-ref-length scalar
        "rm3_expanded_topk",               # QL corpus constants + 1-row softmax/weight scalars (both passes)
        "annotator_alpha",                 # 1-row coincidence scalars (n, D_o) x 1-row margin scalar
        # round 10
        "ivf_topk_mllib",                  # centroids + query set (same as ivf_topk_learned)
        "maxsim_rerank_topk",              # BM25 1-row corpus constants (recall stage)
        "maxsim_recall_report",            # same constants + 1-row hit/total count scalars
        "rougeL_novel_instructions",       # 1-row packed broadcast instruction pool
        # round 11
        "pq_topk_learned",                 # broadcast per-query ADC LUTs + query set (the pq_topk shape)
        "ivfpq_topk_learned",              # same LUTs + broadcast coarse-cell centroids + probe frame
        "pq_recall_learned_vs_fixed",      # both PQ chains' broadcast LUTs + cosine_topk query set
        "maxsim_recall_sampled",           # sample-local BM25 constants + 1-row hit/total scalars
        "data_constrained_mix",            # 1-row corpus-total budget + 1-row (small_sum, n_large) scalar — the unimax_source_allocation shape
    }
    from sweep_utils import sweep_sample

    failures = []
    qs = E.queries()
    for name in sweep_sample(sorted(qs)):
        fn = qs[name]
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # a query that can't even plan is a bug
            failures.append(f"{name}: planning raised {e!r}")
            continue
        plan = _plan(df)
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        bad = global_window_violations(df)
        if bad:
            failures.append(f"{name}: partition-less {bad} over raw rows")
    assert not failures, "\n".join(failures)


def test_row_id_mint_has_no_single_reducer_window(spark, sf_dir):
    """with_row_id / row_range must never rank raw rows through a
    partition-less window (one reducer sorts the whole table). The
    range-exchange construction's only ordered single-task structure is
    the |partitions|-row offset aggregate."""
    from datas_spark.io.sources import row_range, with_row_id

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    minted = with_row_id(docs, "doc_id")
    assert global_window_violations(minted) == []
    assert "row_number" not in _plan(minted)
    ranged = row_range(docs, 100, 200, order_by="doc_id")
    assert global_window_violations(ranged) == []
    assert "row_number" not in _plan(ranged)
    # output contract unchanged: dense 0-based ids in order
    got = [r.row_id for r in minted.orderBy("doc_id").limit(5).collect()]
    assert got == [0, 1, 2, 3, 4]


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """The 100 TB layout contract: artifacts written partitioned by a
    filter key are read with PartitionFilters — pruned at the file
    listing, rows of other partitions never scanned."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "by_lang")
    docs.write.partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = _plan(back.select("doc_id"))
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "lang" in pf
    # the lang predicate prunes partitions; it must NOT appear as a
    # post-scan data filter over row contents
    assert back.count() == docs.where("lang = 'en'").count()


def test_plans_package_utilities(spark, sf_dir):
    """The engine-side plan audit API (datas_spark.plans) reports scan
    pushdown, shuffle and broadcast counts on a real query."""
    from datas_spark.plans import (
        broadcast_join_count,
        scan_info,
        shuffle_count,
    )
    from datas_spark.registry import QUERIES

    df = QUERIES["order_totals_by_nation"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) >= 1  # the groupBy
    scans = scan_info(df)
    assert any("read_schema" in s for s in scans)
    ev = read_table(spark, sf_dir, "events").where(F.col("event_type") == "view")
    info = scan_info(ev.select("event_id"))
    assert any("EqualTo(event_type,view)" in s.get("pushed_filters", "") for s in info)
