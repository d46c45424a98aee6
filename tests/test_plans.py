"""Physical-plan assertions: the scale-readiness checks the mandate calls
out — pushdown reaches the scan, dims broadcast, top-k avoids global sorts,
aggregates are partial+final. These guard the *plan shape*, which is what
survives the 1000-executor scale-up."""

from __future__ import annotations

from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.registry import all_queries
from lagom_kinesis_spark.session import scoped_confs
from tests.conftest import SF_DIR

QS = all_queries()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushed_to_scan(spark):
    plan = _plan(QS["scan_parquet_pushdown"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # Column pruning: the scan must read only the 4 referenced columns.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema and "l_quantity" not in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = _plan(QS["join_broadcast_dims"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(QS["topk_limit"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_keyset_seek_prunes_scan_and_has_no_offset(spark):
    """The seek page must be depth-independent: the cursor predicate
    reaches the parquet scan as pushed filters (scan-prune, not
    post-scan buffer) and the merge is TakeOrderedAndProject with
    limit=20 and NO offset — the structural contrast to
    sort_limit_offset's top-(offset+limit) buffer."""
    plan = _plan(QS["sort_keyset_seek"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # The formatted detail block renders the node as
    #   Arguments: <limit>, [sort order], [projection][, <offset>]
    # (sort_limit_offset's line ends ", 30") — assert the seek node's
    # Arguments line carries limit=20 and NO trailing offset arg, on the
    # node's own line rather than a whole-plan substring that another
    # node could satisfy (review r11).
    lines = plan.splitlines()
    args = []
    for i, ln in enumerate(lines):
        if not ln.strip().endswith("TakeOrderedAndProject"):
            continue  # detail header "(N) TakeOrderedAndProject"
        for follow in lines[i + 1 : i + 6]:  # Input/Arguments detail block
            if follow.strip().startswith("Arguments:"):
                args.append(follow.strip())
                break
    assert args, plan
    for a in args:
        assert a.startswith("Arguments: 20,") and a.endswith("]"), a
    pushed = [ln for ln in lines if "PushedFilters" in ln]
    assert pushed and "LessThan(o_totalprice" in pushed[0], pushed


def test_text_top_tokens_uses_take_ordered(spark):
    """The vocabulary top-50 must be per-partition heaps + driver merge
    (TakeOrderedAndProject), never a single-partition global window over
    the whole vocabulary — the 100×-scale killer flagged in round 1."""
    plan = _plan(QS["text_top_tokens"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_sim_topk_cosine_has_no_cartesian(spark):
    """Brute-force cosine must be a map-only corpus scan (mapInPandas
    against the broadcast query matrix) — no crossJoin materializing
    |Q|×|corpus| rows before scoring."""
    plan = _plan(QS["sim_topk_cosine"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "MapInPandas" in plan


def test_aggregate_is_partial_then_final(spark):
    plan = _plan(QS["agg_pricing_summary"].fn(spark, SF_DIR))
    # Two HashAggregate nodes (partial + final) around one exchange.
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_count_distinct_bitmap_twin_has_no_expand(spark):
    """The bitmap twin's whole point is deleting the Expand that
    replicates every row N+1 times into the shuffle; its declared-surface
    twin keeps one (the reference plan). One column-pruned scan per
    distinct leg (two legs), n_orders riding the custkey leg."""
    plan = _plan(QS["agg_count_distinct_multi_bitmap"].fn(spark, SF_DIR))
    assert "Expand" not in plan
    # formatted explain prints each node twice (tree + details): 2 per scan
    assert plan.count("Scan parquet") == 4
    twin = _plan(QS["agg_count_distinct_multi"].fn(spark, SF_DIR))
    assert "Expand" in twin


def test_semi_join_planned_as_semi(spark):
    plan = _plan(QS["join_left_semi"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_source_blocklist_is_broadcast_anti_join(spark):
    """The blocklist side is post-aggregation (|sources| rows) and must
    broadcast as a LEFT ANTI probe — a shuffled anti join here would
    shuffle the whole corpus on a low-cardinality string key."""
    plan = _plan(QS["pipeline_source_blocklist"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan
    anti_lines = [
        ln for ln in plan.splitlines() if "LeftAnti" in ln
    ]
    assert any("Broadcast" in ln for ln in anti_lines), anti_lines


def test_analytics_dims_broadcast_no_nested_loop(spark):
    """The TPC-H-adapted suite must broadcast every dimension and keep the
    single fact-fact shuffle: no SortMergeJoin against nation/supplier/
    part, no nested-loop anywhere."""
    for name in ("q_volume_shipping", "q_market_share", "q_product_type_profit"):
        plan = _plan(QS[name].fn(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "BroadcastNestedLoop" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_top_supplier_has_no_global_window(spark):
    """Q15's global max must reduce+broadcast, not sort or window the
    per-supplier aggregate into one partition."""
    plan = _plan(QS["q_top_supplier"].fn(spark, SF_DIR))
    assert "Window" not in plan
    assert "GlobalLimit" not in plan or "TakeOrderedAndProject" in plan


def test_decontaminate_benchmark_side_broadcasts(spark):
    """The benchmark n-gram set must be the broadcast side; the corpus
    side must never shuffle on the n-gram key."""
    plan = _plan(QS["decontaminate_ngram_overlap"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_covers_flagship(spark):
    df = QS["flagship_revenue_by_nation"].fn(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen subtrees" in plan
    assert "WholeStageCodegen" in plan


def test_bucketed_join_query_is_exchange_free_to_join(spark):
    """The registered bucketed co-located join must read both sides from
    their buckets straight into the SortMergeJoin — no Exchange below the
    join (the only allowed shuffle is the one for the final small groupBy
    on the non-bucket key)."""
    plan = _plan(QS["join_bucketed_colocated"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in plan
    # Neither side may shuffle on the join key — buckets already co-locate
    # it. (The final groupBy on o_orderpriority is the one allowed Exchange.)
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan


def test_ts_rollup_reaggregates_partials(spark):
    """Hierarchical rollup: two aggregate levels, and the coarse level's
    input is the fine aggregate (not a second fact scan)."""
    plan = _plan(QS["ts_hierarchical_rollup"].fn(spark, SF_DIR))
    import re

    # One numbered operator-detail header per physical scan.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_funnel_windows_share_one_exchange(spark):
    """The 4 MIN-CASE step windows all partition on user_id with no
    ORDER BY — the plan must contain exactly ONE hashpartitioning
    exchange on user_id and no Sort below the windows."""
    plan = _plan(QS["behavior_funnel_conversion"].fn(spark, SF_DIR))
    # "formatted" mode emits the partitioning on the node's Arguments line.
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert plan.count("Window (") == 4  # tree lines only; details say "(N) Window"


def test_pagerank_has_no_cartesian(spark):
    """Each PageRank iteration is ranks ⋈ edges (equi-join) + dst agg —
    the only nested-loop allowed is the 1-row vertex-count broadcast."""
    plan = _plan(QS["graph_pagerank"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_prefix_filter_join_is_equi_join(spark):
    """Prefix-filter set-similarity join must generate candidates via a
    token equi-join — never the all-pairs theta-join its oracle uses."""
    plan = _plan(QS["dedup_prefix_filter_join"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_running_distinct_window_input_is_day_cardinality(spark):
    """The only ordered window runs AFTER both hash aggregates — the
    plan must show the single-partition window fed by an aggregate,
    never by the raw events scan."""
    plan = _plan(QS["behavior_running_distinct_users"].fn(spark, SF_DIR))
    # a window node exists, and at least two hash aggregates run below it
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 4  # 2 aggs × partial+final


def test_clustered_sorted_reread_pushes_date_band(spark):
    """The re-read over the range-clustered layout must push both date
    bounds to the parquet scan (row-group skipping feeds off these)."""
    plan = _plan(QS["sink_clustered_sorted"].fn(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_partition_pruned_scan_has_partition_filters(spark):
    """The partition-column predicate must become a PartitionFilter
    (planning-time pruning), not a data filter."""
    plan = _plan(QS["scan_partition_pruned"].fn(spark, SF_DIR))
    assert "PartitionFilters: [" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters")[1].split("]")[0]


def test_dynamic_partition_pruning_injects_runtime_filter(spark):
    """The fact scan must carry a dynamicpruningexpression PartitionFilter
    fed from the dim build side — RUNTIME pruning, not a statically folded
    IN list (the dim filter r_name='ASIA' reaches c_nationkey only through
    the nation⋈region data, which Catalyst cannot constant-fold)."""
    plan = _plan(QS["join_dynamic_partition_pruning"].fn(spark, SF_DIR))
    fact_scan = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "c_nationkey" in ln
    ]
    assert fact_scan, f"no partitioned fact scan in plan:\n{plan}"
    assert "dynamicpruning" in fact_scan[0].lower()


def test_bloom_runtime_filter_injects_on_shuffle_join(spark):
    """Spark's runtime row-level filter (the DPP analog for UNpartitioned
    fact columns): a selective dim side builds a bloom_filter_agg, and the
    fact side probes bloom_filter_might_contain BEFORE the shuffle — at
    100 TB this drops non-matching fact rows at the scan instead of
    shuffling them. Enabled by default in Spark 4; only the 10 GB
    application-side floor is lowered here so fixture-scale plans qualify
    (the mechanism, not the threshold, is what scale inherits)."""
    lowered = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, lowered):
        li = load(spark, SF_DIR, "lineitem")
        o = load(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan


def test_minhash_lsh_is_banded_equi_join_not_cartesian(spark):
    """The 100 TB near-dup path must generate candidates via band-bucket
    EQUI-joins (SortMerge/Hash on the bucket key), never an all-pairs
    product — the whole point of banded LSH."""
    plan = _plan(QS["dedup_minhash_lsh"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lsh_cluster_arm_has_no_all_pairs_join(spark):
    """dedup_clusters_lsh's full-scale arm (lsh_verified_pairs → the CC
    operator) must have NO all-pairs join anywhere — the exact theta-join
    arm exists in the same registered plan only as the sampled comparison
    audit. Asserted on the factored arm in isolation so the exact arm's
    (deliberate) nested-loop join can't mask a regression here."""
    from lagom_kinesis_spark.operators.text import shingles, tokens
    from lagom_kinesis_spark.queries.llm_ops import lsh_verified_pairs

    d = load(spark, SF_DIR, "documents").filter(F.col("doc_id") % 2 == 0)
    sub = d.select("doc_id", shingles(tokens("text")).alias("sh")).filter(
        F.size("sh") > 0
    )
    plan = _plan(lsh_verified_pairs(sub, 0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # Every join in the arm (band-bucket self-join + both verify probes)
    # has CORPUS-sized sides; a BroadcastHashJoin anywhere means the
    # static-estimate trap is back (a cached shingle frame's stats come
    # from the compressed parquet scan, so the planner under-estimates by
    # ~100× and the broadcast build OOMs at sf10 — measured r12).
    assert "BroadcastHashJoin" not in plan


def test_ann_lsh_bucket_join_not_cartesian(spark):
    """SRP-LSH ANN: candidates come from the bucket equi-join (query side
    broadcast); the hyperplane projection is a literal-array map expression
    — no per-row hash calls, no product join."""
    plan = _plan(QS["sim_ann_lsh"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "xxhash64" not in plan  # literal hyperplanes, not per-row hashing


def test_simhash_bands_explode_once(spark):
    """SimHash candidate generation explodes 4 band keys from ONE signature
    relation (no per-band union re-aggregating signatures) and joins on the
    band key."""
    plan = _plan(QS["dedup_simhash"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_cms_estimate_joins_broadcast_counter_table(spark):
    """The 4096-cell CMS counter table must broadcast to the probe side;
    no cartesian anywhere in the sketch pipeline."""
    plan = _plan(QS["text_cms_heavy_hitters"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_joins_broadcast_bit_relation(spark):
    """Both sketch joins (bit-relation probe, exact verify) must be
    broadcast; the corpus side must never shuffle on gram or position."""
    plan = _plan(QS["decontaminate_bloom_prefilter"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_aqe_skew_split_applies_to_shuffled_hash_join(spark):
    """The hash_build (shuffle_hash hint) discipline claims AQE's skew
    split still applies to shuffled hash joins — prove it: a join with one
    pathological key and thresholds tuned low enough to trigger on test
    data must show skew=true on the ShuffledHashJoin in the adaptive plan.
    """
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.functions import hash_build

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
        # Pinned so the skew split does not depend on the core count: at
        # 2 shuffle partitions the hot key has no median to be skewed from.
        "spark.sql.shuffle.partitions": "8",
    }
    with scoped_confs(spark, confs):
        # 200k rows on ONE hot key vs a uniform build side.
        probe = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        ).union(
            spark.range(2_000).select(
                (F.col("id") % 40).alias("k"), F.col("id").alias("payload")
            )
        )
        build = spark.range(40).select(
            F.col("id").alias("k"), F.col("id").alias("tag")
        )
        joined = probe.join(hash_build(build), "k")
        # Execute THIS DataFrame (count() would plan a separate query and
        # leave joined's own adaptive plan unfinalized).
        assert len(joined.collect()) == 200_000 + 2_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin(skew=true)" in plan
        assert "AQEShuffleRead coalesced and skewed" in plan


def test_bm25_topk_is_take_ordered_with_filtered_explode(spark):
    """BM25's global top-15 must be TakeOrderedAndProject (partial top-k
    per partition), and the term filter must prune generator output so
    non-query tokens never reach the tf shuffle."""
    import re

    plan = _plan(QS["text_bm25_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # only the 1-row stats NLJ broadcast
    # The term filter must sit IMMEDIATELY above the explode's Generate
    # (i.e. below the tf Exchange): Generate node id N followed by Filter
    # node id N+1 whose condition is the query-term IN list.
    gen_ids = [int(m) for m in re.findall(r"\((\d+)\) Generate", plan)]
    filt_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Filter[^(]*?Condition : \S+ IN \(vector,join,stream\)",
            plan,
            re.S,
        )
    ]
    assert any(f == g + 1 for g in gen_ids for f in filt_ids), (
        gen_ids,
        filt_ids,
    )


def test_jaccard_link_prediction_no_node_cartesian(spark):
    """Candidate pairs must come from the part co-occurrence equi-join —
    a supplier x supplier cartesian would be the classic scale killer."""
    plan = _plan(QS["graph_jaccard_link_prediction"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_weighted_median_single_group_exchange(spark):
    """Both windows and the final agg must ride ONE shuffle on the group
    key (plus the scan): a second Exchange on the same key is waste."""
    import re

    plan = _plan(QS["agg_weighted_median"].fn(spark, SF_DIR))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, exchanges


def test_profile_columns_is_single_scan(spark):
    """All per-column statistics must come from ONE pass over lineitem
    (two Exchanges are inherent: exact count-distinct plans as a
    two-level aggregate)."""
    import re

    plan = _plan(QS["dq_profile_columns"].fn(spark, SF_DIR))
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, scans


def test_scd2_merge_is_all_broadcast_zero_dimension_shuffle(spark):
    """scd2_apply's scale contract: every probe of the dimension is
    map-side. All five joins (close/keep leg, the two changed-reopen
    branches, the new-key anti join, and the scenario's own build) must
    be BroadcastHashJoins with no sort-merge join and no hash exchange —
    the fresh leg's original 'updates LEFT OUTER dimension' spelling
    silently sort-merge-shuffled the whole dimension because neither
    left-outer nor left-anti can broadcast-build the LEFT side. The one
    BroadcastNestedLoopJoin is the optimizer constant-folding the
    scenario's single literal insert row (1x1 by construction)."""
    import re

    plan = _plan(QS["merge_scd2"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    # Exactly ONE NLJ (the whitelisting 'cross' tag disables audit_plans'
    # NLJ check for this query, so cap it here: a dropped join condition
    # anywhere else must not hide behind the known bounded one). The
    # formatted explain prints each node twice — count numbered nodes.
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_ann_topk_windows_get_partial_group_limit(spark):
    """The ANN re-rank pattern (row_number over q_id, filter rn <= k)
    must plan a PARTIAL WindowGroupLimit below the exchange — each map
    task pre-limits to k rows per query, so the shuffle carries at most
    k rows per (task, query) instead of the full candidate stream into
    one reducer per q_id. This is the property that makes the window
    form scale-safe; pin it so a regression (e.g. an expression that
    defeats the rewrite) can't silently reintroduce the skew."""
    import re

    for name in ("sim_ann_pq", "sim_ann_ivf", "sim_ann_lsh_multiprobe"):
        plan = _plan(QS[name].fn(spark, SF_DIR))
        n_wgl = len(re.findall(r"\(\d+\) WindowGroupLimit", plan))
        assert n_wgl >= 2, (name, n_wgl)  # partial (map-side) + final


def test_substring_anchor_owner_is_window_not_self_join(spark):
    """The gram→owner assignment must be a window-min over ONE exchange on
    the anchor hash, never a gram-keyed aggregate re-joined to the gram
    stream (two exchanges of the full gram volume)."""
    plan = _plan(QS["dedup_substring_anchor"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Window") >= 1


def test_range_binned_join_is_hash_not_nested_loop(spark):
    """The whole point of the bin rewrite: a pure range join must plan as
    a bin-equi hash join with the range as residual condition, never a
    nested-loop over all interval×point pairs."""
    plan = _plan(QS["join_range_binned"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_dsir_stats_join_is_broadcast(spark):
    """The 256-bucket feature model must broadcast — the corpus side stays
    map-only between its two aggs however large the corpus."""
    plan = _plan(QS["mix_dsir_importance"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_is_single_user_window_no_join(spark):
    """Last-touch attribution must not self-join events: one user-keyed
    ordered window carries the candidate click."""
    plan = _plan(QS["behavior_attribution_last_touch"].fn(spark, SF_DIR))
    assert "Join" not in plan
    # formatted output lists each node twice (tree + detail): count the
    # tree rendering "Exchange (n)" only.
    assert plan.count("Exchange (") == 1


def test_ivf_persisted_probe_is_partition_pruned(spark):
    """The persisted IVF index's whole point: a probe must read only the
    probed cluster directories — PartitionFilters carries the static
    cluster IN (...) (and the probe join adds dynamic pruning on top);
    a full-index scan would make the layout useless at scale."""
    plan = _plan(QS["sim_ann_ivf_persisted"].fn(spark, SF_DIR))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster" in pf[0] and " IN (" in pf[0]


def test_tfidf_single_bounded_nlj(spark):
    """text_tfidf's 'cross' tag whitelists it from audit_plans' NLJ check
    (the deliberate 1-row broadcast N cross join); cap the exemption here
    exactly as merge_scd2 does — the plan must contain exactly ONE
    BroadcastNestedLoopJoin, so a dropped join condition anywhere else in
    the query cannot hide behind the known bounded one."""
    import re

    plan = _plan(QS["text_tfidf"].fn(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "CartesianProduct" not in plan


# --- r13 (VERDICT r12 ask #6): pin the broadcast findings the sf10 audit
# excused, so none can silently regrow into the cached-corpus OOM trap -----

#: The r12 sf10 broadcast audit (.bench/audit_broadcast_sf10_r12.py @ 5678885;
#: BENCH_NOTES "sf10 broadcast audit") flagged 17 BroadcastExchange-over-
#: fact findings, fixed 4 (minhash/simhash/semdedup/prefix — merge hints)
#: and EXCUSED the rest with per-class reasons. These are the excused
#: sites, by class:
#: - "panel": bounded |Q|≤k query-panel/anchor broadcasts (literal id<k
#:   filters — broadcast stays O(k·dim) at any corpus size);
#: - "theta": the documented sampled all-pairs audit arm (quadratic BY
#:   DESIGN, oracle_quadratic/no-baseline; never a scale path);
#: - "reduced": 1-row global-total broadcasts (an aggregate above the
#:   scan bounds the exchange);
#: - "stats": UNCACHED filtered fact sides priced from accurate scan
#:   stats — the planner's own size-based choice, which flips to SMJ as
#:   data grows; becomes the OOM trap only if someone caches the side
#:   (cached-frame stats stay compressed-scan-sized forever, r12's bug
#:   class).
BROADCAST_EXCUSED = {
    "sim_topk_cosine": "panel",
    "sim_range_search": "panel",
    "sim_hard_negative_mining": "panel",
    "sim_hybrid_rrf": "panel",
    "sim_mips_norm_prune": "panel",
    "text_levenshtein_knn": "panel",
    # embedding_cosine's broadcast side is the vec_id % 10 SAMPLE — the
    # deliberate sampled all-pairs exactness audit (its docstring names
    # dedup_semantic_semdedup as the scale path), same class as the
    # jaccard theta arm, NOT a literal-count panel.
    "dedup_embedding_cosine": "theta",
    "dedup_jaccard_pairs": "theta",
    "q_part_value_share": "reduced",
    "join_left_semi": "stats",
    "join_left_anti": "stats",
    "intersect_except": "stats",
    "join_interval_overlap": "stats",
    "join_range_binned": "stats",
    "q_sales_opportunity": "stats",
}

_FACTS = ("lineitem", "orders", "events", "documents", "embeddings")


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange subtree's tree lines + resolved detail
    blocks — the audit's own extraction (node names live in the details
    section, not the tree lines)."""
    import re

    details: dict[str, str] = {}
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) ", block)
        if m:
            details[m.group(1)] = block
    tree = plan.split("\n\n")[0].splitlines()
    out = []
    for i, ln in enumerate(tree):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" +-:*"))
        sub = [ln]
        for nxt in tree[i + 1:]:
            nindent = len(nxt) - len(nxt.lstrip(" +-:*"))
            if nindent <= indent:
                break
            sub.append(nxt)
        ids = [n for l2 in sub for n in __import__("re").findall(r"\((\d+)\)", l2)]
        out.append("\n".join(sub) + "\n" + "\n".join(details.get(n, "") for n in ids))
    return out


def test_excused_broadcasts_never_regrow_the_cached_corpus_trap(spark):
    """For every excused site: NO BroadcastExchange subtree may contain a
    CACHED (InMemoryRelation) fact-scan without a reducing node — the
    exact mis-estimation shape that OOM'd the four fixed queries at sf10
    (a cached frame's stats come from the compressed scan, ~100× under,
    and never grow with the data). Plan SHAPE is scale-independent, so
    the sf0.01 assert pins what the sf10 audit excused: these broadcasts
    are bounded panels / deliberate theta arms / aggregates / uncached
    accurate-stats choices — never the trap."""
    import re

    for name, cls in BROADCAST_EXCUSED.items():
        plan = _plan(QS[name].fn(spark, SF_DIR))
        for sub in _broadcast_subtrees(plan):
            fact = any(re.search(rf"/{t}\.?", sub) for t in _FACTS)
            if not fact:
                continue
            cached = "InMemoryRelation" in sub
            reduced = re.search(
                r"HashAggregate|SortAggregate|TakeOrdered|GlobalLimit|Window",
                sub,
            )
            assert not (cached and not reduced), (
                f"{name} [{cls}]: a CACHED fact frame is broadcast without "
                f"a reducing node — the r12 OOM trap regrew:\n{sub}"
            )


def test_excused_panel_broadcasts_carry_their_literal_bound(spark):
    """The 'panel' class excuse is a LITERAL id<k (or LIMIT) bound inside
    the broadcast subtree — the witness that the broadcast is O(k·dim)
    at any corpus size. Assert the bound is still there for each panel
    site (a dropped filter would silently turn the panel broadcast into
    a corpus broadcast while this test's sibling only catches the cached
    variant)."""
    import re

    for name, cls in BROADCAST_EXCUSED.items():
        if cls != "panel":
            continue
        plan = _plan(QS[name].fn(spark, SF_DIR))
        subs = [s for s in _broadcast_subtrees(plan)
                if any(re.search(rf"/{t}\.?", s) for t in _FACTS)]
        # zero fact-side broadcasts is fine — some panel sites ship their
        # |Q|≤k panel as literals/local relations since r11, which is
        # strictly safer; the bound assert applies when a broadcast exists.
        for sub in subs:
            bounded = re.search(
                r"(vec_id|doc_id)#\d+L? <=? \d+\b|GlobalLimit|TakeOrdered"
                r"|LessThan\((vec_id|doc_id)|HashAggregate|SortAggregate"
                # literal IN-list panels: pushed `In(doc_id, [0,1,2])` /
                # residual `doc_id#9L IN (0,1,2)`
                r"|In\((vec_id|doc_id), \[|(vec_id|doc_id)#\d+L? IN \(",
                sub,
            )
            assert bounded, (
                f"{name}: panel broadcast lost its literal bound:\n{sub}"
            )
