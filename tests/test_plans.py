"""Physical-plan assertions (PLANS.md claims, kept honest by CI).

These tests pin the scale-relevant plan shapes: if a future change
regresses pushdown, broadcast, top-k pushdown, or the shuffle-free
bucketed join, they fail even though results stay correct.
"""

from __future__ import annotations

import re

from engine import registry

registry.load_all()


def _plan(spark, name, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    s = _plan(spark, "agg_pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in s, "shipdate filter not pushed to parquet"
    assert "l_orderkey" not in s.split("ReadSchema")[1][:400], "scan not column-pruned"


def test_topk_uses_window_group_limit(spark, sf_dir):
    assert "WindowGroupLimit" in _plan(spark, "win_topk_per_group", sf_dir)


def test_global_topk_avoids_full_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, "limit_topk_global", sf_dir)


def test_broadcast_dims(spark, sf_dir):
    s = _plan(spark, "join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The whole point of sink_bucketed_join: join two 8-bucket tables on
    the bucket key without shuffling either input. The only Exchange in
    the whole plan is the final per-status aggregation's (an unbucketed
    join of these two tables needs three)."""
    import re

    s = _plan(spark, "sink_bucketed_join", sf_dir)
    assert "SortMergeJoin" in s or "ShuffledHashJoin" in s
    n_exchanges = len(set(re.findall(r"\(\d+\) Exchange", s)))
    assert n_exchanges <= 1, f"expected ≤1 Exchange (agg only), got {n_exchanges}"
    assert "Bucketed: true" in s or "SelectedBucketsCount" in s


def test_bucketed_flagship_fact_join_has_no_shuffle(spark, sf_dir):
    """agg_revenue_by_nation_bucketed (VERDICT r06 item 2): the orderkey
    SMJ must be fed directly by the two bucketed scans — zero shuffle
    Exchange anywhere below it (the unbucketed flagship pays a full-width
    fact-fact exchange there, ~10 GB at sf100). The whole plan's single
    shuffle Exchange is the final groupBy(nation); dims and the customer
    2-column projection enter via BroadcastExchange only."""
    s = _plan(spark, "agg_revenue_by_nation_bucketed", sf_dir)
    assert "SortMergeJoin" in s, "bucketed fact-fact join must stay SMJ"
    assert "Bucketed: true" in s
    # exactly one shuffle Exchange in the whole plan (the final agg);
    # "Exchange" alone also matches BroadcastExchange, so count precisely
    shuffles = set(re.findall(r"\(\d+\) Exchange\b", s))
    assert len(shuffles) == 1, f"expected 1 shuffle Exchange (agg), got {shuffles}"
    # and that Exchange sits ABOVE the SMJ: the operator-id of the agg
    # Exchange must be greater than the SMJ's id in the formatted tree
    smj_id = int(re.search(r"\((\d+)\) SortMergeJoin", s).group(1))
    exch_id = int(re.search(r"\((\d+)\) Exchange\b", s).group(1))
    assert exch_id > smj_id, "shuffle Exchange must be the post-join agg, not a join input"
    # r07 lesson 4: the customer broadcast build is semi-filtered to the
    # region's nationkeys before it ships (see the unbucketed pin)
    assert "LeftSemi" in s, "customer broadcast no longer semi-filtered to region nations"


def test_ivf_broadcasts_small_sides(spark, sf_dir):
    """llm_ann_ivf must broadcast centroids and probes — a shuffle join
    against a 40-row side would be the wrong plan at any scale."""
    s = _plan(spark, "llm_ann_ivf", sf_dir)
    assert s.count("BroadcastHashJoin") + s.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in s


def test_embedding_dedup_no_cartesian(spark, sf_dir):
    """Candidate generation joins on (band, band_val) — an equi-join; a
    CartesianProduct here means the LSH blocking silently degenerated to
    all-pairs."""
    s = _plan(spark, "llm_near_dedup_embedding", sf_dir)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_doc_fingerprint_scan_is_pruned(spark, sf_dir):
    """Winnowing is per-row: the scan should read only doc_id + text, and
    the plan should contain no Exchange at all (fingerprints compute where
    the doc lives)."""
    import re

    s = _plan(spark, "llm_doc_fingerprint", sf_dir)
    read = s.split("ReadSchema")[1][:400]
    assert "lang" not in read and "n_chars" not in read, "scan not column-pruned"
    assert not re.findall(r"\(\d+\) Exchange", s), "unexpected shuffle in per-row op"


def test_time_rollup_reuses_hourly_partials(spark, sf_dir):
    """agg_time_rollup_multires's contract: the daily resolution is derived
    from the hourly aggregate, not from a second scan of raw events. The
    reuse is an AQE *runtime* decision (canonicalized stage cache), so the
    query must execute first; the FINAL plan's daily branch must then read
    a ReusedExchange with a single events scan — two scans would mean the
    continuous-aggregate pattern silently regressed to rescanning raw."""
    from engine import registry

    df = registry.QUERIES["agg_time_rollup_multires"](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, "hourly partials not shared across resolutions"
    assert final.count("Scan parquet") == 1, "daily branch rescans raw events"


def test_range_bucketized_is_equi_join(spark, sf_dir):
    """join_range_bucketized exists to replace the nested-loop theta join
    with an equi join on quantized buckets: the plan must contain a hash
    join and no nested-loop/cartesian operator."""
    s = _plan(spark, "join_range_bucketized", sf_dir)
    assert "BroadcastHashJoin" in s or "ShuffledHashJoin" in s or "SortMergeJoin" in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """join_dpp_prune: the dim-side filter must become a runtime partition
    filter on the fact scan (dynamic partition pruning), not a post-scan
    filter over all partitions."""
    s = _plan(spark, "join_dpp_prune", sf_dir)
    assert "dynamicpruning" in s, "no dynamic partition pruning subquery in plan"


def test_bloom_prefilter_injected(spark, sf_dir):
    """join_bloom_prefilter's shape: with the application-side threshold
    lowered, the selective orders filter must inject a runtime Bloom
    filter (might_contain) into the lineitem side. Rebuilt here under the
    query's own scoped confs because the query fn restores them after
    materializing."""
    from engine.io import load_tables, session_confs
    from engine.relational import BLOOM_PREFILTER_CONFS
    from pyspark.sql import functions as F

    with session_confs(spark, BLOOM_PREFILTER_CONFS):
        t = load_tables(spark, sf_dir)
        o = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
        df = (
            t["lineitem"]
            .hint("merge")
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    assert "might_contain" in s, "runtime bloom filter not injected"


def test_q3_pushes_both_date_filters(spark, sf_dir):
    s = _plan(spark, "agg_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in s
    assert "LessThan(o_orderdate" in s, "orders date filter not pushed"
    assert "GreaterThan(l_shipdate" in s, "lineitem date filter not pushed"


def test_cdc_merge_prunes_partitions(spark, sf_dir):
    """cdc_partition_pruned_merge: the merge branch's snapshot scan must
    carry a static bucket PartitionFilter (only touched partitions read);
    the full plan contains the pruned scan."""
    s = _plan(spark, "cdc_partition_pruned_merge", sf_dir)
    assert "PartitionFilters" in s
    assert "bucket" in s.split("PartitionFilters", 1)[1][:600]


def test_q10_ranks_via_take_ordered_with_broadcast_dims(spark, sf_dir):
    """agg_returned_items: the top-20 must be TakeOrderedAndProject (no
    global sort) and customer/nation must come in as broadcasts."""
    s = _plan(spark, "agg_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in s
    assert "BroadcastHashJoin" in s
    assert "EqualTo(l_returnflag,R)" in s, "returnflag filter not pushed to scan"


def test_q19_disjunction_extracted_into_scan(spark, sf_dir):
    """join_disjunctive_pred: Catalyst must extract the lineitem-side
    implication of the OR-of-ANDs (quantity bounds) into PushedFilters —
    the scan must not read every row just because the predicate spans the
    join."""
    s = _plan(spark, "join_disjunctive_pred", sf_dir)
    assert "PushedFilters" in s
    pushed = s.split("PushedFilters:")[1].split("\n")[0]
    assert "l_quantity" in pushed, "quantity disjunction not extracted into scan"


def test_q18_aggregates_before_join(spark, sf_dir):
    """agg_large_volume_customer: the HAVING-filtered aggregate must sit
    BELOW the joins (aggregate-then-join, not join-then-aggregate)."""
    import re

    s = _plan(spark, "agg_large_volume_customer", sf_dir)
    # operator numbering is leaves-first: the lineitem aggregate must get a
    # smaller id than every join, i.e. it runs below them
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", s)]
    join_ids = [
        int(m) for m in re.findall(r"\((\d+)\) (?:SortMergeJoin|BroadcastHashJoin)", s)
    ]
    assert agg_ids and join_ids
    assert min(agg_ids) < min(join_ids), (s, agg_ids, join_ids)


def test_ngram_topk_take_ordered(spark, sf_dir):
    s = _plan(spark, "llm_ngram_topk", sf_dir)
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s and "SortMergeJoin" not in s, (
        "bigrams must be built array-side, not via a self-join"
    )


def test_stopword_coverage_broadcasts_stop_set(spark, sf_dir):
    s = _plan(spark, "llm_stopword_coverage", sf_dir)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_exists_decorrelated_to_semi_anti(spark, sf_dir):
    """sql_exists_decorrelated: both correlated subqueries must become
    joins (LEFT SEMI + LEFT ANTI) — no per-row subquery execution."""
    s = _plan(spark, "sql_exists_decorrelated", sf_dir)
    assert "LeftSemi" in s
    assert "LeftAnti" in s


def test_ann_quantized_window_is_narrow(spark, sf_dir):
    """llm_ann_quantized (r07 rework, VERDICT r06 item 5): the per-query
    top-k windows must see only (qid, nid, score) — the r03 shape carried
    two 64-float arrays per pair-row through the ≤|queries|-partition
    window exchange, the stage whose cost grew 9.9x/decade. Pins: every
    Window/WindowGroupLimit input is exactly 3 columns, none an
    embedding, and map-side pruning is engaged (Partial+Final pairs)."""
    import re

    s = _plan(spark, "llm_ann_quantized", sf_dir)
    blocks = re.findall(
        r"\(\d+\) (?:Window|WindowGroupLimit)\b\nInput \[(\d+)\]: \[([^\]]*)\]", s
    )
    assert blocks, "expected Window operators in the plan"
    for width, cols in blocks:
        assert width == "3", f"window input widened to {width} cols: {cols}"
        assert "embedding" not in cols and "qe#" not in cols, (
            f"embedding array crosses the window shuffle: {cols}"
        )
    assert ", Partial" in s and ", Final" in s, (
        "WindowGroupLimit map-side (Partial) pruning not engaged"
    )


def test_near_dedup_has_no_pair_level_vector_join(spark, sf_dir):
    """llm_near_dedup_embedding: candidate verification is the per-bucket
    FlatMapGroupsInArrow matmul (applyInArrow since r11 — one zero-copy
    flatten per group instead of per-row pandas conversion); a pair-level
    join carrying embedding columns (the 10x Arrow-transfer regression)
    must not reappear, and the band-id UDF must evaluate exactly once
    (the r11 duplicated-ArrowEvalPython fix, guide §4.4)."""
    import re

    s = _plan(spark, "llm_near_dedup_embedding", sf_dir)
    assert "FlatMapGroupsInArrow" in s
    assert "SortMergeJoin" not in s
    assert len(set(re.findall(r"\((\d+)\) ArrowEvalPython", s))) == 1, (
        "band-id UDF must not be duplicated below a pushed filter"
    )


def _executed(spark, name, sf_dir):
    """Final AQE plan string (after execution) — needed for assertions on
    runtime-only shapes like ReusedExchange."""
    df = registry.QUERIES[name](spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q4_exists_is_semi_join_with_residual(spark, sf_dir):
    """agg_order_priority_check: the correlated EXISTS (equi key + date
    lag comparison) must decorrelate to ONE left-semi join, never a
    per-row subquery or a cartesian."""
    s = _plan(spark, "agg_order_priority_check", sf_dir)
    assert "LeftSemi" in s
    assert "CartesianProduct" not in s


def test_q6_predicates_reach_scan(spark, sf_dir):
    """agg_forecast_revenue is scan-bound by design: date bounds in
    PushedFilters, and the scan reads only the 4 referenced columns."""
    s = _plan(spark, "agg_forecast_revenue", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in s
    read = s.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_q15_scalar_max_reuses_rev_exchange(spark, sf_dir):
    """agg_top_supplier computes the per-supplier revenue aggregate once:
    the scalar-MAX branch must hit AQE's ReusedExchange, not rescan the
    fact (the isNotNull alignment in the query exists for exactly this —
    see the inline comment there)."""
    s = _executed(spark, "agg_top_supplier", sf_dir)
    assert "ReusedExchange" in s


def test_q11_scalar_total_reuses_val_exchange(spark, sf_dir):
    """agg_important_stock: same single-computation guarantee for the
    HAVING-vs-global-total shape."""
    s = _executed(spark, "agg_important_stock", sf_dir)
    assert "ReusedExchange" in s


def test_q21_sole_late_is_aggregate_form(spark, sf_dir):
    """join_waiting_orders runs the one-pass aggregate form, not the
    semi/anti chain (4 extra orderkey exchanges, 3.6 → 1.3 s at sf0.1 —
    see the docstring): ≤3 hashpartitioning exchanges, no nested loop.
    The EXISTS spelling stays pinned on sql_exists_decorrelated."""
    import re

    s = _plan(spark, "join_waiting_orders", sf_dir)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    keys = set(re.findall(r"hashpartitioning\(([^,#]+)", s))
    # every shuffle is either the orderkey family (shared by the pair agg,
    # the per-order agg, and their join) or the tiny terminal s_name agg
    assert keys <= {"l_orderkey", "s_name"}, keys


def test_q2_single_shuffle_for_agg_and_window(spark, sf_dir):
    """join_min_cost_supplier: the pair aggregate and the per-part MIN
    window must share one hashpartitioning — Q2's scalar subquery costs
    one exchange, not two, and the dim chain is broadcast."""
    import re

    s = _plan(spark, "join_min_cost_supplier", sf_dir)
    assert "BroadcastHashJoin" in s and "Window" in s
    exchanges = re.findall(r"hashpartitioning\(([^,#]+)", s)
    assert exchanges, "expected at least one exchange in the plan"
    assert len(set(exchanges)) <= 2, exchanges


def test_attribution_single_user_exchange(spark, sf_dir):
    """events_attribution must be the sessionize shape: one
    hashpartitioning exchange (user_id) feeding the fill-forward window —
    no join operator anywhere in the plan."""
    import re

    s = _plan(spark, "events_attribution", sf_dir)
    assert "Join" not in s, "attribution must not plan a join"
    exchanges = re.findall(r"hashpartitioning\(([^,#]+)", s)
    assert exchanges == ["user_id"], exchanges


def test_domain_mix_filter_is_broadcast_side(spark, sf_dir):
    """llm_domain_mix_sampler: the per-domain rates enter as a broadcast
    join; the corpus side is never shuffled (no hashpartitioning on any
    documents column)."""
    s = _plan(spark, "llm_domain_mix_sampler", sf_dir)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """join_null_safe: <=> must plan as a hash join on the coalesced key,
    never a nested-loop fallback."""
    s = _plan(spark, "join_null_safe", sf_dir)
    assert "BroadcastNestedLoopJoin" not in s and "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s or "SortMergeJoin" in s


def test_star_schema_all_dims_broadcast(spark, sf_dir):
    """join_star_schema: the fact table must flow through four broadcast
    probes without a single shuffle join — the only Exchange allowed is
    the final (region, brand) aggregate's."""
    s = _plan(spark, "join_star_schema", sf_dir)
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s
    assert s.count("BroadcastHashJoin") >= 4, "expected 4 broadcast dims"


def test_chunk_overlap_is_shuffle_free(spark, sf_dir):
    """llm_chunk_overlap is a narrow per-row transform: any Exchange in
    the plan means chunking stopped being embarrassingly parallel."""
    import re

    s = _plan(spark, "llm_chunk_overlap", sf_dir)
    assert not re.findall(r"\(\d+\) Exchange", s), "chunking must not shuffle"


def test_multi_distinct_uses_expand(spark, sf_dir):
    """agg_multi_distinct must take Catalyst's Expand rewrite (one
    exchange), not N separate distinct aggregates joined together."""
    s = _plan(spark, "agg_multi_distinct", sf_dir)
    assert "Expand" in s


def test_path_topk_shares_user_exchange(spark, sf_dir):
    """Both windows (sessionize + trigram lead) hash-partition by
    user_id; Catalyst must reuse one exchange for them. Expected
    exchanges: user_id window + path count + top-k single partition = 3."""
    import re

    s = _plan(spark, "events_path_topk", sf_dir)
    n = len(set(re.findall(r"\(\d+\) Exchange", s)))
    assert n <= 3, f"expected ≤3 Exchanges (user window reused), got {n}"


def test_bloom_dedup_broadcasts_filter(spark, sf_dir):
    """llm_bloom_dedup: the packed bloom words and the historical hash
    set must BROADCAST to the probe side — a shuffle join against either
    would defeat the incremental-dedup pattern."""
    s = _plan(spark, "llm_bloom_dedup", sf_dir)
    assert s.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in s


def test_join_ivm_broadcasts_deltas(spark, sf_dir):
    """cdc_join_ivm: the three delta terms must join via broadcast (the
    refresh-cost argument); no cartesian anywhere."""
    s = _plan(spark, "cdc_join_ivm", sf_dir)
    assert s.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in s


def test_fuzzy_blocked_is_equi_join(spark, sf_dir):
    """join_fuzzy_blocked: the blocking key must make this an EQUI join
    (hash-partitionable) with levenshtein as a post-join residual — a
    nested-loop θ-join on edit distance would be O(n²) at any scale."""
    s = _plan(spark, "join_fuzzy_blocked", sf_dir)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert (
        "BroadcastHashJoin" in s or "SortMergeJoin" in s or "ShuffledHashJoin" in s
    ), "no equi join in fuzzy-blocked plan"
    assert "levenshtein" in s, "edit-distance verify missing from plan"


def test_spatial_grid_no_cartesian(spark, sf_dir):
    """join_spatial_grid: candidates come from the 9-cell neighborhood
    explode joined EQUI on cell ids; the exact distance predicate is a
    residual. No cartesian/nested-loop anywhere."""
    s = _plan(spark, "join_spatial_grid", sf_dir)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "Generate" in s, "9-cell explode missing"
    assert (
        "BroadcastHashJoin" in s or "SortMergeJoin" in s or "ShuffledHashJoin" in s
    ), "no equi join in spatial-grid plan"


def test_ann_pq_broadcasts_adc_and_codebooks(spark, sf_dir):
    """llm_ann_pq: codebooks, ADC table, and the query set are the small
    sides and must broadcast; the normalized relation is checkpointed so
    the final plan re-reads NO parquet (codes are the only full scan of
    derived data); nothing may go cartesian — a per-pair vector join is
    the scale-killer this design exists to avoid."""
    s = _plan(spark, "llm_ann_pq", sf_dir)
    assert "CartesianProduct" not in s
    assert s.count("BroadcastHashJoin") + s.count("BroadcastNestedLoopJoin") >= 3
    assert "Scan parquet" not in s, (
        "PQ plan re-reads parquet — the localCheckpoint lineage cut "
        "of the shared normalized relation is gone"
    )


def test_bpe_train_rounds_on_checkpointed_symbols(spark, sf_dir):
    """llm_bpe_train: every merge round operates on the checkpointed
    vocab-sized symbol relation — the final plan must not re-read the
    documents parquet (corpus is touched once, before the first cut),
    and the per-round best-pair pick must broadcast back (1-row)."""
    s = _plan(spark, "llm_bpe_train", sf_dir)
    assert "Scan parquet" not in s, (
        "BPE plan re-reads the corpus — a lineage cut is missing"
    )
    assert "CartesianProduct" not in s, "1-row best-pair cross must broadcast"


def test_q5_region_restriction_precedes_fact_shuffle(spark, sf_dir):
    """agg_revenue_by_nation (r04 rework): the region='ASIA' restriction
    must be folded into the supplier dim and broadcast-probed against
    lineitem BEFORE the l_orderkey exchange — the transitive restriction
    Catalyst cannot derive. Pin: the r_name filter's join sits under the
    lineitem side of the orderkey join, i.e. lineitem's exchange input
    already contains a BroadcastHashJoin on l_suppkey."""
    s = _plan(spark, "agg_revenue_by_nation", sf_dir)
    assert "EqualTo(r_name,ASIA)" in s, "region filter not pushed to scan"
    # the lineitem-side pre-restriction join must exist (a broadcast hash
    # probe keyed on l_suppkey; formatted mode prints keys on their own
    # line) and the facts must not broadcast-nest
    assert re.search(r"BroadcastHashJoin[\s\S]{0,400}?l_suppkey", s), (
        "lineitem is no longer pre-restricted by the region-filtered "
        "supplier dim before the fact shuffle"
    )
    assert "CartesianProduct" not in s
    # r07: the customer broadcast build must itself be semi-filtered to
    # the ASIA nationkeys before it ships (a 1.5M-row × 2-int build cost
    # ~1 s/query at sf10; the semi-filter cut it 5× — BENCH.md r07
    # bucketing lesson 4, applied to both flagship variants)
    assert "LeftSemi" in s, "customer broadcast no longer semi-filtered to region nations"


def test_sorted_q1_scan_is_sorted_layout_with_pushdown(spark, sf_dir):
    """agg_pricing_summary_sorted (VERDICT r07 item 1): the scan must
    read the ingest-sorted layout (where row-group min/max on l_shipdate
    is selective), keep the pushed shipdate filter, and stay
    column-pruned — layout only pays off if the pushed predicate still
    reaches the footer check."""
    s = _plan(spark, "agg_pricing_summary_sorted", sf_dir)
    assert "engine_srt" in s, "scan does not read the sorted layout"
    assert "LessThanOrEqual(l_shipdate" in s, "shipdate filter not pushed"
    assert "l_orderkey" not in s.split("ReadSchema")[1][:400], "scan not column-pruned"


def test_sorted_layout_row_groups_are_skippable(spark, sf_dir):
    """The point of the sorted layout, asserted on the actual files: on
    the arrival-ordered fixture every row group straddles the Q1 cutoff
    (pushed min/max prunes nothing); on the sorted layout the ~17% of
    rows above the cutoff sit in row groups whose MIN exceeds it, which
    the parquet reader skips at footer time. Checked with pyarrow footer
    stats — the same stats Spark's reader consults."""
    import datetime
    import glob as g

    import pyarrow.parquet as pq

    from engine.io import sorted_lineitem

    sorted_lineitem(spark, sf_dir)  # ensure the layout exists
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    paths = g.glob(f"/tmp/engine_srt/lineitem_srt2_{tag}/part-*.parquet")
    assert paths, "sorted layout missing"
    cutoff = datetime.datetime(2000, 9, 2)
    total = skippable = 0
    skip_rows = all_rows = 0
    for p in paths:
        meta = pq.ParquetFile(p).metadata
        ship_idx = meta.schema.names.index("l_shipdate")
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            stats = rg.column(ship_idx).statistics
            total += 1
            all_rows += rg.num_rows
            if stats is not None and stats.min > cutoff:
                skippable += 1
                skip_rows += rg.num_rows
    assert skippable >= 1, "no row group entirely above the cutoff — sort ineffective"
    # ~17% of rows are above the cutoff; they must be concentrated in
    # skippable row groups, not smeared (allow the one boundary group)
    assert skip_rows / all_rows > 0.10, (
        f"only {skip_rows}/{all_rows} rows in skippable groups"
    )


def test_q7_pair_restriction_precedes_fact_shuffle(spark, sf_dir):
    """agg_volume_shipping (r04 rework): both facts pre-restricted to
    the nation pair via broadcast probes before the orderkey exchange."""
    s = _plan(spark, "agg_volume_shipping", sf_dir)
    assert re.search(r"Left keys \[1\]: \[l_suppkey", s) or re.search(
        r"BroadcastHashJoin[\s\S]{0,400}?l_suppkey", s
    ), "lineitem not pre-restricted"
    assert re.search(r"Left keys \[1\]: \[o_custkey", s) or re.search(
        r"BroadcastHashJoin[\s\S]{0,400}?o_custkey", s
    ), "orders not pre-restricted"


def test_collect_sites_are_bounded():
    """PLANS.md contract (VERDICT r04 'What's wrong' item 1): the engine
    performs NO unbounded collect(). Exactly seven bounded sites are
    allowed, each with a size bound independent of data scale — pinned
    here by (file, nearby-context) so a new collect() site fails this
    test and must either be removed or explicitly justified + added.
    """
    import glob
    import os

    allowed = {
        # file -> list of regexes, one per allowed site in that file
        "cdc.py": [r'delta\.select\("bucket"\)\.distinct\(\)\.collect\(\)'],
        "graph_ext.py": [
            # 1-row convergence scalar (label-sum fixpoint, decimal(38,0)
            # so it cannot wrap at any node count — ADVICE r08), one per
            # bounded O(log n) pointer-jumping round — never row data
            r'lab\.agg\(F\.sum\(F\.col\("lab"\)\.cast\("decimal\(38,0\)"\)\)'
            r'\.alias\("s"\)\)\.collect\(\)\[0\]',
            # 1-row max-key scalar that derives the hierarchy loop's
            # provable round bound (digits → ceil(log2 depth))
            r'c\.agg\(F\.max\("v"\)\.alias\("m"\)\)\.collect\(\)\[0\]',
        ],
        "io.py": [r't\["nation"\]\.collect\(\)'],  # 25-row dim fixture
        # 1-row (n, checksum_cents) aggregates per table version / reader —
        # the txlog keys' self-verification scalars, never row data.
        # Anchored on the checksum agg's alias (ADVICE r08: the old
        # generic ').collect()[0]' whitelisted ANY future single-row
        # collect in the file), so a new collect site still fails here.
        "txlog.py": [r'\.alias\("c"\),\s*\)\.collect\(\)\[0\]'],
        "similarity.py": [r"ec\.collect\(\)"],  # 64k-edge-capped union-find
        "streaming.py": [
            r'alias\("q3"\),\n    \)\.collect\(\)\[0\]',  # 1-row quartile bounds
            r'ev\.agg\(F\.max\("ts_ns"\)\.alias\("m"\)\)\.collect\(\)\[0\]',
        ],
    }
    eng = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "engine")
    for path in sorted(glob.glob(os.path.join(eng, "*.py"))):
        src = open(path).read()
        fname = os.path.basename(path)
        n_sites = src.count(".collect()")
        pats = allowed.get(fname, [])
        n_allowed = sum(len(re.findall(p, src)) for p in pats)
        assert n_sites == n_allowed, (
            f"{fname}: {n_sites} collect() site(s) but only {n_allowed} "
            "documented as bounded — justify and pin new sites here AND in "
            "PLANS.md, or remove them"
        )


def test_cosine_helpers_and_pair_kernel_have_one_home():
    """One implementation per concept: the cosine Column helpers live in
    engine/llm_ext.py and the blocked τ-pair scan in
    similarity._tau_pair_kernel. A second copy of either fails here."""
    import glob
    import os

    eng = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "engine")
    src = "".join(open(p).read() for p in sorted(glob.glob(os.path.join(eng, "*.py"))))
    for needle in ("def _dot(", "def _dbl(", "np.triu_indices", "lambda x, y: x * y"):
        assert src.count(needle) == 1, f"{needle!r} appears {src.count(needle)} times in engine/"


def test_streaming_sinks_have_one_commit_path():
    """One implementation per concept: every foreachBatch sink commits
    through streaming._tx_sink (TxTable versions, no hand-rolled
    ``v{batch_id}`` snapshot dirs) and every availableNow query drains
    through streaming._drain. A second copy of either fails here."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel in ("engine/streaming.py", "tests/test_streaming.py"):
        assert 'startswith("v")' not in open(os.path.join(root, rel)).read(), rel
    src = "".join(open(p).read() for p in sorted(glob.glob(os.path.join(root, "engine", "*.py"))))
    for needle in ("trigger(availableNow=True)", ".foreachBatch("):
        assert src.count(needle) == 1, f"{needle!r} appears {src.count(needle)} times in engine/"


def test_plan_cache_is_prepared_statement_not_result_cache(spark):
    """The r06 plan cache (registry.query(plan_cache=True)) must reuse ONLY
    the Python-built expression tree. Each call must produce a distinct
    QueryExecution (fresh AQE run, no materialized-stage reuse) and must
    re-read the CURRENT bytes of the underlying files — pinned by mutating
    a fixture copy in place and observing the result move.
    """
    import shutil
    import tempfile

    import duckdb

    from engine import registry

    src = "/root/testdata/sf0.001"
    tmp = tempfile.mkdtemp(prefix="plan_cache_fresh_")
    try:
        shutil.rmtree(tmp)
        shutil.copytree(src, tmp)
        fn = registry.QUERIES["agg_pricing_summary"]
        d1, d2 = fn(spark, tmp), fn(spark, tmp)
        assert d1._jdf.queryExecution() is not None
        # distinct wrapper DataFrames -> distinct QueryExecutions
        assert not d1._jdf.queryExecution().equals(d2._jdf.queryExecution())
        a = d1.toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE t AS SELECT * FROM read_parquet('{tmp}/lineitem.parquet') "
            "USING SAMPLE 50 PERCENT (reservoir, 42)"
        )
        import os

        os.remove(f"{tmp}/lineitem.parquet")
        con.execute(f"COPY t TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)")
        b = fn(spark, tmp).toPandas()
        assert a["count_order"].sum() != b["count_order"].sum(), (
            "plan-cached key returned stale results after the underlying "
            "file changed — the cache is reusing executed stages, not plans"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_plan_cache_builds_run_no_job(spark, sf_dir, count_jobs):
    """A plan_cache key's build is Python-side plan construction only:
    the first build at sf0.01 runs 0 Spark jobs. A build that ran one (a
    collect, an eager checkpoint) would freeze its result in the cache
    and every later call would reuse it, which the cache must not do."""
    from engine import registry
    from engine.io import load_tables

    load_tables(spark, sf_dir)  # the table cache is not the key's build
    # plan_cache keys are registered as functools.wraps wrappers
    cached = {k: f.__wrapped__ for k, f in registry.QUERIES.items() if hasattr(f, "__wrapped__")}
    assert "llm_semdedup" in cached and "llm_ann_pq" not in cached
    jobs = {k: count_jobs(lambda: build(spark, sf_dir))[1] for k, build in cached.items()}
    assert not {k: n for k, n in jobs.items() if n}, jobs


def test_session_caches_are_per_session(spark, sf_dir):
    """r10 (VERDICT r09 item 7): the table cache and the prepared-plan
    store are weakly keyed BY SESSION, so two live sessions must get
    independent entries (the id()-keyed predecessors would also have
    passed this for live sessions — the weakref part additionally
    guarantees a dead session's slot can never be inherited, which is
    untestable without forcing id reuse; this pins the keying contract
    the fix rests on) and a second session's results must still be
    correct, not borrowed plans bound to the first session."""
    from engine import registry
    from engine.io import load_tables

    s2 = spark.newSession()
    t1 = load_tables(spark, sf_dir)
    t2 = load_tables(s2, sf_dir)
    assert t1["orders"] is not t2["orders"], "table cache leaked across sessions"
    # same session + same sf_dir still hits the cache (the whole point)
    assert load_tables(spark, sf_dir)["orders"] is t1["orders"]
    # prepared-plan store: one entry per session for a plan_cache key
    fn = registry.QUERIES["cdc_snapshot_diff"]
    d1, d2 = fn(spark, sf_dir), fn(s2, sf_dir)
    store = registry._plan_store
    assert (sf_dir, "cdc_snapshot_diff") in store.get(spark, {})
    assert (sf_dir, "cdc_snapshot_diff") in store.get(s2, {})
    assert store[spark][(sf_dir, "cdc_snapshot_diff")] is not store[s2][
        (sf_dir, "cdc_snapshot_diff")
    ], "plan store leaked across sessions"
    assert d1.count() == d2.count() > 0


def test_shuffle_partitions_tiers():
    """Pin the three regimes of shuffle_partitions_for: the small-fixture
    floor (8), the 2 MB/partition mid tier capped at cores (32), and the
    large-input 256 MB/partition tier entered above 8 GB, clamped to
    [cap, 2*cap]. The large tier must NEVER activate for driver-fixture
    sizes — driver-gate plans depend on that. Sizes are synthesized with
    sparse files (os.path.getsize reports apparent size)."""
    import os
    import shutil
    import tempfile

    from engine.io import shuffle_partitions_for

    made: list[str] = []

    def fixture_of(nbytes: int) -> str:
        d = tempfile.mkdtemp(prefix="sp_tier_")
        made.append(d)
        with open(os.path.join(d, "t.parquet"), "wb") as f:
            f.truncate(nbytes)
        return d

    prev_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = "32"  # pin the r11 env-derived cap
    try:
        assert shuffle_partitions_for(fixture_of(17 << 20)) == 8    # ~sf0.1 floor
        assert shuffle_partitions_for(fixture_of(200 << 20)) == 32  # ~sf1 2MB rule
        assert shuffle_partitions_for(fixture_of(2 << 30)) == 32    # ~sf10 cap
        assert shuffle_partitions_for(fixture_of(22 << 30)) == 64   # ~sf100 256MB rule
        assert shuffle_partitions_for(fixture_of(300 << 30)) == 64  # clamp at 2*cap
        # the tier boundary itself: 8 GB stays on the mid tier
        assert shuffle_partitions_for(fixture_of(8 << 30)) == 32
        # unknown input size (missing dir) -> cap, NOT the small-fixture
        # floor (ADVICE r06: a mistyped big-fixture path must not get 8)
        assert shuffle_partitions_for("/nonexistent/path") == 32
        # r11: the cap tracks the harness core count ($SPARK_GRAFT_CPUS)
        # so a lower-core driver bench caps parallelism at ITS machine
        # size; the small-fixture floor (8) is unchanged
        os.environ["SPARK_GRAFT_CPUS"] = "16"
        assert shuffle_partitions_for(fixture_of(200 << 20)) == 16
        assert shuffle_partitions_for(fixture_of(17 << 20)) == 8
    finally:
        if prev_cpus is None:
            os.environ.pop("SPARK_GRAFT_CPUS", None)
        else:
            os.environ["SPARK_GRAFT_CPUS"] = prev_cpus
        for d in made:
            shutil.rmtree(d, ignore_errors=True)


def test_adaptive_tier_boundaries():
    """adaptive_for: AQE off below 512 MB of input (stage-barrier latency
    with nothing to adapt), on at-and-above (skew/coalesce posture)."""
    import os
    import shutil
    import tempfile

    from engine.io import adaptive_for

    def fixture_of(nbytes: int) -> str:
        d = tempfile.mkdtemp(prefix="aqe_tier_")
        with open(os.path.join(d, "t.parquet"), "wb") as f:
            f.truncate(nbytes)
        return d

    small, boundary, big = fixture_of(17 << 20), fixture_of(512 << 20), fixture_of(2 << 30)
    try:
        assert adaptive_for(small) == "false"
        assert adaptive_for(boundary) == "true"
        assert adaptive_for(big) == "true"
        assert adaptive_for("/nonexistent/path") == "true"
    finally:
        for d in (small, boundary, big):
            shutil.rmtree(d, ignore_errors=True)


def test_session_conf_applied_once(spark, sf_dir, monkeypatch, tmp_path):
    """SESSION_CONF is applied once per session, on its first load_tables
    call, and never again: a conf a harness sets with a bare
    ``spark.conf.set`` (AQE off, as apply_bench_confs does on small
    fixtures) must survive a later load_tables cache miss. The r06 bug
    was that cache miss re-applying SESSION_CONF and turning AQE back on."""
    import os

    from engine import io

    calls = []
    configure = io.configure
    monkeypatch.setattr(io, "configure", lambda s: calls.append(s) or configure(s))
    s2 = spark.newSession()
    key = "spark.sql.adaptive.enabled"
    io.load_tables(s2, sf_dir)
    assert calls == [s2] and s2.conf.get(key) == "true"
    s2.conf.set(key, "false")
    # a fresh fixture dir: the same tables under a path no session has seen
    for name in io.TABLES:
        (tmp_path / f"{name}.parquet").symlink_to(os.path.join(sf_dir, f"{name}.parquet"))
    io.load_tables(s2, str(tmp_path))
    assert s2.conf.get(key) == "false", "a cache miss re-applied SESSION_CONF"
    assert calls == [s2], "configure ran more than once for one session"


def test_session_conf_has_no_static_conf(spark):
    """configure() applies SESSION_CONF with spark.conf.set, which raises
    CANNOT_MODIFY_STATIC_CONFIG for a static conf; the codegen cache size
    is static, so get_spark sets it on the builder instead."""
    from engine import io

    static = [k for k in io.SESSION_CONF if not spark.conf.isModifiable(k)]
    assert not static, f"static confs in SESSION_CONF: {static}"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        io.CODEGEN_CACHE_ENTRIES
    )


def test_codegen_cache_holds_query_mix_working_set(spark, sf_dir):
    """A warm pass of perfbench's query_mix keys compiles no generated
    class. The mix generates more classes than Spark's 100-entry default
    cache holds, and with that cache every warm pass recompiled most of
    them (140 of 159 here). The cache is emptied first, so the first
    pass compiles the whole working set whatever earlier tests left in
    it."""
    from perfbench.workloads import QUERY_MIX

    jvm = spark._jvm
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        n0 = compiled.getCount()
        for k in QUERY_MIX:
            registry.QUERIES[k](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiled.getCount() - n0

    first, second = one_pass(), one_pass()
    assert first > 100, f"the mix compiled only {first} classes; it no longer tests the cache"
    assert second == 0, f"a warm pass recompiled {second} of {first} classes"


def test_session_confs_restores_on_error(spark):
    """session_confs puts every old value back even when the body raises,
    and unsets a key that had no value before it."""
    import pytest

    from engine.io import session_confs

    set_key, new_key = "spark.sql.shuffle.partitions", "spark.graft.test.scoped"
    before = spark.conf.get(set_key)
    with pytest.raises(RuntimeError):
        with session_confs(spark, {set_key: "3", new_key: "x"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(new_key) == "x"
            raise RuntimeError("query failed mid-block")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(new_key, None) is None


def test_time_key_args():
    """scripts/time_key.py: a trailing --reps is a usage error (it used to
    raise IndexError), --reps N parses, and no other --reps* spelling is
    swallowed as the reps flag."""
    import pytest

    from scripts import time_key

    ns = time_key.parse_args(["agg_pricing_summary", "--reps", "3"])
    assert ns.keys == ["agg_pricing_summary"] and ns.reps == 3
    assert time_key.parse_args(["a", "b"]).reps == 5
    for argv in (["agg_pricing_summary", "--reps"], ["agg_pricing_summary", "--repsx", "2"]):
        with pytest.raises(SystemExit) as exc:
            time_key.parse_args(argv)
        assert exc.value.code == 2


def test_pagerank_fact_pass_runs_once(spark, sf_dir):
    """graph_pagerank derives the nation graph in ONE distributed fact
    pass materialized via localCheckpoint; the 6 rank iterations must
    join that ≤625-row relation, never rescan lineitem — pinned by the
    final plan containing zero parquet scans (all leaves are the
    checkpointed RDD) and broadcast-only joins in the iteration chain."""
    s = _plan(spark, "graph_pagerank", sf_dir)
    # the only parquet scan left is the 25-row nation name lookup; any
    # fact column in the plan means an iteration re-derived the flows
    for col in ("l_orderkey", "o_custkey", "c_nationkey", "s_suppkey"):
        assert col not in s, f"rank iterations must not rescan the fact tables ({col})"
    assert "SortMergeJoin" not in s, "iteration joins must stay broadcast-sized"


def test_triangle_count_semi_closure_no_cartesian(spark, sf_dir):
    """graph_triangle_count is the accepted flat-gap bench row (BENCH.md
    r10 disposition) — acceptable only while the plan stays the canonical
    oriented wedge-close: the closure probe must remain a SEMI join
    (never a row-multiplying inner against the full edge list), there
    must be no cartesian/nested-loop anywhere, and the per-block rollup
    must have a map-side partial aggregate. Join PHYSICAL kinds are not
    pinned — at fixture scale AQE broadcasts everything; at sf100 the
    same logical plan runs SMJ — so the pin is the size-invariant part."""
    s = _plan(spark, "graph_triangle_count", sf_dir)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "LeftSemi" in s, "the triangle closure must be a semi-join probe"
    assert "HashAggregate" in s


def test_cdc_chunk_dedup_is_hof_only(spark, sf_dir):
    """llm_cdc_chunk_dedup: boundary detection and chunk cutting must be
    JVM-side HOFs — no Python evaluation operator may appear — and the
    dedup exchange must carry the md5 key, not raw chunk text."""
    s = _plan(spark, "llm_cdc_chunk_dedup", sf_dir)
    for op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert op not in s, f"chunking must not route through {op}"
    # formatted mode mentions each operator in the tree AND the details
    # section — count distinct operator ids, not substring occurrences
    assert len(set(re.findall(r"\(\d+\) Generate\b", s))) == 1, (
        "exactly ONE explode over the chunk array"
    )


def test_graph_components_converge_in_log_rounds(spark, sf_dir, monkeypatch):
    """Pointer jumping must converge in O(log diameter) rounds: the
    fixture graph's components live in blocks of 16 (diameter ≤ 15), so
    the loop must exit well under the 40-round safety cap. Round count IS
    observed (ADVICE r08: the old version only checked the partition
    property): every loop iteration calls localCheckpoint exactly once,
    so (checkpoint calls − 2 setup checkpoints on und/lab) counts rounds
    — an O(diameter) regression (dropping the jump step) would fail the
    ceil(log2(16)) + slack bound, not just run slower."""
    from pyspark.sql import functions as F

    from engine.graph_ext import referral_graph

    calls = {"n": 0}
    # patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is the
    # abstract base in PySpark 4; subclass methods shadow a base patch)
    df_cls = type(spark.range(1))
    orig_ckpt = df_cls.localCheckpoint

    def counting_ckpt(self, *a, **kw):
        calls["n"] += 1
        return orig_ckpt(self, *a, **kw)

    monkeypatch.setattr(df_cls, "localCheckpoint", counting_ckpt)
    out = registry.QUERIES["graph_connected_components"](spark, sf_dir)
    comp = out.agg(F.count("*").alias("c"), F.sum("sum_custkey").alias("s")).collect()[0]
    rounds = calls["n"] - 2  # und + initial lab are setup, not rounds
    assert 1 <= rounds <= 4 + 2, (  # ceil(log2(diameter 16)) + slack
        f"pointer jumping took {rounds} rounds — O(log diameter) regressed"
    )
    nodes, _ = referral_graph(spark, sf_dir)
    n_nodes = nodes.count()
    total = nodes.agg(F.sum("v").alias("s")).collect()[0].s
    assert out.agg(F.sum("n_nodes")).collect()[0][0] == n_nodes
    assert comp.s == total, "components must partition the node set"
