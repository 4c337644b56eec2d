"""Physical-plan assertions for the scale claims.

Correctness is the oracle harness's job; these tests pin the PLAN SHAPE
the 100 TB story depends on: parquet scans prune columns and push
filters, small dims ride broadcasts, the brute-force cosine pass never
degenerates into a cartesian product, and aggregates keep their
map-side partial phase.  A regression here can stay invisible at sf0.01
(everything is fast) and only explode at scale — the plan is the
contract.
"""

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_prunes_and_pushes(spark):
    """A filtered 2-column projection must reach the scan as a 2-column
    ReadSchema with the predicate in PushedFilters."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "PushedFilters: [" in scan and "GreaterThan(l_quantity" in scan
    read = scan.split("ReadSchema:")[1]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_q02_broadcasts_dims(spark):
    """Revenue-by-nation joins lineitem against three dims — every dim
    side must be a broadcast, never a shuffle of the fact table."""
    from postfix_log_parser_spark.analytics import q02_revenue_by_nation

    plan = _plan(q02_revenue_by_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q24_has_no_cartesian_product(spark):
    """The tiled block-nested-loop is grid cells via cogroup — Catalyst
    must not see (or plan) a cartesian/broadcast nested loop over rows."""
    from postfix_log_parser_spark.ext.dedup import q24_embed_neardup

    plan = _plan(q24_embed_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    # the only nested-loop join allowed is the K-row tile-id replication
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            pass  # tile replication: small side is spark.range(K)
    assert plan.count("FileScan parquet") == 2  # one scan per side, no more


def test_q24_refuses_oversized_input(spark):
    """q24 is the exact O(N^2) baseline — above the row guard it must
    refuse (pointing at the sub-quadratic q26/q107 paths) rather than
    launch a quadratic job against a production corpus."""
    from postfix_log_parser_spark.ext.dedup import q24_embed_neardup

    with pytest.raises(ValueError, match="q26_ann_lsh"):
        q24_embed_neardup(spark, SF_DIR, max_rows=10)
    # explicit opt-in for a scoped validation run still works
    df = q24_embed_neardup(spark, SF_DIR, max_rows=10_000_000)
    assert df.columns == ["id_a", "id_b", "cosine"]


def test_q01_partial_aggregate(spark):
    """The pricing summary keeps the two-phase hash aggregate: a partial
    (map-side) phase before the exchange, final after."""
    from postfix_log_parser_spark.analytics import q01_pricing_summary

    plan = _plan(q01_pricing_summary(spark, SF_DIR))
    ix_exchange = plan.find("Exchange hashpartitioning")
    assert ix_exchange > 0
    # a partial HashAggregate appears BELOW (after, in toString order) it
    assert "partial" in plan[ix_exchange:].lower() or plan.count("HashAggregate") >= 2


def test_parse_pipeline_is_narrow_until_fold(spark):
    """parse_lines is shuffle-free: the only exchange in events must be
    the sessionize fold's hash shuffle on queue_id (plus AQE reads)."""
    from postfix_log_parser_spark import parse_lines
    from postfix_log_parser_spark.sources.text import lines_df

    lines = [
        "2024-04-09T20:22:42.548478+03:00 h p AAAAAAAAAAA: from=<a@b.c>",
    ]
    parsed = parse_lines(lines_df(spark, lines))
    assert "Exchange" not in _plan(parsed)


def test_q37_sample_is_a_pure_predicate(spark):
    """The stratified sample must be a filter (hash predicate), not a
    sample operator or shuffle — reproducible and partition-independent."""
    from postfix_log_parser_spark.ext.dedup import q37_training_mix

    plan = _plan(q37_training_mix(spark, SF_DIR))
    assert "Sample" not in plan  # no RNG-based sampling operator
    # exactly the dedup + budget aggregates shuffle; the gates/sample are
    # narrow (2 hash exchanges: groupBy(md5) and groupBy(source, lang))
    assert plan.count("Exchange hashpartitioning") <= 2


def test_fused_engine_single_shuffle(spark):
    """The fused parse+fold engine's events plan must contain exactly ONE
    hash exchange — the raw-line co-location shuffle.  Parse output never
    shuffles (that is the engine's 100 TB claim: shuffle bytes are the
    raw line + key, not the parsed maps/arrays)."""
    from postfix_log_parser_spark.operators.parse import parse_lines_arrow
    from postfix_log_parser_spark.operators.sessionize import sessionize
    from postfix_log_parser_spark.sources.text import lines_df

    lines = [
        "2024-04-09T20:22:42.548478+03:00 h p AAAAAAAAAAA: from=<a@b.c>",
        "2024-04-09T20:22:43.000000+03:00 h p AAAAAAAAAAA: removed",
    ]
    raw = lines_df(spark, lines)
    events, faults, state = sessionize(parse_lines_arrow(raw), raw_lines=raw)
    plan = _plan(events)
    assert plan.count("Exchange hashpartitioning") == 1


def test_q21_persist_reused_and_spillable(spark):
    """The exploded shingle set feeds four consumers through ONE
    materialization (InMemoryTableScan reuse), and the cache is
    MEMORY_AND_DISK so a skewed corpus spills instead of OOMing an
    executor at scale."""
    from postfix_log_parser_spark.ext.dedup import q21_dedup_ngram_jaccard

    df = q21_dedup_ngram_jaccard(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") >= 2  # shared materialization
    assert "StorageLevel(disk, memory" in plan  # MEMORY_AND_DISK level


def test_q47_broadcasts_eval_grams(spark):
    """Decontamination joins the exploded training grams against the eval
    gram set — the eval side must broadcast; the training side must never
    sort-merge (its scan would shuffle the whole corpus)."""
    from postfix_log_parser_spark.ext.textstats import q47_decontamination

    plan = _plan(q47_decontamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q46_partial_aggregates(spark):
    """Both repetition aggregations keep a map-side partial phase."""
    from postfix_log_parser_spark.ext.textstats import q46_repetition_quality

    plan = _plan(q46_repetition_quality(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final x (word, bigram)


def test_q52_packing_single_shuffle(spark):
    """Sequence packing is ONE hash exchange: the window's source
    partitioning is reused by the (source, pack_id) aggregate — partial+
    final with no second exchange, and the scan prunes to 3 columns."""
    from postfix_log_parser_spark.ext.packing import q52_pack_sequences

    plan = _plan(q52_pack_sequences(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    read = scan.split("ReadSchema:")[1]
    assert "lang" not in read and "n_chars" not in read  # pruned


def test_q55_pivot_broadcasts_dim_no_discovery_scan(spark):
    """Pivot with explicit values: the customer dim broadcasts, and the
    orders fact is scanned exactly once (no distinct-discovery job over
    the pivot column)."""
    from postfix_log_parser_spark.analytics import q55_pivot_segments

    plan = _plan(q55_pivot_segments(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert sum("orders.parquet" in ln for ln in plan.splitlines() if "FileScan" in ln) == 1


def _final_plan(df) -> str:
    """Executed plan's FINAL section only (AQE's toString appends the
    initial plan after '== Initial Plan ==', double-counting operators)."""
    df.collect()
    return _plan(df).split("== Initial Plan ==")[0]


def test_q58_assignment_is_narrow_single_shuffle(spark):
    """k-means assignment is a pure Catalyst map over the scan; the final
    summary is ONE hash exchange (partial+final agg), no join anywhere —
    the shape that scales linearly at 100 TB."""
    from postfix_log_parser_spark.ext.cluster import q58_kmeans

    plan = _final_plan(q58_kmeans(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 1


def test_q59_adc_join_is_broadcast_codes_only(spark):
    """PQ search: candidate scoring joins the 8-byte codes against the
    BROADCAST query LUTs (non-equi → BroadcastNestedLoopJoin with a
    constant-size broadcast side); the exact rerank is a broadcast hash
    join; nothing sort-merges or goes cartesian.  Since r13 the codes
    side is the session-staged IVF-PQ index (ExistingRDD — no full-
    corpus re-encode) plus the per-call-encoded new-batch slice, and the
    rank exchange carries (qid, vec_id, adc_raw) only — qv/qn re-attach
    to the winners via a second broadcast hash join."""
    from postfix_log_parser_spark.ext.quantize import q59_ann_pq

    plan = _final_plan(q59_ann_pq(spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # tiny query side only
    assert plan.count("BroadcastHashJoin") >= 2  # emb rerank + query rerank
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # staged index, not a corpus re-encode
    # new-batch encode, queries LUT, rerank emb, rerank query side
    assert plan.count("FileScan parquet") == 4


def test_q60_stats_join_back_is_broadcast(spark):
    """int8 quantization: the 64-row dim-stats aggregate broadcasts back
    onto the exploded values; exactly two hash exchanges (stats agg +
    error agg), never a sort-merge of the exploded table."""
    from postfix_log_parser_spark.ext.quantize import q60_int8_quant

    plan = _final_plan(q60_int8_quant(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q61_scd2_single_window_shuffle(spark):
    """SCD2 compaction is ONE hash exchange (the user_id window) — no
    join, no second shuffle; linear at dimension-history scale."""
    from postfix_log_parser_spark.analytics import q61_scd2_user_state

    plan = _final_plan(q61_scd2_user_state(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_q62_topk_never_global_sorts(spark):
    """The weighted sample's top-k must be TakeOrderedAndProject (per-
    partition heaps + k-row merge), never a range-partitioned global
    sort; the rank window runs on the k survivors only."""
    from postfix_log_parser_spark.ext.sampling import q62_weighted_sample

    plan = _final_plan(q62_weighted_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_q63_scoring_is_narrow(spark):
    """The bigram-LM score pass folds each doc's bigrams against the
    constant-folded ≤37²-entry model map — a pure narrow projection over
    the scan: no explode-join, no exchange, no shuffle at all."""
    from postfix_log_parser_spark.ext.textstats import q63_bigram_lm_quality

    plan = _final_plan(q63_bigram_lm_quality(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode in the scoring pass


def test_q64_profile_scans_are_column_pruned(spark):
    """The profile is one single-column pass per column — each of the 5
    scans must read exactly its own column (no Expand multi-distinct)."""
    from postfix_log_parser_spark.ext.profile import PROFILE_COLUMNS, q64_table_profile

    plan = _final_plan(q64_table_profile(spark, SF_DIR))
    assert "Expand" not in plan  # the multi-count-distinct blow-up
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == len(PROFILE_COLUMNS)
    for scan in scans:
        read = scan.split("ReadSchema:")[1]
        n_cols = read.count(":")  # struct<field:type,...> one colon per field
        assert n_cols == 1, read


def test_q66_funnel_single_shuffle(spark):
    """All three funnel stages ride windows over ONE user_id exchange —
    a per-stage self-join would shuffle the events table three times."""
    from postfix_log_parser_spark.analytics import q66_funnel

    plan = _final_plan(q66_funnel(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_q65_regression_is_one_aggregation(spark):
    """The grouped OLS fit is a single partial+final aggregation of
    integer sufficient statistics — one shuffle, no second pass."""
    from postfix_log_parser_spark.ext.textstats import q65_ols_tokens_vs_chars

    plan = _final_plan(q65_ols_tokens_vs_chars(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2


def test_q68_ivfpq_candidates_are_equi_join(spark):
    """IVF-PQ's candidate generation must be a broadcast HASH join on
    the cell id (partition-prunable at scale) — not q59's nested loop —
    and scoring must still ride the codes column only."""
    from postfix_log_parser_spark.ext.quantize import q68_ann_ivfpq

    plan = _final_plan(q68_ann_ivfpq(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # ADC cell join + rerank
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q154_leakage_never_rescans_the_corpus(spark):
    """The split label is a constant-folded md5 of doc_id computed in
    the projection over the component map — the audit must not join back
    to (or rescan) the documents table.  With the LSH+CC stage the
    component map is a checkpoint, so the whole plan reads ZERO parquet:
    one ExistingRDD scan, component-keyed aggregate, 1-row summary."""
    from postfix_log_parser_spark.ext.leakage import q154_split_leakage

    plan = _final_plan(q154_split_leakage(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 0  # no second corpus scan
    assert "ExistingRDD" in plan  # staged component map
    assert "Join" not in plan  # split is a projection, not a corpus join


def test_q156_budget_window_is_bounded_by_source_dim(spark):
    """The greedy token-budget fill runs its windows on a SINGLE
    partition — legal only because the window input is the per-source
    aggregate (|sources| rows), never the corpus.  Pin: corpus scanned
    once, per-source reduction exchanges BELOW the single-partition
    exchange, and the windows sit above it."""
    from postfix_log_parser_spark.ext.budget import q156_token_budget

    plan = _final_plan(q156_token_budget(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1  # one corpus scan
    assert plan.count("Exchange SinglePartition") == 1
    # the reduction to |sources| rows happens before the global window
    body = plan.split("Exchange SinglePartition")[1]
    assert "hashpartitioning(source" in body  # per-source agg below it
    assert "Window" in plan.split("Exchange SinglePartition")[0]


def test_q157_incremental_ann_probes_persisted_index(spark):
    """Incremental ANN must PROBE the persisted IVF-PQ index, never
    rebuild it: the index side is the staged checkpoint (ExistingRDD —
    no corpus re-encode in this plan), candidates come from a broadcast
    HASH join on the probe cell, and the only parquet scans are the new
    batch and the exact-rerank lookup."""
    from postfix_log_parser_spark.ext.quantize import (
        IVF_STAGE_COMPUTES,
        q157_ann_incremental,
    )

    plan = _final_plan(q157_ann_incremental(spark, SF_DIR))
    assert "ExistingRDD" in plan  # persisted index, not a rebuild
    assert plan.count("BroadcastHashJoin") >= 2  # probe-cell join + rerank
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # new batch (probe), rerank emb lookup, rerank query side (r13: the
    # rank exchange sheds qv/qn; winners re-attach them via broadcast)
    assert plan.count("FileScan parquet") == 3
    # a second call probes the SAME staged index — no recompute
    before = IVF_STAGE_COMPUTES["n"]
    q157_ann_incremental(spark, SF_DIR).collect()
    assert IVF_STAGE_COMPUTES["n"] == before


def test_q69_incremental_join_no_cartesian(spark):
    """Incremental dedup's candidate generation is the band-key equi-join
    of new batch against index — no cartesian, no sort-merge explosion;
    the shared shingle materialization is reused across signature and
    verify consumers."""
    from postfix_log_parser_spark.ext.dedup import q69_incremental_dedup

    plan = _final_plan(q69_incremental_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted shingles reused


def test_q72_bloom_filter_injected(spark):
    """With the runtime bloom filter enabled and its size thresholds met
    (at 100 TB they are; here we lower them), the optimizer must inject a
    bloom_filter_might_contain probe from the filtered orders keys into
    the lineitem side of the semi-join — dropping fact rows at the scan,
    before the shuffle."""
    from postfix_log_parser_spark.analytics import q72_bloom_semijoin

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # force the semi-join onto the shuffle path (broadcast joins don't
        # need a runtime filter — at 100 TB the urgent-orders key set
        # outgrows the broadcast threshold, which is the scenario pinned)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = q72_bloom_semijoin(spark, SF_DIR)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt and "bloom_filter_agg" in opt
        df.collect()  # the filtered plan still executes
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q70_grid_is_generated_after_aggregation(spark):
    """The dense hourly grid must be exploded from the per-user [min,max]
    AGGREGATE (one row per user), never joined against a global calendar
    — and the forward-fill window must be key-partitioned."""
    from postfix_log_parser_spark.ext.timeseries import q70_gapfill_hourly

    plan = _plan(q70_gapfill_hourly(spark, SF_DIR))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    gen = next(ln for ln in plan.splitlines() if "Generate explode" in ln)
    assert "sequence" in gen  # grid from the agg row, not a calendar scan
    assert "partial_min" in plan or "partial" in plan.lower()


def test_q71_sketch_is_broadcast_back(spark):
    """The finished d×w counter table (≤2048 rows) must ride a broadcast
    to score candidate keys — no second big-side shuffle — and the
    counter aggregation must keep its map-side partial phase."""
    from postfix_log_parser_spark.ext.sketches import q71_heavy_hitters_cms

    plan = _plan(q71_heavy_hitters_cms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × (counters, keys)
    assert "CartesianProduct" not in plan


def test_q73_iterations_are_equi_joins(spark):
    """Every PageRank iteration must be an equi-join + hash aggregate;
    no cartesian products, no global sort."""
    from postfix_log_parser_spark.ext.graph import q73_pagerank_transitions

    plan = _plan(q73_pagerank_transitions(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Sort [pr" not in plan


def test_q74_chunk_join_is_broadcast_equi(spark):
    """Dup-chunk marking is ONE min/max window over the chunk-hash
    exchange (r13) — no join of chunks against anything, and certainly
    never an all-pairs compare: the chunk stream is scanned and
    shuffled exactly once."""
    from postfix_log_parser_spark.ext.dedup import q74_passage_dedup

    plan = _final_plan(q74_passage_dedup(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") == 1
    assert plan.count("FileScan parquet") == 1  # one chunk scan


def test_q76_blocking_join_is_equi(spark):
    """Entity-resolution candidates must come from the blocking equi-join
    — a nested-loop/cartesian compare of the two record sets would be the
    O(N²) plan this operator exists to avoid."""
    from postfix_log_parser_spark.ext.entity import q76_entity_resolution

    plan = _plan(q76_entity_resolution(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q71_topk_never_global_sorts(spark):
    """Heavy-hitter ranking must plan TakeOrderedAndProject over the
    estimate table, not a single-partition global Window sort."""
    from postfix_log_parser_spark.ext.sketches import q71_heavy_hitters_cms

    plan = _plan(q71_heavy_hitters_cms(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q81_range_exchange_no_global_sort(spark):
    """The sorted-layout export must use a range exchange + local sorts;
    a global Sort over a single partition would serialize the corpus."""
    from postfix_log_parser_spark.ext.export import q81_range_export

    plan = _plan(q81_range_export(spark, SF_DIR))
    assert "rangepartitioning(n_chars" in plan.lower()


def test_q82_pairs_stay_jvm_and_heap_topk(spark):
    """BPE pair counting is pure Catalyst (no Python eval in the plan)
    and takes its top-k with per-partition heaps."""
    from postfix_log_parser_spark.ext.bpe import q82_bpe_pair_counts

    plan = _plan(q82_bpe_pair_counts(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_q86_single_user_exchange(spark):
    """Per-user z-scores ride ONE user-partitioned window exchange —
    no second scan and no stats-table shuffle join."""
    from postfix_log_parser_spark.analytics import q86_zscore_anomalies

    plan = _plan(q86_zscore_anomalies(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_q87_median_has_no_value_buffers(spark):
    """Exact grouped median must use the sort-rank shape (spillable),
    never a percentile aggregate that buffers every group value."""
    from postfix_log_parser_spark.analytics import q87_grouped_median_mad

    plan = _plan(q87_grouped_median_mad(spark, SF_DIR))
    assert "percentile" not in plan.lower()
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan  # median table joins back broadcast


def test_q89_pairs_are_narrow_no_self_join(spark):
    """Co-occurrence pairs come from an in-array expansion of the
    per-user collect_set — exactly one wide exchange on user_id, no
    (user,type) self-join (which would re-exchange both sides at scale)."""
    from postfix_log_parser_spark.analytics import q89_cooccurrence_lift

    plan = _plan(q89_cooccurrence_lift(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # every events scan sits under the persisted per-user sets relation
    # (the InMemoryTableScan reprints its build plan, so FileScan and
    # InMemoryRelation counts match 1:1 when no consumer rescans events)
    assert plan.count("InMemoryTableScan") >= 2  # sets reused, not rebuilt
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")


def test_q91_decorrelates_to_single_join(spark):
    """The correlated scalar subquery must be rewritten to an aggregate
    + equi-join — per-row subquery re-execution would be O(n²) scans."""
    from postfix_log_parser_spark.analytics import q91_correlated_scalar

    plan = _plan(q91_correlated_scalar(spark, SF_DIR))
    assert "Subquery" not in plan  # fully decorrelated, no subquery exec
    assert "Join" in plan


def test_q92_decorrelates_to_anti_join(spark):
    from postfix_log_parser_spark.analytics import q92_not_exists

    plan = _plan(q92_not_exists(spark, SF_DIR))
    assert "LeftAnti" in plan
    # the bulk predicate reaches the anti side's parquet scan
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln
            and "l_quantity" in ln]
    assert any("GreaterThan(l_quantity" in ln for ln in scan)


def test_q93_lateral_becomes_partition_limit(spark):
    """LATERAL ... ORDER BY ... LIMIT per customer must plan as a ranked
    window/partition-limit over one exchange, not a per-row subquery."""
    from postfix_log_parser_spark.analytics import q93_lateral_topn

    plan = _plan(q93_lateral_topn(spark, SF_DIR))
    assert "Subquery" not in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_q96_features_single_exchange(spark):
    """The feature vector is one conditional-aggregate pass: exactly one
    hash exchange on the entity key, partial + final aggregation."""
    from postfix_log_parser_spark.analytics import q96_user_features

    plan = _plan(q96_user_features(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_q97_join_is_salted_shuffle(spark):
    """The skew join must exchange on (event_type, _salt) — the salt in
    the partitioning keys is the whole point — and must NOT broadcast
    the dim (which would bypass the salted path entirely)."""
    from postfix_log_parser_spark.analytics import q97_skew_salted_join

    plan = _plan(q97_skew_salted_join(spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan.split("ShuffledHashJoin")[0] or "_salt" in plan
    exch = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("_salt" in ln for ln in exch)


def test_q100_bucketed_join_no_join_exchange(spark):
    """Both sides read pre-bucketed tables: the SortMergeJoin must have
    NO exchange under it — the only exchange in the whole plan is the
    final aggregate's."""
    from postfix_log_parser_spark.ext.export import q100_bucketed_join

    df = q100_bucketed_join(spark, SF_DIR)
    plan = _final_plan(df)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # final agg only
    assert "BroadcastHashJoin" not in plan


def test_q104_recursion_plans_as_union_loop(spark):
    """WITH RECURSIVE must plan Spark's iterative UnionLoop (one join per
    round against the recursive reference), not an unrolled or per-row
    re-execution."""
    from postfix_log_parser_spark.analytics import q104_recursive_reachability

    plan = _plan(q104_recursive_reachability(spark, SF_DIR))
    assert "UnionLoop" in plan
    assert "UnionLoopRef" in plan


def test_q105_one_window_exchange_feeds_both_functions(spark):
    """ntile and percent_rank share one key-partitioned Window over one
    exchange — never a second shuffle per ranking function."""
    from postfix_log_parser_spark.analytics import q105_ranking_windows

    plan = _plan(q105_ranking_windows(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(event_type") == 1
    assert "ntile" in plan and "percent_rank" in plan


def test_q106_wedges_are_equi_joins_no_cartesian(spark):
    """Triangle enumeration must be equi-joins on the apex / closing
    edge — a cartesian over the edge set would be quadratic in |E| at
    scale.  The only nested-loop join allowed is the 1-row median-weight
    broadcast."""
    from postfix_log_parser_spark.ext.graph import q106_triangle_counts

    plan = _plan(q106_triangle_counts(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # wedge + closing joins are hash equi-joins on the node keys
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_q106_compact_forward_join_order(spark):
    """Pin the compact-forward shape itself, not just 'no cartesian':
    (1) the wedge self-join is an equi-join keyed on the apex column
    ``a`` whose residual condition orders wedge legs by far-endpoint
    DEGREE (db < db, node tie-break) — enumerating every wedge at its
    lowest-degree apex is what turns a hub's O(d^2) wedges into
    O(d*avg_deg); (2) the closing join is keyed on BOTH wedge endpoints
    (b, b) = (b3, c3), so each triangle is found exactly once."""
    import re

    from postfix_log_parser_spark.ext.graph import q106_triangle_counts

    plan = _plan(q106_triangle_counts(spark, SF_DIR))
    # (1) apex equi-join with the degree-ordered residual
    wedge = re.search(
        r"(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) "
        r"\[a#\d+\], \[a#\d+\],.*?\(\(db#\d+L < db#\d+L\) OR "
        r"\(\(db#\d+L = db#\d+L\) AND \(b#\d+ < b#\d+\)\)\)",
        plan,
    )
    assert wedge, "wedge join lost its apex key or degree-order condition"
    # (2) triangle-closing join keyed on both wedge endpoints
    closing = re.search(
        r"(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) "
        r"\[b#\d+, b#\d+\], \[b3#\d+, c3#\d+\]",
        plan,
    )
    assert closing, "closing join must be keyed on (b, b) = (b3, c3)"


def test_q107_candidates_are_prefix_equi_join(spark):
    """Prefix-filtered set-similarity join: candidates must come from an
    equi-join on the prefix shingle (never all-pairs), and the prefix
    table must be a reused in-memory relation (computed once, read by
    both join sides)."""
    from postfix_log_parser_spark.ext.dedup import q107_dedup_prefix_join

    plan = _plan(q107_dedup_prefix_join(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # persisted prefix/shingle tables


def test_q110_topk_is_take_ordered_and_postings_reused(spark):
    """BM25 top-k must plan as TakeOrderedAndProject (per-partition heap
    + k-row merge), never a global single-partition sort or an
    unpartitioned row_number over the full corpus; the query-term
    posting table must be a reused in-memory relation (one tokenize scan
    feeds both the scorer and document frequencies); corpus stats and
    dfreq ride broadcasts."""
    from postfix_log_parser_spark.ext.retrieval import q110_bm25_topk

    plan = _plan(q110_bm25_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject(limit=20" in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan  # dfreq joins broadcast
    # the only Window is over the 20 surviving rows (above the TakeOrdered)
    win_pos = plan.index("Window ")
    assert win_pos < plan.index("TakeOrderedAndProject")


def test_q114_blocked_neardup_shuffles_on_cluster_only(spark):
    """SemDeDup blocking: the pair stage must be a cluster-keyed
    FlatMapGroupsInPandas (exchange on the cluster id), never a
    cartesian/nested-loop over vectors — that would silently reintroduce
    the O(N^2) q24 guards against."""
    from postfix_log_parser_spark.ext.cluster import (
        q114_semantic_blocked_neardup,
    )

    plan = _plan(q114_semantic_blocked_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert any(
        "Exchange hashpartitioning(cluster" in ln for ln in plan.splitlines()
    )


def test_q115_fusion_joins_only_arm_topk(spark):
    """Hybrid RRF: each arm ends in a TakeOrderedAndProject (bounded
    k-row output) BEFORE the fusion join, so the full-outer join touches
    2k rows, not the corpus; the semantic probe rides a broadcast."""
    from postfix_log_parser_spark.ext.retrieval import q115_hybrid_rrf

    plan = _plan(q115_hybrid_rrf(spark, SF_DIR))
    # three bounded top-ks: one 50-row TakeOrdered per arm + the final 10
    assert plan.count("TakeOrderedAndProject(limit=50") == 2
    assert plan.count("TakeOrderedAndProject(limit=10") == 1
    assert "CartesianProduct" not in plan
    # the fusion join is FULL OUTER and sits BELOW the final top-10 but
    # ABOVE both arm top-50s (printed tree: parents precede children)
    join_pos = plan.index("FullOuter")
    assert plan.index("TakeOrderedAndProject(limit=10") < join_pos
    arm_positions = [
        i for i in range(len(plan))
        if plan.startswith("TakeOrderedAndProject(limit=50", i)
    ]
    assert all(p > join_pos for p in arm_positions)


def test_q108_percentiles_rank_based_and_broadcast_back(spark):
    """Winsorized stats must use the q87 sort-rank shape (no percentile
    value buffers) and broadcast the tiny percentile table back onto the
    facts."""
    from postfix_log_parser_spark.analytics import q108_winsorized_stats

    plan = _plan(q108_winsorized_stats(spark, SF_DIR))
    assert "percentile" not in plan.lower()
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_q109_rollup_scans_facts_once(spark):
    """The hierarchical rollup's daily grain must re-aggregate the hourly
    PARTIALS — exactly one fact-table scan under two stacked aggregates."""
    from postfix_log_parser_spark.analytics import q109_hierarchical_rollup

    plan = _plan(q109_hierarchical_rollup(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("HashAggregate") >= 4  # partial+final at each grain


def test_q119_span_pipeline_no_cartesian_text_pruned(spark):
    """Substring-span dedup: the gram→dup join must be an equi-join on
    the fingerprint (never a cartesian), and the text column must die in
    the fingerprint projection — only (doc_id, p, h) may cross a
    shuffle.  The island merge must be a doc_id-partitioned window, not
    an unpartitioned one."""
    from postfix_log_parser_spark.ext.spans import q119_substring_dedup

    plan = _plan(q119_substring_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # every exchange below the window carries no text column
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln
    assert "hashpartitioning(doc_id" in plan  # island window exchange


def test_q122_class_constants_ride_broadcasts(spark):
    """NB scoring: the |C|-row class-constant frame and the tiny scalar
    aggregates must be broadcast — the exploded test-token stream joins
    the model on the word key; the argmax window is doc-partitioned."""
    from postfix_log_parser_spark.ext.classify import q122_nb_source_classifier

    plan = _plan(q122_nb_source_classifier(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "Window" in plan
    assert "hashpartitioning(doc_id" in plan  # argmax window keyed on doc


def test_q130_patterns_single_user_exchange_then_takeordered(spark):
    """Session-pattern mining: the sessionize windows and the per-session
    collect must share ONE user_id-keyed exchange; the k-cut must be
    TakeOrderedAndProject, never a global sort or unpartitioned window."""
    from postfix_log_parser_spark.analytics import q130_session_patterns

    plan = _plan(q130_session_patterns(spark, SF_DIR))
    assert "TakeOrderedAndProject(limit=25" in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Window [sum" in plan  # island windows ride that one exchange


def test_q131_attribution_single_user_exchange(spark):
    """First/last-touch attribution: sessionize + both touch windows ride
    one user-keyed exchange; the model join is on the tiny type key."""
    from postfix_log_parser_spark.analytics import q131_touch_attribution

    plan = _plan(q131_touch_attribution(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in plan


def test_q133_kanonymity_single_pass(spark):
    """The privacy audit must be one scan + one QI-keyed hash aggregate:
    no joins, no windows, and the distinct-user count must ride the same
    exchange as the class-size count (partial_count + partial distinct),
    not a second shuffle of the fact table."""
    from postfix_log_parser_spark.ext.privacy import q133_kanonymity

    plan = _plan(q133_kanonymity(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Window" not in plan
    # count-distinct plans as expand + two keyed exchanges max; the fact
    # table itself is exchanged only on the QI key
    assert plan.count("Exchange hashpartitioning") <= 2
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    read = scan.split("ReadSchema:")[1]
    assert "props" not in read and "event_id" not in read  # pruned


def test_q134_containment_is_shingle_keyed_no_cartesian(spark):
    """Containment candidates must come from the shingle equi-join —
    never an all-pairs product; the hot-shingle cap rides a broadcast."""
    from postfix_log_parser_spark.ext.dedup import q134_containment_dedup

    plan = _plan(q134_containment_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "shingle" in plan  # candidate join keyed on the shingle


def test_q135_zone_map_audit_prunes_scan(spark):
    """The z-cell audit is a projection + one hash aggregate; the Morton
    code is plain bit arithmetic inside the scan stage (no UDF, no
    python worker), and the scan reads only ts + user_id."""
    from postfix_log_parser_spark.ext.layout import q135_zorder_layout

    plan = _plan(q135_zorder_layout(spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    read = scan.split("ReadSchema:")[1]
    assert "ts" in read and "user_id" in read
    assert "props" not in read and "value" not in read


def test_q135_zorder_partition_is_range_partitioned_sort(spark):
    """The write-path layout operator must plan as RangePartitioning on
    the Morton key with an in-partition sort — the shape that makes every
    output file a compact z-range with prunable footer stats."""
    from postfix_log_parser_spark.ext.layout import zorder_partition

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = zorder_partition(ev, F.col("user_id") % 256, F.hour("ts"), 16)
    plan = _plan(df)
    assert "rangepartitioning(_z" in plan
    assert "Sort [_z" in plan


def test_q136_kmv_pair_stage_touches_sketches_only(spark):
    """The exact-intersection join must be an equi-join keyed on the
    hash; the only nested-loop join allowed is the sketch-pair cross
    (n_sources x K rows, broadcast side), never the corpus."""
    from postfix_log_parser_spark.ext.sketches import q136_kmv_overlap

    plan = _plan(q136_kmv_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # the sketch build is two-phase: the partition-local bottom-K trim
    # (MapInPandas) must sit below the source-keyed rank exchange
    assert "MapInPandas" in plan
    exch = plan.index("Exchange hashpartitioning(source")
    assert exch < plan.index("MapInPandas")


def test_q137_cdc_snapshot_is_partial_agg_not_window(spark):
    """Changelog compaction must be max_by partial aggregation: one
    user-keyed exchange carrying pre-reduced candidates — NO window sort
    of the full changelog."""
    from postfix_log_parser_spark.analytics import q137_cdc_snapshot

    plan = _plan(q137_cdc_snapshot(spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "partial_max_by" in plan.lower() or "partial" in plan.lower()


def test_q138_two_phase_topk_trims_before_the_exchange(spark):
    """Two-phase top-k: the partition-local trim (MapInPandas) must sit
    BELOW the single user-keyed exchange, so the shuffle carries at most
    k x partitions rows per key — never the full table."""
    from postfix_log_parser_spark.ext.topk import q138_topk_per_key

    plan = _plan(q138_topk_per_key(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "MapInPandas" in plan
    # the trim is upstream of the exchange: in Spark's plan string the
    # exchange line appears ABOVE its child MapInPandas line
    exch = plan.index("Exchange hashpartitioning(user_id")
    trim = plan.index("MapInPandas")
    assert exch < trim, "trim must be a child of the exchange, not above it"
    assert "Window" in plan


def test_q139_centroids_stay_distributed_and_broadcast_back(spark):
    """Embedding QC: the centroid table must ride a BroadcastExchange
    back onto the vectors (never a driver collect or a fact-side
    shuffle), and the stats fan-out is one label-keyed window."""
    from postfix_log_parser_spark.ext.embqc import q139_embedding_outliers

    plan = _plan(q139_embedding_outliers(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan
    assert "Window" in plan and "hashpartitioning(label" in plan
    assert plan.count("FileScan parquet") == 2  # vectors + centroid build


def test_q140_scene_cuts_need_no_window_shuffle(spark):
    """Video scene cuts: frames of a doc are adjacent inside the Arrow
    stage, so the inter-frame Hamming must NOT plan a window — the only
    exchange is the per-doc aggregate."""
    from postfix_log_parser_spark.ext.multimodal import q140_video_scene_cuts

    plan = _plan(q140_video_scene_cuts(spark, SF_DIR))
    assert "Window" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q163_jpeg_qa_scans_pruned_and_clusters_on_img_key(spark):
    """JPEG roundtrip QA, dedup-before-decode revision (r9): the codec
    Arrow stage consumes the DISTINCT identity aggregate (see the
    companion pin test_q163_codec_runs_on_identity_table_not_corpus),
    both scans stay pruned to (doc_id, n_chars) with the null-gate
    pushed down, and the cluster-size window still shuffles on img_key
    — the q20 exact-dedup shape."""
    from postfix_log_parser_spark.ext.multimodal import q163_jpeg_roundtrip

    plan = _plan(q163_jpeg_roundtrip(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    # per-doc identity side + identity-aggregate side, both pruned
    assert plan.count("FileScan parquet") == 2
    assert "IsNotNull(text)" in plan  # null-gate pushed to the scan
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in plan
    assert "hashpartitioning(img_key" in plan


def test_q164_banded_hamming_never_plans_all_pairs(spark):
    """Banded-Hamming near-dup: candidates come from the (band_idx,
    band_key) equi-join — an all-pairs plan would be a cartesian or a
    non-equi BNLJ.  The fingerprint aggregate must be partial (map-side
    combine under the one doc-keyed exchange)."""
    from postfix_log_parser_spark.ext.dedup import q164_simhash_banded_neardup

    plan = _plan(q164_simhash_banded_neardup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "band_key" in plan
    # map-side combined bit sums (toString truncates the 60-fn list)
    assert "partial_sum" in plan
    # Catalyst fuses the hamming verify INTO the band equi-join condition
    assert "bit_count" in plan


def test_q165_bloom_probes_never_shuffle_the_corpus(spark):
    """Bloom decontamination: K probes ride BROADCAST joins against the
    materialized (ExistingRDD) filter table — the training gram stream
    must never hit a hash exchange except the final per-doc aggregate."""
    from postfix_log_parser_spark.ext.sketches import q165_bloom_decontamination

    plan = _plan(q165_bloom_decontamination(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 4  # 3 probes + is_exact
    assert "Scan ExistingRDD" in plan  # the checkpointed bloom table
    # the only hash exchanges: final doc_id agg (partial + final)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "hashpartitioning(doc_id" in plan


def test_q141_cascade_single_scan_pruned_to_text(spark):
    """Filter cascade: all metrics live inside the scan projection, so
    the corpus scan must read ONLY text, with one corpus-side exchange
    (the 5-value rule aggregate); the reach windows run on the 5-row
    rule dimension, never the corpus."""
    from postfix_log_parser_spark.ext.cascade import q141_filter_cascade

    plan = _plan(q141_filter_cascade(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 1
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "text" in scan and "doc_id" not in scan and "source" not in scan
    assert plan.count("Exchange hashpartitioning(rule") == 1


def test_q142_projection_is_shuffle_free_and_jvm_side(spark):
    """Random projection: embarrassingly parallel — NO exchange of any
    kind, no Python stage (the sign matrix is a constant-folded
    expression), and the scan prunes the label column."""
    from postfix_log_parser_spark.ext.projection import q142_random_projection

    plan = _plan(q142_random_projection(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
    assert plan.count("FileScan parquet") == 1
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "embedding" in scan and "label" not in scan


def test_q143_normalize_single_scan_one_arrow_stage(spark):
    """Unicode canonicalization: one scan, one Arrow-batched Python
    stage (the NFC UDF), zero shuffles — everything else is JVM-side."""
    from postfix_log_parser_spark.ext.normalize import q143_unicode_normalize

    plan = _plan(q143_unicode_normalize(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert plan.count("FileScan parquet") == 1


def test_q144_vocab_rides_broadcast_and_scans_corpus_once(spark):
    """Vocab coverage: the top-V vocab must ride a BroadcastExchange
    back onto the (source, word) aggregate, and the corpus must be
    scanned ONCE (the aggregate is localCheckpoint-shared between the
    vocab branch and the coverage branch)."""
    from postfix_log_parser_spark.ext.vocab import q144_vocab_oov

    df = q144_vocab_oov(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("FileScan parquet") <= 1, (
        "corpus scanned more than once — checkpoint sharing regressed"
    )


def test_q145_dp_release_two_keyed_exchanges_pruned_scan(spark):
    """DP release: the clamp aggregate keyed on (user, type) and the
    release aggregate keyed on type — exactly two exchanges — over a
    scan pruned to the two key columns; noise is constant-folded."""
    from postfix_log_parser_spark.ext.privacy import q145_dp_release

    plan = _plan(q145_dp_release(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Python" not in plan
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "user_id" in scan and "event_type" in scan and "value" not in scan


def test_q146_pipeline_single_scan_two_exchanges(spark):
    """Curation pipeline composition: the whole chain (canonicalize →
    cascade → dedup → report) must plan as ONE corpus scan with exactly
    two exchanges — the canonical-hash dedup window and the per-source
    aggregate — and one Arrow Python stage (the NFC UDF)."""
    from postfix_log_parser_spark.ext.pipeline import q146_curation_pipeline

    plan = _plan(q146_curation_pipeline(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan


def test_q147_skew_audit_stats_never_touch_the_corpus(spark):
    """Skew audit: each branch collapses its table to a counts aggregate
    map-side; the hot-key pick joins the counts table against a
    broadcast 1-row max — no window, no sort of the corpus, and every
    scan prunes to its single key column."""
    from postfix_log_parser_spark.ext.skew import q147_skew_audit

    plan = _plan(q147_skew_audit(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for ln in plan.splitlines():
        if "FileScan parquet" in ln and "lineitem" in ln:
            read = ln.split("ReadSchema:")[1]
            assert "l_orderkey" in read and "l_comment" not in read


def test_q151_aggregates_pushed_to_parquet_footers(spark):
    """Metadata stats: every branch's COUNT/MIN/MAX must be answered by
    the scan itself — PushedAggregation on a DSv2 BatchScan, one per
    probed table, with no fallback partial-aggregate scan of data rows.
    The pin inspects the pre-checkpoint plan INSIDE the conf scope (the
    public q151 returns a materialized LogicalRDD)."""
    from postfix_log_parser_spark.ext.metastats import (
        _pushdown_scope,
        _stats_plan,
        q151_metadata_stats,
    )

    with _pushdown_scope(spark):
        plan = _plan(_stats_plan(spark, SF_DIR))
    assert plan.count("PushedAggregation: [COUNT(*)") == 4
    assert plan.count("BatchScan parquet") == 4
    assert "FileScan parquet" not in plan  # nothing fell back to v1
    # and the public wrapper restores the session's v1 source list
    v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    q151_metadata_stats(spark, SF_DIR)
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == v1


def test_q152_fact_scan_prunes_partitions_dynamically(spark):
    """DPP: the partitioned fact scan must carry a
    dynamicpruningexpression in its PartitionFilters (fed by the dim's
    broadcast), the dim must ride a BroadcastExchange, and the fact
    side must never shuffle before the join."""
    from postfix_log_parser_spark.ext.dpp import _dpp_plan, _materialize

    work = _materialize(spark, SF_DIR)
    plan = _plan(_dpp_plan(spark, work))
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan
    fact = next(
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "/fact" in ln
    )
    assert "PartitionFilters" in fact and "dynamicpruning" in fact


def test_q155_aqe_splits_the_skewed_partition(spark):
    """AQE skew handling: executed inside the conf scope, the final
    adaptive plan must mark the join SortMergeJoin(skew=true) with a
    'coalesced and skewed' AQEShuffleRead — the runtime split actually
    happened, not just the conf being set."""
    from postfix_log_parser_spark.ext.aqeskew import _skew_join, _skew_scope

    with _skew_scope(spark):
        df = _skew_join(spark, SF_DIR)
        df.collect()
        plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan
    assert "skewed" in plan  # AQEShuffleRead ... skewed


def test_q172_incremental_cc_touches_no_parquet_after_staging(spark):
    """Incremental CC's returned plan must be assembled ENTIRELY from
    staged checkpoints: the base component map and the delta-CC labels
    are ExistingRDDs, the component relabel is a BROADCAST join (the
    relabel map is merge-proportional), and no parquet is rescanned —
    the corpus was paid for when the band index was staged, the wave
    when the delta was built.  Also pins the stage counters: the heavy
    work runs once per (session, corpus)."""
    from postfix_log_parser_spark.ext.dedup import (
        STAGE_COMPUTES,
        q172_incremental_components,
    )

    q172_incremental_components(spark, SF_DIR)  # ensure staged
    before = dict(STAGE_COMPUTES)
    plan = _final_plan(q172_incremental_components(spark, SF_DIR))
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    after = dict(STAGE_COMPUTES)
    assert after == before  # second call = pure stage hit


def test_q163_codec_runs_on_identity_table_not_corpus(spark):
    """q163's Python codec stage must consume the DISTINCT image-identity
    aggregate (≤768 rows), never the corpus: the MapInPandas sits above
    the (a, jh) aggregation and its results broadcast-join back onto the
    doc list — the dedup-before-decode shape."""
    from postfix_log_parser_spark.ext.multimodal import q163_jpeg_roundtrip

    plan = _final_plan(q163_jpeg_roundtrip(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
    # the codec side of the broadcast join reduces to identities first
    codec_side = plan.split("MapInPandas")[1]
    assert "HashAggregate" in codec_side
    assert "CartesianProduct" not in plan
