"""Physical-plan regression tests: the 100 TB posture, asserted.

A correct result with a wrong plan (filter not pushed, dim not broadcast,
extra shuffle) is a latent 100x regression at scale — these tests pin the
plan properties the engine's design depends on (SURVEY.md §4).
"""
import re

from industry_big_data_time_sequence_process_spark.registry import REGISTRY

from .conftest import SF_T2


def _plan(spark, key: str, mode: str = "formatted") -> str:
    df = REGISTRY[key].fn(spark, SF_T2)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "filter_simple")
    assert "LessThan(l_quantity,10.0)" in plan, "predicate not pushed to parquet"


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "agg_groupby_multi")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = m.group(1)
    assert "l_comment" not in cols and "l_orderkey" not in cols, (
        f"unused columns not pruned from scan: {cols}")
    assert "l_quantity" in cols


def test_dim_joins_are_broadcast(spark):
    plan = _plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    # the fact (customer) side must not shuffle for the dim joins
    assert "Exchange hashpartitioning(c_custkey" not in plan


def test_star_join_uses_hash_joins_not_nested_loop(spark):
    plan = _plan(spark, "join_multikey_chain")
    assert "NestedLoop" not in plan, "star join degenerated to nested loop"


def test_theta_join_is_nested_loop_on_dims_only(spark):
    plan = _plan(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" in plan  # expected for pure non-equi


def test_sessionize_single_shuffle(spark):
    plan = _plan(spark, "ts_sessionize", "simple")
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 1, (
        f"sessionize should shuffle exactly once on user_id, "
        f"found {n_exchanges} exchanges")


def test_aggregation_has_map_side_partials(spark):
    plan = _plan(spark, "agg_groupby_multi", "simple")
    # partial aggregate before the exchange, final after
    assert re.search(r"HashAggregate.*partial", plan, re.I | re.S), (
        "no map-side partial aggregation")


def test_anomaly_zscore_broadcasts_stats_not_facts(spark):
    plan = _plan(spark, "ts_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(event_type" not in plan.split(
        "BroadcastExchange")[0], "fact side shuffled for the stats join"


def test_topk_global_take_ordered(spark):
    plan = _plan(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan, (
        "orderBy+limit should plan TakeOrderedAndProject (per-partition "
        "top-k + driver merge), not a global sort")


def test_subqueries_decorrelated_to_joins(spark):
    plan = _plan(spark, "filter_subquery_in")
    assert "LeftSemi" in plan, "IN/EXISTS subqueries not rewritten to semi joins"


def test_bucketed_join_no_exchange(spark):
    """The whole point of bucketing: the join reads bucket-local files,
    so no Exchange appears anywhere under the join."""
    plan = _plan(spark, "sink_bucketed_join", "simple")
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, (
        "bucketed scan not used:\n" + join_part[:500])


def test_salted_agg_two_phase(spark):
    plan = _plan(spark, "agg_skew_salted", "simple")
    assert "salt" in plan


def test_unpivot_single_scan(spark):
    plan = _plan(spark, "unpivot_melt", "simple")
    assert plan.count("FileScan") == 1, "unpivot rescans the table"
    assert "Expand" in plan


def test_range_bucketed_join_is_hash_not_nested_loop(spark):
    # The whole point of join_range_bucketed: the keyless interval join
    # must become an equi (broadcast hash) join on the day bucket, never
    # a nested loop over windows x facts.
    plan = _plan(spark, "join_range_bucketed")
    assert "NestedLoop" not in plan, "bucketed range join degenerated"
    assert "BroadcastHashJoin" in plan


def test_ivf_centroid_side_is_broadcast(spark):
    plan = _plan(spark, "sim_ivf_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the big embeddings side must not shuffle to meet the tiny centroids
    assert "Exchange hashpartitioning(cid" not in plan


def test_hash_sample_filter_is_pushed_into_scan_stage(spark):
    # bucket = f(md5) can't reach parquet PushedFilters (computed column),
    # but it must stay a narrow pipeline: no Exchange at all in the plan.
    plan = _plan(spark, "sample_hash_bucket", "simple")
    assert "Exchange" not in plan, "hash sampling must be shuffle-free"


def test_calendar_gaps_grid_from_aggregate_not_facts(spark):
    # grid explode must hang off the per-user bounds aggregate (small),
    # and the grid-obs join keys must be co-partitioned hash joins.
    plan = _plan(spark, "ts_calendar_gaps")
    assert "Generate explode" in plan or "Generate" in plan
    assert "NestedLoop" not in plan


def test_asof_forward_single_shuffle(spark):
    # union+window asof: ONE hash exchange on the key for the window,
    # plus the right side's pre-aggregation exchange — never a range
    # explosion join.
    plan = _plan(spark, "join_asof_forward", "simple")
    assert "NestedLoop" not in plan
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 3, f"asof forward shuffled {n_exchanges}x"


def test_partition_pruning_reaches_directory_listing(spark):
    # the year filter must bind to the partition directory key, not to a
    # row-level parquet filter over all files
    plan = _plan(spark, "scan_partition_pruning")
    assert re.search(r"PartitionFilters: \[[^\]]*order_year[^\]]*1997", plan), (
        "partition filter did not reach the directory listing")


def test_events_ts_predicate_pushes_to_scan(spark):
    # The adaptive decode (sources/io.py) reads the current corpus's
    # timestamp[us] column NATIVELY — so a ts range predicate must reach
    # the parquet scan as a pushed filter. (Under the round-1 int64-ns
    # layout this was structurally impossible: the decode projection
    # `timestamp_micros(ts div 1000)` sat between the filter and the scan.
    # At 100 TB this is the difference between reading one day's row
    # groups and decoding the full table.)
    from pyspark.sql import functions as F

    from industry_big_data_time_sequence_process_spark.sources.io import (
        events_ts_kind, load,
    )
    if events_ts_kind(SF_T2) != "timestamp":
        import pytest
        pytest.skip("corpus is int64-ns; decode projection blocks pushdown")
    df = load(spark, SF_T2, "events").filter(F.col("ts") >= "2024-01-15") \
        .select("event_id", "ts", "value")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts", plan), (
        "ts range predicate not pushed to the events parquet scan")


def test_merge_hint_forces_sort_merge_join(spark):
    plan = _plan(spark, "join_hint_merge")
    assert "SortMergeJoin" in plan, "merge hint ignored"
    assert "BroadcastHashJoin" not in plan


def test_downtime_single_shuffle(spark):
    # same single-shuffle contract as sessionize: one lag window on the
    # entity key, nothing else moves the facts
    plan = _plan(spark, "ts_downtime_episodes", "simple")
    n = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n == 1, f"downtime episodes should shuffle once, found {n}"


def test_interpolate_sql_no_explosion(spark):
    # union + ignorenulls windows: bounded exchanges (obs dedup, bounds
    # agg, union window), never a range-join explosion
    plan = _plan(spark, "ts_interpolate_sql", "simple")
    assert "NestedLoop" not in plan
    n = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n <= 3, f"interpolate_sql grew extra shuffles: {n}"


def test_spc_broadcasts_limits_not_facts(spark):
    plan = _plan(spark, "ts_spc_violations")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoop", "")


def test_page_hinkley_single_window_exchange(spark):
    # stats agg shuffles once on user_id and broadcasts back (tiny);
    # both window layers AND the final aggregate share ONE
    # hashpartitioning(user_id) exchange — the sessionize discipline.
    plan = _plan(spark, "ts_page_hinkley")
    import re
    hashes = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hashes) <= 2, f"page-hinkley grew extra shuffles: {plan}"
    assert "BroadcastMode" in plan or "BroadcastExchange" in plan


def test_bloom_prefilter_probes_before_shuffle(spark):
    """join_bloom_prefilter: the three bloom probes are narrow broadcast
    joins on the fact side — non-matching lineitem rows must die BEFORE
    any exchange (that is the entire point of a runtime bloom filter)."""
    plan = _plan(spark, "join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_scalable_ivf_centroid_side_is_broadcast(spark):
    """Same posture as the reference trainer: the corpus never shuffles
    to meet the (tiny, capacity-constant) centroids. Since r13 the
    capped sample is collected (TakeOrderedAndProject in its own job),
    trained driver-side, and the ASSIGNMENT runs as an Arrow batch pass
    with the centroid bank in the task closure — the serving plan
    carries a MapInArrow node and no centroid leaf at all (in the
    past-bank-gate fallback the old broadcast-join shape returns).
    Either way: no global sort of the sample, no cid hash-exchange of
    the corpus."""
    plan = _plan(spark, "sim_ivf_scalable_topk")
    assert ("MapInArrow" in plan or "BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "Exchange hashpartitioning(cid" not in plan
    assert "Sort [hv" not in plan  # no global sort for the sample


def test_quantize_int8_is_narrow(spark):
    """The int8 quantizer is a pure map over the corpus: any Exchange in
    its plan is a 100x regression at scale (union of the s>0 / s=0
    branches is narrow too)."""
    plan = _plan(spark, "emb_quantize_int8", "simple")
    assert "Exchange" not in plan, "quantization plan grew a shuffle"


def test_decontaminate_probe_is_broadcast(spark):
    """The eval-set shingle index must broadcast: the corpus must never
    shuffle on the shingle key to MEET the eval set (a sort-merge probe
    would shuffle the whole corpus against a benchmark-sized build
    side). Since the r13 shingle-stream checkpoint, the stream's own
    df-cap anti-join executes at materialization time — its broadcast
    shape is pinned on the PRE-checkpoint frame (second half)."""
    plan = _plan(spark, "text_decontaminate", "simple")
    assert "SortMergeJoin" not in plan, "eval probe degenerated to SMJ"
    assert plan.count("BroadcastHashJoin") >= 1, "eval probe not broadcast"
    # the checkpointed shingle stream's own plan: the hot-shingle df cap
    # removes via a broadcast LEFT ANTI join (never an SMJ of the corpus
    # against the ~200-row hot set)
    from industry_big_data_time_sequence_process_spark.api import (
        word_shingles)
    from industry_big_data_time_sequence_process_spark.operators.text import (
        _SHINGLE_DF_CAP_FLOOR, _SHINGLE_DF_CAP_FRAC)
    from industry_big_data_time_sequence_process_spark.sources.io import load
    raw = word_shingles(load(spark, SF_T2, "documents"), "doc_id", "text",
                        3, _SHINGLE_DF_CAP_FLOOR, _SHINGLE_DF_CAP_FRAC)
    splan = raw._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"))
    assert "SortMergeJoin" not in splan, "df-cap anti join degenerated"
    assert "BroadcastHashJoin LeftAnti" in splan or (
        "LeftAnti, BuildRight" in splan), "df cap not a broadcast anti join"


def test_pq_adc_join_is_broadcast(spark):
    """PQ's distance tables (codebook, per-query ADC table) are tiny by
    construction and must broadcast; the corpus must never shuffle to
    meet them (SMJ on the code key would move the whole corpus)."""
    plan = _plan(spark, "sim_pq_topk", "simple")
    assert "SortMergeJoin" not in plan, "ADC/codebook join degenerated to SMJ"
    assert plan.count("BroadcastHashJoin") >= 1, "ADC join not broadcast"


def test_attribution_single_shuffle_no_join(spark):
    """Last-touch attribution must stay one window over the interleaved
    stream: exactly one hash exchange (user_id), and no join operator —
    the self-join formulation it replaces would shuffle twice and risk
    range explosion."""
    plan = _plan(spark, "ts_attribution_last_touch", "simple")
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 1, f"attribution shuffled {n_exchanges}x"
    assert "Join" not in plan, "attribution grew a join"


def test_bm25_query_terms_broadcast_fact_never_wide(spark):
    """BM25's tf pass must be a broadcast semi-join of the 5 query terms
    against the token stream — the corpus must not shuffle wide for the
    query, and no plan node may degenerate to a nested loop."""
    plan = _plan(spark, "text_bm25_retrieval")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "BM25 shuffled the token stream wide for a 5-term query")
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fusion_joins_are_tiny(spark):
    """The RRF fusion joins two <=20-row rank lists; the corpus-side work
    (token aggregate, cosine scan) must feed them without a cartesian."""
    plan = _plan(spark, "sim_hybrid_rrf")
    assert "CartesianProduct" not in plan, (
        "hybrid fusion planned a cartesian product")


def test_target_encode_single_fact_aggregate(spark):
    """Target encoding must be ONE aggregate over the fact table plus a
    1-row broadcast — a second fact-table scan or shuffle would double
    the cost of the encoding pass at 100 TB."""
    plan = _plan(spark, "feat_target_encode", "simple")
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, (
        f"target encode should scan events once, found {n_scans} scans")


def test_negative_sampling_day_grid_broadcast(spark):
    """The user x day grid must come from a broadcast of the (tiny)
    day list — shuffling users against days would shuffle the big axis
    for a calendar-sized one."""
    plan = _plan(spark, "sample_negative_pairs")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "day grid not broadcast")


def test_zorder_stats_no_join_one_aggregate(spark):
    """The z-order audit is a pure narrow projection + one hash aggregate
    on the z-bucket — any join or extra exchange is a plan regression."""
    plan = _plan(spark, "layout_zorder_stats", "simple")
    import re as _re
    n_exchanges = len(_re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 1, (
        f"zorder stats should shuffle once on zbucket, found {n_exchanges}")
    assert "Join" not in plan


def test_ivfpq_probes_and_adc_tables_broadcast(spark):
    """The composed IVF+PQ stack: query probes and ADC distance tables
    are tiny by construction and must broadcast; the corpus must never
    sort-merge or cartesian against them (that would shuffle the coded
    corpus wide for an 8-query batch)."""
    plan = _plan(spark, "sim_ivfpq_topk", "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # cid probe + ADC lookup


def test_incremental_ivf_assign_no_wide_join(spark):
    """Incremental ingest must stay batch-shaped: centroid argmax is a
    broadcast of the tiny trained bank, never a sort-merge of the batch
    against anything corpus-sized."""
    plan = _plan(spark, "sim_ivf_incremental_assign", "simple")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_hot_line_set_broadcast(spark):
    """strip_boilerplate_lines: the hot-line set is tiny by construction
    (each member needs cap x n_docs occurrences) and the corpus-side
    anti-join must broadcast it — shuffling every line against a
    handful of footers would be the 100x regression."""
    plan = _plan(spark, "text_remove_boilerplate", "simple")
    assert "SortMergeJoin" not in plan


def test_persisted_serve_scans_index_not_recompute(spark):
    """sim_ann_serve_persisted must SERVE from the persisted artifacts:
    the corpus side of its plan scans the scratch cid-partitioned
    inverted lists rather than re-deriving codes from embeddings, and
    the probe/ADC joins stay broadcast (no SMJ, no cartesian) — the
    corpus inverted lists never shuffle to meet an 8-query batch.

    r14: the centroids and codebook artifacts are consumed by the
    driver-side serve fast path (collected once per serve, probe and
    distance tables inlined as LocalTableScan leaves), so they no
    longer appear as scans INSIDE the serve plan — the plan-level
    contract is now: persisted-corpus scan present, no code
    re-derivation (no MapInArrow coding pass), local-relation
    probe/dtab broadcasts."""
    plan = _plan(spark, "sim_ann_serve_persisted", "simple")
    assert plan.count("ann_index") >= 1, (
        "serve plan does not scan the persisted corpus frame")
    assert "MapInArrow" not in plan, (
        "serve plan re-derives codes instead of scanning the index")
    assert "LocalTableScan" in plan, (
        "driver-built probe/dtab local relations missing from the plan")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_persisted_serve_prunes_corpus_partitions(spark):
    """VERDICT r6 #2: the cid-partitioned inverted-list layout must
    actually SKIP FILES at serve time. The serving tier derives its
    probed-cell IN-list first and pushes it as a static predicate on the
    partition column, so the corpus scan carries PartitionFilters with
    `cid IN (...)` — the plan-level proof that a query batch reads only
    its probed cells' directories, not the corpus."""
    plan = _plan(spark, "sim_ann_serve_persisted")
    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*IN[^\]]*\]", plan)
    assert m, "no cid IN-list PartitionFilters on the persisted corpus scan"
    # and the pruning is real: EVERY scan of the cid-partitioned corpus
    # frame must carry the partition-column filter (not an empty
    # PartitionFilters plus a post-scan re-filter)
    corpus_scans = [seg for seg in plan.split("Scan parquet")
                    if "/corpus" in seg.split("ReadSchema")[0]]
    assert corpus_scans, "no scan of the persisted corpus frame found"
    for seg in corpus_scans:
        assert re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*IN[^\]]*\]",
                         seg), f"corpus scan without cid pruning:\n{seg[:400]}"


# ---- round-9 plan pins ------------------------------------------------------


def test_quality_model_scan_pruned_and_partial_aggs(spark):
    """The NB scorer reads ONLY the three document columns it needs
    (doc_id, text, n_chars — lang/source pruned at the scan) and its
    token-count aggregates carry map-side partials."""
    plan = _plan(spark, "text_quality_model")
    cols = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert cols, "no ReadSchema in plan"
    for c in cols:
        assert "source" not in c and "lang" not in c, (
            f"unused document columns not pruned: {c}")
    assert "partial_count" in plan or "partial_sum" in plan


def test_semantic_pair_join_is_hash_keyed_never_nested_loop(spark):
    """The two-level dedup's pair join must be a (cid, scid)-keyed hash
    join between corpus-sized frames — a nested-loop there is the
    all-pairs catastrophe the index exists to prevent. (The only
    NestedLoop joins allowed in the WHOLE plan are broadcast crosses of
    tiny 1-row/centroid frames, which Spark renders as
    BroadcastNestedLoopJoin — assert the pair join itself is a HASH
    strategy keyed by [cid, scid]: at sf0.01 the statistics pick
    BroadcastHashJoin over the cached sub frame; at scale the identical
    logical join becomes shuffled-hash/sort-merge on the same keys.)"""
    plan = _plan(spark, "dedup_semantic_embedding")
    assert re.search(r"keys \[2\]: \[cid#\d+L?, scid#\d+L?\]", plan), (
        "pair join is not a hash join keyed by the sub-cell")
    assert "CartesianProduct" not in plan


def test_bpe_budget_twin_scan_pruned_no_shuffle(spark):
    """The BPE truncation audit is a pure scan: document columns pruned
    to (doc_id, lang, text) and ZERO exchanges anywhere in the plan."""
    plan = _plan(spark, "doc_truncate_budget_bpe")
    assert "Exchange" not in plan, "budget audit should be shuffle-free"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "source" not in m.group(1) and "n_chars" not in m.group(1)


# ---- round-10 plan pins -----------------------------------------------------


def test_media_decode_scans_pruned_to_two_columns(spark):
    """All three decode twins (image r5, audio r10, video r10) are one
    Arrow pass over exactly (doc_id, text) — every other document
    column pruned at the parquet scan, and no exchange anywhere (the
    decode is embarrassingly parallel)."""
    for key in ("mm_image_decode", "mm_audio_decode", "mm_video_decode"):
        plan = _plan(spark, key)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, f"{key}: no ReadSchema"
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"doc_id", "text"}, (key, cols)
        assert "Exchange" not in plan, f"{key}: decode plan shuffles"


def test_scene_cuts_routes_only_magic_blobs_to_python(spark):
    """mm_video_scene_cuts' signature stream is ONE Arrow pass over
    (doc_id, blob) — the Y4M magic gate moved INSIDE the batch function
    in r13 (non-Y4M blobs take the vectorized numpy block-pool in the
    same pass; the pre-r13 JVM fallback exploded one row PER BYTE,
    shuffling the corpus byte count). Pin: exactly one Python stage, no
    generator explode anywhere, and the scan pruned to the two columns
    the pass needs."""
    plan = _plan(spark, "mm_video_scene_cuts")
    nodes = re.findall(r"^\(\d+\) (?:MapInPandas|ArrowEvalPython)",
                       plan, re.M)
    assert len(nodes) == 1, (
        f"expected exactly one Python stage (the fused sig pass), "
        f"got {nodes}")
    assert "Generate explode" not in plan, (
        "per-byte explode resurrected next to the Arrow pass")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",") if c} \
        == {"doc_id", "text"}, "scan not pruned to (doc_id, text)"


def test_audio_fingerprint_single_arrow_pcm_pass(spark):
    """The audio fingerprint's decode pre-pass must execute ONCE: the
    fingerprint frame is checkpointed before fanning out to its four
    consumers, so the physical plan carries exactly one MapInPandas
    node (the r10 draft re-embedded — and re-ran — the Python decode
    six times, once per branch); everything downstream (anchors,
    verify) stays JVM-side."""
    plan = _plan(spark, "mm_audio_fingerprint_dedup")
    nodes = re.findall(r"^\(\d+\) (?:MapInPandas|ArrowEvalPython)",
                       plan, re.M)
    assert len(nodes) <= 1, f"Python decode duplicated: {nodes}"
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Round-10 second/third/fourth/fifth wave plan pins
# --------------------------------------------------------------------------


def test_substring_dedup_scan_pruned_and_hash_joined(spark):
    """text_substring_dedup reads exactly (doc_id, text) — windows
    collapse to the 32-bit hash before any exchange — and the dup-set
    attach is a hash equi-join on wh, never a nested loop (the dup set
    grows with the corpus, so it must NEVER broadcast-nested-loop)."""
    plan = _plan(spark, "text_substring_dedup")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "ExistingRDD" in plan, (
        "hashed-window stream no longer checkpointed (r13: it feeds two "
        "consumers; without the checkpoint every token re-explodes twice)")
    # the pre-checkpoint window stream (what the checkpoint executes):
    # scan pruned to (doc_id, text), windows collapse to the 32-bit hash
    # with NO exchange anywhere — a pure map stage
    from industry_big_data_time_sequence_process_spark.operators.text import (
        _substr_windows)
    from industry_big_data_time_sequence_process_spark.sources.io import load
    wplan = _substr_windows(load(spark, SF_T2, "documents")) \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", wplan)
    assert any("text" in s for s in schemas)
    assert all("n_chars" not in s and "source" not in s and
               "lang" not in s for s in schemas), schemas
    assert "Exchange" not in wplan, "window stream grew a shuffle"


def test_sigma_clip_no_windows_checkpointed_rounds(spark):
    """ts_anomaly_sigma_clip's three rounds are pure aggregates: NO
    window operator anywhere (the argmax is a map-combinable max_by),
    and the returned frame unions the per-round localCheckpointed
    removal sets — the final plan is scan-free (each round's 2 fact
    scans ran eagerly at build; the naive nested unroll measured 52
    scan nodes)."""
    plan = _plan(spark, "ts_anomaly_sigma_clip")
    assert "(Window" not in plan and "WindowExec" not in plan
    assert "Scan parquet" not in plan, (
        "rounds are re-deriving lineage instead of reading checkpoints")
    assert "ExistingRDD" in plan


def test_conformal_model_broadcast(spark):
    """agg_conformal_interval's (channel x 24) forecast frame and the
    per-channel quantile row both attach to fact rows by broadcast —
    the calibration slice never shuffles to meet a model."""
    plan = _plan(spark, "agg_conformal_interval")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_radius_search_candidate_join_is_hash_keyed(spark):
    """sim_lsh_radius_search joins query and corpus signatures on
    (band, bucket) — a hash equi-join; a plan regression to a nested
    loop there would be the all-pairs scan the LSH exists to avoid.
    (The only NestedLoop joins allowed are `_lsh_bands`' broadcast
    crosses of the 1-row bit-count frame — the semantic-pair pin's
    convention.)"""
    plan = _plan(spark, "sim_lsh_radius_search")
    assert re.search(r"keys \[2\]: \[band#\d+, bucket#\d+L?\]", plan), (
        "candidate join is not hash-keyed on (band, bucket)")
    assert "CartesianProduct" not in plan


def _executed_nodes(spark, key: str) -> list:
    """Every node of the key's plan as executed by one collect(), with
    adaptive plans and query stages unwrapped to what actually ran."""
    df = REGISTRY[key].fn(spark, SF_T2)
    df.collect()
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_lsh_bucketed_verifies_inside_buckets(spark):
    """sim_lsh_bucketed scores each (band, bucket) in ONE grouped Arrow
    pass: the signer is the only other Python node (no second signer
    for a join side, no unit-vector pass), and no interpreted
    ``aggregate(zip_with …)`` cosine fold is left in the plan."""
    nodes = _executed_nodes(spark, "sim_lsh_bucketed")
    names = [n.getClass().getSimpleName() for n in nodes]
    text = "\n".join(n.simpleString(1000) for n in nodes)
    assert "aggregate(zip_with" not in text
    assert names.count("MapInArrowExec") == 1, names
    grouped = [n for n in nodes
               if n.getClass().getSimpleName() == "FlatMapGroupsInArrowExec"]
    assert len(grouped) == 1, names
    keys = grouped[0].groupingAttributes()
    assert [keys.apply(i).name() for i in range(keys.size())] == [
        "band", "bucket"]


def test_pipeline_ts_audit_no_windows_no_python(spark):
    """pipeline_timeseries_audit is ONE fully declarative plan: no
    window operators (the dedup is a max_by aggregate), no Python
    stages, and the anomaly-stats frame attaches by broadcast."""
    plan = _plan(spark, "pipeline_timeseries_audit")
    assert "(Window" not in plan and "WindowExec" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_adf_scan_pruned(spark):
    """ts_adf_lite reads exactly (ts, event_type, value): the moment
    pipeline never touches event_id/user_id/props."""
    plan = _plan(spark, "ts_adf_lite")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"ts", "event_type", "value"}, cols


def test_backtest_champion_models_broadcast(spark):
    """ts_backtest_champion's three challenger model frames are all
    broadcast onto the test slice (per-channel / channel x 24 rows —
    never a shuffle of the hourly frame to meet a model)."""
    plan = _plan(spark, "ts_backtest_champion")
    assert plan.count("BroadcastHashJoin") >= 3
    # NestedLoop crosses of the 1-row bounds frame are the designed
    # broadcast; a CartesianProduct between real frames is not.
    assert "CartesianProduct" not in plan


def test_sequence_islands_offsets_not_hint_broadcast(spark):
    """dq_sequence_islands (VERDICT r10 "what's wrong" #1-#2): with a
    unique-id stream the rank-offsets table is UNBOUNDED (Θ(n/width)),
    so the op must not FORCE it broadcast — no broadcast hint anywhere
    in its logical plan (Catalyst may still size-choose a broadcast at
    this sf; at 10^11-id domains it won't, which is the point) — and
    the former corpus-sized localCheckpoint must stay gone (no
    materialized-RDD leaf in the plan)."""
    df = REGISTRY["dq_sequence_islands"].fn(spark, SF_T2)
    ext = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"))
    assert "ResolvedHint" not in ext and "UnresolvedHint" not in ext, (
        "offsets frame is hint-broadcast again")
    assert "LogicalRDD" not in ext and "ExistingRDD" not in ext, (
        "corpus-sized frame is eagerly materialized again")
