"""Physical-plan regression tests: the plans we shipped are the plans
we keep. A correctness-green change that silently drops a pushed filter,
un-broadcasts a dimension, or adds an exchange should fail here."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from mc_ns_data_pipeline_spark.plans import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, op: str) -> int:
    """Count physical operators by their detail-section headers
    (`(N) OpName`) — the tree summary would double-count."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))


def test_q01_is_scan_only_with_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_filter_project")
    assert "Exchange" not in plan  # map-only: no shuffle at all
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan(value,5.0)" in p for p in pushed)


def test_q02_broadcasts_every_dimension(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q02_left_join_chain")
    assert n_ops(plan, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_q13_pushes_literal_filter_and_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q13_inventory_extract")
    assert "BroadcastHashJoin" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(r_name,ASIA)" in p for p in pushed)


def test_q14_aggregates_on_join_partitioning(spark, sf_dir):
    """The groupBy includes the join key: partial+final aggregation must
    reuse the join's distribution, adding at most the final ORDER BY
    exchange on top of the join exchanges."""
    plan = plan_of(spark, sf_dir, "q14_sales_extract")
    assert "HashAggregate" in plan
    # dims broadcast: customer, supplier, nation x2
    assert n_ops(plan, "BroadcastHashJoin") >= 4


def test_map_only_operators_have_no_key_shuffle(spark, sf_dir):
    """Map-only ops must never shuffle BY KEY (hash/range). A RoundRobin
    exchange is permitted: that is the guarded fan-out repartition that
    spreads compute off an unsplittable single-row-group scan (a local-
    fixture artifact; `ensure_fan_out` no-ops on well-split inputs)."""
    for name in (
        "x01_text_tokens",
        "x02_text_quality",
        "x04_text_fingerprint",
        "x08_simhash_signatures",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "hashpartitioning" not in plan, (
            f"{name} gained a key shuffle:\n{plan[:800]}"
        )
        assert "rangepartitioning" not in plan, (
            f"{name} gained a sort shuffle:\n{plan[:800]}"
        )


def test_q16_broadcasts_asof_scalar(spark, sf_dir):
    """q16's as_of anchor is a 1-row aggregate: it must come back as a
    broadcast (nested-loop against one row), never a shuffled join, and
    the fact side must stay un-shuffled below the final ORDER BY."""
    plan = plan_of(spark, sf_dir, "q16_recent_report")
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    # exactly one range exchange (the report's ORDER BY desc), one
    # single-partition exchange (the scalar max) — no key shuffle
    assert "hashpartitioning" not in plan


def test_x11_grid_shuffles_once_per_side_no_driver_collect(spark, sf_dir):
    """x11 (now the grid GEMM — VERDICT r02 #4): each side is exploded
    to its grid cells then shuffled ONCE by (pi, pj) into the cogroup;
    no extra exchanges, no broadcast of the corpus, and no driver-side
    matrix (the plan has no local-collect scan of embeddings)."""
    plan = plan_of(spark, sf_dir, "x11_embed_neardup")
    assert n_ops(plan, "FlatMapCoGroupsInPandas") == 1
    # one hash exchange per cogroup side + the final orderBy range
    # exchange; anything more means a redundant reshuffle crept in
    assert plan.count("hashpartitioning(pi") == 2
    assert "BroadcastExchange" not in plan
    # the broadcast-matrix path materializes via LocalTableScan of a
    # driver pandas matrix — its absence is the no-driver-collect pin
    assert "LocalTableScan" not in plan


def test_x21_sketch_is_partial_aggregable(spark, sf_dir):
    """The sketch percentile must keep the partial->final HashAggregate
    split (mergeable state, map-side combine) — the property that makes
    it the 100 TB path. Since r3 the query adds a rank-witness pass
    (broadcast of the tiny per-group pins + a second partial-agg scan);
    the pins: still a partial approx_percentile, the witness join is a
    broadcast (never a shuffled join), and the rank counters partial-
    aggregate too."""
    plan = plan_of(spark, sf_dir, "x21_percentiles_sketch")
    assert plan.count("partial_approx_percentile") >= 1
    assert n_ops(plan, "ObjectHashAggregate") >= 2  # partial + final
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_x23_asof_is_single_keyed_shuffle(spark, sf_dir):
    """The as-of join must stay the union+window shape: no inequality
    join operator (nested-loop/cartesian — the naive encoding that
    explodes per hot key), exactly one window pass."""
    plan = plan_of(spark, sf_dir, "x23_asof_join")
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "Window") == 1


def test_x29_sessionize_single_data_shuffle(spark, sf_dir):
    """Sessionization: the lag-marker window, the island-numbering
    window, and the per-session aggregate must all ride ONE user_id
    hash exchange (agg keys (user_id, session_seq) extend the window
    partitioning, so no re-shuffle before the groupBy); only the final
    ORDER BY adds a range exchange."""
    plan = plan_of(spark, sf_dir, "x29_sessionize_batch")
    assert n_ops(plan, "Window") == 2
    assert plan.count("hashpartitioning(user_id") == 1
    assert n_ops(plan, "HashAggregate") == 2  # partial + final, no mid-shuffle


def test_x31_rollup_merges_partials(spark, sf_dir):
    """Two-level rollup: hourly partial aggregation must fuse onto the
    scan (map-side combine before the only full-data shuffle), and the
    daily level must aggregate the hourly relation — so the second hash
    exchange carries hour-grain rows, never raw events."""
    plan = plan_of(spark, sf_dir, "x31_rollup_merge")
    assert plan.count("partial_sum") >= 2  # hourly AND daily partials
    # hourly keys + daily keys + final ORDER BY = 3 exchanges total
    assert n_ops(plan, "Exchange") == 3


def test_x25_tfidf_single_scan_no_vocab_join(spark, sf_dir):
    """df must come from a term-partitioned window over the tf relation
    — NOT a self-join, which recomputes the explode+aggregate per side
    and tempts Catalyst into broadcasting the (unbounded) vocabulary.
    One explode, one corpus-count broadcast (1 row), no hash join."""
    plan = plan_of(spark, sf_dir, "x25_tfidf_topk")
    assert n_ops(plan, "Generate") == 1  # explode computed once
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1  # 1-row n_docs
    assert n_ops(plan, "BroadcastHashJoin") == 0
    assert n_ops(plan, "SortMergeJoin") == 0


def test_x32_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Decontamination must tag hits via a BROADCAST left join of the
    (small) benchmark n-gram set — never a shuffled join of corpus
    postings against benchmark postings — and the gram lambda must not
    leak into any scan filter (InferFiltersFromGenerate pushdown)."""
    plan = plan_of(spark, sf_dir, "x32_decontaminate")
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert n_ops(plan, "SortMergeJoin") == 0
    for line in plan.splitlines():
        if "FileScan" in line:
            assert "transform" not in line  # gram expr stays post-scan


def test_x33_repetition_is_map_only(spark, sf_dir):
    """All three repetition metrics are row-local: the only exchanges
    allowed are the guarded fan-out repartition off the single-row-group
    fixture scan — no aggregation, window, or join shuffle."""
    plan = plan_of(spark, sf_dir, "x33_repetition_quality")
    assert n_ops(plan, "Window") == 0
    assert n_ops(plan, "HashAggregate") == 0
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_x34_topk_cuts_before_shuffle(spark, sf_dir):
    """Per-language top-k must plan a PARTIAL WindowGroupLimit below
    the lang exchange (each map partition ships <= k rows per language,
    so the per-lang window never sees the full vocabulary), and doc
    frequency must come from the row-local vocabulary explode — no
    distinct-aggregate Expand."""
    plan = plan_of(spark, sf_dir, "x34_heavy_hitters")
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert n_ops(plan, "Expand") == 0
    assert n_ops(plan, "Window") == 1


def test_x38_profile_runs_sketch_plan_no_expand(spark, sf_dir):
    """The DECLARED profile plan must be the 100 TB one (VERDICT r04
    #4): statistics from the single-pass HLL++ aggregate with NO
    count-distinct Expand anywhere — the k exact witnesses plan as k
    separate two-phase distinct aggregates, and the estimate itself
    ships only inside the `within_tol` claim."""
    plan = plan_of(spark, sf_dir, "x38_column_profile")
    assert n_ops(plan, "Expand") == 0
    assert "approx_count_distinct" in plan


def test_x35_classifier_is_map_only(spark, sf_dir):
    """Classifier scoring must be a pure map stage: weights are plan
    literals (no broadcast variable, no join) and nothing shuffles."""
    plan = plan_of(spark, sf_dir, "x35_classifier_score")
    assert n_ops(plan, "Exchange") == 0
    assert "Join" not in plan
    assert n_ops(plan, "HashAggregate") == 0


def test_x36_recall_no_cartesian(spark, sf_dir):
    """The recall harness reuses the two ANN operators: the only
    all-pairs shape allowed is the exact side's broadcast nested loop
    (query set × corpus); no un-broadcast CartesianProduct may appear,
    and the LSH side must stay a bucket equi-join."""
    plan = plan_of(spark, sf_dir, "x36_ann_recall")
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") >= 1  # exact side
    assert n_ops(plan, "SortMergeJoin") + n_ops(plan, "BroadcastHashJoin") >= 1


def test_scans_prune_columns(spark, sf_dir):
    """x01 reads only what it projects — ReadSchema must not include the
    unused lang/source columns."""
    plan = plan_of(spark, sf_dir, "x01_text_tokens")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "doc_id" in cols and "text" in cols
    assert "lang" not in cols


def test_x41_json_extract_prunes_and_parses_once(spark, sf_dir):
    """The JSON parse must reach a 2-column pruned scan and evaluate
    from_json ONCE (shared struct), not once per extracted field."""
    plan = plan_of(spark, sf_dir, "x41_json_extract")
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(set(r.split(",")) == {"event_type:string", "props:string"}
               for r in reads)
    assert plan.count("from_json") <= 2  # initial + final AQE rendering


def test_x42_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    """The range join must run as a bucketed equi-join — a
    BroadcastNestedLoopJoin here is the scale killer the operator
    exists to avoid."""
    plan = plan_of(spark, sf_dir, "x42_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x43_centroids_aggregate_partially(spark, sf_dir):
    """Exploded components must partial-aggregate map-side so shuffle
    volume is labels x dims, not vectors x dims."""
    plan = plan_of(spark, sf_dir, "x43_centroid_stats")
    assert re.search(r"partial_sum", plan)
    # one keyed shuffle for the agg + one range for the ORDER BY
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) <= 2


def test_x44_bloom_prefilters_before_broadcast_semi_join(spark, sf_dir):
    """The Bloom probe must sit in a Filter on the big-side scan path
    (xxhash64 probes against the baked word-array literal), and the
    exact semi join must be broadcast — a SortMergeJoin would mean the
    full lineitem shuffled on the key, which is what the bloom stage
    exists to prevent."""
    plan = plan_of(spark, sf_dir, "x44_bloom_semi_join")
    assert "xxhash64" in plan  # map-side membership probes survived
    assert "SortMergeJoin" not in plan
    assert n_ops(plan, "BroadcastHashJoin") >= 1


def test_x45_corr_is_one_aggregation_pass(spark, sf_dir):
    """All pairwise moments must come from ONE partial+final aggregate
    pair over a single scan: no key shuffle, no join, no second scan —
    the whole matrix rides one SinglePartition exchange of one moments
    row per map partition."""
    plan = plan_of(spark, sf_dir, "x45_corr_matrix")
    assert n_ops(plan, "Scan") == 1
    assert n_ops(plan, "HashAggregate") == 2  # partial + final, one pass
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_x46_binning_broadcasts_cut_points(spark, sf_dir):
    """The quartile cuts are a 1-row aggregate that must come back as a
    BroadcastNestedLoopJoin (1-row cross), never a shuffled join; and
    there must be no Window — the NTILE formulation this operator
    replaces would show up as one global-sort Window."""
    plan = plan_of(spark, sf_dir, "x46_quantile_binning")
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert n_ops(plan, "Window") == 0


def test_x47_selection_shuffles_ids_not_text(spark, sf_dir):
    """The representative-selection join + window must move only
    (doc_id, n_chars, cluster_id): no ReadSchema on the selection scan
    may carry `text` except the LSH signature branch, and the window
    adds exactly one ordered shuffle on cluster_id."""
    plan = plan_of(spark, sf_dir, "x47_canonical_docs")
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    slim = [r for r in reads if "text" not in r]
    assert any("n_chars" in r for r in slim)  # selection scan is pruned
    assert n_ops(plan, "Window") <= 2  # row_number + count, one spec pair


def test_x48_topk_avoids_global_sort(spark, sf_dir):
    """Global top-k must compile to TakeOrderedAndProject (per-partition
    local top-k, k rows leave each task) — a rangepartitioning Exchange
    here means the whole corpus sorted for 50 rows."""
    plan = plan_of(spark, sf_dir, "x48_topk_quality")
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert "rangepartitioning" not in plan
    assert n_ops(plan, "Scan") == 1


def test_x49_profile_scans_source_once(spark, sf_dir):
    """The totals must derive from the tiny histogram (window), not a
    second pass over the source lineage: exactly one events scan and
    two partial+final aggregate pairs."""
    plan = plan_of(spark, sf_dir, "x49_key_skew_profile")
    assert n_ops(plan, "Scan") == 1
    assert n_ops(plan, "HashAggregate") == 4
    assert n_ops(plan, "Window") == 1


def test_x50_line_df_partial_aggregates(spark, sf_dir):
    """The line-df count-distinct must partial-aggregate map-side (an
    in-partition (hash, doc) distinct before the hash shuffle), and the
    segment explosion must not multiply scans: one Generate per lineage
    branch, documents read with a pruned 2-column schema."""
    plan = plan_of(spark, sf_dir, "x50_line_dedup")
    assert "partial_count(distinct" in plan.lower()
    assert n_ops(plan, "Generate") == 2
    for r in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in r.split(",")}
        assert cols <= {"doc_id", "text"}


def test_x52_kmeans_scans_corpus_once_per_pass(spark, sf_dir):
    """The k-means result plan: final assignment is a map-only argmin
    over literal centroids (no join against a centroid relation), one
    partial+final aggregate pair for the stats, and the tiny centroid
    relation joins in as a broadcast — never a shuffle of the corpus
    rows themselves."""
    plan = plan_of(spark, sf_dir, "x52_kmeans_refine")
    assert n_ops(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # one embeddings scan feeds the stats; the centroid side is a
    # driver-local LocalTableScan (k x dim rows), not a parquet re-read
    assert n_ops(plan, "Scan parquet") == 1


def test_x53_diff_is_one_keyed_join_no_nested_loop(spark, sf_dir):
    """Snapshot diff must be a single full-outer SortMergeJoin on the
    PK (two keyed exchanges, one per side) — full outer can't broadcast,
    and a nested-loop fallback would be quadratic."""
    plan = plan_of(spark, sf_dir, "x53_snapshot_diff")
    assert n_ops(plan, "SortMergeJoin") == 1
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x54_gopher_is_map_only(spark, sf_dir):
    """The rule battery is row-local: no key or range shuffle anywhere
    (the guarded round-robin fan-out is permitted), one documents scan
    pruned to (doc_id, text)."""
    plan = plan_of(spark, sf_dir, "x54_gopher_rules")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert n_ops(plan, "Scan") == 1
    for r in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in r.split(",")}
        assert cols <= {"doc_id", "text"}


def test_x55_sketch_partially_aggregates_and_broadcasts(spark, sf_dir):
    """The sketch build must partial-aggregate map-side (counter merge
    = partial sum below the shuffle) and the probe lookup must
    broadcast the depth x width sketch, never shuffle the probes."""
    plan = plan_of(spark, sf_dir, "x55_cms_frequency")
    assert "partial_sum" in plan.lower()
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_x56_spans_one_window_no_cartesian(spark, sf_dir):
    """Span merging is exactly one window pass over the matched pairs
    (keyed by pair + diagonal); candidate generation must stay an
    equi-join on the gram id — a nested-loop or cartesian here is the
    all-pairs explosion the inverted index exists to avoid."""
    plan = plan_of(spark, sf_dir, "x56_common_spans")
    assert n_ops(plan, "Window") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x57_pq_scoring_broadcasts_queries(spark, sf_dir):
    """PQ: encoding is a map-only argmin over literal centroids (no
    join anywhere below the scoring stage), both scoring scans cross
    the broadcast query set (BroadcastNestedLoopJoin x2 — linear
    corpus scans), and the only key shuffles are the two k-bounded
    top-k windows plus the final recall aggregate."""
    plan = plan_of(spark, sf_dir, "x57_pq_ann")
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert n_ops(plan, "Window") == 2


def test_x58_prefix_join_no_cartesian_materialized_prefix(spark, sf_dir):
    """The prefix relation must be MATERIALIZED before the self-join
    (both sides read the checkpointed blocks — ExistingRDD scans — or
    the df aggregate + join + window would run once per side), and
    candidate generation must stay an equi-join on the gram id: never
    a nested-loop/cartesian pairing."""
    plan = plan_of(spark, sf_dir, "x58_prefix_similarity_join")
    assert "ExistingRDD" in plan  # checkpointed prefix feeds both sides
    assert n_ops(plan, "Window") == 0  # window ran inside the checkpoint
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x59_semantic_dedup_is_cluster_bucketed(spark, sf_dir):
    """SemDeDup: pair generation must be the within-cluster equi-join
    (hashpartitioning on cluster_id) — never an all-pairs cartesian —
    and cluster assignment must stay a map-only literal argmin (no join
    against a centroid relation)."""
    plan = plan_of(spark, sf_dir, "x59_semantic_dedup")
    assert "hashpartitioning(cluster_id" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x60_pagerank_no_cartesian_hash_joins_only(spark, sf_dir):
    """PageRank rounds must stay keyed joins + partial aggregates —
    never a nested-loop/cartesian — and every round's static inputs
    (nodes, degree-annotated edges) must come from the persisted cache
    (InMemoryTableScan), so the edge build executes once even though
    short runs skip lineage cuts and the logical plan reprints it."""
    plan = plan_of(spark, sf_dir, "x60_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 3 rounds x (edges_deg + nodes) + final nodes-side uses >= 6 cache
    # reads; anything lower means a round re-derives its inputs.
    assert n_ops(plan, "InMemoryTableScan") >= 6


def test_x60_pagerank_long_runs_cut_lineage(spark, sf_dir):
    """Past the checkpoint cadence the rank state must be a checkpoint
    RDD scan (bounded lineage), while a 3-round run stays fully lazy
    (no extra materialization pass — measured 2.5x faster)."""
    import io
    from contextlib import redirect_stdout

    import pyspark.sql.functions as F

    from mc_ns_data_pipeline_spark.catalog import load_table
    from mc_ns_data_pipeline_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )

    def plan_str(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    lazy = plan_str(pagerank(edges, n_iters=3, checkpoint_every=6))
    assert "ExistingRDD" not in lazy
    cut = plan_str(pagerank(edges, n_iters=7, checkpoint_every=6))
    assert "ExistingRDD" in cut


def test_x61_dsir_single_corpus_pass_broadcast_model(spark, sf_dir):
    """DSIR: the corpus is tokenized ONCE into the persisted
    (doc, bucket) count relation (models and scoring reuse it via
    InMemoryRelation), the per-bucket model joins the scoring side as
    a broadcast, and selection is TakeOrderedAndProject, not a global
    sort."""
    plan = plan_of(spark, sf_dir, "x61_dsir_select")
    # Every parquet-scan mention in the explain output is the cached
    # relation's build plan reprinted under an InMemoryTableScan —
    # all 5+ consumers (2 model aggregates, 2 totals, scoring) read
    # the cache, so execution tokenizes the corpus exactly once.
    assert n_ops(plan, "InMemoryTableScan") >= 4
    assert n_ops(plan, "Scan parquet") <= 1
    assert n_ops(plan, "TakeOrderedAndProject") == 1
    assert "CartesianProduct" not in plan


def test_x62_blocking_equijoin_dedups_before_verify(spark, sf_dir):
    """ER blocking: candidates come from an equi-join on the blocking
    keys (no cartesian), and the pair-dedup HashAggregate sits BELOW
    the levenshtein verify so each candidate is scored once."""
    plan = plan_of(spark, sf_dir, "x62_entity_blocking")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lev_pos = plan.find("levenshtein")
    assert lev_pos != -1
    # The distinct aggregate's partial phase appears before any
    # levenshtein mention in the plan's op listing.
    assert "HashAggregate" in plan[:lev_pos]


def test_x87_zorder_is_map_only(spark, sf_dir):
    """The Morton key is pure bit arithmetic: no exchange except the
    presentation ORDER BY's range partitioning, no UDF/python stage."""
    plan = plan_of(spark, sf_dir, "x87_zorder_key")
    assert "hashpartitioning" not in plan
    assert "Python" not in plan and "InPandas" not in plan
    assert plan.count("rangepartitioning") == 1


def test_x88_zone_maps_partial_aggregate(spark, sf_dir):
    """Zone-map stats must keep the partial->final HashAggregate split
    (min/max/count combine map-side): the metadata pass stays one
    shuffle of #buckets rows."""
    plan = plan_of(spark, sf_dir, "x88_zone_maps")
    assert n_ops(plan, "HashAggregate") == 2
    assert plan.count("hashpartitioning") == 1


def test_x90_er_pairs_join_on_block_key(spark, sf_dir):
    """Blocked self-join must be an equi-join on the block key with the
    custkey inequality as residual — never a nested-loop/cartesian
    (that's the all-pairs trap blocking exists to avoid)."""
    plan = plan_of(spark, sf_dir, "x90_er_scoring")
    assert n_ops(plan, "CartesianProduct") == 0
    assert n_ops(plan, "BroadcastNestedLoopJoin") == 0


def test_x91_bounds_broadcast(spark, sf_dir):
    """The per-group bounds relation is tiny: it must come back
    broadcast, never a shuffled join of the fact table."""
    plan = plan_of(spark, sf_dir, "x91_winsorize")
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_x89_frames_single_python_stage(spark, sf_dir):
    """Frame explosion is ONE Arrow mapInPandas stage; fingerprint
    rollup and group window are plain JVM aggregates above it."""
    plan = plan_of(spark, sf_dir, "x89_video_fingerprint")
    assert n_ops(plan, "MapInPandas") == 1
    assert n_ops(plan, "CartesianProduct") == 0


def test_x92_quantize_is_map_only(spark, sf_dir):
    """int8 quantization is per-row array math: no key shuffle, no
    Python stage — only the presentation ORDER BY's range exchange."""
    plan = plan_of(spark, sf_dir, "x92_embed_quantize")
    assert "hashpartitioning" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("rangepartitioning") == 1


def test_x94_pmi_no_cartesian_two_explodes(spark, sf_dir):
    """PMI: unigram and bigram explodes computed once each; the only
    nested-loop joins are the two 1-row totals broadcasts — the vocab
    joins must be equi-joins, never a product."""
    plan = plan_of(spark, sf_dir, "x94_pmi_collocations")
    # the unigram explode is materialized (localCheckpoint lineage cut)
    # so only the bigram explode appears here — exactly one, shared by
    # every consumer; a second Generate means the vocab is recomputing
    assert n_ops(plan, "Generate") == 1
    assert n_ops(plan, "CartesianProduct") == 0
    # 1-row totals come back as BroadcastNestedLoopJoin (cross with a
    # singleton) — that's the cheap scalar attach, cap it at the two
    assert n_ops(plan, "BroadcastNestedLoopJoin") <= 2


def test_x93_median_broadcast_back(spark, sf_dir):
    """The per-group median relation is tiny: the MAD pass must join it
    back broadcast, never shuffle the fact side for the join."""
    plan = plan_of(spark, sf_dir, "x93_robust_scale")
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_x95_ks_single_window_broadcast_totals(spark, sf_dir):
    """KS drift: one window pass over the distinct-value relation, the
    per-type totals broadcast back, no product joins."""
    plan = plan_of(spark, sf_dir, "x95_ks_drift")
    assert n_ops(plan, "Window") == 1
    assert n_ops(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert n_ops(plan, "CartesianProduct") == 0


def test_x96_pipeline_fuses_filters_onto_dedup_window(spark, sf_dir):
    """The composed curation pipeline must stay two keyed shuffles
    (fingerprint window, shard-bucket packing window) with the
    language/quality/dedup filters fused between them — a third hash
    exchange means a filter stopped composing."""
    plan = plan_of(spark, sf_dir, "x96_curation_pipeline")
    assert n_ops(plan, "Window") == 2
    assert plan.count("hashpartitioning") == 2
    assert n_ops(plan, "CartesianProduct") == 0
    assert "InPandas" not in plan  # whole pipeline stays JVM-side


# Queries where a nested-loop/cartesian operator is DELIBERATE and
# bounded: a 1-row scalar broadcast (the as-of/total/threshold
# enrichment idiom), a broadcast-small query/benchmark set against the
# corpus (brute-force ANN and its evaluators), or a group-level
# relation whose cardinality is the number of groups, not rows.
# Anything NOT on this list must never compile to one — an unbounded
# cross join at 100 TB is the difference between hours and never.
BOUNDED_CROSS_JOIN_OK = {
    "q16_recent_report",        # 1-row as-of anchor broadcast
    "x09_ann_cosine_topk",      # broadcast query set x corpus (brute ANN)
    "x25_tfidf_topk",           # 1-row doc-count scalar (idf)
    "x36_ann_recall",           # broadcast query set (recall eval)
    "x40_lm_score",             # 1-row vocab/total scalars
    "x46_quantile_binning",     # 1-row quantile-bounds broadcast
    "x57_pq_ann",               # broadcast query set (PQ ADC)
    "x61_dsir_select",          # 1-row feature-total scalars
    "x63_hard_negatives",       # broadcast anchor set
    "x64_label_balance",        # 1-row min-class-count scalar
    "x69_source_overlap",       # source-sketch pairs (#sources^2)
    "x70_retrieval_mrr",        # broadcast query set (MRR eval)
    "x73_funnel_conversion",    # 1-row step-total scalars
    "x79_token_budget_mixture", # 1-row budget scalar
    "x81_bm25_topk",            # 1-row corpus stats (avgdl, N)
    "x94_pmi_collocations",     # 1-row token-total scalar
}


def test_no_unbounded_cross_join_in_any_batch_query(spark, sf_dir):
    """Blanket guard over EVERY declared batch query: a physical
    CartesianProduct or BroadcastNestedLoopJoin may appear only in the
    allowlisted bounded patterns above. A new query (or a regression
    in an old one) that pairs two row-scale relations without an
    equi-key fails here before it ever reaches the driver gate.
    Streaming queries are excluded (explaining them would execute the
    stream); their plan discipline is pinned per-query in
    test_streaming."""
    offenders = {}
    for name in QUERIES:
        if name.startswith("xs") or name in (
            "q17_stream_tumbling", "q18_stream_dedup"
        ):
            continue
        if name in BOUNDED_CROSS_JOIN_OK:
            continue
        plan = plan_of(spark, sf_dir, name)
        hits = [op for op in ("CartesianProduct",
                              "BroadcastNestedLoopJoin") if op in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"unreviewed cross joins: {offenders} — either fix the plan or "
        "allowlist with a bounded-side justification"
    )


def test_x101_pruned_read_pushes_filter_to_parquet(spark, sf_dir):
    """The pruned read's residual filter must reach the parquet scan
    as a PUSHED filter (footer row-group skipping under the manifest
    pruning layer). Regression: a float cut literal wrapped the bigint
    key in cast-to-double, demoting the predicate to a post-scan
    DataFilter — the integer-floored cut keeps both pruning layers
    live."""
    plan = plan_of(spark, sf_dir, "x101_pruned_read")
    assert "PushedFilters: [IsNotNull(o_orderkey), " \
           "LessThanOrEqual(o_orderkey," in plan, plan


def test_x112_packing_distributed_prefix_sum(spark, sf_dir):
    """Sequence packing must compute its global running sum WITHOUT a
    single-partition global sort-window: the physical plan's Window
    is partitioned by the bucket column (32-way parallel), and the
    only broadcast is the 33-row offset table."""
    plan = plan_of(spark, sf_dir, "x112_sequence_packing")
    assert "Window" in plan
    # a global window would show 'SinglePartition' feeding the sort
    import re as _re
    win_required = _re.search(
        r"Arguments: .*windowspecdefinition\(bucket", plan)
    assert win_required or "partitionBy=[bucket" in plan or \
        "[bucket" in plan.split("Window")[1][:400], (
        "running sum must be partitioned by bucket, not global")
    assert "BroadcastExchange" in plan  # the tiny offset table


def test_x113_chunking_is_map_only_until_sort(spark, sf_dir):
    """Chunk-window emission is a pure per-row fan-out: no join, no
    aggregate, and the only Exchange is the presentation sort's range
    shuffle."""
    plan = plan_of(spark, sf_dir, "x113_chunk_windows")
    assert "Join" not in plan
    assert n_ops(plan, "HashAggregate") == 0
    # exactly the fan-out round-robin (tiny single-file input) and
    # the presentation sort's range shuffle — nothing data-dependent
    assert n_ops(plan, "Exchange") <= 2
    assert "RoundRobinPartitioning" in plan
    assert "Generate" in plan  # the sequence() explode


def test_q01_to_q16_builds_fire_no_spark_jobs(spark, sf_dir):
    """Building a plan is driver work only: once each source table was
    read, `load_table` reuses its memoized schema, so no q01-q16 build
    may submit a Spark job (a schema-inference job per `load_table` was
    most of the build time on the short reference queries)."""
    from mc_ns_data_pipeline_spark.catalog import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    fired = {}
    for name in sorted(QUERIES):
        if not name.startswith("q") or name >= "q17":
            continue
        before = dag.nextJobId()
        QUERIES[name](spark, sf_dir)
        if dag.nextJobId() != before:
            fired[name] = dag.nextJobId() - before
    assert not fired, f"plan builds fired Spark jobs: {fired}"


def test_masked_count_is_one_scan_no_broadcast(spark, tmp_path):
    """A versioned read with two pending merge-on-read masks (one a MOR
    upsert's, which ties with its own files) counts in at most two
    jobs, and its plan builds no driver RDD, no broadcast and no hash
    shuffle: each mask is a literal filter on the scan."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    t = str(tmp_path / "t")
    V.write_snapshot(spark.createDataFrame(
        [(i, i) for i in range(50)], "k long, v long"), t)
    V.delete_keys_mor(spark, t, "k", spark.createDataFrame(
        [(3,), (4,)], "k long"))
    V.merge_snapshot_mor(spark, spark.createDataFrame(
        [(5, -5), (60, 60)], "k long, v long"), t, "k")
    assert len(V.read_manifest(t, V.current_snapshot(t))
               ["delete_files"]) == 2

    df = V.read_current(spark, t)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.groupBy().count().explain("formatted")
    plan = buf.getvalue()
    for op in ("ExistingRDD", "BroadcastExchange", "hashpartitioning"):
        assert op not in plan, (op, plan)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    assert df.count() == 49
    assert dag.nextJobId() - before <= 2
