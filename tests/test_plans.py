"""Physical-plan quality gates (SURVEY §4.2/§4.3 "100 TB posture").

These assert the properties that matter at scale, not timings:
filters reach the parquet scan, projections prune columns, small dims
broadcast, the big fact table never shuffles in the headline join, and
top-k compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

import pytest

from ksql_spark.registry import all_specs

from .conftest import SF_DIR, full_tier

SPECS = all_specs()


def plan_of(spark, name: str) -> str:
    df = SPECS[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q_filter_count")
    assert "PushedFilters:" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:300]


def test_column_pruning(spark):
    plan = plan_of(spark, "project_columns")
    read_schema = plan.split("ReadSchema:")[1]
    assert "o_orderkey" in read_schema
    assert "o_totalprice" not in read_schema  # unused column never read


def test_join3_lineitem_never_shuffles(spark):
    df = SPECS["q_join3_topk"].builder(spark, SF_DIR)
    df.collect()  # materialize AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only Exchange allowed is the tiny post-aggregation hash exchange
    # (and broadcast exchanges); no shuffle of the lineitem scan itself.
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for cols in shuffles:
        assert "l_orderkey" not in cols, f"lineitem shuffled on {cols}"


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_shapes(spark):
    assert "Semi" in plan_of(spark, "join_semi")
    assert "Anti" in plan_of(spark, "join_anti")


def test_whole_stage_codegen_on_agg(spark):
    df = SPECS["q_groupby_agg"].builder(spark, SF_DIR)
    df.collect()  # AQE shows codegen spans only in the materialized final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen spans in executedPlan toString
    assert "*(1)" in plan and "*(2)" in plan


def test_no_cartesian_in_equi_joins(spark):
    for name in ["join_inner_using", "join_left", "q_join3_topk"]:
        assert "CartesianProduct" not in plan_of(spark, name), name


def test_chunking_is_narrow(spark):
    """K7 chunking must compile to scan → project/generate with ZERO
    exchanges — it scales with scan bandwidth or not at all."""
    plan = plan_of(spark, "llm_chunk_sliding")
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode


def test_substring_dedup_digest_only_exchanges(spark):
    """K38 substring dedup: every wide exchange must carry the 16-byte
    gram_md5 digest, never the gram text or the document — at 100 TB the
    exploded gram relation is ~100x the corpus and shuffling its strings
    would dominate the job."""
    plan = plan_of(spark, "llm_substring_dup_spans")
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert shuffles, "expected digest exchanges"
    for cols in shuffles:
        assert "gram_md5" in cols, f"shuffle not keyed on digest: {cols}"
        assert "gram#" not in cols and "text#" not in cols, cols


def test_minhash_band_exchange_carries_no_text(spark):
    """K2 MinHash-LSH (VERDICT r5 "what's wrong" #2): the band exchange and
    every other shuffle must carry only (doc_id, band, band_hash) — never the
    document text or the signature array. At 100 TB shipping text through the
    band self-join exchanges the whole corpus `bands`x; the words arrays are
    joined back onto the (tiny) candidate-pair set instead. Gate: no shuffle
    Exchange node in the formatted plan has a text- or signature-typed
    attribute in its input. The banded/candidate/doc tables are lazily
    pinned (r13: the 24-byte banded form feeds four consumers), which hides
    their upstream exchanges from the final plan — so the gate inspects the
    PRE-pin plan via pins_disabled(), i.e. exactly the exchanges that run
    when each pin materializes, AND the pinned final plan (ADVICE r13: a
    text-carrying exchange added DOWNSTREAM of the pins — e.g. in the
    verify join — would otherwise escape the sweep)."""
    import io
    import contextlib
    import re

    from ksql_spark.operators.scale import pins_disabled

    def exchange_inputs(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # formatted explain: "(n) Exchange\nInput [k]: [attr#id, ...]"
        nodes = re.split(r"\n\((\d+)\) ", plan)
        inputs = []
        for i in range(1, len(nodes) - 1, 2):
            header, body = nodes[i + 1].split("\n", 1)
            if header.strip() == "Exchange":
                m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", body)
                assert m, f"Exchange node without Input list:\n{body[:200]}"
                inputs.append(m.group(1))
        return inputs

    with pins_disabled():
        prepin = SPECS["llm_dedup_near"].builder(spark, SF_DIR)
    shuffle_inputs = exchange_inputs(prepin)
    assert shuffle_inputs, "expected at least one shuffle (bucket-size agg)"
    # pinned (final) plan: exchanges downstream of the lazy pins
    shuffle_inputs += exchange_inputs(SPECS["llm_dedup_near"].builder(spark, SF_DIR))
    for cols in shuffle_inputs:
        assert "text#" not in cols and "__sig#" not in cols and "words_" not in cols, (
            f"shuffle carries corpus text/signature: {cols}"
        )


def test_bm25_filters_terms_before_posting_shuffle(spark):
    """K66 BM25: the query-term dictionary broadcasts and semi-filters the
    exploded term stream BEFORE the posting aggregation's exchange, so wide
    shuffles carry only query-term postings — never the corpus vocabulary
    or text. No sort-merge joins, no cartesian products (the 1-row totals
    cross-join must be a broadcast NLJ)."""
    plan = plan_of(spark, "llm_bm25_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the term semi-filter
    import re

    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in cols, cols


def test_substring_apply_digest_or_position_exchanges(spark):
    """K71 substring-dedup apply: every wide exchange must be keyed on the
    16-byte gram digest or on (doc_id[, p]) integer positions — never the
    gram text or the document text (the K38 invariant extended to the
    apply step; the rebuilt text only ever flows through doc_id-keyed
    joins, where it rides as payload of an already-narrow key)."""
    plan = plan_of(spark, "llm_substring_dedup_apply")
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert shuffles, "expected digest/position exchanges"
    for cols in shuffles:
        assert "gram#" not in cols and "text#" not in cols, cols
        assert ("gram_md5" in cols) or ("doc_id" in cols), cols


def test_rrf_no_unblocked_cartesian(spark):
    """K70 RRF: the dense side is a broadcast nested-loop over the bounded
    query set (K3's shape), the sparse side is K66's broadcast-term
    pipeline — no SortMergeJoin on the corpus, no unblocked
    CartesianProduct anywhere."""
    plan = plan_of(spark, "llm_rrf_hybrid")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_hard_negatives_broadcast_anchors(spark):
    """K42 hard-negative mining: the anchor set broadcasts (bounded query
    count) and the corpus pass stays narrow — no SortMergeJoin, no
    unblocked CartesianProduct."""
    plan = plan_of(spark, "llm_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian(spark):
    """K39 SemDeDup: the centroid assignment is a bounded broadcast
    nested-loop (K rows); the pair join must be cluster-blocked (equi on
    cent_id), never an unblocked CartesianProduct over the corpus."""
    plan = plan_of(spark, "llm_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the O(n*K) assignment pass


def test_semantic_dedup_pair_stage_shape(spark):
    """Round-8 pair-stage contract (sf1 probe fix): the self-join keys carry
    the bucket fan-out (x_probe = y_bucket beside cent equality) so pair
    parallelism is K x buckets, not K; and the per-pair cosine consumes the
    PRE-COMPUTED x_norm/y_norm columns — the join predicate/filter must not
    re-evaluate an l2_norm aggregate over the embedding arrays per pair."""
    plan = plan_of(spark, "llm_semantic_dedup")
    assert "x_probe" in plan and "y_bucket" in plan
    # joins render as SortMergeJoin/ShuffledHashJoin with key lists; the
    # condition that computes cosine appears in the join/filter condition —
    # it must reference the norm COLUMNS, not inline aggregate(...) norms
    import re
    cond = [
        ln for ln in plan.splitlines()
        if "x_norm" in ln and "y_norm" in ln
    ]
    assert cond, "cosine predicate no longer uses precomputed norm columns"
    assert not any(
        re.search(r"aggregate\(.*x_emb.*x_emb", ln) for ln in cond
    ), "per-pair predicate re-computes l2_norm inline"


def test_connected_components_pins_adjacency(spark):
    """Round-8 iterative-lineage contract: connected_components must pin its
    loop-invariant adjacency, so the first round's executed plan scans the
    materialized RDD (Scan ExistingRDD), not the caller's edge build — an
    un-pinned adjacency re-executes that build EVERY round (sf1 probe:
    llm_dedup_cluster 283 s -> 37 s; at 100 TB a per-round corpus re-scan)."""
    from pyspark.sql import functions as F

    from ksql_spark.queries.graph import connected_components

    half = spark.range(1, 50).select(
        F.col("id").alias("s1"), F.lit(0).cast("long").alias("s2")
    )
    edges = half.unionByName(
        half.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"))
    )
    labels = connected_components(edges)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan[:500]
    assert labels.select(F.count_distinct("component")).collect()[0][0] == 1


def test_scrub_is_narrow(spark):
    plan = plan_of(spark, "llm_scrub_pii")
    assert "Exchange" not in plan


def test_stratified_sample_is_narrow_filter(spark):
    """Portable-hash sampling is a per-row predicate — no shuffle, no RNG."""
    plan = plan_of(spark, "llm_sample_stratified")
    assert "Exchange" not in plan
    assert "rand" not in plan.lower().replace("operand", "")


def test_skew_twostage_has_two_aggregation_exchanges(spark):
    """Salted agg: exactly the (key, salt) exchange and the final key
    exchange — the hot key spreads across reducers in stage 1."""
    import re

    plan = plan_of(spark, "agg_skew_twostage")
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 2
    assert any("_salt" in s for s in shuffles)


def test_pack_sequences_no_single_partition_window(spark):
    """VERDICT r02 item 1: the packing cumsum must NOT funnel the corpus
    through one task. The plan may contain hash exchanges (per-partition-id
    window) and broadcast exchanges (offset join) but never an Exchange
    SinglePartition — the global order lives in the range partitioning plus
    driver-prefix-summed offsets, not a global window."""
    plan = plan_of(spark, "llm_pack_sequences")
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-partition cumsum is still a window


def test_tfidf_builder_runs_no_jobs(spark):
    """VERDICT r01 item 4: building llm_tfidf must trigger zero Spark jobs
    (the doc count is relational, not an eager d.count())."""
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup()
    SPECS["llm_tfidf"].builder(spark, SF_DIR)
    after = tracker.getJobIdsForGroup()
    assert len(after or []) == len(before or [])


def test_decontaminate_broadcasts_eval_side(spark):
    """Decontamination must broadcast the (bounded) eval n-gram set and never
    shuffle the corpus side on gram — the corpus self-join shape would be the
    100 TB killer. Allowed exchanges: the final groupBy on doc_id (+ the
    countDistinct expand)."""
    plan = plan_of(spark, "llm_decontaminate")
    assert "BroadcastHashJoin" in plan
    join_part = plan.split("BroadcastHashJoin")[0]
    # nothing above the join (= the corpus probe side's output section of the
    # plan string) may hash-exchange on gram
    assert "hashpartitioning(gram" not in join_part


def test_domain_mix_is_broadcast_narrow(spark):
    """Domain-mix membership is decided on the corpus scan with broadcast
    per-domain counts: no shuffle of the corpus before the filter."""
    plan = plan_of(spark, "llm_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_min side


def test_distribution_scaled_no_single_partition(spark):
    """The two-stage global rank must not plan a single-partition window —
    that is exactly the boundary it exists to remove (docs/SCALE.md §Windows).
    The window partitions by _pid; offsets arrive via broadcast."""
    plan = plan_of(spark, "win_distribution_scaled")
    assert "SinglePartition" not in plan
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_boilerplate_single_gram_aggregation(spark):
    """Boilerplate detection is scan -> explode -> ONE hash-agg keyed on gram
    (with map-side partial agg). No join, no second wide exchange."""
    plan = plan_of(spark, "llm_boilerplate_ngrams")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(gram") == 1
    assert "partial_count" in plan  # map-side combine before the exchange


def test_cross_dedup_is_anti_join_on_digest(spark):
    """Cross-corpus dedup must anti-join on the 32-byte digest — never
    exchange the corpus text. The existing side projects only the sha."""
    plan = plan_of(spark, "llm_cross_dedup")
    assert "LeftAnti" in plan
    assert "hashpartitioning(h" in plan or "BroadcastHashJoin" in plan
    # the existing-corpus side reads no column but text (digested immediately)
    assert "ReadSchema: struct<text:string>" in plan


def test_emb_cluster_broadcasts_centroids(spark):
    """Fixed-centroid assignment: centroids broadcast (O(K*dim)), and the
    per-vector argmin is a zero-exchange fold over the broadcast centroid
    array (r13) — the embeddings side is never shuffled or sorted for the
    assignment. The ONLY global funnel allowed is the <= K-row centroid
    collect_list aggregate that feeds the broadcast."""
    plan = plan_of(spark, "llm_emb_cluster")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid-array broadcast
    assert "Window" not in plan  # argmin is a HOF fold, not an nxK window
    assert plan.count("Exchange SinglePartition") <= 1  # centroid collect only
    assert "collect_list" in plan  # the bounded centroid-array aggregate


def test_shard_assign_single_pass(spark):
    """Shard accounting is one narrow projection + one 16-row aggregate."""
    plan = plan_of(spark, "llm_shard_assign")
    assert "Join" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_pq_codebook_broadcast_never_n_squared(spark):
    """PQ: both the codebook and the per-query LUT broadcast; the corpus
    side never joins corpus-to-corpus (no n^2 pair space)."""
    plan = plan_of(spark, "ann_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q5_degradable_broadcasts_no_sort_merge(spark):
    """TPC-H Q5 shape after the round-5 de-hinting: only nation/region carry
    a broadcast hint; orders/customer/supplier reach broadcast via SIZE
    ESTIMATES + AQE. At test SF the final adaptive plan is still all-BHJ
    with no SortMergeJoin (de-hinting cost nothing here), while at 100x the
    SAME code degrades to shuffled hash joins instead of OOMing on a forced
    broadcast — an explicit hint is honored past autoBroadcastJoinThreshold
    and cannot degrade."""
    df = SPECS["tpch_q5_local_supplier"].builder(spark, SF_DIR)
    df.collect()  # materialize the AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in final


def _hint_violations(df) -> list:
    """Audit the analyzed logical plan: every ResolvedHint subtree must be
    provably bounded at any scale factor — either (a) it contains a global
    (empty-grouping) Aggregate, which caps the hinted side at one row, or
    (b) its leaf relations are only the fixed-cardinality dims nation (25
    rows) and region (5 rows). Anything else — orders, customer, supplier,
    part, lineitem or a filtered subset — grows with SF and must NOT carry
    a hint."""
    _PREFIX_TO_TABLE = {
        "n_": "nation", "r_": "region", "c_": "customer", "o_": "orders",
        "l_": "lineitem", "s_": "supplier", "p_": "part",
    }
    violations = []

    def leaf_tables(node, acc):
        cls = node.getClass().getSimpleName()
        if cls == "LogicalRelation" or "Relation" in cls and node.children().size() == 0:
            first_col = node.output().apply(0).name()
            for pre, table in _PREFIX_TO_TABLE.items():
                if first_col.startswith(pre):
                    acc.add(table)
                    break
            else:
                acc.add(first_col)  # unknown leaf: surface it verbatim
        for i in range(node.children().size()):
            leaf_tables(node.children().apply(i), acc)
        return acc

    def has_global_agg(node):
        if (
            node.getClass().getSimpleName() == "Aggregate"
            and node.groupingExpressions().isEmpty()
        ):
            return True
        return any(
            has_global_agg(node.children().apply(i))
            for i in range(node.children().size())
        )

    def walk(node):
        if node.getClass().getSimpleName() == "ResolvedHint":
            if not has_global_agg(node):
                bad = leaf_tables(node, set()) - {"nation", "region"}
                if bad:
                    violations.append(sorted(bad))
            return  # nested hints under a legal hint are covered by it
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return violations


def test_tpch_hints_only_on_bounded_relations(spark):
    """No TPC-H entry may force-broadcast an SF-proportional relation (the
    round-4 scale-killer): a hint does not degrade, so at 100x it OOMs or
    hits the 8 GB broadcast cap. Scans every tpch_* entry's analyzed plan
    for ResolvedHint nodes over anything but nation/region/1-row
    aggregates."""
    for name in [k for k in SPECS if k.startswith("tpch_")]:
        df = SPECS[name].builder(spark, SF_DIR)
        bad = _hint_violations(df)
        assert not bad, f"{name} force-broadcasts SF-proportional {bad}"


def _raw_scan_hints(df) -> list:
    """Weaker, repo-wide audit: flag any ResolvedHint whose subtree is a RAW
    SCAN of an SF-proportional table — no Aggregate, no Deduplicate/Distinct,
    no Filter, no local relation anywhere beneath it, and leaves outside
    nation/region. Bounded derived sets (grouped stats, distinct key sets,
    literal-filtered slices, collected centroid tables) all contain one of
    those nodes; a bare `F.broadcast(load(big_table))` contains none and is
    always a scale bug."""
    BOUNDING = {"Aggregate", "Deduplicate", "Distinct", "Filter",
                "LocalRelation", "OneRowRelation", "Range", "GlobalLimit",
                "LocalLimit",
                # parallelized driver-local rows (spark.createDataFrame):
                # bounded by construction — the driver already held them
                "LogicalRDD"}
    flags = []

    def has_bounding(node):
        if node.getClass().getSimpleName() in BOUNDING:
            return True
        return any(
            has_bounding(node.children().apply(i))
            for i in range(node.children().size())
        )

    def leaves(node, acc):
        if node.children().size() == 0:
            if node.output().size() > 0:
                acc.add(node.output().apply(0).name())
        for i in range(node.children().size()):
            leaves(node.children().apply(i), acc)
        return acc

    def walk(node):
        if node.getClass().getSimpleName() == "ResolvedHint":
            if not has_bounding(node):
                cols = leaves(node, set())
                if not all(c.startswith(("n_", "r_")) for c in cols):
                    flags.append(sorted(cols))
            return
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return flags


@full_tier
def test_no_entry_broadcasts_raw_fact_scan(spark):
    """Repo-wide version of the hint audit at lower strictness: NO registry
    entry may hint-broadcast a raw unbounded scan of an SF-proportional
    table. (Model-fitting / table-writing builders are excluded — they run
    jobs at build time and their hints are covered by their own plan
    gates.)"""
    skip = {"join_bucketed_colocated"}
    for name, spec in SPECS.items():
        if name in skip or name.startswith("ann_"):
            continue
        df = spec.builder(spark, SF_DIR)
        bad = _raw_scan_hints(df)
        assert not bad, f"{name} hints a raw SF-proportional scan: {bad}"


def test_q2_join_back_no_sort_merge(spark):
    """Min-over-group join-back: the min table broadcasts (1 BHJ); the unit
    scan never shuffles before the join."""
    plan = plan_of(spark, "tpch_q2_min_cost_supplier")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_retention_single_user_shuffle(spark):
    """Retention triangle: first-seen day and the join both key on user_id;
    no exchange wider than user_id + the final small agg."""
    plan = plan_of(spark, "events_retention_cohort")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan


def test_curriculum_no_window(spark):
    """Curriculum bucketing must use broadcast quantile thresholds, not the
    NTILE global window it replaces: no Window node at all, thresholds
    arrive via a broadcast join."""
    plan = plan_of(spark, "llm_curriculum")
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_winsorize_no_window_broadcast_thresholds(spark):
    plan = plan_of(spark, "llm_winsorize")
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_vocab_topk_single_word_exchange(spark):
    """Vocabulary: explode → partial count → ONE hash exchange on the word
    key → TakeOrderedAndProject. No join, no sort of the full vocab."""
    plan = plan_of(spark, "llm_vocab_topk")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(word") == 1
    assert "TakeOrderedAndProject" in plan


def test_zscore_broadcasts_stats(spark):
    """The per-type stats table is |event types| rows — it must broadcast;
    the events side must not hash-exchange for the join."""
    plan = plan_of(spark, "events_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    probe_side = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_gapfill_spine_is_narrow_explode(spark):
    """The per-user daily spine comes from sequence()+explode inside the
    bounds-agg output — there must be no cartesian/calendar join."""
    plan = plan_of(spark, "events_resample_gapfill")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_bucketed_join_no_exchange_no_sort(spark):
    """Bucketed+sorted tables joined on the bucket key must SortMergeJoin
    with no Exchange and no Sort on either input: the layout IS the shuffle,
    paid once at write time. (The only exchange allowed is the downstream
    re-agg on c_mktsegment.)"""
    plan = plan_of(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan
    assert "SelectedBucketsCount" in plan  # scans really are bucket-pruned reads


def test_salted_join_restores_totals(spark):
    """The salted join's re-aggregation must equal the plain per-user counts
    (salt is partitioning-only)."""
    from pyspark.sql import functions as F

    from ksql_spark.tables import load

    df = SPECS["join_salted_skew"].builder(spark, SF_DIR)
    got = {r["user_id"]: r["n_events"] for r in df.collect()}
    truth = {
        r["user_id"]: r["n"]
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == truth


def test_bloom_decontaminate_broadcast_sketch(spark):
    """The bloom probe must join the corpus gram stream against the 128-row
    sketch by BROADCAST — never shuffle the corpus on gram/pos, never
    sort-merge. The only hash exchanges allowed carry doc-scoped keys."""
    plan = plan_of(spark, "llm_bloom_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    join_part = plan.split("BroadcastHashJoin")[0]
    assert "hashpartitioning(gram" not in join_part
    assert "hashpartitioning(pos" not in join_part


def test_dsir_freq_tables_broadcast(spark):
    """DSIR's target/raw frequency tables are vocabulary-bounded and must
    broadcast onto the token stream; the corpus side never sort-merges."""
    plan = plan_of(spark, "llm_dsir_weight")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_asof_nearest_single_shuffle(spark):
    """Both directional window passes must share ONE user_id exchange —
    a second shuffle would double the cost of the 100 TB formulation."""
    import re

    plan = plan_of(spark, "join_asof_nearest")
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1, f"expected one user_id shuffle, got {shuffles}"
    assert "user_id" in shuffles[0]


def test_cms_sketch_broadcast_probe(spark):
    """The CMS probe must join 80 candidate rows against the <=2048-row
    broadcast sketch — never a sort-merge, never a corpus-side shuffle on
    the sketch key."""
    plan = plan_of(spark, "llm_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bitmap_distinct_no_expand(spark):
    """The bitmap formulation must NOT use COUNT(DISTINCT)'s expand plan:
    the exchanges carry (event_type, word_idx) bitmap words, and no Expand
    node appears."""
    plan = plan_of(spark, "agg_bitmap_distinct")
    assert "Expand" not in plan
    assert "bit_or" in plan or "bitor" in plan.lower()


def test_tokenize_ids_vocab_broadcast(spark):
    """The vocab-id map must BROADCAST onto the token stream — the corpus
    never sort-merges or shuffles on the word."""
    plan = plan_of(spark, "llm_tokenize_ids")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interleave_no_global_sort_of_corpus(spark):
    """The interleave position is COMPUTED, never globally sorted: no Sort
    node over the full corpus without a partition key (the only
    single-partition window allowed is over the |domains|-row source list)."""
    import re

    plan = plan_of(spark, "llm_source_interleave")
    # the corpus-side window partitions by source; a global corpus sort
    # would show as Exchange rangepartitioning on doc rows
    assert "rangepartitioning" not in plan.lower()
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("source" in s for s in shuffles)


def test_rolling_distinct_windows_partition_by_word(spark):
    """Both bitmap running-distinct entries must run their window
    partitioned by word_idx — parallel across the id domain, never a
    single-partition window over the grid. (A 1-row scalar aggregate
    elsewhere in the plan may legitimately SinglePartition-exchange —
    the WAU calendar-bounds min/max does — so the gate checks the window
    spec itself, not the whole plan.)"""
    for name in ("events_cumulative_users", "events_rolling_wau"):
        plan = plan_of(spark, name)
        assert "windowspecdefinition(word_idx" in plan, name


def test_abc_analysis_uses_ranged_cumsum(spark):
    """The Pareto cumsum must take ranged_cumsum's partitioned path: the
    window partitions by the internal _pid range-partition id (never a
    partition-free global window); the only SinglePartition exchange in the
    plan is the 1-row scalar revenue total."""
    plan = plan_of(spark, "abc_analysis_parts")
    assert "windowspecdefinition(_pid" in plan
    assert "windowspecdefinition(revenue" not in plan  # no global window


def test_ngram_novelty_no_cartesian_or_self_join(spark):
    """First-occurrence detection must stay a gram-keyed agg + join —
    never an all-pairs corpus comparison."""
    plan = plan_of(spark, "llm_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_basket_lift_no_cartesian_and_bounded_pairing(spark):
    """Basket mining must pair AFTER collapsing to distinct (order, brand)
    — no cartesian, and the marginals/order-count broadcast onto the
    bounded pair table."""
    plan = plan_of(spark, "basket_brand_lift")
    assert "CartesianProduct" not in plan
    # (the 1-row n_orders cross join legitimately compiles to a broadcast
    # nested loop; the brand marginals must broadcast-hash)
    assert plan.count("BroadcastHashJoin") >= 2


def test_outlier_screens_broadcast_stats(spark):
    """All three robust-outlier screens must broadcast their per-type
    stats back onto the scan — never shuffle the fact side on stats."""
    for name in ("events_zscore_outliers", "events_anomaly_iqr"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_cusum_window_partitioned_by_type(spark):
    """The CUSUM running sum must partition by event_type (parallel across
    types), with the type means arriving by broadcast."""
    plan = plan_of(spark, "events_cusum_drift")
    assert "windowspecdefinition(event_type" in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_join_is_blocked_equi_join(spark):
    """C14: the fuzzy join must plan as an EQUI join on the block key with
    the Levenshtein predicate as a residual — never CartesianProduct or
    BroadcastNestedLoopJoin (the O(n²) spellings)."""
    plan = plan_of(spark, "join_fuzzy_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # residual rides inside the join


def test_keycollision_exchange_carries_digest_not_key(spark):
    """K73: the group-by exchange must carry the 32-byte sha2 digest, not
    the sorted-token canonical key (which can exceed the document size)."""
    plan = plan_of(spark, "llm_keycollision_dedup")
    import re

    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "ckey_digest" in cols or "text" not in cols, cols
    # the key text itself never appears as an exchange-partitioning column
    assert not re.search(r"Exchange hashpartitioning\([^)]*\btext\b", plan)


def test_keyness_margins_broadcast(spark):
    """K75: source totals and the grand total broadcast; the only
    sort-merge-eligible join is the vocab-sized word-margin join."""
    df = SPECS["llm_source_keyness"].builder(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_surprisal_vocab_broadcast(spark):
    """K77: the word-count table joins back onto the token stream as a
    BROADCAST — the corpus token stream must not shuffle on the word."""
    plan = plan_of(spark, "llm_unigram_surprisal")
    assert "BroadcastHashJoin" in plan
    # the vocab-count agg legitimately exchanges on w (vocab-sized, partial
    # agged); what must NOT happen is the token stream sort-merge-joining
    # against the counts — that would shuffle the corpus on the word key
    assert "SortMergeJoin" not in plan


def test_histogram_quantile_no_expand_bin_only_exchange(spark):
    """D21: the sketch build must not plan an Expand (it is not a
    count-distinct) and the data-wide exchange carries only the bin id."""
    plan = plan_of(spark, "agg_histogram_quantile")
    assert "Expand" not in plan
    import re

    wide = [
        c
        for c in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "bin" in c
    ]
    for cols in wide:
        assert "l_extendedprice" not in cols, cols


def test_retention_no_expand(spark):
    """K80: distinct users per (cohort, offset) must come from the dedup
    agg, never a COUNT(DISTINCT) Expand over raw events."""
    plan = plan_of(spark, "events_retention_cohorts")
    assert "Expand" not in plan


def test_rfm_no_window_no_sort(spark):
    """D22: quintile bucketing is broadcast-threshold CASE logic — the
    plan must contain no Window and no global Sort."""
    plan = plan_of(spark, "orders_rfm_segments")
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_kcore_no_cartesian(spark):
    """L8: every peeling round is a keyed semi-join; the weighted
    adjacency build self-joins on the part key — nothing may plan as a
    cartesian/nested-loop product."""
    plan = plan_of(spark, "graph_kcore")
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """100 TB posture proof for runtime filtering: when a selective dim
    side joins a large fact through a SHUFFLE join (no broadcast), Spark's
    runtime bloom filter must be injected on the fact side — the engine
    mechanism that prunes fact-scan rows/row-groups by the build side's
    actual keys at execution time. The engine keeps the feature on
    (session default); this pins that our join shapes remain eligible:
    equi-key, selective creation side, no blocking hint. Results must be
    unchanged by the filter (it is one-sided by construction)."""
    import pyspark.sql.functions as F

    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "bloomfilter" in plan or "might_contain" in plan
        # one-sidedness: the filtered count equals the unfiltered join count
        want = (
            li.join(
                spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
                    F.col("o_orderpriority") == "1-URGENT"
                ).hint("broadcast"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).count()
        )
        assert row["n"] == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_adamic_adar_no_cartesian_broadcast_degrees(spark):
    """L9: wedges are an equi-self-join on the middle node; the degree
    table joins as a broadcast; nothing may plan a cartesian product."""
    plan = plan_of(spark, "graph_adamic_adar")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ltv_spine_no_calendar_cross_join(spark):
    """D25: the dense offset spine is a sequence() explode per cohort row
    (narrow Generate) — never a cohort x calendar cross/nested-loop join;
    the only BNLJ allowed is the 1-row max_ym broadcast."""
    plan = plan_of(spark, "orders_ltv_curve")
    assert "CartesianProduct" not in plan
    assert "Generate explode(sequence" in plan


def test_top_paths_single_user_window_exchange(spark):
    """K86: both leads ride ONE user-keyed window pass — exactly one
    hashpartitioning(user_id) exchange, no self-joins of the stream."""
    plan = plan_of(spark, "events_top_paths")
    import re

    user_shuffles = [
        c
        for c in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "user_id" in c
    ]
    assert len(user_shuffles) == 1, user_shuffles
    assert "SortMergeJoin" not in plan


def test_rolling_slope_single_type_exchange(spark):
    """K87: rank and frame windows share the event_type-keyed exchange
    over the calendar-bounded daily table — one type-keyed shuffle."""
    plan = plan_of(spark, "events_rolling_slope")
    import re

    type_shuffles = [
        c
        for c in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "event_type" in c and "day" not in c and "_groupingexpression" not in c
    ]
    assert len(type_shuffles) == 1, type_shuffles


def test_join_cardinality_sketch_sized_grids(spark):
    """C15: the estimate side joins two sketch grids (<= 2048 rows each);
    the only data-sized work is the two sketch aggs and the exact-branch
    proof join — no corpus-key sort-merge for the ESTIMATE path. The
    sketch inner-product join must be broadcastable."""
    plan = plan_of(spark, "join_cardinality_estimate")
    assert "CartesianProduct" not in plan


def test_km_survival_windows_are_duration_bounded(spark):
    """D27: the KM windows run over DISTINCT DURATIONS (calendar-bounded),
    after the per-duration agg — the subject table itself must never flow
    into an unpartitioned window. Gate: every Window in the plan sits
    above the duration-keyed aggregate (plan has a hash agg on dur before
    any single-partition exchange feeding a Window)."""
    plan = plan_of(spark, "orders_survival_km")
    import re

    # single-partition exchanges exist (bounded window + 1-row horizon);
    # the guard is that the o_custkey window (data-sized) partitions by key
    assert "Window" in plan
    cust_windows = re.findall(
        r"windowspecdefinition\(o_custkey[^)]*\)", plan
    )
    assert cust_windows, "per-customer ranking window missing"


def test_stickiness_single_grid_exchange(spark):
    """K94: DAU popcount and the 28-day bit_or must ride ONE word_idx
    window exchange over the bitmap grid (the I13/I14 envelope)."""
    plan = plan_of(spark, "events_dau_mau_stickiness")
    import re

    # the (day, word_idx) exchange is the grid-building agg; the window
    # pass itself must be exactly ONE exchange keyed on word_idx alone
    word_shuffles = [
        c
        for c in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "word_idx" in c and "day" not in c
    ]
    assert len(word_shuffles) == 1, word_shuffles


def test_psi_sketch_sized_tail(spark):
    """K90: after the bin-count agg (<= 10 rows) nothing data-sized runs —
    no window at all, and the only joins are broadcasts of 1-row frames."""
    plan = plan_of(spark, "llm_score_drift_psi")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_clustering_coeff_all_joins_keyed(spark):
    """L11: wedge enumeration + closure are equi-joins; no cartesian."""
    plan = plan_of(spark, "graph_clustering_coefficient")
    assert "CartesianProduct" not in plan


def test_gini_rank_never_single_partition_window(spark):
    """D28 Gini: the global ascending rank comes from ranged_cumsum — every
    Window in the plan partitions on the internal _pid key (parallel local
    windows), never an unpartitioned global-sort window. The only
    SinglePartition exchange is the final 1-row reduction."""
    plan = plan_of(spark, "orders_gini_revenue")
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected ranged_cumsum local windows"
    for s in specs:
        assert "_pid" in s, s


def test_auc_cumsum_not_single_partition(spark):
    """K97 ROC-AUC: the running negative count over the quantized score
    domain rides ranged_cumsum — every window partitions on _pid, and the
    only join is the bounded offsets broadcast."""
    plan = plan_of(spark, "llm_quality_roc_auc")
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected ranged_cumsum local windows"
    for s in specs:
        assert "_pid" in s, s
    assert "SortMergeJoin" not in plan


def test_changepoint_one_type_exchange_for_windows(spark):
    """K96 changepoint: all prefix/total windows ride event_type-keyed
    exchanges over the calendar-bounded daily table — no SinglePartition
    window, no joins at all."""
    plan = plan_of(spark, "events_changepoint_binseg")
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan


def test_lpa_rounds_are_equi_joins(spark):
    """L12 LPA: each propagation round is an edges⋈labels equi-join plus a
    node-keyed argmax window — never a cartesian product."""
    plan = plan_of(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan


def test_centroid_drift_pair_join_is_bounded(spark):
    """K100 centroid drift: the only corpus-sized pass is the (label, dim)
    mean agg; the label-pair join runs over that bounded table and must
    never plan a cartesian over embeddings rows."""
    plan = plan_of(spark, "llm_emb_centroid_drift")
    assert "CartesianProduct" not in plan


def test_silhouette_centroids_broadcast(spark):
    """K101 silhouette: the K-centroid side is an explicit broadcast — the
    distance pass must be a BroadcastNestedLoopJoin over O(K) rows, never
    a shuffled cartesian of embeddings × embeddings."""
    plan = plan_of(spark, "llm_silhouette")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" in plan


def test_skyline_windows_partition_on_pid(spark):
    """F6 skyline: the strict-prior size max comes from ranged_cummax_excl
    — every window partitions on _pid; the parts→price-group join is
    keyed (no cartesian)."""
    plan = plan_of(spark, "part_skyline_2d")
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected ranged_cummax_excl local windows"
    for s in specs:
        assert "_pid" in s, s
    assert "CartesianProduct" not in plan


def test_audience_overlap_word_joins_only(spark):
    """K102 audience overlap: the corpus-sized exchange is the (type,
    word_idx) grid agg; the pair join is keyed on word_idx and the
    type-pair spine is a broadcast of the bounded totals — never a
    shuffled cartesian."""
    plan = plan_of(spark, "events_audience_overlap")
    assert "CartesianProduct" not in plan
    import re

    for cols in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "user_id" not in cols, cols  # grid agg keys on (type, word)


def test_hourly_chisq_bounded_after_first_agg(spark):
    """K103 χ²: everything after the (type, hour) agg is bounded — no
    window at all, no sort-merge join (the spine join is broadcast)."""
    plan = plan_of(spark, "events_hourly_chisq")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_markov_entropy_bounded_tail(spark):
    """K104: after the lag window's one user_id exchange, the pair/total/
    grand-total joins are broadcasts over |types|²-bounded tables."""
    plan = plan_of(spark, "events_markov_entropy_rate")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantization_error_no_explode(spark):
    """K106: the per-vector MSE is a fixed-order array fold — no Generate
    (explode) node, no join; the only exchange is the label agg."""
    plan = plan_of(spark, "llm_emb_quantization_error")
    assert "Generate" not in plan
    assert "Join" not in plan


def test_interarrival_windows_partition_user_type(spark):
    """D31: the gap window partitions by (user_id, event_type) — finer than
    any per-user window — and nothing plans a single partition."""
    plan = plan_of(spark, "events_interarrival_dist")
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    import re

    wins = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert any("user_id" in w and "event_type" in w for w in wins)


def test_entry_exit_reuses_user_exchange(spark):
    """D32: session window is a subpartition of the user window, so both
    window layers ride ONE user_id exchange; final matrix agg is the only
    other shuffle."""
    plan = plan_of(spark, "events_entry_exit_matrix")
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    user_shuffles = [s for s in shuffles if "user_id" in s]
    assert len(user_shuffles) == 1, user_shuffles


def test_lexical_diversity_vocab_sized_exchanges(spark):
    """K107: explode feeds a map-side-combined (source, word) agg — the
    wide exchanges carry vocabulary-sized partials; no window, no join."""
    plan = plan_of(spark, "llm_lexical_diversity")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_vocab_growth_single_corpus_pass(spark):
    """K108: ONE corpus-sized Generate (explode) — the (source, word,
    decile) count is checkpointed so neither consumer re-scans; the only
    SinglePartition exchange is the 1-row max(doc_id) scalar; windows are
    10-rows-per-source bounded."""
    plan = plan_of(spark, "llm_vocab_growth")
    assert plan.count("Generate explode") <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_emb_gram_no_join_single_agg_exchange(spark):
    """K109: the pair space is generated per-row (nested transform ->
    ONE Generate), never by self-join; the only exchange is the
    d²-bounded (i, j) agg with map-side partial_sum."""
    plan = plan_of(spark, "llm_emb_gram")
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1 and "i#" in shuffles[0]
    assert "partial_sum" in plan


def test_emb_anisotropy_no_pair_enumeration(spark):
    """K110: closed-form identity — no join, no n² anything; exchanges are
    the (label, dim) and label aggs only."""
    plan = plan_of(spark, "llm_emb_anisotropy")
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 2


def test_zorder_scalar_broadcast_bounded_agg(spark):
    """F7: the quantization maxima are a 1-row broadcast (the only
    SinglePartition exchange); the z computation is a narrow scan feeding
    a 4096-bounded hash agg — no window, no sort, no data-sized join."""
    plan = plan_of(spark, "sort_zorder_locality")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "partial_count" in plan or "partial_min" in plan


def test_lang_kappa_single_source_agg(spark):
    """K111: one narrow scan, one |sources|-group exchange, no join."""
    plan = plan_of(spark, "llm_lang_kappa")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_perplexity_holdout_vocab_keyed_joins(spark):
    """K112: the LM join is (source, word)-keyed between two agg outputs
    and the per-source scalars broadcast — no sort-merge join, no window,
    no single partition; the corpus explode happened once upstream of the
    checkpoint."""
    plan = plan_of(spark, "llm_perplexity_holdout")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_props_bands_extraction_stays_in_scan_stage(spark):
    """D33: get_json_object is a JVM expression — no BatchEvalPython /
    ArrowEval (Python UDF) node anywhere; single bounded agg exchange."""
    plan = plan_of(spark, "events_props_value_bands")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "Join" not in plan
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_priority_jsd_one_orders_scan(spark):
    """D34: the (month, priority) count is checkpointed; months, global
    mix and grand total all derive from it — exactly ONE orders FileScan
    in the plan, everything downstream calendar-bounded broadcasts."""
    df = SPECS["orders_priority_mix_jsd"].builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1  # checkpointed RDD + <=1 residual
    assert "SortMergeJoin" not in plan
    # the only SinglePartition is the 1-row grand total over the bounded
    # checkpointed table
    assert plan.count("Exchange SinglePartition") <= 1


def test_landmark_bfs_state_joins_are_keyed(spark):
    """L13: the traversal state joins the checkpointed adjacency by key —
    no cartesian, no sort-merge (frontier broadcasts), no window."""
    plan = plan_of(spark, "graph_landmark_distances")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_relax_rounds_broadcast_pinned_state(spark):
    """One min_relax round over pinned inputs (pins stubbed to identity
    inside the loop, so the returned state exposes the round plan) must
    broadcast the pinned frontier when the caller asks for it: ExistingRDD
    stats never clear the auto-broadcast threshold, and the un-hinted
    sort-merge join re-exchanged AND re-sorted the |E|-row pinned edge list
    every round. Connected components' broadcast=False keeps the shuffled
    join."""
    from pyspark.sql import functions as F

    from ksql_spark.operators.scale import pin, pins_disabled
    from ksql_spark.queries.graph import min_relax

    edges = [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)]
    adj = pin(spark.createDataFrame(edges, "s1 long, s2 long"), eager=False)
    seeds = pin(
        spark.createDataFrame(
            [(0, 0, 0), (1, 1, 0)], "lm long, s long, dist long"
        ),
        eager=False,
    )

    def round_plan(broadcast):
        with pins_disabled():
            state, _ = min_relax(
                seeds, adj, ["lm", "s"], F.lit(1), 1, broadcast=broadcast
            )
        return state._jdf.queryExecution().executedPlan().toString()

    plan = round_plan(True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in round_plan(False)


def test_stl_windows_calendar_bounded(spark):
    """D35: the only corpus-sized pass is the (type, day) agg; the 7-row
    window and seasonal join run on the checkpointed daily table (no
    parquet rescan below them), seasonal joins back by broadcast."""
    plan = plan_of(spark, "events_stl_daily_decompose")
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 0  # both inputs checkpointed


def test_shingle_overlap_no_self_join_of_shingles(spark):
    """K113: pairing happens inside each shingle's bounded source set —
    no sort-merge join, no cartesian; the only joins are the two
    broadcast size lookups; corpus inputs sit under the checkpoint."""
    plan = plan_of(spark, "llm_source_shingle_overlap")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Scan parquet") == 0


def test_vocab_coverage_rank_free(spark):
    """K114: the cutoff parameterization needs no rank and no sort — no
    Window/Sort nodes; the cutoff table and the 1-row total broadcast."""
    plan = plan_of(spark, "llm_vocab_coverage_cutoff")
    assert "Window" not in plan
    assert "TakeOrdered" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_nrr_single_orders_scan(spark):
    """D36: the cohort stamp is a window, not an agg+self-join — exactly
    one orders scan, one o_custkey shuffle; everything after the
    (cohort, yr) agg is grid-bounded."""
    plan = plan_of(spark, "orders_nrr_cohort")
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    import re

    cust_shuffles = [
        c
        for c in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "o_custkey" in c
    ]
    assert len(cust_shuffles) == 1


def test_dynamic_session_single_user_shuffle(spark):
    """I15: session_window with a gap expression plans exactly like the
    static one — one user_id exchange, no single partition."""
    plan = plan_of(spark, "stream_session_dynamic_gap")
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan


def test_quality_ols_one_moment_pass(spark):
    """K115: closed-form OLS — one scan, one |sources|-group agg with
    map-side partials, no join/window/second pass."""
    plan = plan_of(spark, "llm_quality_length_ols")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_locf_shares_one_user_exchange(spark):
    """E8: LOCF (forward) and NOCB (backward) windows share the user_id
    partitioning — exactly one exchange."""
    plan = plan_of(spark, "win_locf_ignore_nulls")
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1 and "user_id" in shuffles[0]


def test_time_range_frame_single_user_exchange(spark):
    """E9: the event-time range frame runs in one user_id-partitioned
    window pass — one exchange, no join."""
    plan = plan_of(spark, "win_time_range_frame")
    assert "Join" not in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(shuffles) == 1 and "user_id" in shuffles[0]


def test_daily_max_gap_type_partitioned(spark):
    """D37: the gap window partitions by event_type (the monitoring
    unit); final agg is (type x day)-bounded; no single partition."""
    plan = plan_of(spark, "events_daily_max_gap")
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan


def test_bigram_entropy_vocab_keyed_tail(spark):
    """K116: after the (source, w1, w2) count agg the state-total join is
    keyed on (source, w1) — co-partitioned with the pair table, so no
    sort-merge join materializes at this size and nothing re-scans the
    corpus; no window, no single partition."""
    plan = plan_of(spark, "llm_bigram_entropy_rate")
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_ab_report_two_agg_passes(spark):
    """D38: user-level conversion agg (corpus pass, map-side combined)
    then a 1-row reduction — no join, no window; the only SinglePartition
    is the final 1-row arm rollup."""
    plan = plan_of(spark, "events_ab_test_report")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_cluster_nmi_bounded_after_confusion(spark):
    """K117: the only corpus-sized work is the broadcast-centroid
    assignment; the confusion table is checkpointed and everything after
    is KxL-bounded broadcasts — no sort-merge join anywhere."""
    plan = plan_of(spark, "llm_cluster_label_nmi")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_iso_week_single_agg(spark):
    """D39: one scan, one calendar-bounded agg."""
    plan = plan_of(spark, "orders_iso_week_revenue")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_jarque_bera_one_moment_pass(spark):
    """D40: four power sums in ONE |segments|-group agg — no second
    pass, no join, map-side combined."""
    plan = plan_of(spark, "customer_acctbal_jarque_bera")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_sum" in plan


def test_powerlaw_no_sort(spark):
    """D41: fixed-xmin MLE needs no order statistics — no Sort, no
    Window, no TakeOrdered; user agg then 1-row reduction."""
    plan = plan_of(spark, "events_user_activity_powerlaw")
    assert "Window" not in plan and "TakeOrdered" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_pit_join_is_user_keyed(spark):
    """C17: the PIT join carries the user_id equality key (containment is
    a residual) — no cartesian, no nested-loop over corpus-sized sides."""
    plan = plan_of(spark, "join_pit_state")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_benford_nine_row_tail(spark):
    """D42: narrow scan -> 9-group agg -> 1-row total broadcast; the
    digit ladder is pure arithmetic (no Python, no transcendentals on
    data)."""
    plan = plan_of(spark, "events_benford_digit_check")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange SinglePartition") <= 1
    assert "SortMergeJoin" not in plan


def test_two_hop_reach_keyed_wedge(spark):
    """L14: the wedge is the checkpointed-adjacency self-join on the
    shared endpoint — keyed, never cartesian."""
    plan = plan_of(spark, "graph_two_hop_reach")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_control_chart_two_scans_bounded_tail(spark):
    """D43: global moments + monthly means (two scans of orders), limits
    via 1-row broadcast — no sort-merge join, calendar-bounded tail."""
    plan = plan_of(spark, "orders_control_chart_xbar")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_wilson_single_source_agg(spark):
    """K118: one scan, one |sources| agg, closed form."""
    plan = plan_of(spark, "llm_quality_wilson_interval")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_datetime_format_stays_in_codegen(spark):
    """H16: formatting is JVM date_format — no Python eval nodes."""
    plan = plan_of(spark, "fn_datetime_format")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "Exchange" not in plan  # pure narrow projection


def test_id_gap_audit_no_single_partition_window(spark):
    """D44: the global lag decomposes through ranged_lag — every Window
    node partitions on _pid; the only SinglePartition is absent."""
    plan = plan_of(spark, "orders_id_gap_audit")
    assert "Exchange SinglePartition" not in plan


def test_dq_rules_one_scan(spark):
    """D45: five rules, ONE lineitem scan, 1-row agg, stack."""
    plan = plan_of(spark, "dq_rules_lineitem")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_reliability_bins_ten_row_tail(spark):
    """K119: one scan -> 10-group agg; nothing else."""
    plan = plan_of(spark, "llm_quality_reliability_bins")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_pr_curve_rank_free(spark):
    """K120: threshold broadcast cross join, 9-group agg — no sort, no
    window, no per-threshold rescan."""
    plan = plan_of(spark, "llm_quality_pr_curve")
    assert "Window" not in plan and "TakeOrdered" not in plan
    assert plan.count("Scan parquet") == 1


def test_medoids_cluster_blocked_pairs(spark):
    """K121: the pair cost join carries the cent_id equality key (a hash
    join), never a cartesian; the only nested loop is the K101-style
    O(K)-row centroid broadcast of the assignment pass."""
    plan = plan_of(spark, "llm_cluster_medoids")
    assert "CartesianProduct" not in plan
    import re

    hash_joins = re.findall(r"(?:BroadcastHash|ShuffledHash|SortMerge)Join[^\n]*", plan)
    assert any("cent_id" in j for j in hash_joins), hash_joins


def test_duplicate_payment_amount_keyed(spark):
    """D46: the self-join keys on (custkey, amount) — the date band is a
    residual, so no time-band nested loop."""
    plan = plan_of(spark, "orders_duplicate_payment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_growth_accounting_one_user_window(spark):
    """D47: one distinct activity grid (checkpointed), one user window;
    the churn branch reuses the same pass — no corpus rescan."""
    plan = plan_of(spark, "events_growth_accounting")
    assert plan.count("Scan parquet") == 0  # grid checkpointed
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange SinglePartition") <= 1  # max-week scalar


def test_value_migration_one_scan(spark):
    """D48: ONE orders scan; thresholds a 1-row broadcast over the
    checkpointed per-customer table; 16-row tail."""
    plan = plan_of(spark, "customer_value_migration")
    assert plan.count("Scan parquet") == 0  # per-customer checkpointed
    assert "SortMergeJoin" not in plan


def test_ahash_single_arrow_pass(spark):
    """K122: one mapInPandas (Arrow) pass, no exchange at all."""
    plan = plan_of(spark, "llm_multimodal_ahash")
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "ArrowEval" in plan or "mapInPandas" in plan


def test_tfidf_pairs_rare_blocked(spark):
    """K123: the candidate build joins only rare-word postings; the dot
    is posting-keyed equi-joins — no cartesian, no nested loop over
    document pairs."""
    plan = plan_of(spark, "llm_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0  # postings checkpointed


def test_katz_rounds_keyed(spark):
    """L15: each walk round is a keyed join against the checkpointed
    adjacency — no cartesian."""
    plan = plan_of(spark, "graph_katz_centrality")
    assert "CartesianProduct" not in plan


def test_containment_blocked_pairs(spark):
    """K124: same K2 candidate discipline — the pair join carries the
    source equality key; no cartesian."""
    plan = plan_of(spark, "llm_ngram_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_seasonal_naive_calendar_window(spark):
    """D49: the lag-12 window runs AFTER the month agg — the only
    window input is the calendar-bounded month table (one agg exchange
    upstream)."""
    plan = plan_of(spark, "orders_seasonal_naive_backtest")
    assert plan.count("Scan parquet") == 1
    idx_w = plan.find("Window")
    idx_agg = plan.find("HashAggregate")
    assert idx_w != -1 and idx_agg != -1 and idx_w < idx_agg


def test_scorecard_one_scan_broadcast_bounds(spark):
    """D50: the supplier agg is checkpointed, so bounds + scoring share
    one materialization — zero parquet rescans below it."""
    plan = plan_of(spark, "supplier_scorecard")
    assert plan.count("Scan parquet") == 0
    assert "SortMergeJoin" not in plan


def test_slo_burn_window_on_daily_grid(spark):
    """D51: the rolling window's input is the daily agg output (bounded),
    never raw events — HashAggregate sits below the Window."""
    plan = plan_of(spark, "events_slo_burn_rate")
    assert plan.count("Scan parquet") == 1
    idx_w = plan.find("Window")
    assert idx_w != -1 and "HashAggregate" in plan[idx_w:]


def test_q1_official_pushdown_single_agg(spark):
    """Official Q1: shipdate filter reaches the scan; one 2-key agg."""
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:300]
    assert "Join" not in plan


def test_bot_score_user_keyed_everything(spark):
    """D52: gap window + both aggs + the final join all key on user_id;
    no single partition, no sort-merge surprise at this size."""
    plan = plan_of(spark, "events_bot_score")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_bit_functions_narrow(spark):
    """H17: filtered narrow scan, per-row codegen, no exchange."""
    plan = plan_of(spark, "fn_bit_functions")
    assert "Exchange" not in plan


def test_welch_one_scan_closed_form(spark):
    """D53: one scan, a 2-group moment agg, 1-row pivot — no join."""
    plan = plan_of(spark, "orders_weekday_weekend_ttest")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_trigram_lang_id_profile_broadcast(spark):
    """K125: profiles are |langs|x20 and broadcast into the scoring
    join; windows are vocab-/doc-bounded; no cartesian."""
    plan = plan_of(spark, "llm_char_trigram_lang_id")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_string_pad_narrow(spark):
    """H18: filtered narrow scan, no exchange."""
    plan = plan_of(spark, "fn_string_pad_translate")
    assert "Exchange" not in plan


def test_linenumber_completeness_two_aggs(spark):
    """D54: per-order agg then a 1-row rollup — one scan."""
    plan = plan_of(spark, "lineitem_linenumber_completeness")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_layout_writer_plans_scale_shape(spark):
    """Layout writers (operators/layout.py): the shard write exchanges ON
    shard_id via hash partitioning (each reducer streams whole shards — no
    SinglePartition funnel), and the z-order write is ONE range exchange on
    the Morton key with an in-partition sort (never a global Sort/
    SinglePartition)."""
    import pyspark.sql.functions as F

    from ksql_spark.operators.layout import shard_expr, _interleave

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sharded = docs.withColumn("shard_id", shard_expr("doc_id", 16)).repartition(
        16, "shard_id"
    )
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "orderday", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
    )
    zq = (
        orders.withColumn("_zq", (F.col("o_custkey") % 4096).cast("long"))
        .withColumn("_zr", (F.col("orderday") % 4096).cast("long"))
        .withColumn("_z", F.expr(_interleave("_zq", "_zr", 12)))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
    )
    zplan = zq._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(_z" in zplan
    assert "SinglePartition" not in zplan
    # the sort is local (inside the range partitions), not a global sort:
    # SortExec prints "Sort [keys], <global>, 0" — global must be false
    sort_line = next(ln for ln in zplan.splitlines() if "Sort [" in ln)
    assert "], false, 0" in sort_line, sort_line


def test_capped_wedge_plans_no_cartesian_broadcast_deg(spark):
    """r9 production wedge siblings: all joins keyed (no cartesian), the
    |V|-row degree table broadcast into AA scoring, and the neighbor
    truncation is a per-node (s1-partitioned) window, not a global sort."""
    import re

    for name in ("graph_clustering_coefficient_capped", "graph_adamic_adar_capped"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        trunc = [s for s in specs if "s1" in s]
        assert trunc, (name, "expected the s1-partitioned truncation window")
    aa = plan_of(spark, "graph_adamic_adar_capped")
    assert "BroadcastHashJoin" in aa  # degree table broadcast


def test_semantic_dedup_scaled_broadcast_centroids_bucketed_pairs(spark):
    """K39 production path: centroid assignment is the broadcast O(n·K)
    nested-loop pass over a BROADCAST K-row side (the llm_emb_cluster
    shape — never a shuffled join), the pair join is equi-keyed on
    (cent, bucket) — no cartesian anywhere."""
    plan = plan_of(spark, "llm_semantic_dedup_scaled")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # the pair stage itself must be a hash-keyed join, not nested-loop
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_medoids_sampled_peerset_bounded_joins_keyed(spark):
    """K121 production path: the peer sample is a per-cluster window (rn <=
    m), the cost join is equi-keyed on cent_id — no cartesian, no global
    window."""
    plan = plan_of(spark, "llm_cluster_medoids_sampled")
    assert "CartesianProduct" not in plan
    # the only unpartitioned window would be a global sort — the peer
    # sampling window must partition on cent_id
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "cent_id" in spec or "vec_id" in spec, spec


def test_two_hop_hll_no_wedge_join(spark):
    """L14 production path (HyperBall): NO self-join of the adjacency on a
    middle node — the plan's only joins are the edge⋈sketch merge — and
    sketches aggregate with partial (map-side) union before the exchange."""
    plan = plan_of(spark, "graph_two_hop_reach_hll")
    assert "CartesianProduct" not in plan
    assert "hll_union_agg" in plan.lower() or "HllUnionAgg" in plan
    # partial aggregation present (map-side combine of sketch unions)
    assert "partial_" in plan.lower() or "Partial" in plan


def test_referential_orphans_broadcast_anti_lazy(spark):
    """D55: every FK audit is an anti join with the parent key set
    broadcast (dims) — no cartesian, no sort-merge at this size — and the
    child row counts ride as broadcast 1-row aggregates, so building the
    DataFrame triggers ZERO Spark jobs (no eager .count() in the builder)."""
    import ksql_spark.queries.pipeline_audit as pa

    from ksql_spark.tables import load

    sc = spark.sparkContext
    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "nation", "region"):
        load(spark, SF_DIR, t)  # warm the reader-level footer jobs
    before = sc.statusTracker().getJobIdsForGroup(None)
    df = pa.dq_referential_orphans(spark, SF_DIR)
    after = sc.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "builder ran eager jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 14  # 7 rels x 2 modes


def test_order_coverage_custkey_partitioned_windows(spark):
    """D56: both island windows partition on o_custkey (millions of
    independent partitions at scale — never a global window), and the
    interval merge is windows+agg, not an interval self-join."""
    import re

    plan = plan_of(spark, "customer_order_coverage")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in plan"
    for spec in specs:
        assert "o_custkey" in spec, spec


def test_attribution_user_keyed_windows_semi_join(spark):
    """D57: journey numbering and per-journey ranks all partition on
    user_id; the converted-journey filter compiles to a (semi) hash join,
    never a cartesian; final agg is the 3-channel rollup."""
    import re

    plan = plan_of(spark, "events_attribution_credit")
    assert "CartesianProduct" not in plan
    assert "Semi" in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec, spec


def test_did_single_scan_single_agg(spark):
    """D58: one parquet scan with the purchase filter pushed, collapsing
    straight into a single conditional aggregate row — no join, no window,
    map-side partials carry the corpus."""
    plan = plan_of(spark, "events_did_estimator")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert "PushedFilters:" in plan


def test_ppr_keyed_iterations_no_cartesian(spark):
    """L16: like pagerank, every iteration is a source-keyed join + a
    destination-keyed agg — no cartesian, no single-partition exchange;
    the seed restart vector is column math, never a driver-side list."""
    plan = plan_of(spark, "graph_ppr")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_backlog_aging_broadcast_scalars(spark):
    """D59: the as-of snapshot and the backlog total ride as broadcast
    1-row aggregates (BroadcastNestedLoopJoin of a 1-row side is the
    legal spelling); the only hash exchange is the bounded
    status x bucket rollup."""
    import re

    plan = plan_of(spark, "orders_backlog_aging")
    assert "CartesianProduct" not in plan
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for cols in ex:
        assert "status" in cols or "age_bucket" in cols, cols


def test_perfect_order_single_fact_shuffle(spark):
    """D60: lineitem shuffles once on its natural key into the per-order
    violation agg; the month rollup is bounded; no window."""
    plan = plan_of(spark, "orders_perfect_order_rate")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert plan.count("Scan parquet") == 2


def test_elasticity_unhinted_join_single_agg(spark):
    """D61: the part join carries NO broadcast hint (part is
    SF-proportional — AQE broadcasts while it fits, shuffles on partkey
    when it doesn't); the five OLS moments collapse in ONE brand-keyed
    agg and the lineitem filters are pushed to the scan."""
    plan = plan_of(spark, "part_price_elasticity")
    assert "PushedFilters:" in plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_mann_kendall_pairs_calendar_bounded(spark):
    """D62: the pairwise sign stage self-joins the DAILY table (calendar-
    bounded), keyed on event_type — the corpus-sized events scan never
    reaches a join; no cartesian."""
    plan = plan_of(spark, "events_mann_kendall")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_fano_spine_bounded_single_corpus_agg(spark):
    """D63: one corpus agg into daily rows; the zero-day spine explodes the
    bounded per-type bounds table, never the corpus; moments close in a
    second bounded agg. No window, no cartesian."""
    plan = plan_of(spark, "events_dispersion_fano")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_retention_halflife_user_keyed_then_bounded(spark):
    """D64: first-week and activity are user-keyed aggs; everything after
    the (cohort, week) rate table is bounded; the OLS is one agg, no
    window."""
    plan = plan_of(spark, "events_retention_halflife")
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan
    assert "Exchange SinglePartition" not in plan


def test_readability_single_scan_codegen(spark):
    """K129: one documents scan, regexp counts in codegen (no EvalPython),
    one source-group agg."""
    plan = plan_of(spark, "llm_readability_fk")
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_abc_xyz_ranged_cumsum_no_global_window(spark):
    """D65: the ABC cumulative share uses the two-pass ranged cumsum — the
    global running sum never runs as an unpartitioned window (every window
    spec carries the ranged _pid key); the only SinglePartition exchanges
    are the bounded 1-row scalar totals."""
    import re

    plan = plan_of(spark, "part_abc_xyz_matrix")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec or "l_partkey" in spec, spec


def test_circadian_single_pass_no_window(spark):
    """D66: one corpus scan into a |types|-row trig-moment agg; no join,
    no window."""
    plan = plan_of(spark, "events_circadian_rayleigh")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan


def test_croston_part_keyed_window(spark):
    """D67: the only window pass partitions on l_partkey (index + lag over
    the bounded monthly series); the smoothing itself is a closed-form
    keyed agg — no sequential scan, no single partition."""
    import re

    plan = plan_of(spark, "part_croston_demand")
    assert "Exchange SinglePartition" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "l_partkey" in spec, spec


def test_freshness_lazy_broadcast_maxes(spark):
    """D68: per-feed max rides as a broadcast 1-row agg into a conditional
    count (one scan per feed, no eager action); building the DataFrame
    triggers zero jobs."""
    import ksql_spark.queries.pipeline_audit as pa

    from ksql_spark.tables import load

    sc = spark.sparkContext
    for t in ("orders", "lineitem", "events"):
        load(spark, SF_DIR, t)
    before = sc.statusTracker().getJobIdsForGroup(None)
    df = pa.dq_freshness_audit(spark, SF_DIR)
    after = sc.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "builder ran eager jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_davies_bouldin_broadcast_centroids_k2_pairs(spark):
    """K130: the distance pass is the O(n*K) broadcast cross join (K101's
    shape, never n²); the pair stage joins the K-row centroid table with
    itself — bounded; assignment window partitions on vec_id."""
    import re

    plan = plan_of(spark, "llm_cluster_davies_bouldin")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "vec_id" in spec, spec


def test_spearman_month_partitioned_ranks(spark):
    """D69: all four rank/tie windows partition on the calendar month —
    never a global sort of the order table; moments close per month."""
    import re

    plan = plan_of(spark, "orders_spearman_corr")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for spec in specs:
        assert "m#" in spec, spec


def test_granger_single_scan_bounded_tail(spark):
    """D70: one events scan with the type filter pushed; the only window
    (lag) runs over the post-agg DAILY table — calendar-bounded, the
    documented orders_monthly_growth posture; one final 1-row agg."""
    plan = plan_of(spark, "events_granger_lite")
    assert plan.count("Scan parquet") == 1
    assert "PushedFilters:" in plan
    assert "CartesianProduct" not in plan


def test_runs_test_bounded_tail(spark):
    """D71: one orders scan collapsing to the daily table; the median is a
    broadcast 1-row agg; the run-boundary window is calendar-bounded."""
    plan = plan_of(spark, "orders_runs_test")
    # two scans: the daily lineage feeds the median branch AND the signed
    # path, each collapsing into bounded rows at the scan (the backlog-aging
    # posture); never more
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_hhi_keyed_share_join(spark):
    """D72: the supplier join is un-hinted (supplier is SF-proportional;
    AQE picks the strategy); the share join is nation-keyed (never
    cartesian); two bounded aggs close it."""
    plan = plan_of(spark, "supplier_herfindahl")
    assert "CartesianProduct" not in plan


def test_cuped_three_aggs_broadcast_theta(spark):
    """D73: one user-keyed conditional agg, theta/xbar as a broadcast
    1-row side, per-arm moment close — no window, no corpus join."""
    plan = plan_of(spark, "events_cuped_adjusted")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_sprt_daily_cumulative_bounded(spark):
    """D74: corpus collapses to daily counts; the control rate is a 1-row
    broadcast; the cumulative window runs over the bounded daily table."""
    plan = plan_of(spark, "events_sprt_ab")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2  # treatment dailies + control rate


def test_ks_grid_windows_source_partitioned(spark):
    """K131: ECDF windows partition on source over the fixed 1000-bin
    grid; the complement comes from bin totals, never a self-join of the
    corpus; no cartesian of anything unbounded."""
    import re

    plan = plan_of(spark, "llm_quality_ks_sources")
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in spec, spec


def test_multimodal_histogram_no_shuffle_single_arrow_pass(spark):
    """K132: one Arrow-batched mapInPandas pass over a narrow projection —
    no Exchange of any kind, exactly one Python stage."""
    plan = plan_of(spark, "llm_multimodal_histogram")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_srm_bounded_tail_after_one_agg(spark):
    """D75: one corpus agg to |types| rows; the rank window, the step-up
    max, and the flag join all live on that bounded table."""
    plan = plan_of(spark, "events_srm_fdr")
    # two scans: the ranked lineage feeds both the step-up max branch and
    # the flag output, each collapsing to |types| rows at the scan
    assert plan.count("Scan parquet") == 2
    assert "CartesianProduct" not in plan


def test_hill_type_partitioned_rank(spark):
    """D76: the only corpus-wide stage is the type-partitioned rank
    window; everything after is k-bounded per type."""
    import re

    plan = plan_of(spark, "events_hill_tail_index")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in spec, spec


def test_migration_steady_bounded_iterations(spark):
    """D77: one corpus agg; the three power iterations are joins on the
    16-row matrix (no single-partition exchange wider than 1-row
    scalars, no cartesian)."""
    plan = plan_of(spark, "customer_migration_steady_state")
    assert "CartesianProduct" not in plan


def test_price_index_part_keyed_basket(spark):
    """D78: one (part, month) agg; the base basket joins part-keyed; the
    month rollup is bounded. No window."""
    plan = plan_of(spark, "part_price_index_monthly")
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_no_single_partition_sort(spark):
    """D79 (VERDICT r9 item 1b): the tie-averaged rank rides the ranged
    two-pass device over the per-distinct-value agg — every window is
    _pid-partitioned, the plan holds NO unpartitioned window and NO
    global sort, and everything downstream of the pinned cumsum is one
    reduction. The former shape (one unpartitioned rank window over the
    whole orders table) is FORBIDDEN here."""
    import re

    plan = plan_of(spark, "orders_mann_whitney")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0  # per-x agg pinned at build
    # FORBID unpartitioned windows (the scale-killer class): every window
    # spec must carry the range-partition id
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, spec


def test_mcnemar_one_agg_chain(spark):
    """D80: user-keyed conditional agg -> 1-row cell aggregate; no join,
    no window."""
    plan = plan_of(spark, "events_mcnemar_prepost")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan


def test_periodogram_bounded_expansion(spark):
    """D81: the corpus collapses to the daily table in one agg; the
    10-period cross join expands only that BOUNDED table (broadcast);
    no window, no unbounded cartesian."""
    plan = plan_of(spark, "events_periodogram")
    assert "windowspecdefinition" not in plan
    # the daily table is pinned once; branches read the checkpoint, not
    # the corpus (without the pin this plan held EIGHT parquet scans)
    assert plan.count("Scan parquet") <= 2


def test_orphans_onepass_minimal_scans(spark):
    """D55b: 12 scans = 5 child tables + 7 parent key sets, the schema
    minimum (the per-relationship exact entry holds 42 collapsed
    branches); no cartesian."""
    plan = plan_of(spark, "dq_referential_orphans_onepass")
    assert plan.count("Scan parquet") == 12
    assert "CartesianProduct" not in plan


def test_mmr_bounded_greedy_tail(spark):
    """K133: candidate generation is the broadcast-anchor corpus pass;
    the greedy tail is solved on the driver over the CAND-bounded rel/sims
    collects (r14 — the sanctioned bounded-collect class), so the entry
    plan is the literal result: zero corpus scans, no pair plan at all."""
    plan = plan_of(spark, "llm_mmr_rerank")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0  # result is a literal local table
    assert "ExistingRDD" in plan


def test_mmr_candidates_take_ordered(spark):
    """K133 candidate stage (inspected un-pinned): the top-20 closes via
    TakeOrderedAndProject — per-partition heaps, bounded merge — and
    FORBIDS the single-partition rank window the row_number() spelling
    planned (VERDICT r9 item 1a: Catalyst does not rewrite a rank-filter
    into top-k)."""
    from ksql_spark.queries.pipeline_audit import _mmr_candidates

    df = _mmr_candidates(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan
    assert "Exchange SinglePartition" not in plan


def test_conformal_no_single_partition_rank(spark):
    """K134 (VERDICT r9 item 1c): the conformal order statistic rides the
    ranged-cumsum device over distinct residuals — every window in the
    plan is _pid-partitioned (the former data-proportional
    row_number() over an unpartitioned Window is FORBIDDEN), the pinned
    residual table keeps branches off the corpus, and nothing cartesians
    anything unbounded."""
    import re

    plan = plan_of(spark, "llm_conformal_calibration")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 0  # residuals pinned at build
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, spec


def test_markov_attribution_bounded_tail(spark):
    """D82: journey/hop extraction rides user-partitioned windows (one
    corpus pass); the transition matrix pins at <= 30 rows and all 48
    iteration stages run on it — the final plan reads checkpoints, and
    no window is unpartitioned."""
    import re

    plan = plan_of(spark, "events_attribution_markov")
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec or "from_s" in spec, spec


# ---------------------------------------------------------------------------
# Repo-wide gate (round 10): no data-proportional unpartitioned windows
# ---------------------------------------------------------------------------

#: Entries whose plans legitimately contain an unpartitioned
#: windowspecdefinition, with the bound that makes each safe. Anything NOT
#: on this list that grows an unpartitioned window fails the gate — the
#: VERDICT r9 posture (forbid the single-partition sort class, don't pin
#: it) enforced globally instead of per-entry.
_UNPARTITIONED_WINDOW_ALLOWLIST = {
    # fixed-grid / ladder tables (bounded by construction)
    "agg_histogram_quantile": "fixed histogram bin grid",
    "events_srm_fdr": "<= |event types| p-value rows (BH step-up)",
    "events_top_paths": "paths over a ~6-symbol type alphabet (<= |types|^3)",
    # calendar-bounded daily/monthly series
    "events_bass_diffusion": "daily adoption spine",
    "events_chain_ladder": "(cohort, age) development triangle",
    "events_granger_lite": "daily series",
    "events_newey_west_trend": "daily series (window upstream of a pin — "
    "found by the pre-pin sweep, ADVICE r10)",
    "events_slo_burn_rate": "daily series",
    "events_sprt_ab": "daily ledger",
    "orders_cointegration_screen": "daily series",
    "orders_monthly_growth": "monthly series",
    "orders_revenue_drawdown": "daily series",
    "orders_runs_test": "daily series",
    "orders_seasonal_naive_backtest": "monthly series",
    "orders_survival_km": "<= horizon-days distinct durations",
    "orders_nelson_aalen": "<= horizon-days distinct durations "
    "(the D27 risk table; hazard cumsum instead of the KM log-product)",
    "orders_logrank_segments": "<= horizon-days distinct durations "
    "(the D27 risk table, split by segment)",
    "orders_km_greenwood": "<= horizon-days distinct durations "
    "(the D27 risk table; Greenwood variance sum on the same window)",
    "orders_jonckheere_terpstra": "#partitions-row boundary-offset table "
    "(the ranged_cumsum stitch, inlined for k group counters)",
    "events_watermark_lateness_audit": "<= horizon-minutes lateness "
    "histogram (the per-event pass rides ranged_cummax_excl)",
    # k-row rank attachment AFTER a TakeOrderedAndProject top-k
    "graph_adamic_adar": "rank over the 20-row TakeOrdered result",
    "graph_adamic_adar_capped": "rank over the 20-row TakeOrdered result",
    "llm_collocations": "rank over the TakeOrdered top-k",
    # vocabulary-bounded type tables
    "llm_bpe_merges": "gram-type table (vocabulary-bounded)",
    "llm_tokenize_ids": "vocab rank (type table)",
    "llm_good_turing": "counts-of-counts ladder (O(sqrt(vocab)) rows)",
    # <= |sources| / |subsets| bounded
    "llm_bradley_terry_sources": "<= 256 * |sources| champion rows",
    "llm_source_interleave": "dense_rank over DISTINCT sources",
    # reference-parity surface by design (scale twin exists)
    "win_distribution": "A-surface parity; win_distribution_scaled is the "
    "scale form",
}

_WINDOW_SWEEP_SKIP = ("scan_k8s", "join_bucketed_colocated")

#: Entries whose builders compose a DataFrame on itself in a loop (graph
#: iteration, greedy selection, IRLS ladders, component resolution): with
#: pins stubbed to identity their logical plan grows exponentially in the
#: loop depth — merely CONSTRUCTING the unpinned plan OOMs the driver
#: (measured: llm_bradley_terry_sources at sf0.01; llm_mmr_rerank was the
#: other measured case until r14 moved its greedy tail to the driver and
#: it left this list).
#: These are excluded from the PRE-pin sweep only; their pinned plans still
#: pass the main gate, and their per-entry plan gates pin the iteration
#: shapes (test_estimation/test_pipeline_audit/graph suites).
_PREPIN_ITERATIVE_SKIP = (
    "graph_",
    "customer_migration_steady_state",
    "er_resolve_parts",
    "events_attribution_markov",
    "llm_bradley_terry_sources",
    "llm_dedup_cluster",  # connected-components loop (and _portable twin)
    "llm_pipeline_e2e_scaled",
)


@full_tier
def test_no_unpartitioned_windows_outside_allowlist(spark):
    """Global scale-killer gate: build EVERY registry entry's physical plan
    and fail if any entry outside the documented allowlist contains a
    windowspecdefinition with no partition columns (Spark's 'Moving all
    data to a single partition' class — the one plan shape that cannot
    survive a 100 TB input). New entries must either partition their
    windows, close top-k via orderBy().limit(), use the ranged-cumsum
    device, or argue a bound here. The same sweep forbids CartesianProduct
    ANYWHERE, no allowlist: every deliberate bounded cross in the repo
    broadcasts (BroadcastNestedLoopJoin), so a true cartesian is always a
    missing join predicate.

    Pin blind spot (ADVICE r10), closed here: a lineage pin
    (localCheckpoint) rewrites everything upstream to a LogicalRDD, so the
    executed-plan regex alone cannot see windows ABOVE a pin. Any entry
    whose plan contains an ExistingRDD is therefore REBUILT with pins
    stubbed to identity (ksql_spark.operators.scale.pins_disabled) and its
    full pre-pin plan swept with the same rule — except the documented
    _PREPIN_ITERATIVE_SKIP class, whose unpinned plans are exponential in
    loop depth and cannot be constructed (their iteration shapes carry
    per-entry gates instead). The allowlist itself is bound-PROOFED
    numerically by test_allowlisted_window_input_stays_under_stated_bound
    below."""
    import re

    from ksql_spark.operators.scale import pins_disabled
    from ksql_spark.registry import all_specs

    offenders, cartesians = {}, []
    for name, spec in sorted(all_specs().items()):
        if name.startswith(_WINDOW_SWEEP_SKIP):
            continue
        plan = spec.builder(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cartesians.append(name)
        unpart = [
            m.split(",")[0].strip()
            for m in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
            if re.match(r"^\S+#\d+L? (ASC|DESC)", m.split(",")[0].strip())
        ]
        if unpart and name not in _UNPARTITIONED_WINDOW_ALLOWLIST:
            offenders[name] = unpart[:2]
        if "ExistingRDD" in plan and not name.startswith(_PREPIN_ITERATIVE_SKIP):
            # pre-pin re-sweep: expose the plan upstream of every pin
            with pins_disabled():
                prepin = spec.builder(spark, SF_DIR)
                hidden = _unpartitioned_window_inputs(prepin)
            if hidden and name not in _UNPARTITIONED_WINDOW_ALLOWLIST:
                offenders[name] = [f"pre-pin window x{len(hidden)}"]
    assert not offenders, f"unpartitioned windows outside allowlist: {offenders}"
    assert not cartesians, f"CartesianProduct in: {cartesians}"


def test_window_allowlist_entries_exist(spark):
    """The allowlist must not rot: every name on it is a live registry key."""
    from ksql_spark.registry import all_specs

    specs = all_specs()
    stale = [n for n in _UNPARTITIONED_WINDOW_ALLOWLIST if n not in specs]
    assert not stale, stale


# ---------------------------------------------------------------------------
# Allowlist bound PROOF (round 11, VERDICT r10 item 1): each allowlisted
# unpartitioned window's bound is ASSERTED numerically, not argued in a
# comment. For every allowlist entry we locate the actual Window operators
# with an empty partitionSpec in the entry's optimized plan, COUNT the rows
# feeding each one, and check the count against the entry's stated bound
# computed from the same dataset's statistics (calendar days, |event types|,
# |sources|, vocabulary size, top-k constants). An edit that un-bounds a
# window's input — e.g. swapping a daily rollup for the raw event table —
# now fails CI instead of riding the allowlist. The sweep runs at the test
# fixture scale and, when present, at the sf0.1 fixture and the sf1 probe
# (tools/make_sfprobe.py), so a bound that only *looks* constant at small
# scale is caught growing.
# ---------------------------------------------------------------------------


def _unpartitioned_window_inputs(df):
    """JVM logical plans feeding each unpartitioned Window in df's optimized
    plan (deduplicated — one Window stage often computes several functions
    over the same child)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    out, seen, stack = [], set(), [plan]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            child = node.child()
            key = child.semanticHash()
            if key not in seen:
                seen.add(key)
                out.append(child)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def _count_jplan(spark, jplan) -> int:
    from pyspark.sql import DataFrame

    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return DataFrame(jdf, spark).count()


_BOUND_STATS_CACHE: dict = {}


def _bound_stats(spark, sf_dir: str) -> dict:
    """Corpus statistics the stated bounds are expressed in. One narrow agg
    per table, cached per directory for the whole test session."""
    if sf_dir in _BOUND_STATS_CACHE:
        return _BOUND_STATS_CACHE[sf_dir]
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    er = e.agg(
        F.countDistinct(F.to_date("ts")).alias("days"),
        F.countDistinct("event_type").alias("types"),
        (
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 60
        ).alias("horizon_min"),
    ).collect()[0]
    orr = o.agg(
        F.countDistinct(F.to_date("o_orderdate")).alias("days"),
        F.countDistinct(F.date_trunc("month", "o_orderdate")).alias("months"),
    ).collect()[0]
    words = d.select(F.explode(F.split("text", " ")).alias("w"))
    dr = d.agg(
        F.countDistinct("source").alias("sources"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
    ).collect()[0]
    vocab_rows = (
        words.where(F.col("w") != "")
        .groupBy("w")
        .agg(F.sum(F.length("w") - 1).alias("_"))
        .agg(
            F.count("*").alias("vocab"),
            F.sum(F.length("w") - 1).alias("sym_pairs"),
        )
        .collect()[0]
    )
    st = {
        "days_events": er["days"],
        "n_types": er["types"],
        "horizon_minutes": int(er["horizon_min"] or 0),
        "days_orders": orr["days"],
        "months_orders": orr["months"],
        "n_sources": dr["sources"],
        "total_tokens": int(dr["tokens"] or 0),
        "vocab": vocab_rows["vocab"],
        "sym_pairs": int(vocab_rows["sym_pairs"] or 0),
        "n_supplier": s.count(),
    }
    _BOUND_STATS_CACHE[sf_dir] = st
    return st


def _isqrt(n: int) -> int:
    import math

    return math.isqrt(max(n, 0))


#: name -> (stated bound, fn(stats) -> numeric bound). EVERY allowlist key
#: must appear here (enforced below): an allowlist addition without a bound
#: assertion fails CI. The bound is the allowlist comment made numeric.
_ALLOWLIST_BOUNDS = {
    "agg_histogram_quantile": ("64-bin fixed histogram grid", lambda st: 64),
    "events_srm_fdr": ("<= |event types| BH rows", lambda st: st["n_types"]),
    "events_top_paths": (
        "<= |types|^3 length-3 paths",
        lambda st: st["n_types"] ** 3,
    ),
    "events_bass_diffusion": (
        "<= |event days| + 1 daily adoption spine",
        lambda st: st["days_events"] + 1,
    ),
    "events_chain_ladder": (
        "<= |event days|^2 (cohort, age) triangle",
        lambda st: st["days_events"] ** 2,
    ),
    "events_granger_lite": (
        "<= |event days| daily series",
        lambda st: st["days_events"],
    ),
    "events_newey_west_trend": (
        "<= |event days| daily series (pre-pin row_number index)",
        lambda st: st["days_events"],
    ),
    "events_slo_burn_rate": (
        "<= |event days| daily series",
        lambda st: st["days_events"],
    ),
    "events_sprt_ab": (
        "<= 2|event days| daily arm ledger",
        lambda st: 2 * st["days_events"],
    ),
    "orders_cointegration_screen": (
        "<= |order days| daily series",
        lambda st: st["days_orders"],
    ),
    "orders_monthly_growth": (
        "<= |order months| monthly series",
        lambda st: st["months_orders"],
    ),
    "orders_revenue_drawdown": (
        "<= |order days| daily series",
        lambda st: st["days_orders"],
    ),
    "orders_runs_test": (
        "<= |order days| daily sign series",
        lambda st: st["days_orders"],
    ),
    "orders_seasonal_naive_backtest": (
        "<= |order months| monthly series",
        lambda st: st["months_orders"],
    ),
    "orders_survival_km": (
        "<= |order days| + 1 distinct durations",
        lambda st: st["days_orders"] + 1,
    ),
    "orders_nelson_aalen": (
        "<= |order days| + 1 distinct durations",
        lambda st: st["days_orders"] + 1,
    ),
    "orders_logrank_segments": (
        "<= |order days| + 1 distinct durations",
        lambda st: st["days_orders"] + 1,
    ),
    "orders_km_greenwood": (
        "<= |order days| + 1 distinct durations (Greenwood variance on "
        "the same D27 risk table)",
        lambda st: st["days_orders"] + 1,
    ),
    "orders_jonckheere_terpstra": (
        "#partitions-row boundary-offset table (max(4, cores/4) range "
        "partitions; 256 covers any local core count up to 1024)",
        lambda st: 256,
    ),
    "events_watermark_lateness_audit": (
        "<= horizon-minutes lateness histogram",
        lambda st: st["horizon_minutes"] + 2,
    ),
    "graph_adamic_adar": (
        "rank over the 20-row TakeOrdered result",
        lambda st: 20,
    ),
    "graph_adamic_adar_capped": (
        "rank over the 20-row TakeOrdered result",
        lambda st: 20,
    ),
    "llm_collocations": (
        "rank over the 20-row TakeOrdered top-k",
        lambda st: 20,
    ),
    "llm_bpe_merges": (
        "adjacent-symbol pair types <= sum over distinct words of |w|-1",
        lambda st: st["sym_pairs"] + 1,
    ),
    "llm_tokenize_ids": (
        "<= |word vocabulary| rank table",
        lambda st: st["vocab"] + 1,
    ),
    "llm_good_turing": (
        "counts-of-counts ladder <= sqrt(2 * corpus tokens)",
        lambda st: _isqrt(2 * st["total_tokens"]) + 2,
    ),
    "llm_bradley_terry_sources": (
        "<= 256 * |sources| champion rows",
        lambda st: 256 * st["n_sources"],
    ),
    "llm_source_interleave": (
        "dense_rank over <= |sources| rows",
        lambda st: st["n_sources"],
    ),
    "win_distribution": (
        "reference-parity surface: exactly |supplier| rows "
        "(scale twin: win_distribution_scaled)",
        lambda st: st["n_supplier"],
    ),
}


def test_allowlist_and_bounds_are_in_lockstep():
    """An allowlist addition without a numeric bound assertion fails here."""
    missing = set(_UNPARTITIONED_WINDOW_ALLOWLIST) - set(_ALLOWLIST_BOUNDS)
    extra = set(_ALLOWLIST_BOUNDS) - set(_UNPARTITIONED_WINDOW_ALLOWLIST)
    assert not missing, f"allowlist entries without a bound: {sorted(missing)}"
    assert not extra, f"bounds for non-allowlisted entries: {sorted(extra)}"


def _bound_probe_dirs():
    import os

    dirs = [SF_DIR]
    for d in ("/root/testdata/sf0.1", "/root/repo/tmp_sfprobe"):
        if d not in dirs and os.path.isdir(d):
            dirs.append(d)
    return dirs


@pytest.mark.parametrize("name", sorted(_ALLOWLIST_BOUNDS))
@full_tier
def test_allowlisted_window_input_stays_under_stated_bound(spark, name):
    """The bound PROOF: count the rows actually feeding every unpartitioned
    window of each allowlisted entry and assert count <= the stated bound,
    at every probe scale available. Also asserts the allowlist entry still
    HAS an unpartitioned window at fixture scale — otherwise it should be
    removed (allowlist rot in the other direction)."""
    from ksql_spark.operators.scale import pins_disabled

    desc, bound_fn = _ALLOWLIST_BOUNDS[name]
    found_any = False
    for sf_dir in _bound_probe_dirs():
        df = SPECS[name].builder(spark, sf_dir)
        inputs = _unpartitioned_window_inputs(df)
        if not inputs:
            # The window may sit UPSTREAM of a lineage pin (localCheckpoint
            # rewrites the subtree to a LogicalRDD — the ADVICE r10 blind
            # spot). Rebuild with pins stubbed to identity so the pre-pin
            # plan is inspectable. Safe here: allowlisted entries whose
            # PINNED plan already shows the window (e.g. the iterative
            # Bradley-Terry ladder) never reach this branch, so no
            # unpinned iterative plan is ever constructed.
            with pins_disabled():
                df = SPECS[name].builder(spark, sf_dir)
                inputs = _unpartitioned_window_inputs(df)
        if not inputs:
            continue
        found_any = True
        bound = bound_fn(_bound_stats(spark, sf_dir))
        for jplan in inputs:
            rows = _count_jplan(spark, jplan)
            assert rows <= bound, (
                f"{name} @ {sf_dir}: unpartitioned window fed {rows} rows, "
                f"stated bound '{desc}' = {bound}"
            )
    assert found_any, (
        f"{name}: no unpartitioned window found at any probe scale — "
        "remove it from _UNPARTITIONED_WINDOW_ALLOWLIST"
    )


# ---------------------------------------------------------------------------
# BUILD-TIME ACTION RULE (VERDICT r10 item 6 — the stated, tested exception)
#
# House discipline is zero-build-job builders: plan construction must not run
# Spark jobs, so that registering/introspecting an entry (dtype sweeps, plan
# gates, driver enumeration) stays metadata-cheap and no entry smuggles a
# data-proportional action into build time. Build-time actions are PERMITTED
# only when their work is input-scale-BOUNDED, in one of four classes:
#
#   (a) partition-count-bounded stitches — ranged_cumsum/ranged_cummax
#       collect one row per partition to chain prefix totals;
#   (b) bounded-reservoir MLlib fits — KMeans.fit() is an action by API
#       contract; the fit input must ride _reservoir_sample(cap <= 4096),
#       making the eager work O(cap·K) regardless of corpus size;
#   (c) metadata-only counts — a .count() whose plan is a parquet
#       footer/statistics read or an already-bounded table;
#   (d) loop-over-plans materializations — iterative entries (graph ladders,
#       MM/greedy loops) localCheckpoint a BOUNDED iteration table per step
#       (vertex table, champion table, K-row state), never the corpus;
#   (e) iterative-family corpus-derived working sets (VERDICT r11) — an
#       iterative entry MAY materialize its corpus-derived edge/adjacency
#       list (and per-round descendants that shrink from it) ONCE, because
#       the alternative is re-running the |corpus| self-join per iteration
#       (the measured-minutes PageRank regression). As of r12 every such
#       pin is LAZY (pin_invariant / eager=False) so no builder runs a
#       MATERIALIZATION job by choice — but under AQE any checkpoint
#       downstream of an exchange executes the upstream stages at plan
#       time anyway (AQE materializes query stages to re-plan), so these
#       entries still surface as build-time-job entries. What the rule
#       guarantees is ONCE, not "after build": the working set is computed
#       a single time and every iteration reuses the checkpointed RDD.
#
# Anything else — an eager action over unbounded input — is a scale bug.
# The two SemDeDup production entries are the class-(b) canonical instances;
# the test below pins that their fits actually ride the bounded reservoir,
# so swapping in an unbounded fit input fails CI.
# ---------------------------------------------------------------------------

_BOUNDED_FIT_ENTRIES = ("llm_semantic_dedup_scaled", "llm_semantic_dedup_hier")


@pytest.mark.parametrize("name", _BOUNDED_FIT_ENTRIES)
def test_bounded_fit_entries_ride_the_reservoir(spark, monkeypatch, name):
    """Class-(b) proof: every build-time MLlib fit input goes through
    _reservoir_sample with cap <= 4096, so the eager work is corpus-size
    independent (the documented bounded-action exception, not a leak)."""
    import ksql_spark.queries.llm as llm_mod

    calls: list[int] = []
    real = llm_mod._reservoir_sample

    def spy(e, cap):
        calls.append(cap)
        return real(e, cap)

    monkeypatch.setattr(llm_mod, "_reservoir_sample", spy)
    # the codebook cache legitimately skips the fit (and the reservoir) on
    # a warm key — earlier suite tests warm it for SF_DIR, which made this
    # spy order-dependent; clear it so the fit path is actually exercised
    monkeypatch.setattr(llm_mod, "_CENTROID_CACHE", {})
    SPECS[name].builder(spark, SF_DIR)
    assert calls, f"{name}: build-time fit no longer rides _reservoir_sample"
    assert all(c <= 4096 for c in calls), (
        f"{name}: reservoir cap(s) {calls} exceed the 4096 bounded-action cap"
    )


# The CLOSED enumeration of entries permitted to run Spark jobs at plan-build
# time, each under one of the stated classes (a)-(e) above (w = table/file
# writers, whose job IS the write; the write-audit contract). Grown ONLY by a
# deliberate edit here: a new entry that runs any build-time job fails the
# sweep below until it is classified and added.
_BUILD_TIME_JOB_ENTRIES = frozenset({
    # (a) ranged_* partition-count-bounded stitches
    "abc_analysis_parts", "customer_migration_steady_state",
    "customer_value_migration", "events_growth_accounting",
    "events_mann_kendall", "events_stl_daily_decompose",
    "llm_pack_efficiency", "llm_pack_sequences", "llm_token_budget",
    "orders_concurrency_curve", "orders_gini_revenue", "orders_id_gap_audit",
    "orders_kruskal_wallis",
    "orders_mann_whitney", "orders_priority_mix_jsd", "part_abc_xyz_matrix",
    "part_skyline_2d", "supplier_herfindahl", "supplier_scorecard",
    "win_distribution_scaled", "er_resolve_parts",
    "events_audience_overlap",
    # (b) bounded-reservoir MLlib/codebook fits (ann_*/SemDeDup/e2e families;
    #     the whole fit family is listed — which member pays the cold fit
    #     depends on sweep order, and the r13 rotation proved order moves)
    "ann_lsh_recall", "ann_lsh_topk", "ann_pq_recall",
    "ann_ivf_topk", "ann_ivf_recall", "ann_pq_topk",
    "llm_semantic_dedup_scaled", "llm_semantic_dedup_hier",
    "llm_semantic_decontaminate_ivf", "llm_pipeline_e2e_auto",
    "llm_pipeline_e2e_hier", "llm_pipeline_e2e_scaled",
    "llm_cluster_davies_bouldin", "llm_mmr_rerank", "llm_emb_pca_power",
    # (d) loop-over-plans with bounded per-step state (pins downstream of an
    #     exchange surface as AQE stage-materialization jobs)
    "events_attribution_markov", "events_bass_diffusion",
    "events_blb_mean_ci", "events_chain_ladder", "events_dau_mau_hll",
    "events_eb_shrinkage",
    "events_newey_west_trend", "events_periodogram",
    "events_watermark_lateness_audit", "llm_bigram_kneser_ney",
    "llm_bpe_merges", "llm_bradley_terry_sources",
    "llm_cluster_label_nmi", "llm_conformal_calibration",
    "llm_dedup_threshold_sweep", "llm_good_turing",
    "llm_isotonic_calibration", "llm_kn_perplexity",
    "llm_perplexity_holdout", "llm_quality_ks_sources",
    "llm_quality_roc_auc", "llm_source_shingle_overlap",
    "llm_tfidf_cosine_pairs", "llm_vocab_coverage_cutoff",
    "llm_vocab_growth", "orders_cointegration_screen",
    "orders_erlang_staffing", "orders_littles_law_audit",
    "orders_panel_within_ols", "part_safety_stock",
    # (d) r13 wave lazy pins (daily / interval / per-customer /
    #     value-collapse tables)
    "orders_kendall_tau_daily", "orders_allen_cunneen_wait",
    "customer_theil_decomposition", "orders_jonckheere_terpstra",
    # (d) r14: the 256-row TakeOrdered sample pin (with per-row prefix
    #     arrays/norms projected above the limit, AQE materializes the
    #     sample stage when the lazy pin resolves its RDD at build time)
    "llm_emb_matryoshka_eval",
    # (d) 1-row scalar-subquery pins (bounded broadcast aggregates whose
    #     upstream exchange AQE materializes at plan time)
    "tpch_q2_official_shape", "tpch_q11_important_stock",
    "tpch_q15_top_supplier", "tpch_q20_dominant_suppliers",
    # (e) iterative-family corpus-derived working sets (lazy pins; AQE
    #     materializes their upstream exchanges at plan time)
    "graph_adamic_adar", "graph_adamic_adar_capped", "graph_assortativity",
    "graph_bfs", "graph_clustering_coefficient",
    "graph_clustering_coefficient_capped", "graph_components",
    "graph_diameter_doublesweep", "graph_hits", "graph_katz_centrality",
    "graph_kcore", "graph_label_propagation", "graph_landmark_distances",
    "graph_modularity", "graph_pagerank", "graph_ppr", "graph_rich_club",
    "graph_sssp_weighted", "graph_two_hop_reach", "graph_two_hop_reach_hll",
    "graph_closeness_landmarks", "graph_ktruss",
    "llm_dedup_cluster", "llm_dedup_cluster_portable",
    # (e) r13 LSH banded/candidate/doc lazy pins (24-byte banded working
    #     set; AQE materializes the upstream band exchanges at plan time)
    "llm_dedup_near",
    # (e) r14 BM25 posting-list lazy pins (bounded (doc, query-term) rows;
    #     the pin stops the corpus explode running twice for dfreq+contrib)
    "llm_bm25_topk", "llm_rrf_hybrid", "llm_retriever_agreement",
    # (e) r14 substring-dedup gram-digest/cut-position lazy pins (digest
    #     and position rows only, never text; the whole family is listed —
    #     which member pays the jobs depends on sweep order)
    "llm_substring_dedup_apply", "llm_substring_dup_spans",
    # (e) r14 MinHash-estimate signature lazy pin ((doc_id, source, 8 hex
    #     strings), never text/grams; both blocked-join sides read it)
    "llm_minhash_estimate",
    # (w) writers — the build-time job IS the audited write
    "join_bucketed_colocated", "llm_shard_write_audit",
    "sort_zorder_write_audit",
})


@full_tier
def test_build_time_job_entries_are_enumerated(spark):
    """VERDICT r11 item 3: the build-time action rule and practice must
    agree — sweep EVERY registry builder counting Spark jobs triggered at
    plan-build time, and fail on any entry outside the classified
    enumeration above. (Subset assertion: warm caches legitimately skip
    fits, so an enumerated entry may run zero jobs in a warm suite; a
    NON-enumerated entry running any job is always a failure.)"""
    from ksql_spark.tables import load

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        load(spark, SF_DIR, t)  # warm reader-level footer jobs
    sc = spark.sparkContext
    offenders = {}
    for name, spec in SPECS.items():
        before = len(sc.statusTracker().getJobIdsForGroup(None))
        spec.builder(spark, SF_DIR)
        after = len(sc.statusTracker().getJobIdsForGroup(None))
        if after > before and name not in _BUILD_TIME_JOB_ENTRIES:
            offenders[name] = after - before
    assert not offenders, (
        f"unenumerated build-time-job entries (classify under (a)-(e)/(w) "
        f"in _BUILD_TIME_JOB_ENTRIES or fix the builder): {offenders}"
    )


def test_sssp_round_broadcasts_state_no_edge_exchange(spark):
    """r14: graph_sssp_weighted's relax round must broadcast the O(|V|)-row
    distance state onto the pinned adjacency (BroadcastHashJoin) instead of
    sort-merge-joining — the SMJ spelling re-exchanged AND re-sorted the
    full |E|-row edge list every round. Reconstructs a representative
    mid-loop round (adj pinned, d = a pinned prior-round state) exactly as
    the entry's loop builds it."""
    from pyspark.sql import functions as F

    from ksql_spark.operators.scale import pin
    from ksql_spark.queries.graph import _START, coship_adj
    from ksql_spark.tables import load

    li = load(spark, SF_DIR, "lineitem")
    adj = coship_adj(li, checkpoint=True).withColumn(
        "w", 1 + (F.col("s1") * 7 + F.col("s2") * 13) % 5
    )
    d = pin(
        spark.createDataFrame([(_START, 0)], "s long, dist long"), eager=False
    )
    relaxed = F.broadcast(d).join(adj, d.s == adj.s1).select(
        F.col("s2").alias("s"), (F.col("dist") + F.col("w")).alias("dist")
    )
    rnd = (
        d.withColumn("_own", F.lit(True))
        .unionByName(relaxed.withColumn("_own", F.lit(False)))
        .groupBy("s")
        .agg(
            F.min("dist").alias("dist"),
            F.min(F.when(F.col("_own"), F.col("dist"))).alias("_prev"),
        )
    )
    plan = rnd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_tokenizes_each_doc_once(spark):
    """r14: the BM25 token stream must split each document ONCE — a sibling
    size(words(text)) column beside explode(words(text)) lands in the
    Project above the Generate and re-splits the doc per emitted token
    (O(len^2) splits). Gate: at most one split(text...) expression in the
    final plan. Bounds: llm_bm25_topk has exactly the 1-row totals
    aggregate; the query-doc family adds one more legitimate site (the
    doc_id < 3 query-term extraction). The pre-fix plans carried 4 resp. 7
    split sites (the re-split-per-token Project plus the un-pinned posting
    duplicate)."""
    for name, bound in (
        ("llm_bm25_topk", 1),
        ("llm_rrf_hybrid", 2),
        ("llm_retriever_agreement", 2),
    ):
        plan = plan_of(spark, name)
        n_split = plan.count("split(text")
        assert n_split <= bound, f"{name}: {n_split} split(text...) sites"
