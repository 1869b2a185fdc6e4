"""Physical-plan quality gates (SURVEY.md §4, task brief: ".explain the
plan and iterate until it's the plan you'd want"):

- filters and column projection reach the parquet scan (PushedFilters /
  ReadSchema);
- the dimension joins are BroadcastHashJoin, the big-big join is
  SortMergeJoin, the hint produces ShuffledHashJoin;
- IcebergLite manifest pruning keeps non-matching partition files out of
  the scan entirely;
- non-UDF operators run inside WholeStageCodegen;
- the salted-agg plan contains two aggregation levels (partial per salt).
"""

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.plans import queries as Q
from joint_entity_and_relation_extraction_spark.sources.io import read_table

from conftest import SF001


def plan_str(df, execute: bool = False) -> str:
    if execute:  # AQE: codegen spans only appear in the finalized plan;
        # must execute THIS df's own QueryExecution (count() builds a new one)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    df = Q.RELATIONAL_QUERIES["filter_pushdown"](spark, SF001)
    p = plan_str(df)
    assert "PushedFilters:" in p
    assert "IsNotNull(l_shipdate)" in p or "GreaterThan(l_quantity" in p
    # projection pruning: the scan schema must not include unused columns
    assert "l_extendedprice" not in p.split("ReadSchema")[-1]


def test_scan_project_prunes_columns(spark):
    df = Q.RELATIONAL_QUERIES["scan_project"](spark, SF001)
    read_schema = plan_str(df).split("ReadSchema:")[-1]
    assert "l_orderkey" in read_schema
    assert "l_shipdate" not in read_schema and "l_returnflag" not in read_schema


def test_join_strategies_materialize_as_planned(spark):
    p = plan_str(Q.RELATIONAL_QUERIES["join_broadcast"](spark, SF001))
    assert "BroadcastHashJoin" in p
    p = plan_str(Q.RELATIONAL_QUERIES["join_sortmerge"](spark, SF001))
    assert "SortMergeJoin" in p
    p = plan_str(Q.RELATIONAL_QUERIES["join_shuffledhash"](spark, SF001))
    assert "ShuffledHashJoin" in p
    p = plan_str(Q.RELATIONAL_QUERIES["join_theta"](spark, SF001))
    assert "BroadcastNestedLoopJoin" in p


def test_semi_anti_joins(spark):
    p = plan_str(Q.RELATIONAL_QUERIES["join_semi"](spark, SF001))
    assert "LeftSemi" in p
    p = plan_str(Q.RELATIONAL_QUERIES["join_anti"](spark, SF001))
    assert "LeftAnti" in p


def test_whole_stage_codegen_on_agg(spark):
    p = plan_str(Q.RELATIONAL_QUERIES["agg_group_multi"](spark, SF001),
                 execute=True)
    assert "isFinalPlan=true" in p
    assert "*(" in p  # whole-stage-codegen stage markers
    # partial + final aggregation (map-side combine before the shuffle)
    assert "partial_sum" in p and p.count("HashAggregate") >= 2


def test_iceberglite_partition_pruning_excludes_files(spark, tmp_path):
    from joint_entity_and_relation_extraction_spark.sources import iceberglite as il

    root = str(tmp_path / "t")
    df = read_table(spark, SF001, "customer").withColumn(
        "seg", F.col("c_mktsegment"))
    il.append(df, root, ["seg"])
    pruned = il.read(spark, root, where={"seg": "BUILDING"})
    files = pruned.inputFiles()
    assert files and all("seg=BUILDING" in f for f in files)


def test_range_bucketed_join_is_equi_not_nested_loop(spark):
    """The bucketized interval join must plan as a HASH equi-join on the
    bucket id (with the exact range as a post-condition), never a
    nested-loop/cartesian product — that is its whole reason to exist
    next to q_join_theta (which IS the nested-loop category demo)."""
    p = plan_str(Q.RELATIONAL_QUERIES["join_range_bucketed"](spark, SF001))
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_winnow_pairs_plan_is_single_shuffle_in_group_pairs(spark):
    """r08 winnowing pair generation: ONE shuffle of the fingerprint
    stream (groupBy fp_hash collecting the df-capped sorted doc list),
    pairs generated INSIDE each group by a codegen'd nested transform —
    no join at all (the r07 self-join re-shuffled the stream twice
    more). Pin: no join of any kind, map-side partial aggregation on
    BOTH shuffles (partial_collect_list for the grouping,
    partial_count for the pair count), and the in-group pair expansion
    present — the shape that keeps it O(n·max_df) at corpus scale."""
    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    p = plan_str(DD.winnow_pairs(spark, SF001))
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "Join" not in p  # pair generation is in-group, not a self-join
    assert "partial_count" in p  # map-side combine before the pair shuffle
    assert "flatten(transform" in p  # in-group C(n,2) expansion
    # hot-key memory safety (_capped_groups): the df-cap must truncate
    # via WindowGroupLimit — with a PARTIAL pass below the exchange (a
    # hot key then ships <= max_df + 1 rows per map task) — so no
    # aggregation buffer ever materializes a hot group
    assert "WindowGroupLimit" in p
    import re
    assert re.search(r"WindowGroupLimit .*row_number\(\), \d+, Partial", p)


def test_ngram_pairs_capped_groups_are_memory_bounded(spark):
    """Same _capped_groups witness for the ngram shingle path (the base
    of graph_degrees/pagerank/triangles and the dedup consumers):
    WindowGroupLimit truncation present, no string self-join. The
    grouped table is localCheckpointed (feeds pairs AND sizes), so the
    gate builds the frame with checkpointing bypassed to see the full
    operator graph."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    real_ckpt = CDF.localCheckpoint
    CDF.localCheckpoint = lambda self, eager=True: self
    try:
        p = plan_str(DD.ngram_jaccard_pairs(spark, SF001))
    finally:
        CDF.localCheckpoint = real_ckpt
    assert "WindowGroupLimit" in p
    assert "partial_count" in p


def test_curation_windows_share_one_exchange(spark):
    """curation_select computes rank AND per-source count over the same
    partitioning; pack_sequences runs one prefix-sum per lang shard.
    Each must shuffle its corpus exactly ONCE on the shard key — a
    second exchange would double the corpus movement at 100 TB."""
    from joint_entity_and_relation_extraction_spark.operators import curation as CU

    p = plan_str(CU.curation_select(spark, SF001))
    assert p.count("Exchange hashpartitioning(source") == 1, p[:2000]
    p = plan_str(CU.pack_sequences(spark, SF001))
    assert p.count("Exchange hashpartitioning(lang") == 1, p[:2000]


def test_salted_agg_has_two_phases(spark):
    from joint_entity_and_relation_extraction_spark.operators import skew as SK

    wp = read_table(spark, SF001, "orders").select(
        F.col("o_orderstatus").alias("k"), F.col("o_totalprice").alias("v"))
    plan = plan_str(SK.salted_agg(wp, ["k"], [("v", "sum", "s")]))
    # per-(key,salt) partial agg and per-key final agg both appear
    assert plan.count("HashAggregate") >= 3  # partials + finals


def test_broadcast_in_linking_plan(spark):
    from joint_entity_and_relation_extraction_spark.operators import extract as X
    from joint_entity_and_relation_extraction_spark.operators import linking as L
    from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages

    ext = X.lang_filter(X.extract_text(web_pages(spark, SF001)))
    m = X.mentions(X.infer(X.split_sentences(ext)))
    p = plan_str(L.link_mentions(m, L.alias_dict(spark, SF001)))
    assert "BroadcastHashJoin" in p  # resolution joins back via broadcast


def test_model_stage_is_not_serialized_by_aqe(spark):
    """Regression gates for the round-2 scaling bugs:

    (a) the distinct-inference repartition must survive as a
        REPARTITION_BY_NUM exchange — repartitioning on the dropDuplicates
        key collapsed into the aggregate's ENSURE_REQUIREMENTS exchange,
        which AQE then coalesced by bytes to ONE task for the CPU-heavy
        model stage;
    (b) after execution, the model stage must actually have run with >1
        partition.
    """
    from joint_entity_and_relation_extraction_spark.operators import extract as X
    from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages

    from joint_entity_and_relation_extraction_spark.operators.extract import (
        INFERRED_DISTINCT_SCHEMA, _infer_distinct_batches)

    wp = web_pages(spark, SF001)
    sents = X.split_sentences(X.lang_filter(X.extract_text(wp)))
    # (a) on the pre-checkpoint plan (infer_distinct returns the
    # checkpointed frame whose plan is an opaque ExistingRDD scan)
    pre = (sents.select("tokens").dropDuplicates(["tokens"])
           .repartition(8, F.xxhash64("tokens"))
           .mapInPandas(_infer_distinct_batches, schema=INFERRED_DISTINCT_SCHEMA))
    assert "REPARTITION_BY_NUM" in plan_str(pre), plan_str(pre)[:2000]
    # (b) behavioral: the materialized model stage is actually parallel
    infd = X.infer_distinct(sents, num_partitions=8)
    assert infd.count() > 0
    assert infd.rdd.getNumPartitions() > 1


def test_replication_expands_after_scan_repartition(spark):
    """The xK bench replication must expand INSIDE partitions (narrow
    broadcast join above the repartition exchange), not funnel the whole
    replicated corpus through the single scan task's shuffle write."""
    from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages

    wp = web_pages(spark, SF001, replicate=4)
    p = plan_str(wp)
    # the only Exchange must sit BELOW the replication join in the plan
    # tree: BroadcastNestedLoopJoin appears before (above) the Exchange
    # in toString order
    i_join = p.index("BroadcastNestedLoopJoin")
    i_exch = p.index("Exchange hashpartitioning(doc_id")
    assert i_join < i_exch, p[:2000]
    assert "REPARTITION_BY_NUM" in p


def test_linking_localcheckpoint_truncates_lineage(spark):
    """resolve_surfaces must consume a checkpointed surfaces table: the
    resolution plan may not re-run the mention-stream lineage per branch
    (round-2: 15x recompute). After materialization the plan string must
    not contain the upstream python stages."""
    from joint_entity_and_relation_extraction_spark.operators import extract as X
    from joint_entity_and_relation_extraction_spark.operators import linking as L
    from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages

    wp = web_pages(spark, SF001)
    sents = X.split_sentences(X.lang_filter(X.extract_text(wp)))
    infd = X.infer_distinct(sents, num_partitions=8)
    surfaces = (X.mention_surfaces(infd)
                .select(L.normalize_col(F.col("surface")).alias("alias_norm"))
                .distinct())
    res = L.resolve_surfaces(surfaces, L.alias_dict(spark, SF001))
    res.count()
    p = plan_str(res)
    # the extractor/model python stages must NOT appear in the resolution
    # plan — the checkpoint cut the lineage there
    assert "html_to_text" not in p and "_infer_distinct_batches" not in p, p[:2000]


def test_incremental_dedup_verify_is_candidate_scoped(spark):
    """VERDICT r04 item 4 plan gate: the incremental dedup verify stage
    must reach the corpus through a LEFT-SEMI join on the (tiny)
    candidate id set — shingling the whole corpus per batch was 2 extra
    corpus-wide shuffles. The semi-join must sit BELOW the shingle
    projection, i.e. the verify joins consume the semi-reduced side.

    r08: the candidate shingles are localCheckpointed (they feed both
    verify sides), which truncates optimizedPlan() at a LogicalRDD and
    hides the semi-join from this gate — so the gate builds the frame
    with checkpointing bypassed to assert the actual operator graph
    (the checkpoint only materializes that graph, it cannot change it).
    The minhash_lsh_pairs and edit_verify_pairs verifies go through the
    same dedup._verify_candidates helper, so they are asserted here too
    (ngram candidate generation has no semi-join of its own)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    real_ckpt = CDF.localCheckpoint
    CDF.localCheckpoint = lambda self, eager=True: self
    try:
        plans = {
            f.__name__: f(spark, SF001, n=2, threshold=0.2)
            ._jdf.queryExecution().optimizedPlan().toString()
            for f in (DD.minhash_incremental_pairs, DD.minhash_lsh_pairs,
                      DD.edit_verify_pairs)}
    finally:
        CDF.localCheckpoint = real_ckpt
    for name, p in plans.items():
        assert "LeftSemi" in p, name


def test_lsh_graph_degrees_plan_is_banded_equi_join(spark):
    """The 100 TB graph edge base must keep the LSH shape: the candidate
    stage is an EQUI join on the banded keys (no CartesianProduct /
    BroadcastNestedLoop anywhere), and the pair subtree is checkpointed
    so the signature UDF is not re-executed per symmetrized direction."""
    from joint_entity_and_relation_extraction_spark.operators import graph as G

    df = G.graph_degrees_lsh(spark, "/root/testdata/sf0.001")
    p = plan_str(df, execute=True)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # degrees read the checkpointed pair RDD, not the full lsh lineage:
    # the minhash signature stage must not appear in THIS plan
    assert "Scan ExistingRDD" in p
    assert p.count("ArrowEvalPython") == 0


def test_substring_dedup_plan_is_partial_agg_semi_join(spark):
    """Substring-span dedup (r06) must plan as: map-side partial
    count-distinct on the uniform md5 gram key (the combinable corpus-DF
    aggregate), then a left-SEMI join back — never a nested loop or
    cartesian. The semi-join strategy is deliberately left to cost-based
    selection (no broadcast hint in the operator): at fixture scale the
    dup-key set is tiny and Catalyst broadcasts it; past
    autoBroadcastJoinThreshold on a crawl corpus the same plan degrades
    to a shuffle semi-join on the uniform md5 key. This is the shape
    that makes fixed-n-gram substring dedup the scalable stand-in for a
    suffix array at 100 TB."""
    import inspect

    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    p = plan_str(DD.substring_dup_spans(spark, SF001))
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "LeftSemi" in p
    # countDistinct plans as two-phase partial_count over (g, doc_id)
    assert "partial_count" in p
    # and the broadcast really is Catalyst's choice, not hard-coded
    src = inspect.getsource(DD.substring_dup_spans) + \
        inspect.getsource(DD._gram_positions)
    assert "F.broadcast(" not in src and ".hint(" not in src


def test_pagerank_iteration_reads_checkpointed_working_set(spark):
    """VERDICT r06 #3 plan gate: the `edges ⋈ deg` working set must be
    MATERIALIZED before the power iterations (eager localCheckpoint), so
    each iteration's executed plan reads opaque ExistingRDD blocks — the
    r06 persist/unpersist pair unpersisted before any action, the cache
    never existed, and every iteration silently re-ran the degree join.
    The iteration plan must show the checkpoint scan and must NOT contain
    the degree-join aggregation (partial_count over src) it replaced."""
    from pyspark.sql import functions as F

    from joint_entity_and_relation_extraction_spark.operators import graph as G

    pairs = spark.createDataFrame(
        [("a", "b", 0.5), ("b", "c", 0.4), ("c", "a", 0.3)],
        "d1 string, d2 string, jaccard double")
    out = G.pagerank_edges(G._sym_edges(pairs), iters=3)
    p = plan_str(out, execute=True)
    assert "Scan ExistingRDD" in p
    # the degree join is BELOW the checkpoint, so its count aggregation
    # must be absent from the executed iteration plan entirely — the
    # only aggregations left are the per-iteration groupBy("id") sums
    assert "partial_count" not in p
    rows = {r.id: r.pagerank for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    # ranks are rounded to 6 decimals, so the simplex sum carries up to
    # n_nodes * 5e-7 of rounding slack
    assert abs(sum(rows.values()) - 1.0) < 1e-5


def test_edit_verify_plan_is_bounded_equi_join(spark):
    """r07 edit-distance verify: candidates from the df-capped shingle
    equi-join, verification via the JVM levenshtein built-in — no
    cartesian/nested-loop anywhere and zero Python stages."""
    from joint_entity_and_relation_extraction_spark.operators import dedup as DD

    p = plan_str(DD.edit_verify_pairs(spark, SF001))
    assert "Cartesian" not in p and "NestedLoop" not in p
    assert "levenshtein" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_domain_cap_single_exchange_window(spark):
    """r07 per-domain cap: the top-k-per-group must plan as ONE hash
    exchange on the domain key feeding the rank window — URL parsing is
    map-side, no joins, no extra shuffle."""
    from joint_entity_and_relation_extraction_spark.operators import curation as CU

    p = plan_str(CU.domain_cap(spark, SF001))
    assert p.count("Exchange") == 1, p[:1500]
    assert "Window" in p


def test_bigram_logprob_stays_jvm_side(spark):
    """r07 bigram LM: bigrams are built in-row (zip_with/slice), the LM
    joins are equi-joins — no Python stages, no cartesian (the corpus
    total's single-row broadcast cross join is the one sanctioned
    BroadcastNestedLoopJoin, same as unigram_logprob)."""
    from joint_entity_and_relation_extraction_spark.operators import textstats as TS

    p = plan_str(TS.bigram_logprob(spark, SF001))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "zip_with" in p
    assert "CartesianProduct" not in p


def test_tpch_q3_pushdown_broadcast_topk(spark):
    """Composite-plan gate for the TPC-H-style witnesses: Q3's date/
    segment filters must reach the parquet scans (below the joins), the
    customer dim must broadcast, and the top-10 must plan as
    TakeOrderedAndProject (no global sort)."""
    p = plan_str(Q.q_tpch_q3(spark, SF001))
    assert "PushedFilters:" in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Cartesian" not in p


def test_tpch_q5_dim_chain_broadcasts(spark):
    """Q5's 6-table join: the whole region/nation/customer/supplier dim
    chain broadcasts (4 broadcast joins) — only orders ⋈ lineitem may
    shuffle. No nested loop anywhere."""
    p = plan_str(Q.q_tpch_q5(spark, SF001))
    assert p.count("BroadcastHashJoin") >= 3, p[:2000]
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_funnel_single_user_shuffle_chain(spark):
    """The funnel is chained per-user conditional aggregation — every
    exchange must be on user_id (plus the final single-partition step);
    no window sorts, no joins on anything but user_id."""
    p = plan_str(Q.q_funnel_steps(spark, SF001))
    assert "Cartesian" not in p and "NestedLoop" not in p
    import re
    ex_keys = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert ex_keys and all(k == "user_id" for k in ex_keys), ex_keys


def test_graph_triangles_is_equi_join_plan(spark):
    """Triangle enumeration must be the oriented-edge wedge plan: hash/
    merge equi-joins over the checkpointed pair table (one ExistingRDD
    source), never all-pairs. r08: the triangle table itself is
    localCheckpointed (three per-corner consumers), which would hide
    the wedge joins from explain — so the join-shape half of the gate
    builds the frame with checkpointing bypassed (the checkpoint only
    materializes the graph, it cannot change it)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from joint_entity_and_relation_extraction_spark.operators import graph as G

    p = plan_str(G.graph_triangles(spark, SF001))
    assert "Scan ExistingRDD" in p
    real_ckpt = CDF.localCheckpoint
    CDF.localCheckpoint = lambda self, eager=True: self
    try:
        p_full = plan_str(G.graph_triangles(spark, SF001))
    finally:
        CDF.localCheckpoint = real_ckpt
    assert "Cartesian" not in p_full and "NestedLoop" not in p_full
    assert "Join" in p_full  # the wedge + confirm equi-joins


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime skew handling, the AQE complement of operators/skew.py's
    manual salting (SURVEY.md §4: 'salting for skew, AQE for runtime
    re-plan'): a sort-merge join with one dominant key must show AQE
    splitting the hot partition in the EXECUTED plan (AQEShuffleRead
    skewed / skew=true) — proof the engine's config actually engages the
    runtime re-plan rather than merely enabling the flag. Thresholds are
    lowered to make fixture-scale skew cross the trigger; every touched
    conf is restored (shared session)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("padpadpadpadpadpadpadpad-"),
                     F.col("id").cast("string")).alias("v"))
        right = spark.range(2_000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("w"))
        j = left.join(right, "k")
        n = j.count()
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead skewed" in p or "skew=true" in p, p[:2000]
        # correctness unchanged by the split: 90% of left hits key 0,
        # which exists once on the right; the rest miss (right has only
        # keys < 2000, left's non-zero keys start at 1 with id%10==9)
        expected = 360_000 + sum(1 for i in range(1, 2_000) if i % 10 == 9)
        assert n == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
