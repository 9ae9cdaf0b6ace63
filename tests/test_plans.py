"""Physical-plan regression tests (SURVEY.md §4).

Correctness is gated by the DuckDB oracle; these tests gate the SCALE
properties — the plan shapes that decide whether the same code survives a
100× data blow-up. A refactor that silently turns a broadcast join into a
cartesian product, or un-pushes a scan filter, fails here long before a
benchmark would catch it.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from streaming_data_pipeline_with_iceberg_and_spark_spark.plans import (
    explain_string,
    pushed_filters,
    read_schemas,
)

QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def plan(spark, sf_dir):
    def _plan(name: str) -> str:
        return explain_string(QUERIES[name](spark, sf_dir))

    return _plan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_q1_column_pruning(spark, sf_dir):
    # q1 touches 7 of lineitem's 11 columns; the scan must not read the rest
    schemas = read_schemas(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert schemas and all("l_partkey" not in s and "l_suppkey" not in s for s in schemas)


def test_q5_broadcasts_fixed_dims(plan):
    p = plan("q5_revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q3_ordered_limit_not_global_sort(plan):
    assert "TakeOrderedAndProject" in plan("q3_shipping_priority")


def test_q1_partial_aggregation(plan):
    # map-side combine: partial_sum before the exchange
    assert "partial_sum" in plan("q1_pricing_summary")


def test_whole_stage_codegen_on_scan_agg(spark, sf_dir):
    # formatted mode tags codegen'd operators with "[codegen id : N]" — only
    # visible once AQE finalizes the plan, so execute first
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    assert "codegen id" in explain_string(df)


def test_no_cartesian_in_join_suite(spark, sf_dir):
    for name in [
        "join_broadcast_dims",
        "join_left_outer",
        "join_semi",
        "join_anti",
        "join_range_shipdelay",
        "join_asof",
        "q7_volume_shipping",
        "q8_market_share",
        "q18_large_volume_orders",
    ]:
        p = explain_string(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name


def test_semi_anti_join_shapes(plan):
    assert "LeftSemi" in plan("join_semi")
    assert "LeftAnti" in plan("join_anti")


def test_dedup_exact_is_single_shuffle_agg(plan):
    p = plan("dedup_exact")
    # one hash aggregate pair around one exchange; no join, no sort
    assert p.count("Exchange") <= 2  # agg exchange (+AQE reads)
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_knn_broadcasts_query_side(plan):
    # the query set is the broadcast side; the corpus streams through
    p = plan("knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_events_scan_prunes_props(spark, sf_dir):
    # window_tumbling_5min needs neither props nor value strings
    schemas = read_schemas(QUERIES["window_tumbling_5min"](spark, sf_dir))
    assert schemas and all("props" not in s for s in schemas)


def test_dynamic_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """A join whose dim side carries a selective filter prunes the fact
    table's partitions at RUNTIME (DPP): only the partition directories the
    surviving dim keys name are scanned. At 100 TB this is the difference
    between reading one day and reading the whole table."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load

    fact_dir = str(tmp_path / "orders_by_month")
    load(spark, "orders", sf_dir).withColumn(
        "o_month", F.month("o_orderdate")
    ).write.partitionBy("o_month").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    months = spark.range(1, 13).select(
        F.col("id").cast("int").alias("m"), (F.col("id") * 10).alias("quota")
    )
    # filter on a NON-join column: a literal filter on m itself would be
    # constant-propagated through the join into a *static* partition filter
    # (Catalyst does that without DPP); quota==30 only resolves to m=3 at
    # runtime, which is exactly what DPP exists for
    dim = months.filter(F.col("quota") == 30)
    joined = fact.join(dim, fact.o_month == dim.m).agg(
        F.count("*").alias("n"), F.sum("quota").alias("q")
    )
    p = explain_string(joined)
    assert "dynamicpruning" in p.lower(), p
    assert joined.collect()[0]["n"] > 0


def test_salted_skew_join_is_sort_merge(plan):
    # the merge hint must hold (a broadcast would bypass the salted shuffle
    # the operator exists to demonstrate)
    p = plan("join_salted_skew")
    assert "SortMergeJoin" in p, p
    assert "CartesianProduct" not in p


def test_q7_single_fact_shuffle_join(plan):
    """q7's only shuffle join is the lineitem⋈orders backbone; every dim is
    broadcast onto its fact side BEFORE the backbone (the nation filter
    semi-reduces both facts pre-shuffle)."""
    # formatted explain prints each op in the tree ("SortMergeJoin Inner (N)")
    # and again in the detail section ("(N) SortMergeJoin") — count tree form
    p = plan("q7_volume_shipping")
    assert p.count("SortMergeJoin Inner") == 1, p
    assert p.count("BroadcastHashJoin Inner") >= 3, p


def test_split_assignment_is_map_only(plan):
    """Hash-based split/sample assignment must be a pure projection — zero
    exchanges, so it holds under any partitioning at any scale."""
    for name in ("split_train_val_test", "sample_hash_fraction"):
        p = plan(name)
        assert "Exchange" not in p, name
        assert "Join" not in p, name


def test_minhash_signature_stage_no_early_shuffle(plan):
    """The MinHash signature is computed per-document map-side; the first
    shuffle in the pipeline is the (band, sig) bucket groupBy, the
    dedup of candidate pairs, and the final top-k — nothing corpus-wide.
    load_spread adds one round-robin-by-key spread of the single-split local
    file; budget = spread + bucket agg (pair) + dropDuplicates (pair) +
    TakeOrdered, with no join anywhere."""
    import re

    p = plan("dedup_minhash_lsh")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    # count unique exchange nodes via their detail-section "(N) Exchange"
    # lines (the tree prints each op a second time)
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4, p


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: a selective filter on one join side must
    inject a bloom filter onto the probe side's scan (Spark's
    InjectRuntimeFilter), so at 100 TB the big fact side drops non-joining
    rows BEFORE the shuffle instead of shuffling them to be discarded.
    Thresholds are lowered because the testdata is far below the production
    defaults (10GB application-side scan)."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    # force SMJ: with a broadcast join Spark (rightly) skips the bloom filter
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, "lineitem", sf_dir)
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = explain_string(j)
        assert "bloom_filter_agg" in p, p
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew handling at runtime: a join where 90% of rows share one hot
    key must show SortMergeJoin(skew=true) in the FINAL adaptive plan — the
    hot partition was split instead of landing on one straggler task. This
    is the safety net for skew the salting demo (join_salted_skew) handles
    manually; thresholds are lowered to make the tiny test input register
    as skewed."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # keep AQE from converting the small side to broadcast at runtime —
    # the point here is to exercise SMJ skew splitting
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 180_200
        # the adaptive plan is final only after execution of THIS dataframe
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_bucketed_join_reads_shuffle_free(spark, sf_dir, tmp_path):
    """Same-bucketed fact tables join with NO Exchange on either side — the
    co-located fact⋈fact layout that replaces a per-query corpus shuffle at
    100 TB with a one-time bucketed write."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.tables import (
        write_bucketed,
    )

    li = load(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    t_li = write_bucketed(
        spark, li, "bktdb.li_b", str(tmp_path / "li_b"), ["l_orderkey"], 8,
        sort_cols=["l_orderkey"],
    )
    t_o = write_bucketed(
        spark, orders, "bktdb.orders_b", str(tmp_path / "orders_b"), ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.read.table(t_li)
        b = spark.read.table(t_o)
        joined = a.join(b, a.l_orderkey == b.o_orderkey).groupBy("o_orderkey").count()
        p = explain_string(joined)
        assert "SortMergeJoin" in p, p
        # join itself is exchange-free; the only allowed exchange is the
        # post-join aggregation... which groups on the SAME bucket key, so
        # even that one is elided — fully shuffle-free plan
        assert "Exchange" not in p, p
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")


def test_pure_projection_ops_no_exchange(plan):
    """PII redaction, Gopher quality rules, and VLM patch budgeting are
    per-row column expressions — zero joins and no shuffle beyond the
    documented single-file spread (load_spread's round-robin of the local
    one-row-group corpus file, unnecessary on a real multi-split scan), so
    they run at parquet-scan speed regardless of corpus size."""
    import re

    # (name, allowed exchanges: 1 = the load_spread round-robin only)
    for name, spread in (
        ("pii_redact", 1),
        ("text_gopher_quality", 1),
        ("mm_patch_token_budget", 0),
    ):
        p = plan(name)
        assert len(re.findall(r"\(\d+\) Exchange", p)) <= spread, name
        assert "RoundRobinPartitioning" in p if spread else True, name
        assert "Join" not in p, name


def test_funnel_is_single_user_shuffle_no_join(plan):
    """The funnel is ONE user-keyed aggregation; the per-stage conversion
    lookups are array expressions. The textbook min-join-per-stage plan
    would re-shuffle the event fact once per funnel stage."""
    import re

    p = plan("funnel_conversion")
    assert "Join" not in p, p
    # user-keyed agg + global roll-up — nothing else
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p


def test_rollup_multi_granularity_single_pass(plan):
    """Grouping sets emit minute/hour/day from ONE expand + one shuffle;
    the naive three-groupBy union would scan and shuffle the fact 3×."""
    import re

    p = plan("rollup_multi_granularity")
    assert "Expand" in p, p
    assert "Union" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1, p


def test_hll_sketch_partial_aggregation(plan):
    """HLL sketches must combine map-side (partial_hll_sketch_agg before the
    exchange) — the mergeability that makes sketch distinct re-aggregable
    across partitions/days is only real if the plan exploits it."""
    p = plan("agg_hll_mergeable")
    assert "partial_hll_sketch_agg" in p, p


def test_decontaminate_broadcasts_eval_ngrams(plan):
    """The eval-side n-gram set is bounded (eval suites are small) and must
    broadcast into a semi-join; a sort-merge n-gram join would shuffle the
    full corpus explode."""
    p = plan("decontaminate_eval_overlap")
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p


def test_unigram_logprob_vocab_join_unforced(plan):
    """The tok↔vocab join must carry NO broadcast hint: a web-corpus
    vocabulary (typos, URLs, hashes) grows with corpus size, and a forced
    broadcast OOMs the driver at 100 TB. The plan may be any partitioned
    equi-join (AQE is free to downgrade to broadcast where vocab happens to
    fit); the 1-row totals side must still broadcast."""
    import inspect

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators import textops

    src = inspect.getsource(textops.text_unigram_logprob)
    assert "broadcast(vocab" not in src.replace("F.broadcast", "broadcast"), (
        "unbounded vocab must not be broadcast-hinted"
    )
    p = plan("text_unigram_logprob")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p  # totals


def test_ann_pq_corpus_never_joins(plan):
    """PQ encode and ADC scoring are mapInPandas passes over the corpus with
    the query distance tables closure-shipped — no join touches corpus rows;
    the only shuffle is the final per-query top-k."""
    p = plan("ann_pq")
    assert "Join" not in p, p


def test_temperature_sample_broadcasts_histogram(plan):
    """The per-language histogram is |langs| rows — broadcast back onto the
    corpus; the keep decision is then a pure per-row predicate."""
    p = plan("sample_temperature_by_lang")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_quantize_int8_is_pure_projection(plan):
    """int8 quantization is a per-row expression over the embedding array:
    zero shuffles, zero joins — the plan must be scan → project."""
    import re

    p = plan("quantize_embeddings_int8")
    assert not re.findall(r"\(\d+\) Exchange", p), p
    assert "Join" not in p, p


def test_histogram_quantiles_partial_agg_before_exchange(plan):
    """The bin-count sketch must combine map-side: the only corpus-sized
    shuffle input is (group, bin) partial counts — ≤ groups×1000 rows per
    task — never raw rows. The global min/max pre-pass broadcasts (1 row);
    no sort-merge or cartesian join anywhere."""
    p = plan("agg_histogram_quantiles")
    assert "partial_count" in p or "partial" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_anomaly_mad_no_cartesian(plan):
    """Median/MAD ranking windows partition on the group key; the tiny
    per-group med/mad frames join back as equi-joins — never a cartesian."""
    p = plan("events_anomaly_mad")
    assert "CartesianProduct" not in p, p


def test_heavy_hitters_verify_pass_broadcasts_candidates(plan):
    """Phase 2 must semi-join the exploded token stream against a BROADCAST
    candidate set (≤ CAND·P rows by construction) — a shuffled join here
    would move the full vocabulary, the exact cost the operator exists to
    avoid."""
    p = plan("text_heavy_hitters")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p
    assert "SortMergeJoin" not in p


def test_snapshot_read_where_pushes_residual_filter(spark, tmp_path):
    """File skipping happens driver-side from manifests; the survivor scan
    must STILL push the row-level residual into the parquet reader so
    row-group skipping stacks on top of file skipping."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.plans import pushed_filters
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 1000).coalesce(1))
    t.append(spark.range(1000, 2000).coalesce(1))
    df = t.read_where("id", 1200, 1300)
    pushed = pushed_filters(df)
    assert any("id" in p for p in pushed), pushed
    assert len(df.inputFiles()) == 1  # manifest skipped the other file


def test_mor_predicate_delete_stays_pushed_down(spark, tmp_path):
    """A merge-on-read predicate delete must reach the parquet reader as a
    pushed filter (row-group skipping), not as a post-scan Filter only —
    the property that keeps MOR reads cheap at scale."""
    from streaming_data_pipeline_with_iceberg_and_spark_spark.plans import pushed_filters
    from streaming_data_pipeline_with_iceberg_and_spark_spark.sources.snapshots import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 1000).coalesce(1))
    t.delete_where("id", 100, 199, mode="mor")
    pushed = pushed_filters(t.read())
    assert any("id" in p for p in pushed), pushed


def test_q21_single_fact_shuffle_broadcast_supplier(plan):
    """The double-quantifier q21 shape must keep exactly one fact-fact
    shuffle family (lineitem⋈orders + the per-order stats reuse) and
    broadcast the supplier dim — a second sort-merge of the fact against
    supplier would mean the decorrelation regressed."""
    p = plan("q21_waiting_suppliers")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_reduces_fact_shuffle(spark, sf_dir):
    """With broadcast unavailable (the 100 TB case: even the \"small\" join
    side exceeds executor memory), Catalyst's runtime bloom-filter semi-join
    reduction must inject `bloom_filter_agg` on the selective build side and
    `might_contain` on the fact scan — pruning fact rows BEFORE the shuffle,
    the optimization that keeps selective fact⋈dim joins viable at scale.
    Pinned here so a session-config regression can't silently drop it."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = load(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, "lineitem", sf_dir)
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan
        # and the reduction must not have broken the result
        assert j.count() == 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q2_single_shuffle_min_cost(plan):
    """q2's correlated-MIN decorrelation must resolve as ONE shuffle family
    on p_partkey (the grouped cost relation feeds the window MIN in place) —
    a groupBy-min + self-join rewrite would scan and shuffle the cost
    relation twice. All dims (part, supplier⋈nation⋈region) broadcast."""
    p = plan("q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # window MIN runs on the partkey-grouped frame; no sort-merge self-join
    assert "SortMergeJoin" not in p


def test_q20_semi_join_share_filter(plan):
    """q20's nested correlated-aggregate IN must become semi/broadcast joins
    over ONE filtered lineitem scan — never a per-row subquery or cartesian."""
    p = plan("q20_excess_share_suppliers")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q11_threshold_is_broadcast_scalar(plan):
    """q11's global-threshold scalar must be broadcast back onto the grouped
    frame (1-row nested-loop is fine); the fact side shuffles once."""
    p = plan("q11_important_parts")
    assert "CartesianProduct" not in p


def test_classifier_is_pure_projection(spark, sf_dir):
    """The linear quality classifier must stay a scan-level projection:
    zero Exchanges, zero Python evaluation — the property that makes a
    model-scored quality gate free at 100 TB."""
    p = explain_string(QUERIES["text_linear_quality_classifier"](spark, sf_dir))
    assert "Exchange" not in p
    assert "Python" not in p


def test_curation_capstone_single_shuffle(spark, sf_dir):
    """The end-to-end curation chain must shuffle exactly once (the
    content-hash dedup window); gates and subsample ride the scan."""
    import re

    df = QUERIES["curate_pretraining_corpus"](spark, sf_dir)
    p = explain_string(df)
    # formatted explain names each node once in the tree and once in the
    # detail section — count plan NODES, not string occurrences
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert pushed_filters(df), "quality/lang gates must reach the scan"


def test_runtime_bloom_filter_fires_on_selective_fact_join(spark, sf_dir):
    """Catalyst's runtime Bloom-filter injection (the stock shuffle-reduction
    for selective fact⋈fact joins) must fire on this engine's session config
    once the application-side scan passes the size gate. At sf0.01 the scan
    sits under the 10 GiB default threshold — the 100 TB regime is simulated
    by opening the gate; the assertion is that nothing in our session/config
    disables the rewrite (it needs shuffle joins, which the static-broadcast-
    off config preserves)."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load

    thr_key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old = spark.conf.get(thr_key)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    spark.conf.set(thr_key, "0")
    try:
        orders = load(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, "lineitem", sf_dir)
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p, (
            "runtime bloom filter did not inject on the probe side"
        )
    finally:
        spark.conf.set(thr_key, old)


def test_bm25_index_serving_pushes_term_filter_to_scan(spark, tmp_path):
    """The 100 TB serving claim of the maintained BM25 index: scoring from
    a STORED postings table must push the query-term INSET into the parquet
    scan (PushedFilters: In(term, ...)), so query cost scales with matching
    postings, not corpus size."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_doc_postings,
        bm25_rank_from_index,
        bm25_stats_partial,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} common") for i in range(200)],
        "doc_id long, text string",
    )
    proot = str(tmp_path / "postings.parquet")
    sroot = str(tmp_path / "stats.parquet")
    bm25_doc_postings(docs).write.parquet(proot)
    bm25_stats_partial(docs).write.parquet(sroot)
    qmap = spark.createDataFrame(
        [(1, "tok1"), (1, "common")], "query_id int, term string"
    )
    out = bm25_rank_from_index(
        spark.read.parquet(proot),
        spark.read.parquet(sroot),
        qmap,
        terms=["tok1", "common"],
        check_terms=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # the postings scan is the only one with a term column, so an In(term)
    # inside any PushedFilters list pins the claim (file paths are
    # truncated in plan strings, so match on the filter, not the path)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        re.search(r"PushedFilters: \[.*In\(term, \[(common|tok1),", ln)
        for ln in pushed
    ), f"term INSET not pushed to the postings scan: {pushed}"
    # and the results are real
    assert out.count() > 0


def test_ql_index_serving_pushes_term_filter_to_scan(spark, tmp_path):
    """Query-likelihood serving inherits the BM25 index property: both the
    collection-frequency pass and the matched-postings pass must push the
    query-term INSET into the stored postings scan."""
    import re

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators.textops import (
        bm25_doc_postings,
        bm25_stats_partial,
        ql_rank_from_index,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 5} common") for i in range(200)],
        "doc_id long, text string",
    )
    proot = str(tmp_path / "postings.parquet")
    sroot = str(tmp_path / "stats.parquet")
    bm25_doc_postings(docs).write.parquet(proot)
    bm25_stats_partial(docs).write.parquet(sroot)
    qmap = spark.createDataFrame(
        [(1, "tok1"), (1, "common")], "query_id int, term string"
    )
    out = ql_rank_from_index(
        spark.read.parquet(proot),
        spark.read.parquet(sroot),
        qmap,
        terms=["tok1", "common"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    hits = [
        ln
        for ln in pushed
        if re.search(r"PushedFilters: \[.*In\(term, \[(common|tok1),", ln)
    ]
    # two postings consumers (cf pass + matched pass) -> the filter must
    # reach at least one scan per pass
    assert len(hits) >= 2, f"term INSET not pushed on both passes: {pushed}"
    assert out.count() > 0


def test_attribution_is_join_free_two_shuffles(plan):
    """Last-touch attribution must stay a pure window pipeline: ONE
    user_id shuffle feeding the ROWS-frame window and one final channel
    agg — never a per-conversion touch join (which would multiply every
    conversion by its candidate touches at 100 TB)."""
    p = plan("attribution_last_touch")
    assert "Join" not in p, p
    keys = [
        ln.split("hashpartitioning(", 1)[1].split("#")[0]
        for ln in p.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert keys == ["user_id", "channel"], keys


def test_session_paths_agg_reuses_window_partitioning(plan):
    """The per-session path agg groups by (user_id, session_id) directly
    on the sessionize window's user_id partitioning — a third shuffle
    between the window and the session agg would double the op's shuffle
    volume on the fact at scale."""
    p = plan("session_top_paths")
    assert "Join" not in p, p
    keys = [
        ln.split("hashpartitioning(", 1)[1].split("#")[0]
        for ln in p.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert keys == ["user_id", "path"], keys


def test_vocab_coverage_topk_is_take_ordered(plan):
    """The global top-K must be TakeOrderedAndProject (distributed
    partial top-k) — an unpartitioned rank window would serialize the
    whole vocabulary onto one task, and Spark does NOT rewrite global
    windows with WindowGroupLimit."""
    p = plan("vocab_coverage")
    assert "TakeOrderedAndProject" in p, p


def test_recommend_items_topn_bounded_and_aqe_joins(plan):
    """The per-user top-N must carry a WindowGroupLimit (partial top-N
    per partition bounds the rows reaching the final rank exchange), and
    the corpus-sized owned⋈edges join must NOT be statically broadcast
    (item cardinality is corpus-scale at 100 TB — AQE decides at small
    SF; the r6 100×-OOM lesson)."""
    import re

    p = plan("recommend_items")
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p
    # no STATIC broadcast anywhere in the pipeline: the code adds no
    # F.broadcast hints (edges and ownership are corpus-sized; AQE may
    # still convert at small SF, which shows up as AQEShuffleRead, not as
    # a planned BroadcastExchange under a non-adaptive subtree)
    assert not re.findall(r"ResolvedHint", p), p


def test_mmr_greedy_is_single_cogroup(plan):
    """The MMR greedy must run as ONE cogrouped Arrow exchange
    (FlatMapCoGroupsInPandas) over the bounded candidate/sims frames —
    not an unrolled chain of per-step joins (which costs a Spark job per
    step and re-evaluates lineage without per-step persists)."""
    import re

    p = plan("mmr_search")
    # formatted explain shows each node once in the tree and once in the
    # detail listing — count the "(n) Node" detail headers
    headers = re.findall(r"^\(\d+\) FlatMapCoGroupsInPandas", p, re.M)
    assert len(headers) == 1, p


def test_bm25_prf_filters_both_passes(plan):
    """Both BM25 passes must keep the query-term INSET filter (pass 1 the
    pinned literals, pass 2 the driver-collected expanded set) — an
    unfiltered pass would shuffle every posting in the corpus."""
    p = plan("bm25_prf_search")
    assert p.count("INSET") + p.count(" IN (") >= 2, p


def test_rake_topk_is_take_ordered(plan):
    """RAKE's final ranking must reach the driver via TakeOrdered (a
    distributed top-k) — a row_number window over the distinct-phrase
    table would sort a corpus-scale frame in one partition; the rank
    window may only run on the ≤TOPK-row result."""
    p = plan("text_keyphrase_rake")
    assert "TakeOrderedAndProject" in p, p


def test_label_purity_monitor_serves_from_index(plan, spark, sf_dir):
    """The capped monitor must answer from the MATERIALIZED pinned IVF
    index (manifest-pruned probed-cell scan), never re-run the full
    audit's corpus×centroid assignment cross join — that inline
    assignment is exactly the O(n^1.5) cost the cap exists to avoid.

    r16: the rollup eagerly checkpoints its bounded ``votes`` frame (the
    triple-consumer replay fix), which truncates the FINAL plan's lineage
    at a Scan ExistingRDD — so the serving-path assertions move to the
    pre-rollup neighbor frame, built exactly as the monitor builds it."""
    p = plan("label_purity_monitor")
    assert "BroadcastNestedLoopJoin" not in p, p
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streaming_data_pipeline_with_iceberg_and_spark_spark.io import load_spread
    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators import (
        similarity as S,
    )

    emb = load_spread(spark, "embeddings", sf_dir).filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )
    wq = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
    )
    queries = (
        emb.withColumn("qrn", F.row_number().over(wq))
        .filter(F.col("qrn") <= S._PURITY_MONITOR_CAP)
        .select("vec_id", "label", "embedding")
    )
    nbrs = S._pinned_ivf_index(spark, sf_dir).query(
        queries.select("vec_id", "embedding"), k=S._PURITY_K
    )
    np_ = explain_string(nbrs)
    assert "ivfidx" in np_, np_
    assert "BroadcastNestedLoopJoin" not in np_, np_
    # the per-label query carve must run as a WindowGroupLimit (bounded
    # rows per label partition map-side), never a full per-label sort
    qp = explain_string(queries)
    assert "WindowGroupLimit" in qp, qp


def test_pack_training_sequences_single_bucket_shuffle(plan):
    """Chop-packing must cost exactly ONE shuffle (the bucket hash
    partitioning feeding the window prefix sum) — an accidental global
    sort or a second exchange would serialize the packer at corpus
    scale."""
    import re

    p = plan("pack_training_sequences")
    # one bucket hash exchange; the only other allowed exchange is
    # load_spread's round-robin input spread. No range partitioning —
    # that would be a global sort.
    assert p.count("hashpartitioning(bucket") == 1, p
    assert "rangepartitioning" not in p, p
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_exchanges - p.count("RoundRobinPartitioning") == 1, p


def test_bm25_prf_serves_from_index_no_corpus_scan(plan):
    """The r13 rewrite serves BOTH PRF passes from the materialized
    inverted index: the final plan must read the term-clustered postings
    parquet, never re-scan (and re-tokenize) the documents table — the
    6.2 s double corpus chain the r12 verdict flagged."""
    p = plan("bm25_prf_search")
    assert "bm25idx" in p, p
    assert "documents" not in p, p


def test_kmeans_pinned_assign_is_arrow_kernel(plan):
    """The pinned Lloyd assignment must run through the vectorized
    fold-exact Arrow kernel (r16): a map-only MapInArrow pass — never the
    corpus×k crossJoin (BroadcastNestedLoopJoin) + max_by combine whose
    interpreted HOF folds and full-corpus shuffle it replaced, and never
    a CartesianProduct. The winning centroid re-attaches through a hash
    join against the k-row cell frame, not a nested-loop product."""
    p = plan("kmeans_cluster_profile")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "MapInArrow" in p, p


def test_dedup_semantic_blocks_pairs_by_cell(plan):
    """SemDeDup's pair join must key on the blocking cell (a hash join on
    cell), never an all-pairs product — the whole point of the quantizer."""
    p = plan("dedup_semantic")
    assert "CartesianProduct" not in p, p
    # within-cell pair generation is an equi-join on the cell key
    assert "cell" in p and ("SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p), p
    # the blocking cells are served from the shared pinned IVF index
    assert "ivfidx" in p, p


def test_concurrency_sweep_has_no_global_window(plan):
    """The boundary-sweep cumulative must be the two-pass form: every
    corpus-scale Window node carries a day partition spec; the only
    unpartitioned ordered window allowed is over the calendar-bounded
    day-offset frame (detected here by requiring at least one
    day-partitioned window and the day-offset aggregation)."""
    import re

    p = plan("sessions_peak_concurrency")
    # the per-point running sum must be partitioned by day: its
    # windowspecdefinition's first argument (the partition spec) is day
    specs = re.findall(r"sum\(delta[^\n]*windowspecdefinition\(([^,]*),", p)
    assert specs and all("day" in s for s in specs), (specs, p)


def test_corpus_novelty_first_seen_joins_on_shingle(plan):
    """The novelty join must key on the shingle (first-occurrence lookup),
    and the scan must not survive as an exploded cartesian."""
    p = plan("corpus_novelty_curve")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_decile_faces_keep_exact_ntile_window_when_small(plan):
    """Below _NTILE_MAX_WINDOWED the three decile faces keep the plain
    global-window NTILE — the fewest-stages form and the one the SQL
    oracles are written in (r9 verdict order #3's equivalence guarantee:
    small inputs must not pay the sliced plan's extra stages)."""
    for q in (
        "events_power_users_curve",
        "events_rfm_segments",
        "corpus_novelty_curve",
    ):
        p = plan(q)
        assert "ntile(" in p, (q, p[:800])
        assert "_bk" not in p, (q, p[:800])


def test_decile_faces_sliced_path_has_no_global_ntile(spark, sf_dir, monkeypatch):
    """Above the threshold NO unpartitioned window may sort the entity
    frame: the sliced-rank plan partitions every corpus-scale window by
    the value slice (_bk); the only unpartitioned window left is the
    per-slice offset cumulative over the ≤ n_part-row count table."""
    import re

    from streaming_data_pipeline_with_iceberg_and_spark_spark.operators import (
        analytics,
    )
    from streaming_data_pipeline_with_iceberg_and_spark_spark.plans import (
        explain_string,
    )

    monkeypatch.setattr(analytics, "_NTILE_MAX_WINDOWED", -1)
    for q in (
        "events_power_users_curve",
        "events_rfm_segments",
        "corpus_novelty_curve",
    ):
        p = explain_string(QUERIES[q](spark, sf_dir))
        assert "ntile(" not in p, (q, p[:800])
        # every row_number (the per-slice local rank) partitions by _bk
        specs = re.findall(r"row_number\(\)[^\n]*windowspecdefinition\(([^,]*),", p)
        assert specs and all("_bk" in s for s in specs), (q, specs)


def test_ri_audit_collapses_keys_before_anti_joins(plan):
    """Every FK orphan check must aggregate the fact key to distinct
    (key, multiplicity) BEFORE its anti join — the shuffle then carries
    |distinct keys| rows, not |fact| rows. Four anti joins, no cartesian,
    and at least one HashAggregate feeding each join side."""
    p = plan("referential_integrity_audit")
    # formatted explain mentions each join in the tree AND detail sections
    assert p.count("LeftAnti") >= 4, p[:800]
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_abc_pareto_windows_run_over_the_catalog_not_the_fact(plan):
    """The prefix-sum window must consume the per-part AGGREGATE (one hash
    agg collapses the fact first); lineitem columns may appear only below
    that agg, never as window inputs."""
    import re

    p = plan("abc_pareto_parts")
    assert "HashAggregate" in p and "Window" in p
    # the window sorts (cents DESC, partkey) — the post-agg frame
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("l_extendedprice" not in s for s in specs), specs


def test_pmi_joins_vocabulary_frames_broadcast(plan):
    """The unigram-count frame (vocabulary-sized) joins back to the
    min-count-filtered bigram frame as a BROADCAST — the big bigram side
    must not shuffle again after its hash agg."""
    p = plan("text_pmi_collocations")
    assert p.count("BroadcastHashJoin") >= 2, p[:800]
    assert "SortMergeJoin" not in p, p[:800]
    assert "TakeOrderedAndProject" in p


def test_value_quantile_windows_partition_by_type(plan):
    """The quantile readout windows run over the merged histogram rows
    partitioned by event_type — bounded by span/width per type, never the
    fact; and the fact reaches them through one hash agg."""
    import re

    p = plan("events_value_quantiles")
    specs = re.findall(r"windowspecdefinition\(([^,]*),", p)
    assert specs and all("event_type" in s for s in specs), specs
    assert "HashAggregate" in p


def test_table_profile_never_sorts_the_corpus(plan):
    """The exact-distinct profile must keep the multi-distinct rewrite on
    hash aggregates with per-distinct slim keys — mixing the distincts
    with the plain aggregates (or wrapping any aggregate in a cast inside
    .agg()) regressed to a corpus-wide multi-column sort-aggregate,
    measured 30× slower. Sort aggregates may appear only with an EMPTY
    grouping key (the 1-row global combine, where string min/max buffers
    force the sort form)."""
    import re

    p = plan("table_profile")
    assert "HashAggregate" in p
    keys = re.findall(r"SortAggregate\(key=\[([^\]]*)\]", p)
    assert all(k.strip() == "" for k in keys), keys


def test_r11_audit_single_pass_ops_never_sort_the_corpus(plan):
    """curation_waterfall mixes ONE countDistinct with plain aggregates in
    a single .agg() — safe while the distinct plans on its slim key, but
    the same shape with casts inside .agg() (or several distincts) is
    exactly what regressed table_profile 30× to corpus-wide sort
    aggregates. Pin the hash-aggregate-only plan on the op that cites the
    lesson, and on the other single-pass r11 audits."""
    import re

    for name in (
        "curation_waterfall",
        "referential_integrity_audit",
        "data_freshness_audit",
    ):
        p = plan(name)
        assert "HashAggregate" in p, name
        keys = re.findall(r"SortAggregate\(key=\[([^\]]*)\]", p)
        assert all(k.strip() == "" for k in keys), (name, keys)


def test_r12_faces_stay_hash_agg_and_bounded(plan):
    """The round-12 faces must never sort or cross-join the corpus:
    decontamination and the leakage audit are wordcount-shaped (hash aggs
    + keyed joins only), the BPE apply face is a vocab-side join, and the
    quantized top-5 carries WindowGroupLimit so partial top-k bounds the
    rows leaving each partition."""
    import re

    for name in (
        "decontaminate_split",
        "split_leakage_audit",
        "bpe_apply_merges",
        "quantization_recall_eval",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        keys = re.findall(r"SortAggregate\(key=\[([^\]]*)\]", p)
        assert all(k.strip() == "" for k in keys), (name, keys)
    assert "WindowGroupLimit" in plan("quantization_recall_eval")


def test_r12_eval_faces_stay_hash_agg_and_bounded(plan):
    """The fourth round-12 segment: AUC/kappa/JSD/purity must never
    cross-join or sort-aggregate the corpus. classifier_auc_eval's one
    unpartitioned window runs over the DISTINCT-score bin frame (≤ 10⁶+1
    rows by the round-6 score domain), never the doc stream — the plan
    must show the hash agg collapsing docs to bins BEFORE any Sort; the
    purity audit's rank filter carries WindowGroupLimit so per-partition
    top-k bounds rows at the source."""
    import re

    for name in (
        "classifier_auc_eval",
        "lang_id_kappa",
        "source_unigram_divergence",
        "label_knn_purity",
    ):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        keys = re.findall(r"SortAggregate\(key=\[([^\]]*)\]", p)
        assert all(k.strip() == "" for k in keys), (name, keys)
    assert "WindowGroupLimit" in plan("label_knn_purity")


def test_readability_is_scan_level(plan):
    """Flesch readability is a pure per-row projection (the
    text_token_stats class: higher-order aggregate over the token array,
    no explode) — the ONLY exchange allowed is load_spread's deliberate
    round-robin split spread; no keyed shuffle, no aggregate, no join."""
    p = plan("text_readability")
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p
    assert "SinglePartition" not in p, p
    assert "Aggregate" not in p and "Join" not in p


def test_r12_monitoring_faces_stay_bounded(plan):
    """Forecast backtest windows run over the calendar grid, attribution
    windows over user partitions — neither may cross-join or
    sort-aggregate the fact."""
    import re

    for name in ("events_forecast_backtest", "attribution_linear",
                 "scd2_from_events"):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        keys = re.findall(r"SortAggregate\(key=\[([^\]]*)\]", p)
        assert all(k.strip() == "" for k in keys), (name, keys)


def test_decontaminate_spans_join_is_hash_keyed(plan):
    """The span-decontamination candidate join must be keyed on the
    k-gram hash (sort-merge or broadcast-hash on h) — never a nested-
    loop/cartesian over train × eval postings — and the final token
    slice must join on doc_id.  This is the plan property that carries
    the 100-TB claim: candidate mass is postings-keyed, islands run on
    matched positions only."""
    for name in ("decontaminate_spans", "decontaminate_spans_apply"):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        # the h-keyed candidate join appears as a hash/sort-merge join
        # with the kgram hash column on both sides
        assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p), name
