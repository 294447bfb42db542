"""Physical-plan audits (the 100 TB posture checks): predicate pushdown
reaches the parquet scan, column pruning trims ReadSchema, small dims
broadcast, top-N avoids full sorts, and the flatten is one shuffle-free
projection."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten
from etl_pipeline_for_elasticsearch_json_document_spark.queries import all_queries
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
Q = all_queries()


def plan_text(df, mode="formatted") -> str:
    # Plan-shape assertions must not depend on what earlier tests left in
    # the block-manager cache: a matching InMemoryRelation substitutes into
    # the plan and its *internal* exchanges show up in the rendering.
    df.sparkSession.catalog.clearCache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = Q["q02_filter_predicates"].fn(spark, SF_DIR)
    plan = plan_text(df)
    assert "PushedFilters:" in plan
    # the range predicate must be pushed, not evaluated post-scan only
    assert "GreaterThanOrEqual(p_size,10)" in plan.replace(" ", "") or "p_size" in plan.split(
        "PushedFilters:"
    )[1].splitlines()[0]


def test_column_pruning(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    plan = plan_text(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema  # unused columns pruned


def test_dimension_joins_broadcast(spark):
    plan = plan_text(Q["q04_join_region_rollup"].fn(spark, SF_DIR))
    # formatted explain lists each node twice (tree + details)
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region
    assert "SortMergeJoin" not in plan


def test_topn_uses_take_ordered(spark):
    plan = plan_text(Q["q13_sort_limit"].fn(spark, SF_DIR))
    # global top-N must not be a full Sort + collect
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark):
    plan = plan_text(Q["q01_pricing_summary"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_flatten_is_single_shuffle_free_projection(spark):
    docs = spark.createDataFrame(
        [(1, [{"a": 1}])],
        "id long, arr array<struct<a:long>>",
    )
    out = flatten(docs)
    plan = plan_text(out, mode="simple")
    assert "Exchange" not in plan  # no shuffle: pure projection
    assert "Project" in plan


def test_knn_broadcasts_queries(spark):
    plan = plan_text(Q["q40_knn_bruteforce"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_keyset_predicate_pushdown(spark):
    """The resume cursor ``paginate(start=...)`` filters by reaches the scan."""
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.keyset import Cursor, after_predicate

    orders = load_table(spark, SF_DIR, "orders")
    start = Cursor(("1997-01-01 00:00:00", 42))
    plan = plan_text(orders.filter(after_predicate(["o_orderdate", "o_orderkey"], start)))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "o_orderdate" in pushed  # composite cursor reaches the scan


def test_minhash_join_is_broadcast_no_pair_distinct(spark):
    """The LSH candidate join must be a broadcast hash join on band keys
    and the plan must not re-shuffle pairs (no distinct(), no sort-merge):
    the first-matching-band predicate dedups in-place."""
    p = plan_text(Q["q32_minhash_lsh"].fn(spark, SF_DIR), mode="simple")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # exchanges: the postings repartition + at most the cache/bucket sides;
    # a regression to pair-distinct or signature join-back adds more
    assert p.count("Exchange") <= 3, p


def test_simhash_join_is_blocked_not_crossed(spark):
    p = plan_text(Q["q33_simhash_pairs"].fn(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_ivf_assignment_and_probe_are_broadcast(spark):
    """IVF: centroid fan-outs are broadcast nested-loop joins (tiny build
    side), the probe→assignment join is a broadcast hash join on cid —
    nothing shuffles the corpus except the max_by partial aggregation."""
    p = plan_text(Q["q42_knn_ivf"].fn(spark, SF_DIR), mode="simple")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastNestedLoopJoin") == 2
    assert "BroadcastHashJoin" in p


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """100 TB posture: pre-bucketed fact tables co-locate their join keys,
    so a bucketed self/fact-fact join needs NO Exchange — the scan feeds
    SortMergeJoin directly. This is the pattern for repeated big-big joins
    (bucket once, join cheaply forever)."""
    oa = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    (oa.write.mode("overwrite").option("path", str(tmp_path / "ob"))
       .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b"))
    (li.write.mode("overwrite").option("path", str(tmp_path / "lb"))
       .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b"))
    try:
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        # disable broadcast so the join strategy is the bucketed sort-merge
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p = plan_text(j, mode="simple")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p  # co-located: no shuffle on either side
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_pq_codebook_joins_broadcast(spark):
    """PQ's codebook and ADC lookup tables are tiny by construction — both
    joins must be broadcast; a sort-merge join would shuffle the whole
    exploded corpus on (s, cid)."""
    plan = plan_text(Q["q43_knn_pq"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2  # encode join + ADC join
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_label_centroids_partial_agg(spark):
    """The posexplode fan-out must be reduced map-side: partial + final
    HashAggregate pair around one exchange, never a raw-row shuffle."""
    plan = plan_text(Q["q44_label_centroids"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # one agg shuffle (+AQE rendering slack)


def test_audio_chunks_map_only(spark):
    """Chunk fan-out is generate+project over the scan — zero shuffles."""
    plan = plan_text(Q["q66_audio_chunks"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_latest_by_key_is_partial_agg_no_window(spark):
    """q77: CDC latest-row-per-key must be a map-side-combined aggregation,
    never a window sort over all events."""
    plan = plan_text(Q["q77_latest_by_key"].fn(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_max_by" in plan or "partial_maxby" in plan.lower()


def test_histogram_single_shuffle(spark):
    """q79: the distributed histogram is one partial+final aggregation —
    exactly one exchange."""
    plan = plan_text(Q["q79_histogram"].fn(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_variant_parse_not_per_access(spark):
    """q76: parse_json happens once in the plan; the typed path access is
    variant_get over the parsed value, not repeated JSON text parsing."""
    plan = plan_text(Q["q76_variant_json"].fn(spark, SF_DIR), mode="extended")
    assert "parse_json" in plan
    assert "get_json_object" not in plan


def test_pagerank_rank_relation_stays_small(spark):
    """q48: per-iteration joins must shuffle/broadcast only the rank
    relation against the (reusable) edge layout; the physical plan should
    contain no cartesian product and no window sort."""
    plan = plan_text(Q["q48_pagerank"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """A selective dim-filtered join against a partitioned fact must inject
    a dynamic pruning subquery on the partition column — at 100 TB this is
    the difference between scanning one date partition and all of them."""
    fact = str(tmp_path / "fact_part")
    load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    ).write.partitionBy("o_year").mode("overwrite").parquet(fact)
    years = spark.createDataFrame([(1995, "x")], "y int, tag string")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    f = spark.read.parquet(fact)
    joined = f.join(years.filter(F.col("tag") == "x"), f.o_year == years.y)
    plan = plan_text(joined, mode="extended")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_join(spark, tmp_path):
    """With runtime bloom filters on, a selective build side injects a
    bloom_filter predicate into the probe-side scan, cutting shuffle input
    before the join — the row-level complement to partition pruning."""
    big = str(tmp_path / "big")
    small = str(tmp_path / "small")
    load_table(spark, "/root/testdata/sf0.01", "lineitem").write.mode("overwrite").parquet(big)
    load_table(spark, "/root/testdata/sf0.01", "orders").filter(
        F.col("o_totalprice") > 400000
    ).write.mode("overwrite").parquet(small)
    conf = spark.conf
    old = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        # force a shuffle join so the bloom filter (not a broadcast) is the win
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = spark.read.parquet(big)
        o = spark.read.parquet(small)
        joined = l.join(o, l.l_orderkey == o.o_orderkey).select("l_orderkey", "o_totalprice")
        plan = plan_text(joined, mode="extended")
        assert "bloomfilter" in plan.lower().replace("_", ""), plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_decontaminate_broadcasts_test_side(spark):
    # q100: the test-suite postings are the small side and must broadcast —
    # the train corpus streams map-side, no shuffle of the big relation.
    plan = plan_text(Q["q100_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_quota_salted_two_level(spark):
    # q101 (r10 rewrite): per_key_topk = a salted pre-trim window keyed on
    # (key, salt) — Spark pushes the quota below the shuffle as a
    # WindowGroupLimit, so each mapper ships at most `quota` rows per
    # (key, salt) cell — then a k-bounded sort_array merge with NO second
    # window; the plan never sorts a whole key's slice in one task.
    plan = plan_text(Q["q101_domain_quota"].fn(spark, SF_DIR))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 2  # salted window + bounded merge
    assert "WindowGroupLimit" in plan
    assert "sort_array" in plan


def test_sequence_packing_partial_agg(spark):
    # q102: window cumsum then partial+final aggregate — the groupBy must
    # map-side combine (HashAggregate appears before its Exchange).
    plan = plan_text(Q["q102_sequence_packing"].fn(spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "Window" in plan


def test_text_chunks_map_only(spark):
    # chunking must be a shuffle-free projection: transform + explode only
    plan = plan_text(Q["q104_text_chunks"].fn(spark, SF_DIR))
    assert "Exchange" not in plan


def test_count_min_probe_broadcasts_sketch(spark):
    # the probe joins a depth x width relation — must broadcast, never SMJ
    plan = plan_text(Q["q106_count_min"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_scalar_quantize_calibration_is_broadcast_single_row(spark):
    # per-dim stats collapse to one row broadcast back over the corpus: the
    # encode side must see a BroadcastNestedLoopJoin/BroadcastExchange of
    # the 1-row stats, and no driver-side action happens at plan time
    plan = plan_text(Q["q107_vector_quantize"].fn(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats side
    # corpus + calibration pass only (formatted mode lists each node twice)
    assert plan.count("Scan parquet") == 4


def test_scd2_single_window_shuffle(spark):
    # one hashpartitioning exchange on the business key, one window node,
    # and the custkey filter reaches the parquet scan
    plan = plan_text(Q["q108_scd2"].fn(spark, SF_DIR))
    # exactly one exchange node (tree + detail renderings), hash on the key
    assert plan.count("Exchange") == 2 and "hashpartitioning(o_custkey" in plan
    assert "Window" in plan
    assert "PushedFilters:" in plan and "o_custkey" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_fuzzy_decontaminate_broadcasts_probe_side(spark):
    # the test-benchmark side is broadcast; the corpus must never shuffle
    # (map-only signatures + broadcast hash join on band keys)
    plan = plan_text(Q["q110_fuzzy_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_flatten_plan_widens_with_data(spark):
    """Per-batch dynamic schema is reference semantics: the same schema
    with longer arrays must give a wider plan, so lengths are re-discovered
    from the data on every call."""
    from etl_pipeline_for_elasticsearch_json_document_spark.plans import flatten as fp

    sch = "id long, xs array<struct<v: long>>"
    short = spark.createDataFrame([(1, [(1,)])], sch)
    long = spark.createDataFrame([(1, [(1,), (2,), (3,)])], sch)
    p_short = fp.flatten_plan(short)
    p_long = fp.flatten_plan(long)
    assert len(p_long) > len(p_short)  # widened: lengths were re-discovered


def test_campaign_overlap_broadcasts_dim(spark):
    # the 3-row campaign dim must broadcast; the span table streams
    plan = plan_text(Q["q135_campaign_overlap"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_is_map_only(spark):
    """Assignment against a fitted codebook rides the scan: centroid
    literals live in the plan, so the only Exchange allowed is the final
    stats aggregation — never a join or a per-vector shuffle."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = kmeans_fit(emb, k=4, iterations=1)
    plan = plan_text(kmeans_assign(emb, cents))
    assert "Join" not in plan and "Exchange" not in plan  # pure projection


@pytest.mark.slow
def test_semantic_dedup_pairs_are_cluster_blocked(spark):
    # the pair join must be an equi-join (on cid) — never a cross product
    plan = plan_text(Q["q139_semantic_dedup"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_debounce_single_window_shuffle(spark):
    # one lag window per user + final agg: exactly 2 hash Exchanges
    plan = plan_text(Q["q136_debounce_events"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "Join" not in plan
    # formatted explain lists nodes twice (tree + detail) — count the tree
    n_exchange = plan.count("- Exchange")
    assert n_exchange <= 2, f"{n_exchange} exchanges:\n{plan}"


def test_q207_candidate_join_keyed_on_block_and_rank(spark):
    """r9 fix pin: the sorted-neighborhood candidate join folds the window
    offset into the EQUI-KEY — the physical join is keyed on (blk, rb),
    never on blk alone with an rn band residual (which enumerates
    |block|^2 pairs inside a hot stopword block before filtering)."""
    import re

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.plan_lint import lint_plan

    df = Q["q207_sorted_neighborhood"].fn(spark, SF_DIR)
    assert not [f for f in lint_plan(df) if f["rule"] == "band-join"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    key_lists = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\], \[([^\]]*)\]",
        plan,
    )
    cand = [
        (l, r) for l, r in key_lists if "blk" in l or "blk" in r
    ]
    assert cand, f"candidate join not found in plan:\n{plan}"
    for left, right in cand:
        assert "rb" in left or "rb" in right, (
            f"candidate join keyed on blk alone (band residual): "
            f"[{left}], [{right}]"
        )


def test_q203_q201_no_fact_scaled_broadcast_hints(spark):
    """r9 fix pin: TPC-H Q5's supplier join and basket-lift's per-part
    marginal joins carry NO explicit broadcast hint (supplier and the
    marginals scale with SF; AQE picks broadcast only when the side
    actually fits). The only hints left are constant-cardinality dims
    (nation/region) and 1-row aggregates."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.plan_lint import (
        broadcast_hint_findings,
    )

    for name in ("q203_tpch_q5_local_volume", "q201_basket_lift"):
        assert broadcast_hint_findings(Q[name].fn(spark, SF_DIR)) == [], name


def test_q211_argmin_is_single_aggregate_no_window(spark):
    """The Q2-shape argmin rides the grouping shuffle as min(struct) —
    the plan carries no Window and no second join-back of the aggregate
    onto itself."""
    plan = plan_text(Q["q211_cheapest_supplier"].fn(spark, SF_DIR))
    assert "Window" not in plan
    # exactly the dim joins (supplier + 2 broadcast dims) appear; the
    # argmin itself adds no join
    assert plan.count("- SortMergeJoin") + plan.count("- ShuffledHashJoin") <= 1


def test_q219_band_match_joins_on_bucket_not_class(spark):
    """The price band matcher's join is keyed on (priority, bucket) —
    bucket-local candidates — and carries no band-join residual the
    linter would flag (the q207 discipline as a first-class operator)."""
    import re

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.plan_lint import lint_plan

    df = Q["q219_price_band_match"].fn(spark, SF_DIR)
    assert not [f for f in lint_plan(df) if f["rule"] == "band-join"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    key_lists = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\]", plan
    )
    pair_joins = [k for k in key_lists if "prio" in k]
    assert pair_joins and all("bkt" in k for k in pair_joins), plan


def test_rank_decomposition_windows_run_over_value_domain(spark):
    """r10 fix pin (VERDICT r9 item 1): q217/q222/q134's only
    bounded-key windows are the cumulative counts over their DISTINCT-
    VALUE relations — every such Window node's input chain reaches an
    Aggregate (the (key, score) grouping), never a raw fact scan; the
    corpus-side ranking is tie-block windows keyed on (key, score),
    which the bounded-key-window rule does not flag."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.plan_lint import (
        BOUNDED_DOMAIN_COLUMNS,
        _ROW_BOUND_PRESERVING,
        _attr_name,
        _jchildren,
        _jwalk,
    )

    for name in (
        "q217_scorer_rank_correlation",
        "q222_user_value_gini",
        "q134_length_stratified_sample",
        "q245_zipf_slope",
    ):
        df = Q[name].fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed()
        n_value_domain = 0
        for node in _jwalk(analyzed):
            if node.nodeName() != "Window" or node.partitionSpec().isEmpty():
                continue
            spec = node.partitionSpec()
            names = [_attr_name(spec.apply(i)) for i in range(spec.size())]
            if not all(
                n is not None and n.lower() in BOUNDED_DOMAIN_COLUMNS for n in names
            ):
                continue  # tie-block window (key includes the score) — fine
            # bounded-key window: its input must be the distinct-value agg
            child = _jchildren(node)[0]
            while (
                child.nodeName() in _ROW_BOUND_PRESERVING
                and len(_jchildren(child)) == 1
            ):
                child = _jchildren(child)[0]
            assert child.nodeName() == "Aggregate", (
                f"{name}: bounded-key window over {child.nodeName()}, "
                "expected the distinct-value Aggregate"
            )
            n_value_domain += 1
        assert n_value_domain >= 1, f"{name}: no value-domain window found"


def test_q239_full_pushdown_scan(spark):
    """TPC-H Q6 is the canonical full-pushdown query: all three predicate
    columns must reach the parquet scan as PushedFilters, the plan must be
    join-free, and the aggregate must be partial-then-final."""
    df = Q["q239_forecast_revenue"].fn(spark, SF_DIR)
    plan = plan_text(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to the scan: {pushed}"
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_q240_topk_is_take_ordered(spark):
    """TPC-H Q10's top-20 must be TakeOrderedAndProject (per-partition
    heads + one 20-row merge), never a global Sort feeding a limit."""
    plan = plan_text(Q["q240_returned_items"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # the quarter filter must prune the orders scan before the joins
    assert "GreaterThanOrEqual(o_orderdate" in plan.replace(" ", "")


def test_fan_out_undersplit_scan_gate(spark, tmp_path):
    """The under-split fan-out (q01, r13) must stay silent on small or
    well-split inputs and fire — adding exactly one round-robin exchange,
    preserving the row multiset — on a few-files/many-rows scan."""
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import (
        fan_out_undersplit_scan,
    )

    path = str(tmp_path / "t.parquet")
    spark.range(0, 5000, 1, 1).withColumn("v", F.col("id") % 7).write.parquet(path)
    df = spark.read.parquet(path)

    # silent: 5k rows/file is far under the 1M default
    assert fan_out_undersplit_scan(df) is df

    # fires when the per-file row threshold is met (lowered for the test)
    out = fan_out_undersplit_scan(df, min_rows_per_file=1000)
    assert out is not df
    assert "RoundRobinPartitioning" in plan_text(out)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row multiset unchanged
    assert out.count() == 5000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]

    # silent again on a well-split input (>= target/2 files)
    many = str(tmp_path / "many.parquet")
    target = spark.sparkContext.defaultParallelism
    spark.range(0, 5000, 1, target).write.parquet(many)
    dfm = spark.read.parquet(many)
    assert fan_out_undersplit_scan(dfm, min_rows_per_file=1) is dfm
