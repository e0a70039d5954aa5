"""Physical-plan regression tests: the scale properties we designed for
must be visible in the executed plans, not just intended.

These assert on plan strings (pushdown reaching the scan, broadcast
joins on dimensions, bucketed joins eliminating exchanges, salted agg
equivalence) so a future refactor that silently regresses the plan shape
fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.operators.scale import (
    hot_keys,
    salted_sum,
    write_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.relational import q1_pricing_summary

    qe = q1_pricing_summary(spark, sf_dir)._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in qe
    # column pruning: the scan must not read l_orderkey/l_partkey/...
    read_schema = [l for l in qe.split("\n") if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dimension_joins_are_broadcast(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.pipeline_queries import silver_enrich

    plan = _plan(silver_enrich(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gold_plan_shuffle_budget(spark, sf_dir):
    """The flagship Gold plan needs exactly: one exchange for dedup
    (event_id), one for the two-key aggregate, one for the user window —
    plus at most one AQE artifact. More means a regression."""
    from investcloud_data_pipeline_spark.plans.pipeline_queries import gold_user_argmax

    plan = _plan(gold_user_argmax(spark, sf_dir))
    assert plan.count("Exchange") <= 4


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.range(0, 1000).select(
            F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
        )
        lines = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("l_key"), F.col("id").alias("l_val")
        )
        write_bucketed(orders, "t_orders_b", ["o_key"], num_buckets=4)
        write_bucketed(lines, "t_lines_b", ["l_key"], num_buckets=4)
        a = spark.table("t_orders_b")
        b = spark.table("t_lines_b")
        joined = a.join(b, a.o_key == b.l_key)
        plan = _plan(joined)
        # co-located buckets: sort-merge join with NO shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 5000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lines_b")


def test_salted_sum_equals_plain_sum(spark):
    # extreme skew: 90% of rows share one key
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    plain = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {r.k: r.total for r in salted_sum(df, ["k"], "v", "total").collect()}
    assert salted == plain


def test_hot_keys_diagnostic(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)], "k string"
    )
    out = [(r.k, r.n_rows) for r in hot_keys(df, ["k"], top_n=2).collect()]
    assert out == [("a", 5), ("b", 2)]


def test_tpch_remaining_plan_shapes(spark, sf_dir):
    """The decorrelated TPC-H shapes must keep their intended physical
    form: dimension/aggregate broadcasts (never a sort-merge join at
    dim scale), heap-based TakeOrderedAndProject for ordered limits,
    and real semi/anti joins for the EXISTS/NOT-EXISTS stack."""
    from investcloud_data_pipeline_spark.plans import tpch_remaining as TR

    p2 = _plan(TR.q2_min_price_supplier(spark, sf_dir))
    assert "TakeOrderedAndProject" in p2
    assert "SortMergeJoin" not in p2

    p21 = _plan(TR.q21_lone_failing_supplier(spark, sf_dir))
    assert "LeftSemi" in p21 and "LeftAnti" in p21


def test_round2_plan_shapes(spark, sf_dir):
    """Round-2 operators keep their scale posture: the YoY nation join
    broadcasts its dimension; CDC merge resolves to ONE anti join plus
    a union (no extra shuffles beyond key dedup + merge key); PII
    redaction stays a single map-only projection (no exchange at all)."""
    from investcloud_data_pipeline_spark.plans import lakehouse as LH
    from investcloud_data_pipeline_spark.plans import mining as MN

    yoy = _plan(MN.yoy_nation_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in yoy

    cdc = _plan(LH.cdc_apply_customer(spark, sf_dir))
    assert "LeftAnti" in cdc
    assert "Union" in cdc

    pii = _plan(LH.pii_redact_documents(spark, sf_dir))
    assert "Exchange" not in pii  # pure narrow projection
    assert "*(1) Project" in pii  # and whole-stage-codegen'd

    funnel = _plan(MN.event_funnel(spark, sf_dir))
    # two-level aggregate: per-user shuffle then singleton collapse
    assert funnel.count("Exchange") <= 3


def test_topk_uses_window_group_limit(spark, sf_dir):
    """Spark 4's WindowGroupLimit pushdown must kick in for the
    rank-filter top-k idiom — per-partition heaps instead of full
    partition sorts feeding the rank."""
    from investcloud_data_pipeline_spark.plans.relational import (
        top_customers_per_nation,
    )

    assert "WindowGroupLimit" in _plan(top_customers_per_nation(spark, sf_dir))


class TestGoldSkewHardening:
    """Skew hardening for the gold path on a synthetically skewed
    user_id (one user owning ~90% of events — the pathological fan-in
    shape at 100 TB).

    Three layers of defense, each asserted on the executed plan:
    1. the gold two-key aggregate neutralizes groupBy skew via map-side
       partial aggregation (the hot key shuffles as one row per map
       task, not one row per event);
    2. AQE skew-join splits the hot partition when gold joins skewed
       facts to a non-broadcastable side (SortMergeJoin(... skew=true));
    3. the explicit salting fallback stays numerically identical.
    """

    @staticmethod
    def _skewed_events(spark, n=60_000, hot_frac=0.9):
        n_hot = int(n * hot_frac)
        return (
            spark.range(n)
            .select(
                F.when(F.col("id") < n_hot, F.lit(7))
                .otherwise(F.col("id") % 1000)
                .alias("user_id"),
                (F.col("id") % 5).cast("string").alias("channel"),
                (F.col("id") % 97).cast("double").alias("value"),
                # pad rows so the hot shuffle partition crosses the
                # byte thresholds AQE's skew detector reads
                F.repeat(F.lit("x"), 64).alias("pad"),
            )
        )

    def test_gold_agg_is_partial_before_shuffle(self, spark):
        df = (
            self._skewed_events(spark)
            .groupBy("user_id", "channel")
            .agg(F.sum("value").alias("value_by_channel"), F.count("*").alias("n_events"))
        )
        plan = _plan(df)
        # partial_sum/partial_count markers appear only in the map-side
        # HashAggregate — the combine that makes key skew a non-event
        # for pure aggregation
        assert "partial_sum" in plan or "partial sum" in plan.lower()
        first_agg = plan.index("HashAggregate")
        first_exchange = plan.index("Exchange")
        assert first_agg > -1 and "partial" in plan[first_agg : first_agg + 400]

    def test_aqe_skew_join_engages_on_hot_user(self, spark):
        confs = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # force a sort-merge join so the skew reader (not broadcast)
            # is the mechanism under test
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            facts = self._skewed_events(spark, n=200_000)
            dim = spark.range(1000).select(
                F.col("id").alias("user_id"),
                F.concat(F.lit("region_"), (F.col("id") % 7).cast("string")).alias("geo_region"),
            )
            joined = facts.join(dim, "user_id").groupBy("geo_region").agg(
                F.sum("value").alias("total")
            )
            # action through the SAME QueryExecution: AQE only finalizes
            # (isFinalPlan=true, skew reader installed) on the executed
            # instance — a noop write would plan a fresh copy
            joined.collect()
            plan = _plan(joined)
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_salted_sum_matches_on_skewed_input(self, spark):
        df = self._skewed_events(spark, n=30_000)
        plain = {
            (r.user_id, r.channel): round(r.total, 6)
            for r in df.groupBy("user_id", "channel").agg(F.sum("value").alias("total")).collect()
        }
        salted = {
            (r.user_id, r.channel): round(r.total, 6)
            for r in salted_sum(
                df, ["user_id", "channel"], "value", "total", salt_buckets=16
            ).collect()
        }
        assert salted == plain


def test_lateral_topk_rewrites_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL per-customer ORDER BY/LIMIT subquery must
    decorrelate to WindowGroupLimit (map-side partial top-k) + a
    broadcast join — never a per-outer-row nested loop."""
    from investcloud_data_pipeline_spark.plans.relational import (
        lateral_top_orders_per_customer,
    )

    plan = _plan(lateral_top_orders_per_customer(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round5_plan_shapes(spark, sf_dir):
    """Round-5 paths keep their scale posture: SemDeDup's cluster
    assignment is an Arrow-batched pandas UDF (never row-at-a-time
    BatchEvalPython), evaluated once per self-join side — the join's
    inferred isnotnull(cluster) filter is not pushed below it as a
    second evaluation — with no cached copy left in the session; the
    NULL-guarded distinct branches still push their IsNotNull filters
    into the parquet scan."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        semantic_dedup_pairs,
    )
    from investcloud_data_pipeline_spark.plans import relational as R
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sem = _plan(semantic_dedup_pairs(emb))
    assert "BatchEvalPython" not in sem  # no pickled row-at-a-time UDF
    assert sem.count("ArrowEvalPython") == 2
    assert "InMemoryTableScan" not in sem

    dp = _plan(R.distinct_and_percentiles(spark, sf_dir))
    assert "BatchEvalPython" not in dp
    assert dp.count("PushedFilters: [IsNotNull") >= 2  # both key branches


def test_runtime_bloom_filter_prunes_fact_join(spark, sf_dir):
    """The 100 TB lever for selective fact⋈fact joins: Spark's runtime
    bloom filter builds a compact filter from the dim-filtered side and
    semi-prunes the probe side's shuffle input. At local SF the
    application-side scan is far below the 10 GB activation threshold,
    so injection is (correctly) absent by default; lowering the
    thresholds simulates the at-scale sizing decision and pins that our
    join shape stays ELIGIBLE — a refactor that broke eligibility (e.g.
    a non-equi key or a Python-opaque filter) would stop injecting and
    fail here."""
    from investcloud_data_pipeline_spark.sources.batch import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    baseline = {r["o_orderpriority"]: r["n"] for r in j.collect()}

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "1GB",
        )
        j2 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        opt = j2._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        # semantics unchanged by the pruning filter
        assert {r["o_orderpriority"]: r["n"] for r in j2.collect()} == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_query_plan_shapes(spark, sf_dir):
    """Round-5 additions keep their intended shapes: hash sampling and
    quality-canonical selection compile to WindowGroupLimit (per-group
    top-k pushed below the shuffle), the decayed aggregate folds its
    global anchor as a broadcast 1-row aggregate (no driver round-trip)
    with exactly one keyed shuffle, and the PCA projection is an
    Arrow-batched UDF, never pickled row-at-a-time Python."""
    from investcloud_data_pipeline_spark.plans import temporal as T
    from investcloud_data_pipeline_spark.plans import training_data as TD

    hs = _plan(TD.corpus_hash_sample(spark, sf_dir))
    assert "WindowGroupLimit" in hs

    td = T.time_decayed_user_value(spark, sf_dir)
    tdp = _plan(td)
    assert "BroadcastNestedLoopJoin" in tdp  # 1-row anchor fold
    assert "CartesianProduct" not in tdp

    from investcloud_data_pipeline_spark.operators.pca import (
        pca_fit,
        pca_project,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    pp = _plan(pca_project(emb, model, "embedding"))
    assert "ArrowEvalPython" in pp
    assert "BatchEvalPython" not in pp


def test_round5_second_batch_plan_shapes(spark, sf_dir):
    """The later round-5 additions keep their intended shapes: weighted
    sampling compiles to WindowGroupLimit (map-side per-stratum top-k
    before the exchange, like the hash sample), the association-rule
    basket projection is read from ONE cached relation (every consumer
    an InMemoryTableScan — without it the fact table is scanned four
    times), RFM folds its date anchor as a broadcast 1-row aggregate,
    and the OHLC bars are a single hash aggregate (no window)."""
    from investcloud_data_pipeline_spark.plans import mining as MN
    from investcloud_data_pipeline_spark.plans import temporal as T
    from investcloud_data_pipeline_spark.plans import training_data as TD

    ws = _plan(TD.corpus_weighted_sample(spark, sf_dir))
    assert "WindowGroupLimit" in ws

    rl = MN.copurchase_rules_lift(spark, sf_dir)
    rl.write.format("noop").mode("overwrite").save()  # populate the store
    rlp = _plan(rl)
    # round-12: the basket projection and pair counts come from the
    # session store's checkpoint leaves (Scan ExistingRDD), so the fact
    # table is scanned ZERO times per execution — strictly stronger
    # than the old per-query persist (InMemoryTableScan over one scan)
    assert "Scan ExistingRDD" in rlp
    assert "lineitem" not in rlp

    rfm = _plan(MN.customer_rfm_segments(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in rfm  # 1-row anchor fold
    assert "CartesianProduct" not in rfm

    ohlc = _plan(T.event_ohlc_hourly(spark, sf_dir))
    assert "Window" not in ohlc  # pure agg: min_by/max_by, no sort-window


def test_salted_join_matches_plain_join_under_skew(spark):
    """One key owns 90% of fact rows; salted join returns the identical
    multiset of rows as the plain join (inner and left, including
    dim-miss NULLs) while spreading the hot key across salt buckets."""
    from investcloud_data_pipeline_spark.operators.scale import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 0) for k in range(2, 102)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold")], "k long, name string"
    )
    for how in ("inner", "left"):
        plain = sorted(
            (r.k, r.v, r.name) for r in fact.join(dim, "k", how).collect()
        )
        salted = sorted(
            (r.k, r.v, r.name)
            for r in salted_join(fact, dim, "k", salt_buckets=8, how=how).collect()
        )
        assert salted == plain, how
    # the hot key's rows really are spread: >1 distinct salt observed
    from pyspark.sql import functions as F

    f = fact.select(
        "*",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8)).alias("s"),
    )
    n_salts = f.filter("k = 1").select("s").distinct().count()
    assert n_salts > 4


def test_salt_expression_never_negative(spark):
    """ADVICE r5 (low): abs(Long.MIN_VALUE) stays NEGATIVE in Spark, so
    the old abs+% salt could emit a salt matching no exploded dim salt
    and silently drop the row from an inner join. pmod is total: prove
    the exact failure value the advice cites, and that salted_join's
    expression is pmod-shaped (non-negative over a wide sweep)."""
    from pyspark.sql import functions as F

    minv = -(2**63)
    # the trap is real: under ANSI (Spark 4 default) abs(MIN_VALUE)
    # doesn't even stay negative — it throws ARITHMETIC_OVERFLOW, so a
    # row hashing there would crash the whole job; with ANSI off it
    # stays negative and the row is silently dropped. pmod is total.
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    with pytest.raises(ArithmeticException):
        spark.range(1).select(F.abs(F.lit(minv)).alias("a")).first()
    row = spark.range(1).select(
        F.pmod(F.lit(minv), F.lit(16)).alias("pmod_min")
    ).first()
    assert 0 <= row.pmod_min < 16

    salts = (
        spark.range(100_000)
        .select(F.pmod(F.xxhash64("id"), F.lit(16)).alias("s"))
        .agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
        .first()
    )
    assert salts.lo >= 0 and salts.hi <= 15


def test_new_text_ops_plan_shapes(spark, sf_dir):
    """Pin the shuffle economics of the round-5 additions:
    unicode/html cleanup are shuffle-free map passes; DSIR's model
    joins back via broadcast; repeated-span detection carries exactly
    its two designed exchanges (digest window + per-doc merge) plus
    the tokenizer barrier."""
    from investcloud_data_pipeline_spark.plans.training_data import (
        corpus_dsir_weights,
        dedup_repeated_spans,
        text_html_strip,
        text_unicode_cleanup,
    )

    assert "Exchange" not in _plan(text_html_strip(spark, sf_dir))

    uni = _plan(text_unicode_cleanup(spark, sf_dir))
    assert "Exchange" not in uni
    assert uni.count("ArrowEvalPython") == 1  # NFC kernel, nothing else

    # round-12: both registry entries consume session-store checkpoint
    # leaves; the shuffle-economics assertions move to the BUILD plans
    # (the relations the stores materialize once per session).
    dsir = _plan(corpus_dsir_weights(spark, sf_dir))
    assert "Scan ExistingRDD" in dsir
    from investcloud_data_pipeline_spark.operators import text as TX
    from investcloud_data_pipeline_spark.sources.batch import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    dsir_build = _plan(
        TX.dsir_importance_weights(
            docs, target_filter=F.col("source") == "src0"
        )
    )
    assert "BroadcastHashJoin" in dsir_build  # 256-row model never shuffles the facts

    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        repeated_span_stats,
    )

    spans = _plan(repeated_span_stats(docs, k=8))
    # tokenizer barrier (id) + digest window (gh) + island merge (id);
    # a 4th means the distinct/count/semi-join shape crept back
    assert spans.count("Exchange hashpartitioning") <= 3


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """A join against a FILTERED dim over a partition-keyed fact must
    insert a dynamic-pruning subquery on the fact scan: at 100 TB this
    is the difference between scanning one partition and all of them.
    Asserted on the optimized plan (dynamicpruning expression present)
    AND on the result (only the selected partition's rows survive)."""
    fact = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 10).alias("part_key"),
        (F.col("id") * 2).alias("v"),
    )
    fact.write.partitionBy("part_key").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.createDataFrame(
        [(i, "keep" if i == 3 else "drop") for i in range(10)],
        "part_key long, tag string",
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    out = f.join(dim.filter(F.col("tag") == "keep"), "part_key")
    qe = out._jdf.queryExecution().toString()
    assert "dynamicpruning" in qe.lower()
    assert out.count() == 1_000


def test_analytics_ext_plan_shapes(spark, sf_dir):
    """Wave-2 extension operators: the scale-critical plan properties.

    * bloom semi-join: the 1024-word filter is a BROADCAST join on the
      probe side (never a shuffle of the fact), and no cartesian.
    * proration: all three windows share ONE exchange on l_orderkey.
    * prefix filter: no CartesianProduct — candidates come from the
      prefix-token equi-join, and no row-at-a-time Python anywhere.
    * global shuffle: the in-shard rank partitions by shard_id (hash
      exchange), never a global sort of the corpus.
    """
    from investcloud_data_pipeline_spark.operators.setsim import (
        prefix_filter_jaccard_pairs,
        seeded_shuffle_assignment,
    )
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        bloom_filter_semi_join,
        order_proration_largest_remainder,
    )

    plan = _plan(bloom_filter_semi_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(order_proration_largest_remainder(spark, sf_dir))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan  # join + the shared window exchange
    assert "BatchEvalPython" not in plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(prefix_filter_jaccard_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = _plan(seeded_shuffle_assignment(docs))
    assert "Exchange hashpartitioning(shard_id" in plan
    # rank sorts within shard partitions only — no global (rangepartitioning) sort
    assert "rangepartitioning" not in plan


def test_wave3_wave4_plan_shapes(spark, sf_dir):
    """Wave-3/4 operators: the scale-critical plan properties.

    * streaks: exactly TWO hash exchanges — the map-combined distinct
      on (user_id, day), then the user window over the ALREADY
      COLLAPSED relation. (A single repartition(user_id) would be one
      exchange but moves every raw row; the distinct's partial
      aggregation makes the two-exchange plan the cheaper one at scale.)
    * link prediction: top-k is TakeOrderedAndProject (never a global
      sort), no cartesian, no Python.
    * MG heavy hitters: the exact-verify join is BROADCAST (the raw key
      space is never shuffled), and the candidate pass is the only
      Python node (ArrowEvalPython/MapInPandas, never BatchEvalPython).
    * OLS: zero joins, zero windows — one aggregate, no exchange beyond
      the group-by's own.
    * chi-square: marginals ride broadcast joins; the only hash
      exchange of fact rows is the cell aggregate.
    """
    from investcloud_data_pipeline_spark.plans.analytics_ext3 import (
        copurchase_link_prediction,
        lineitem_ols_price,
        user_activity_streaks,
    )
    from investcloud_data_pipeline_spark.plans.analytics_ext4 import (
        customer_segment_nation_chisq,
        event_heavy_hitters_mg,
    )

    plan = _plan(user_activity_streaks(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BatchEvalPython" not in plan

    plan = _plan(copurchase_link_prediction(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    plan = _plan(event_heavy_hitters_mg(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan

    plan = _plan(lineitem_ols_price(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan

    plan = _plan(customer_segment_nation_chisq(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_wave5_wave6_plan_shapes(spark, sf_dir):
    """Wave-5/6 operators: the scale-critical plan properties.

    * PQ: the 16-center codebook joins as a broadcast nested loop (a
      16-row cross join), never a shuffled join of the vectors; exactly
      ONE hash exchange (the per-vector regroup); no Python.
    * cohort LTV: the cohort-size join is broadcast; the cumulative
      window partitions by cohort (no global sort).
    * seasonality: the total rides a broadcast 1-row fold — one hash
      exchange of fact rows (the cell aggregate).
    * interarrival: one hash exchange (the event_type window); the
      per-type aggregate reuses it.
    """
    from investcloud_data_pipeline_spark.plans.analytics_ext5 import (
        embedding_pq_codes,
    )
    from investcloud_data_pipeline_spark.plans.analytics_ext6 import (
        customer_cohort_ltv,
        event_hourly_seasonality,
        event_interarrival_stats,
    )

    # round-12: the query consumes the session PQ store, so the
    # consumer plan is a projection over the store's checkpoint leaf
    # (zero exchanges); the codebook-assignment shape assertions move
    # to the store's BUILD plan (_pq_best over the broadcast codebook).
    plan = _plan(embedding_pq_codes(spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange") == 0, plan
    from investcloud_data_pipeline_spark.plans.analytics_ext5 import (
        _pq_best,
        _pq_centers,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    build = _plan(_pq_best(emb, _pq_centers(emb)))
    assert "BroadcastNestedLoopJoin" in build
    assert build.count("Exchange hashpartitioning") == 1, build
    assert "BatchEvalPython" not in build and "ArrowEvalPython" not in build

    plan = _plan(customer_cohort_ltv(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan

    plan = _plan(event_hourly_seasonality(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan

    plan = _plan(event_interarrival_stats(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_curriculum_approx_has_no_single_partition_window(spark, sf_dir):
    """Round-7 verdict task #2: the approximate-bin curriculum path must
    plan with NO single-partition exchange anywhere — percentile_approx
    edges (mergeable sketch: partial_percentile_approx then one final
    merge) + broadcast bin assignment replace exact ntile's global sort.
    The exact variant's SinglePartition funnel is asserted too, so this
    test also documents WHY the approx path exists."""
    from investcloud_data_pipeline_spark.plans.analytics_ext5 import (
        corpus_curriculum_bins_approx,
        corpus_curriculum_order,
        corpus_curriculum_order_approx,
    )

    exact = _plan(corpus_curriculum_order(spark, sf_dir))
    assert "SinglePartition" in exact  # the documented exact-path funnel
    assert "ntile(" in exact

    for fn in (corpus_curriculum_order_approx, corpus_curriculum_bins_approx):
        plan = _plan(fn(spark, sf_dir))
        assert "ntile(" not in plan, plan
        assert "percentile_approx" in plan  # the sketch actually engaged
        assert "BatchEvalPython" not in plan
        # Every SinglePartition exchange must be the sketch's final
        # merge (one row of partial sketch state per map task) — NEVER
        # a funnel of data rows into a global Sort/Window. The child of
        # an Exchange prints on the following line.
        # Every SinglePartition exchange must feed from a map-side
        # (partial) aggregate — i.e. it moves ONE row per map task of
        # sketch/count state, never data rows into a global Sort or
        # WindowExec (the exact-ntile funnel this path exists to avoid).
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" in line:
                child = lines[i + 1]
                assert "HashAggregate" in child, plan
                assert "Sort" not in child and "Window" not in child, plan
        # the per-document window rides a partitioned exchange
        if "Window" in plan:
            assert "Exchange hashpartitioning(curriculum_bin" in plan, plan


def test_decile_lift_approx_has_no_single_partition_window(spark, sf_dir):
    """Round-8 verdict task #2: the decile-lift family gets the same
    scale-safe twin as the curriculum — text_quality_decile_lift_approx
    must plan with percentile_approx sketch edges and NO
    single-partition data funnel (the exact twin's global ntile(10) is
    the documented strict-oracle form)."""
    from investcloud_data_pipeline_spark.plans.training_data import (
        text_quality_decile_lift,
        text_quality_decile_lift_approx,
    )

    exact = _plan(text_quality_decile_lift(spark, sf_dir))
    assert "SinglePartition" in exact  # the documented exact-path funnel
    assert "ntile(" in exact

    plan = _plan(text_quality_decile_lift_approx(spark, sf_dir))
    assert "ntile(" not in plan, plan
    assert "percentile_approx" in plan, plan
    assert "BatchEvalPython" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            child = lines[i + 1]
            assert "HashAggregate" in child, plan
            assert "Sort" not in child and "Window" not in child, plan


def test_incremental_dedup_probes_bucketed_index_without_base_exchange(
    spark, tmp_path
):
    """The incremental-dedup posture claim, executed on the pair step
    the streaming pair-ingest stage runs: with the base band relation
    STORED as a table bucketed on (band_idx, band_key),
    incremental_band_pairs' delta-vs-base probe plans with no shuffle
    on the base side — the stored index is the dedup state, per-batch
    cost is the delta's bands plus matched buckets — and its pairs equal
    the batch minhash_incremental_candidates on the same split."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        _exact_groups,
        incremental_band_pairs,
        minhash_band_relation,
        minhash_incremental_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"word{i % 7} token{i % 5} filler{i % 3} pad{i % 2} x y z")
         for i in range(60)],
        "doc_id long, text string",
    )
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    caches: list = []
    base_rep, base_members = _exact_groups(base, "text", "doc_id", caches)
    delta_rep, delta_members = _exact_groups(delta, "text", "doc_id", caches)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            minhash_band_relation(base_rep), "t_dedup_index_b",
            ["band_idx", "band_key"], num_buckets=4,
        )
        pairs = incremental_band_pairs(
            minhash_band_relation(delta_rep).localCheckpoint(eager=True),
            spark.table("t_dedup_index_b"),
            base_members.unionByName(delta_members),
        )
        plan = _plan(pairs)
        # the stored side scans its buckets directly: the branch between
        # its Sort and the bucketed scan contains no Exchange
        assert "SelectedBucketsCount" in plan, plan
        scans = [ln for ln in plan.splitlines() if "t_dedup_index_b" in ln]
        assert len(scans) == 1, plan
        scan_at = plan.index("t_dedup_index_b")
        last_sort = plan[:scan_at].rfind("Sort [band_idx")
        assert last_sort != -1, plan
        assert "Exchange" not in plan[last_sort:scan_at], plan
        got = sorted(map(tuple, pairs.collect()))
        assert got
        assert got == sorted(
            map(tuple, minhash_incremental_candidates(base, delta).collect())
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_dedup_index_b")
        for cached in caches:
            cached.unpersist()


def test_user_event_paths_two_exchanges(spark, sf_dir):
    """Session path mining shares ONE user_id hash partitioning across
    the sessionize window, the per-session step window, and the
    per-session assembly agg (HashPartitioning(user_id) satisfies every
    (user_id, session_seq) clustered distribution), so the whole plan
    carries exactly two shuffles: user_id, then the final path count.
    The step<=5 filter must also compile to a WindowGroupLimit heap."""
    from investcloud_data_pipeline_spark.plans import mining as MN

    plan = _plan(MN.user_event_paths(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan
    assert "WindowGroupLimit" in plan
