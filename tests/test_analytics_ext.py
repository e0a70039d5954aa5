"""Unit tests for the wave-2 analytics extensions: largest-remainder
proration, Pareto frontier, bloom-filter semi-join, prefix-filter exact
set-similarity join, bounded multi-source BFS, RAKE keywords, and the
seeded global shuffle — crafted inputs with hand-computed expected
values plus the operators' defining invariants on real test data."""

from __future__ import annotations

from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.operators.graph import bounded_bfs
from investcloud_data_pipeline_spark.operators.setsim import (
    prefix_filter_jaccard_pairs,
    seeded_shuffle_assignment,
)
from investcloud_data_pipeline_spark.plans.analytics_ext import (
    bloom_filter_semi_join,
    corpus_global_shuffle,
    order_proration_largest_remainder,
    part_pareto_frontier,
    text_rake_keywords,
)


# ---------- largest-remainder proration ----------

def test_proration_sums_exactly_to_header_total(spark, sf_dir):
    alloc = order_proration_largest_remainder(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("total_cents"),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("s")
    )
    bad = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .filter(F.col("s") != F.col("total_cents"))
        .count()
    )
    assert bad == 0
    assert alloc.filter(F.col("alloc_cents") < 0).count() == 0


def test_proration_known_split(spark):
    # 100 cents over weights (1.00, 1.00, 1.00): raw shares 33.33…,
    # floor 33 each, 1 leftover cent goes to the lowest line number.
    li = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0)],
        "l_orderkey long, l_linenumber int, l_extendedprice double",
    )
    o = spark.createDataFrame([(1, 1.0)], "o_orderkey long, o_totalprice double")
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: {  # noqa: ARG005
            "lineitem": li,
            "orders": o,
        }[name]
        out = {
            (r.l_linenumber): r.alloc_cents
            for r in AX.order_proration_largest_remainder(spark, "x").collect()
        }
    finally:
        AX.load_table = orig
    assert out == {1: 34, 2: 33, 3: 33}


# ---------- Pareto frontier ----------

def test_pareto_matches_bruteforce(spark, sf_dir):
    frontier = {
        r.p_partkey for r in part_pareto_frontier(spark, sf_dir).collect()
    }
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    )
    expected = set()
    for a in parts:
        dominated = any(
            b.p_retailprice <= a.p_retailprice
            and b.p_size >= a.p_size
            and (b.p_retailprice < a.p_retailprice or b.p_size > a.p_size)
            for b in parts
        )
        if not dominated:
            expected.add(a.p_partkey)
    assert frontier == expected


# ---------- bloom-filter semi-join ----------

def test_bloom_invariants(spark, sf_dir):
    rows = bloom_filter_semi_join(spark, sf_dir).collect()
    assert rows, "expected at least one order status group"
    for r in rows:
        assert r.no_false_negatives, "bloom must never drop a true match"
        assert r.n_pass_bloom >= r.n_true_match
        assert r.n_false_pos == r.n_pass_bloom - r.n_true_match
        assert 0 <= r.n_pass_bloom <= r.n_orders


# ---------- prefix-filter exact set-similarity join ----------

def test_prefix_filter_equals_bruteforce(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.id1, r.id2): r.n_common
        for r in prefix_filter_jaccard_pairs(docs, n=3, num=1, den=2).collect()
    }
    # independent brute force: join on ALL shared shingles, count, and
    # apply the identical integer threshold
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        shingle_relation,
    )

    ex = shingle_relation(docs)
    sh_sizes = ex.groupBy("id").agg(F.count("*").alias("n"))
    common = (
        ex.alias("a")
        .join(ex.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sh_sizes.select(F.col("id").alias("id1"), F.col("n").alias("n1"))
    s2 = sh_sizes.select(F.col("id").alias("id2"), F.col("n").alias("n2"))
    brute = (
        common.join(s1, "id1")
        .join(s2, "id2")
        .filter(
            2 * F.col("n_common")
            >= F.col("n1") + F.col("n2") - F.col("n_common")
        )
    )
    expected = {
        (r.id1, r.id2): r.n_common for r in brute.collect()
    }
    assert got == expected
    assert len(got) > 0


def test_prefix_filter_boundary_is_integer_exact(spark):
    # Docs sharing exactly half their shingle union must be KEPT
    # (threshold is >=): A has shingles {x,y}, B has {x,z} -> J = 1/3
    # < 1/2 drop; C/D share 2 of union 4 -> J = 1/2 keep. Build docs
    # whose 3-shingle sets realize those ratios: short docs of <= 3
    # tokens produce a single whole-doc shingle, so craft with 4-token
    # docs sharing a 3-token window.
    a = "alpha beta gamma delta"      # shingles: {a b g, b g d}
    b = "alpha beta gamma epsilon"    # shingles: {a b g, b g e}
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = prefix_filter_jaccard_pairs(df, n=3, num=1, den=2).collect()
    # intersection {a b g} = 1, union = 3 -> J = 1/3: dropped
    assert rows == []
    rows2 = prefix_filter_jaccard_pairs(df, n=3, num=1, den=3).collect()
    # threshold 1/3: kept, boundary inclusive
    assert [(r.id1, r.id2, r.n_common) for r in rows2] == [(1, 2, 1)]


# ---------- bounded BFS ----------

def test_bounded_bfs_distances_and_truncation(spark):
    # path 1-2-3-4-5-6-7 plus a triangle 1-10-11 and an island 99-100
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
            (1, 10), (10, 11), (11, 1),
            (99, 100),
        ],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.hops
        for r in bounded_bfs(edges, seeds, max_hops=4).collect()
    }
    assert got == {
        1: 0, 2: 1, 10: 1, 11: 1, 3: 2, 4: 3, 5: 4,
    }  # 6 is 5 hops away -> truncated; island unreachable


def test_bounded_bfs_multi_source_min(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {
        r.node: r.hops
        for r in bounded_bfs(edges, seeds, max_hops=4).collect()
    }
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_copurchase_bfs_hops_leaves_no_cached_relation(spark, sf_dir):
    """The registry BFS reads the co-purchase pair store (already a
    checkpoint) without persisting a second copy that lives for the
    rest of the session."""
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        copurchase_bfs_hops,
    )
    from investcloud_data_pipeline_spark.plans.mining import (
        pair_counts_cached,
    )

    sc = spark.sparkContext
    pair_counts_cached(spark, sf_dir)
    before = sc._jsc.getPersistentRDDs().size()
    rows = copurchase_bfs_hops(spark, sf_dir).collect()
    assert rows
    assert sc._jsc.getPersistentRDDs().size() == before


# ---------- RAKE ----------

def test_rake_scores_hand_computed(spark):
    # One en doc: "deep learning of deep networks" with stopword "of"
    # -> phrases "deep learning", "deep networks".
    # freq: deep 2, learning 1, networks 1; degree: deep 4 (two
    # 2-phrases), learning 2, networks 2.
    # wscore: deep 2.0, learning 2.0, networks 2.0
    # phrase scores: both 4.0; tie broken alphabetically.
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    docs = spark.createDataFrame(
        [(1, "deep learning of deep networks", "en", "s", 30)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: docs  # noqa: ARG005
        rows = AX.text_rake_keywords(spark, "x").collect()
    finally:
        AX.load_table = orig
    assert [(r.phrase, r.n_words, r.n_occurrences, r.score) for r in rows] == [
        ("deep learning", 2, 1, 4.0),
        ("deep networks", 2, 1, 4.0),
    ]


def test_rake_topk_on_corpus(spark, sf_dir):
    rows = text_rake_keywords(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


# ---------- seeded global shuffle ----------

def test_shuffle_assignment_properties(spark, sf_dir):
    out = corpus_global_shuffle(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(out) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r.shard_id < 16
        by_shard.setdefault(r.shard_id, []).append(r.shard_pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_shuffle_epoch_seed_reshuffles(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    e1 = {
        r.doc_id: (r.shard_id, r.shard_pos)
        for r in seeded_shuffle_assignment(docs, epoch_seed="ep1").collect()
    }
    e2 = {
        r.doc_id: (r.shard_id, r.shard_pos)
        for r in seeded_shuffle_assignment(docs, epoch_seed="ep2").collect()
    }
    assert e1.keys() == e2.keys()
    assert any(e1[k] != e2[k] for k in e1), "new epoch seed must reshuffle"
    # determinism: same seed, same assignment
    e1b = {
        r.doc_id: (r.shard_id, r.shard_pos)
        for r in seeded_shuffle_assignment(docs, epoch_seed="ep1").collect()
    }
    assert e1 == e1b


# ---------- IVM join delta ----------

def test_ivm_delta_plus_base_equals_full(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        _IVM_SPLIT,
        ivm_join_delta,
    )

    delta = ivm_join_delta(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = o.join(l, o.o_orderkey == l.l_orderkey)
    full = j.groupBy("o_orderstatus", "l_returnflag").agg(
        F.count("*").alias("n_full")
    )
    base = (
        j.filter(
            (F.col("o_orderdate") < F.expr(f"timestamp'{_IVM_SPLIT}'"))
            & (F.col("l_shipdate") < F.expr(f"timestamp'{_IVM_SPLIT}'"))
        )
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(F.count("*").alias("n_base"))
    )
    merged = (
        full.join(base, ["o_orderstatus", "l_returnflag"], "left")
        .join(delta, ["o_orderstatus", "l_returnflag"], "left")
        .select(
            F.col("n_full"),
            (
                F.coalesce(F.col("n_base"), F.lit(0))
                + F.coalesce(F.col("n_delta_rows"), F.lit(0))
            ).alias("n_sum"),
        )
    )
    assert merged.filter(F.col("n_full") != F.col("n_sum")).count() == 0
    assert delta.count() > 0


# ---------- mutual information ----------

def test_mi_zero_under_independence_and_positive_total(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    # independent 2x2 contingency (25 each) -> every pmi exactly 0
    rows = [
        (i, p, s)
        for i, (p, s) in enumerate(
            (p, s) for p in ("HI", "LO") for s in ("A", "B") for _ in range(25)
        )
    ]
    o = spark.createDataFrame(
        [(i, p, s) for i, p, s in rows],
        "o_orderkey long, o_orderpriority string, o_orderstatus string",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: o  # noqa: ARG005
        out = AX.orders_priority_status_mi(spark, "x").collect()
    finally:
        AX.load_table = orig
    assert len(out) == 4
    assert all(r.pmi == 0.0 and r.mi_contrib == 0.0 for r in out)

    # real data: MI (sum of contribs) must be >= 0 up to rounding
    real = AX.orders_priority_status_mi(spark, sf_dir).agg(
        F.sum("mi_contrib").alias("mi")
    ).collect()[0]
    assert real.mi >= -1e-6


# ---------- business days ----------

def test_business_days_hand_computed(spark):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX
    import datetime as dt

    # 2024-01-05 is a Friday. Ship on Tuesday 2024-01-09:
    # counted days are Sat 6, Sun 7, Mon 8, Tue 9 -> 2 business days.
    # Negative span -> 0.
    o = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5)), (2, dt.datetime(2024, 1, 5))],
        "o_orderkey long, o_orderdate timestamp",
    )
    l = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 9)), (2, dt.datetime(2024, 1, 2))],
        "l_orderkey long, l_shipdate timestamp",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: {  # noqa: ARG005
            "orders": o,
            "lineitem": l,
        }[name]
        out = AX.lineitem_business_days(spark, "x").collect()
    finally:
        AX.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r.order_month == "2024-01"
    assert r.n_lines == 2
    assert r.total_biz_days == 2  # 2 + 0
    assert r.max_biz_days == 2


# ---------- quantile histogram sketch ----------

def test_quantile_histogram_accuracy_and_uniform_case(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    rows = AX.event_value_quantile_histogram(spark, sf_dir).collect()
    assert {r.q for r in rows} == {0.5, 0.9, 0.99}
    assert all(r.within_two_bins for r in rows)
    ests = {r.q: r.est for r in rows}
    assert ests[0.5] <= ests[0.9] <= ests[0.99]  # monotone quantiles


# ---------- sliding-window distinct users ----------

def test_sliding_week_distinct_counts_each_user_once(spark):
    import datetime as dt

    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    # user 1 active on day 1 AND day 3 -> any window covering both
    # still counts them once; user 2 active on day 3 only.
    e = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 3, 1, 10), 1),
            (2, dt.datetime(2024, 3, 3, 11), 1),
            (3, dt.datetime(2024, 3, 3, 12), 2),
        ],
        "event_id long, ts timestamp, user_id long",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: e  # noqa: ARG005
        out = {
            r.window_end.isoformat(): r.n_distinct_users
            for r in AX.sliding_week_distinct_users(spark, "x").collect()
        }
    finally:
        AX.load_table = orig
    # windows end at most at max(day) = Mar 3
    assert out == {"2024-03-01": 1, "2024-03-02": 1, "2024-03-03": 2}


# ---------- trigram fuzzy lookup ----------

def test_trigram_lookup_finds_typo_target(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        part_trigram_fuzzy_lookup,
    )

    rows = part_trigram_fuzzy_lookup(spark, sf_dir).collect()
    assert rows, "query must match at least one part"
    # "smal ribg" is a typo of "small ring": the true target must rank
    # first among all part names
    assert rows[0].p_name == "small ring"
    sims = [r.similarity for r in rows]
    assert sims == sorted(sims, reverse=True)


# ---------- seasonal index ----------

def test_seasonal_index_sums_to_twelve(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        orders_seasonal_index,
    )

    rows = orders_seasonal_index(spark, sf_dir).collect()
    assert len(rows) == 12
    assert abs(sum(r.seasonal_index for r in rows) - 12.0) < 1e-3


# ---------- MAD ----------

def test_mad_hand_computed(spark):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    o = spark.createDataFrame(
        [(1, "O", 1.0), (2, "O", 2.0), (3, "O", 3.0), (4, "O", 100.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: o  # noqa: ARG005
        r = AX.orders_value_mad(spark, "x").collect()[0]
    finally:
        AX.load_table = orig
    # median of {1,2,3,100} = 2.5; deviations {1.5,.5,.5,97.5} -> MAD 1.0
    assert r.n_orders == 4
    assert r.median_price == 2.5
    assert r.mad_price == 1.0


# ---------- burst detection ----------

def test_burst_window_hand_computed(spark):
    import datetime as dt

    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        # user 1: three events within 10 min, one far away
        (1, base, 1),
        (2, base + dt.timedelta(minutes=4), 1),
        (3, base + dt.timedelta(minutes=9), 1),
        (4, base + dt.timedelta(hours=5), 1),
        # user 2: two events exactly 600s apart -> inclusive frame -> burst 2
        (5, base, 2),
        (6, base + dt.timedelta(seconds=600), 2),
    ]
    e = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: e  # noqa: ARG005
        out = {
            r.user_id: (r.n_events, r.max_burst_10min)
            for r in AX.event_burst_max_10min(spark, "x").collect()
        }
    finally:
        AX.load_table = orig
    assert out == {1: (4, 3), 2: (2, 2)}


# ---------- Benford ----------

def test_benford_shares_and_chi2(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        lineitem_benford_digits,
    )

    rows = lineitem_benford_digits(spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.expected_share for r in rows) - 1.0) < 1e-3
    assert all(r.chi2_contrib >= 0 for r in rows)


# ---------- Zipf ----------

def test_zipf_slope_negative(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import text_zipf_fit

    r = text_zipf_fit(spark, sf_dir).collect()[0]
    assert r.n_vocab > 10
    assert r.zipf_slope < 0, "rank-frequency slope must be negative"


# ---------- label centroids ----------

def test_label_centroids_hand_computed(spark):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    # label 0 vectors average to (1, 0); label 1 averages to (0, 2):
    # centroid cosine = 0. label 2 averages to (2, 0): cosine with
    # label 0 = 1.
    emb = spark.createDataFrame(
        [
            (1, [2.0, 0.0], 0),
            (2, [0.0, 0.0], 0),
            (3, [0.0, 1.0], 1),
            (4, [0.0, 3.0], 1),
            (5, [2.0, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: emb  # noqa: ARG005
        out = {
            (r.label1, r.label2): r.centroid_cosine
            for r in AX.embedding_label_centroids(spark, "x").collect()
        }
    finally:
        AX.load_table = orig
    assert out == {(0, 1): 0.0, (0, 2): 1.0, (1, 2): 0.0}


# ---------- CUSUM changepoint ----------

def test_changepoint_finds_level_shift(spark):
    import datetime as dt

    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    # 10 days at 100, then 10 days at 200: CUSUM |S_k| peaks at the
    # last low day (day 10)
    rows = []
    k = 1
    for i in range(10):
        rows.append((k, dt.datetime(2024, 1, 1 + i), 100.0)); k += 1
    for i in range(10):
        rows.append((k, dt.datetime(2024, 1, 11 + i), 200.0)); k += 1
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: o  # noqa: ARG005
        r = AX.orders_revenue_changepoint(spark, "x").collect()[0]
    finally:
        AX.load_table = orig
    assert r.change_day == dt.date(2024, 1, 10)
    assert r.n_days == 20
    # S_10 = 10*100 - 10*150 = -500
    assert r.cusum_stat == 500.0


# ---------- behavioral entropy ----------

def test_entropy_hand_computed(spark):
    import datetime as dt
    import math

    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    ts = dt.datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [
            # user 1: 2 types, 50/50 -> H = ln 2, norm = 1
            (1, ts, 1, "a", 0.0, "{}"),
            (2, ts, 1, "b", 0.0, "{}"),
            # user 2: single type -> H = 0, norm = 0
            (3, ts, 2, "a", 0.0, "{}"),
            (4, ts, 2, "a", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: e  # noqa: ARG005
        out = {
            r.user_id: (r.n_events, r.n_types, r.entropy, r.norm_entropy)
            for r in AX.event_user_entropy(spark, "x").collect()
        }
    finally:
        AX.load_table = orig
    assert out[2] == (2, 1, 0.0, 0.0)
    n1 = out[1]
    assert n1[0] == 2 and n1[1] == 2
    assert abs(n1[2] - math.log(2)) < 1e-6
    assert abs(n1[3] - 1.0) < 1e-6


# ---------- readability ----------

def test_flesch_hand_computed(spark):
    from investcloud_data_pipeline_spark.plans import analytics_ext as AX

    # 6 one-syllable words, 2 sentences:
    # FRE = 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran.", "en", "s1", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = AX.load_table
    try:
        AX.load_table = lambda spark, d, name: docs  # noqa: ARG005
        r = AX.text_readability_fk(spark, "x").collect()[0]
    finally:
        AX.load_table = orig
    assert r.source == "s1" and r.n_docs == 1
    assert abs(r.avg_flesch - 119.19) < 1e-6
    assert r.avg_flesch == r.min_flesch


# ---------- power-law degree fit ----------

def test_powerlaw_tail_guard_and_range(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.analytics_ext import (
        copurchase_degree_powerlaw,
    )

    r = copurchase_degree_powerlaw(spark, sf_dir).collect()[0]
    assert r.n_tail >= 0
    # alpha is either undefined (degenerate tail: all degrees == d_min)
    # or a Hill exponent strictly above 1
    assert r.alpha is None or r.alpha > 1.0
