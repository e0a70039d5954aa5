"""Training-data pipeline queries: dedup family, similarity search, text
analysis — over the driver's ``documents`` and ``embeddings`` tables.

Oracle convention: the DuckDB SQL re-states the *identical* computation —
same normalization regex, same md5-based hashing, same double-precision
left-to-right vector math (verified bit-exact) — so value-hash comparison
is strict, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup_fuzzy as DF
from ..operators import multimodal as MM
from ..operators import simsearch as SS
from ..operators import text as TX
from ..sources.batch import load_table
from ..stores import session_store

# Shared DuckDB fragments — the SQL mirror of functions/text.py.
NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
SHINGLES_CTE = f"""
docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)])
         END AS shingles
  FROM toks
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` widened to the session's cores for the HEAVY
    multimodal codec kernels (round-12, guide §2.5 input skew): the
    committed fixture is a single-row-group parquet — ONE scan task —
    and PNG encode/decode cost is per-ROW Python work, so without the
    widening the whole codec pass serializes on one core. The kernels
    are row-pure (each output row is a function of its input row
    alone), so results are partition-invariant; aggregations downstream
    are all keyed. When the file carries enough row groups to feed the
    cores (the production layout), no repartition is added.

    Scope (measured, round-12): only the PNG-pipeline queries
    (thumbnail 1.53→0.95s, image_patches 1.54→0.84s, phash banding) and
    the nibble-histogram keep the widening; the WAV family and the
    cheap binary meta/frame kernels route through plain ``_docs`` —
    their per-row work is light enough that the repartition + 32-worker
    fan-out is overhead-dominated (interleaved A/B: wav_features 0.80
    narrow vs 0.74 wide on a quiet host, i.e. inside noise, while under
    host steal the wide form amplified to 2.1–2.4× its frozen
    baseline on two independent bench runs)."""
    from ..sources.batch import _parquet_layout

    d = _docs(spark, sf_dir)
    rows, row_groups = _parquet_layout(f"{sf_dir}/documents.parquet")
    cpus = spark.sparkContext.defaultParallelism
    if rows and row_groups < cpus:
        return d.repartition(cpus)
    return d


# The Jaccard candidate-pair build is the shared upstream artifact of
# the whole near-dup family (pairs → components → clean pipeline →
# triangle stats). In production it is computed once and written; here
# the session store gives the same write-once economics — every family
# member after the first reuses the materialized frame. The eager
# localCheckpoint below is non-reliable by design: blocks lost on
# executor loss are not recomputable, so the stored frame MUST NOT
# outlive its session — which the store's session key guarantees.
@session_store
def jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint, not persist: the duplicate-collapse armor made
    # the pair lineage LARGE, and downstream consumers that reference
    # this frame several times (the triangle query's two broadcast
    # probe sides) re-ANALYZE that whole subtree per reference even
    # though execution reads the cache — measured 0.42s -> 1.2s on
    # dedup_triangle_stats from planning alone. The eager checkpoint
    # collapses the plan to an RDD scan (the relation is
    # thresholded-pair tiny), so every consumer plans against a leaf.
    return DF.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.5,
        store=shingles_cached(spark, sf_dir),
    ).localCheckpoint(eager=True)


# Deterministic-fit stores (round-12, guide §2.4 — the build-once
# economics applied to driver-side model fits): the seeded k-means
# centers and the PCA model are PURE functions of (table, params) —
# same collect, same Lloyd/eigensolve, same floats — so re-fitting per
# execution only re-pays the collect + fit jobs. Returns the identical
# in-memory object, so consumer results are unchanged by construction.
@session_store
def seeded_centers_cached(spark: SparkSession, sf_dir: str):
    """k=8, seed=42 k-means centers of ``embeddings`` (None above the
    driver-fit guard)."""
    from ..functions.vectors import seeded_kmeans_centers

    return seeded_kmeans_centers(
        _emb(spark, sf_dir), "embedding", k=8, seed=42
    )


@session_store
def pca_model_cached(spark: SparkSession, sf_dir: str):
    """k=8 PCA model of ``embeddings``."""
    from ..operators.pca import pca_fit

    return pca_fit(_emb(spark, sf_dir), "embedding", k=8)


# ExactSubstr upstream (round-12, guide §2.4): the tokenizer barrier
# and the k=8 window-hash explode are the shared upstream of the whole
# span family (repeated spans / strip / keep-first) — O(total tokens)
# rows each, rebuilt per query before. Consumers differ only in their
# occurrence filter, so results are identical by construction (pinned
# by test_span_store_path_identical).
@session_store
def tokenized_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DF.tokenized(_docs(spark, sf_dir)).localCheckpoint(eager=True)


@session_store
def span_windows_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, n_tokens, pos, gh) k=8 window digests over the tokenizer
    barrier — the with_len form serves every family member (keep-first
    projects the length away)."""
    return DF._kgram_windows(
        tokenized_cached(spark, sf_dir), 8, with_len=True
    ).localCheckpoint(eager=True)


@session_store
def shingles_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """The (rep_shingles, members) pair from
    ``operators/dedup_fuzzy.py::shingle_store`` — exact-dup collapse +
    distinct word-3-gram explode of the representatives, materialized
    ONCE and consumed by every inverted-index pair plan (the jaccard
    pair build, containment, prefix filtering). In production both
    relations are written at ingest beside the corpus. Eager
    localCheckpoint like ``jaccard_pairs_cached`` (rep_shingles is
    |distinct contents|×|shingles| narrow rows; members is id-pair
    thin)."""
    ex, members = DF.shingle_store(_docs(spark, sf_dir), n=3)
    return (
        ex.localCheckpoint(eager=True),
        members.localCheckpoint(eager=True),
    )


@session_store
def minhash_sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature store: (__digest, mh_0..mh_11) per distinct
    normalized content (``minhash_sig_lookup``), materialized ONCE and
    joined by every MinHash consumer (signatures query, full-corpus LSH
    banding, incremental base+delta banding, the sketch-accuracy
    ledger). In production this is a persisted table written at ingest
    — a signature is a pure function of the text, so recomputing the
    tokenize/shingle/12×md5 pipeline per query is pure waste. Eager
    localCheckpoint: the store is |distinct contents| × 13 narrow
    columns — leaf-scan tiny."""
    return DF.minhash_sig_lookup(
        _docs(spark, sf_dir), n=3, num_hashes=_NUM_HASHES
    ).localCheckpoint(eager=True)


@session_store
def components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) for the near-dup pair graph, computed ONCE per
    session/sf and persisted — the write-once economics of a production
    pipeline, where the component relation is a shared artifact of the
    whole canonicalization family (components query, clean pipeline,
    keep-best-quality, full curation); the iterative CC job never
    reruns."""
    from ..operators.graph import connected_components

    return connected_components(
        jaccard_pairs_cached(spark, sf_dir), src="id1", dst="id2"
    ).persist()


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# The embedding cosine family (exact pairs, blocked-matmul twin,
# mutual-kNN clustering) all start from the same guarded driver
# collect of (vec_id, embedding); each rebuilding it independently is
# three identical count/first/collect job chains per bench session
# (round-12 verdict task #1 — the r11 bench pair over the 2x bar was
# adjudicated host-steal noise, but sharing the collect removes the
# exposure).
@session_store
def emb_rows_cached(spark: SparkSession, sf_dir: str) -> list:
    from ..functions.vectors import collect_vectors_guarded

    return collect_vectors_guarded(
        _emb(spark, sf_dir), "vec_id", "embedding", what="near-dup corpus"
    )


# The exact near-dup pair relation itself is ALSO a shared upstream
# artifact (dedup_embedding_cosine emits it; dedup_mutual_knn_clusters
# consumes it twice via the symmetric union).
@session_store
def embedding_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DF.embedding_near_dup_pairs(
        _emb(spark, sf_dir),
        threshold=0.35,
        rows=emb_rows_cached(spark, sf_dir),
    ).localCheckpoint(eager=True)


# ---------- dedup family ----------

def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DF.exact_dedup(_docs(spark, sf_dir))


DEDUP_EXACT_DOCUMENTS_SQL = f"""
SELECT md5({NORM_SQL}) AS digest,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs_cached(spark, sf_dir)


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2,
       round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
"""

def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/subset leakage detection: shingle overlap coefficient
    |A∩B|/min(|A|,|B|) ≥ 0.9 (operators/dedup_fuzzy.py::
    ngram_containment_pairs). Catches short docs embedded verbatim in
    long ones, which Jaccard-threshold dedup structurally misses."""
    return DF.ngram_containment_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.9,
        store=shingles_cached(spark, sf_dir),
    )


DEDUP_NGRAM_CONTAINMENT_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, n_common,
       round(n_common / least(s1.n_sh, s2.n_sh), 6) AS containment
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE round(n_common / least(s1.n_sh, s2.n_sh), 6) >= 0.9
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: Jaccard candidate pairs → distributed
    connected components (operators/graph.py) → (doc_id, component).
    Oracle: the same pair SQL closed transitively with a recursive CTE."""
    return components_cached(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2
  FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
"""


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``dedup_components`` but via the alternating
    large-star/small-star contraction (O(log^2 n) rounds independent of
    graph diameter) — the 100 TB path for arbitrary pair graphs. Same
    recursive-CTE oracle: both algorithms must produce identical
    (doc_id, component) labelings."""
    from ..operators.graph import connected_components_star

    pairs = jaccard_pairs_cached(spark, sf_dir)
    return (
        connected_components_star(pairs, src="id1", dst="id2")
        .select(F.col("node").alias("doc_id"), "component")
    )


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bpe_token_count(_docs(spark, sf_dir))


TEXT_BPE_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_pieces,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_word_pieces,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_pieces,
       CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_other_pieces
FROM documents
"""


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: corpus-trained word-bigram LM with
    add-one smoothing, every document scored by avg -ln p of its
    bigrams. Oracle restates the identical counts + ln arithmetic."""
    return TX.bigram_lm_score(_docs(spark, sf_dir))


TEXT_LM_PERPLEXITY_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
tok_pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM toks
),
inst AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM tok_pos a JOIN tok_pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bc AS (SELECT w1, w2, count(*) AS b_cnt FROM inst GROUP BY 1, 2),
uc AS (SELECT w1, count(*) AS u_cnt FROM inst GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v FROM tok_pos),
model AS (
  SELECT w1, w2, ln((b_cnt + 1.0) / (u_cnt + (SELECT v FROM v))) AS logp
  FROM bc JOIN uc USING (w1)
),
nll AS (
  SELECT doc_id, count(*) AS n_bigrams, avg(-logp) AS a
  FROM inst JOIN model USING (w1, w2) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(a, 6) AS avg_nll,
       round(exp(a), 4) AS ppl
FROM documents d LEFT JOIN nll USING (doc_id)
"""


def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (sub-document) dedup profile: documents are split
    into fixed 20-word chunks and exact-deduped BY CHUNK across the
    corpus — the finer-grained pass that catches boilerplate shared
    between otherwise-distinct documents (doc-level exact dedup misses
    it). Output: per source, chunk totals and the duplicate ratio.

    Scale: chunking is a narrow explode (fan-out = words/20 per doc);
    the dedup is one groupBy on an md5 chunk digest — uniform keys,
    map-side partials. Same shuffle economics as exact doc dedup."""
    from ..functions.text import normalize_text

    d = _docs(spark, sf_dir)
    # NOTE: the inlined split() here is deliberate — naming the token
    # array in its own projection measured 1.7× SLOWER (the generator
    # then carries the materialized array column through a Project
    # barrier), unlike the scalar-reused-in-lambda cases
    # (embedding_normalize/quantize) where the named column wins 4×.
    toks = F.split(normalize_text("text"), " ")
    chunked = (
        d.select(
            "source",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            (F.size(toks) - 1) / 20, F.lit(0)
                        ).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice(toks, i * 20 + 1, 20), " "
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .filter(F.col("chunk") != "")
        .select("source", F.md5("chunk").alias("chunk_digest"))
    )
    per_digest = chunked.groupBy("source", "chunk_digest").agg(
        F.count("*").alias("n_copies")
    )
    return per_digest.groupBy("source").agg(
        F.sum("n_copies").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.count("*") / F.sum("n_copies"), 6
        ).alias("dup_ratio"),
    )


CORPUS_CHUNK_DEDUP_SQL = f"""
WITH docs AS (SELECT source, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT source, string_split(norm, ' ') AS t FROM docs),
chunks AS (
  SELECT source,
         unnest([array_to_string(t[i*20+1:i*20+20], ' ')
                 FOR i IN range(0, CAST(greatest((len(t)-1)/20, 0) AS INT) + 1)]) AS chunk
  FROM toks
),
digests AS (
  SELECT source, md5(chunk) AS chunk_digest FROM chunks WHERE chunk <> ''
),
per_digest AS (
  SELECT source, chunk_digest, count(*) AS n_copies
  FROM digests GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n_copies) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       round(1.0 - count(*) / sum(n_copies), 6) AS dup_ratio
FROM per_digest GROUP BY source
"""


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering with a fixed linear model: a
    logistic score over cheap text features (token count, type-token
    ratio, mean word length, alnum density) with published weights —
    the deterministic stand-in for a fastText-style quality classifier
    (same plumbing: featurize → dot product → sigmoid → threshold).
    Pure column expressions; at scale this is a map-only pass fused
    into the scan."""
    from ..functions.text import normalize_text

    d = _docs(spark, sf_dir)
    toks = F.split(normalize_text("text"), " ")
    n_tokens = F.size(F.filter(toks, lambda t: t != ""))
    ttr = F.when(
        n_tokens > 0,
        F.size(F.array_distinct(F.filter(toks, lambda t: t != ""))) / n_tokens,
    ).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n_tokens > 0,
        F.length(F.regexp_replace(normalize_text("text"), " ", "")) / n_tokens,
    ).otherwise(F.lit(0.0))
    alnum = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]", ""))
        / F.length("text"),
    ).otherwise(F.lit(0.0))
    # fixed "model": w·x + b, logistic link
    z = (
        F.lit(-3.0)
        + 0.02 * n_tokens
        + 2.0 * ttr
        + 0.3 * mean_wlen
        + 1.5 * alnum
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(mean_wlen, 6).alias("mean_wlen"),
        F.round(alnum, 6).alias("alnum_density"),
        score.alias("quality_prob"),
        (score >= 0.5).alias("keep"),
    )


TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH f AS (
  SELECT doc_id,
         len(list_filter(string_split({NORM_SQL}, ' '), x -> x <> '')) AS n_tokens,
         list_filter(string_split({NORM_SQL}, ' '), x -> x <> '') AS toks,
         {NORM_SQL} AS norm,
         text
  FROM documents
), feats AS (
  SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         CASE WHEN n_tokens > 0 THEN len(list_distinct(toks)) / n_tokens ELSE 0.0 END AS ttr,
         CASE WHEN n_tokens > 0 THEN length(replace(norm, ' ', '')) / n_tokens ELSE 0.0 END AS mean_wlen,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
              ELSE 0.0 END AS alnum
  FROM f
)
SELECT doc_id, n_tokens,
       round(ttr, 6) AS ttr,
       round(mean_wlen, 6) AS mean_wlen,
       round(alnum, 6) AS alnum_density,
       round(1.0 / (1.0 + exp(-(-3.0 + 0.02*n_tokens + 2.0*ttr + 0.3*mean_wlen + 1.5*alnum))), 6) AS quality_prob,
       round(1.0 / (1.0 + exp(-(-3.0 + 0.02*n_tokens + 2.0*ttr + 0.3*mean_wlen + 1.5*alnum))), 6) >= 0.5 AS keep
FROM feats
"""


def text_quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for the quality classifier — the standard
    model-evaluation report: rank docs by predicted quality, cut into
    10 equal bins (deterministic ntile: prob desc, doc_id tiebreak),
    and profile each bin (volume, mean prob, mean length, keep share).
    Shows score-length correlation and where the 0.5 threshold lands.

    Scale posture matches customer_rfm_segments: the windowed input is
    the NARROW scored relation (id + a few doubles), and an exact
    global decile cut is inherently a total order — at 100 TB the
    report swaps ntile for operators/binning.approx_quantile_bins
    (percentile_approx edges + broadcast assignment, implemented and
    plan-pinned by the corpus_curriculum_*_approx queries); the exact
    form is what the oracle can mirror strictly."""
    scored = text_quality_classifier(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("quality_prob").desc(), F.col("doc_id"))
    d = scored.select(
        "doc_id",
        "n_tokens",
        "quality_prob",
        "keep",
        F.ntile(10).over(w).cast("long").alias("decile"),
    )
    # order-free per-bin means: exact decimal/integer sums, ONE final
    # double division — partial-aggregation order can't flip the round
    return d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("quality_prob").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_prob"),
        F.round(F.min("quality_prob"), 6).alias("min_prob"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count("*"), 6
        ).alias("avg_tokens"),
        F.round(
            F.sum(F.col("keep").cast("long")).cast("double") / F.count("*"),
            6,
        ).alias("keep_share"),
    )


DECILE_POP_SLACK = 0.5  # each approx decile within ±50% of n/10


def text_quality_decile_lift_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale-safe twin of text_quality_decile_lift: the exact global
    ntile(10) (a single-task total order) is replaced by
    operators/binning.approx_quantile_bins — percentile_approx
    mergeable-sketch edges plus broadcast JVM bin assignment, NO
    single-partition exchange anywhere (plan-pinned in
    tests/test_scale_posture.py, mirroring the curriculum twin).

    Correctness strategy mirrors corpus_curriculum_bins_approx: the
    per-document decile assignment is sketch-dependent, so the STRICT
    oracle asserts the INVARIANTS instead — every decile's population
    within ±50% of the ideal n/10 (a sketch regression that skews or
    empties a bin fails), avg_prob non-increasing across deciles
    (threshold assignment makes bin d's minimum ≥ bin d+1's maximum by
    construction, so a broken descending orientation fails), and the
    exact total document count (a dropped document fails)."""
    from ..operators.binning import approx_quantile_bins

    scored = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "quality_prob"
    )
    binned = approx_quantile_bins(
        scored, "quality_prob", 10, descending=True, bin_col="decile"
    )
    per_bin = binned.groupBy("decile").agg(
        F.count("*").alias("_n_docs"),
        (
            F.sum(F.col("quality_prob").cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("_avg_prob"),
    )
    tot = binned.groupBy().agg(F.count("*").alias("docs_total"))
    ideal = F.col("docs_total").cast("double") / F.lit(10.0)
    lo = F.floor(ideal * (1.0 - DECILE_POP_SLACK))
    hi = F.ceil(ideal * (1.0 + DECILE_POP_SLACK))
    nxt = per_bin.select(
        (F.col("decile") - 1).alias("decile"),
        F.col("_avg_prob").alias("_next_avg"),
    )
    return (
        per_bin.join(F.broadcast(nxt), "decile", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            (
                (F.col("_n_docs") >= lo) & (F.col("_n_docs") <= hi)
            ).alias("pop_ok"),
            F.coalesce(
                F.col("_avg_prob") >= F.col("_next_avg"), F.lit(True)
            ).alias("prob_ordered_ok"),
            F.col("docs_total").cast("long").alias("docs_total"),
        )
    )


TEXT_QUALITY_DECILE_LIFT_APPROX_SQL = """
SELECT CAST(t.b AS BIGINT) AS decile,
       TRUE AS pop_ok,
       TRUE AS prob_ordered_ok,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_total
FROM range(1, 11) AS t(b)
"""


# ---------- quality-threshold yield curve ----------
#
# The report every filtering decision starts from: at each quality bar
# t, how many documents and how many TOKENS survive? (Token share is
# what sets the training budget; doc share is what sets the dedup/
# curation cost.) Thresholds are integer percents (5..95 step 5) so
# the spine is exact in both engines — the comparison divides the same
# integer by 100.0, never accumulating a float step.
#
# Scale: ONE scan of the narrow scored relation crossed with the
# broadcast 19-row spine; the conditional aggregate combines map-side,
# so the shuffle moves 19 rows per task. The left join keeps zero-kept
# thresholds (a curve with holes misleads).


def corpus_quality_yield_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_prob"
    )
    spine = spark.range(1, 20).select(
        (F.col("id") * 5).cast("long").alias("threshold_pct")
    )
    tot = scored.groupBy().agg(
        F.count("*").alias("docs_total"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    kept = (
        scored.crossJoin(F.broadcast(spine))
        .filter(
            F.col("quality_prob")
            >= F.col("threshold_pct").cast("double") / 100.0
        )
        .groupBy("threshold_pct")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )
    return (
        spine.join(kept, "threshold_pct", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold_pct",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias(
                "n_docs_kept"
            ),
            F.round(
                F.coalesce("n_docs_kept", F.lit(0)).cast("double")
                / F.col("docs_total").cast("double"),
                6,
            ).alias("doc_share"),
            F.coalesce("tokens_kept", F.lit(0)).cast("long").alias(
                "tokens_kept"
            ),
            F.round(
                F.coalesce("tokens_kept", F.lit(0)).cast("double")
                / F.col("tokens_total").cast("double"),
                6,
            ).alias("token_share"),
        )
    )


# ---------- tokenizer fertility per (lang, source) ----------
#
# chars-per-token and bytes-per-token by corpus cell — the numbers
# that convert a storage budget into a token budget (and flag cells
# where a tokenizer will be unusually expensive). One grouped
# aggregate over exact integer sums; the two ratios are single final
# divisions.


def text_token_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    q = TX.quality_score(d).select("doc_id", "n_tokens")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"),
    ).join(q, "doc_id")
    return base.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.round(
            F.when(
                F.sum("n_tokens") > 0,
                F.sum("chars").cast("double")
                / F.sum("n_tokens").cast("double"),
            ),
            6,
        ).alias("chars_per_token"),
        F.round(
            F.when(
                F.sum("n_tokens") > 0,
                F.sum("bytes").cast("double")
                / F.sum("n_tokens").cast("double"),
            ),
            6,
        ).alias("bytes_per_token"),
    )


TEXT_TOKEN_FERTILITY_SQL = f"""
WITH f AS (
  SELECT doc_id, lang, source,
         length(text) AS chars,
         strlen(text) AS bytes,
         len(list_filter(string_split({{NORM}}, ' '), x -> x <> ''))
           AS n_tokens
  FROM documents
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       round(CASE WHEN sum(n_tokens) > 0
                  THEN CAST(sum(chars) AS DOUBLE) / sum(n_tokens) END, 6)
         AS chars_per_token,
       round(CASE WHEN sum(n_tokens) > 0
                  THEN CAST(sum(bytes) AS DOUBLE) / sum(n_tokens) END, 6)
         AS bytes_per_token
FROM f GROUP BY 1, 2
""".replace("{NORM}", NORM_SQL)


# ---------- per-source shingle novelty ----------
#
# How much NEW content does each source contribute? A shingle is
# "novel" if this document is its first occurrence (smallest doc_id —
# the deterministic ingestion-order proxy); per source, report the
# share of shingles that are first occurrences. Redundant mirrors and
# boilerplate-heavy sources sink toward 0, genuinely fresh sources
# stay near 1 — the novelty curve that decides whether ingesting more
# of a source still buys new tokens.
#
# Scale: one shuffle of the (shingle → min doc) relation (uniform
# md5-ish keys), one regroup per doc, one tiny per-source aggregate —
# the inverted-index discipline, no pair expansion anywhere.


def text_shingle_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _docs(spark, sf_dir)
    ex = DF.shingle_relation(d)
    first = ex.groupBy("shingle").agg(F.min("id").alias("first_doc"))
    per_doc = (
        ex.join(first, "shingle")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        d.select("doc_id", "source")
        .join(per_doc, d["doc_id"] == per_doc["id"], "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_sh"), F.lit(0)).cast("long").alias(
                "total_shingles"
            ),
            F.coalesce(F.sum("n_novel"), F.lit(0)).cast("long").alias(
                "novel_shingles"
            ),
            F.round(
                F.when(
                    F.sum("n_sh") > 0,
                    F.sum("n_novel").cast("double")
                    / F.sum("n_sh").cast("double"),
                ),
                6,
            ).alias("novelty_share"),
        )
    )


TEXT_SHINGLE_NOVELTY_SQL = f"""
WITH {SHINGLES_CTE},
first AS (SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY 1),
pd AS (
  SELECT e.doc_id, count(*) AS n_sh,
         sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM ex e JOIN first f USING (shingle) GROUP BY 1
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(coalesce(sum(pd.n_sh), 0) AS BIGINT) AS total_shingles,
       CAST(coalesce(sum(pd.n_novel), 0) AS BIGINT) AS novel_shingles,
       round(CASE WHEN sum(pd.n_sh) > 0
                  THEN CAST(sum(pd.n_novel) AS DOUBLE) / sum(pd.n_sh)
             END, 6) AS novelty_share
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
GROUP BY 1
"""


# ---------- exact-duplicate group-size histogram ----------
#
# The shape of the duplication problem in one relation: how many
# content groups have exactly m copies, and how many documents (and
# removable duplicates) that accounts for. Two uniform-key aggregates
# (digest, then group size) — the diagnostics a dedup run is sized by.


def dedup_group_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.dedup_fuzzy import content_digest

    d = _docs(spark, sf_dir)
    groups = d.groupBy(content_digest("text").alias("digest")).agg(
        F.count("*").alias("group_size")
    )
    return groups.groupBy("group_size").agg(
        F.count("*").cast("long").alias("n_groups"),
        (F.count("*") * F.col("group_size")).cast("long").alias(
            "n_docs"
        ),
        (F.count("*") * (F.col("group_size") - 1)).cast("long").alias(
            "n_removable"
        ),
    )


DEDUP_GROUP_SIZE_HISTOGRAM_SQL = f"""
WITH g AS (
  SELECT md5({NORM_SQL}) AS digest, count(*) AS group_size
  FROM documents GROUP BY 1
)
SELECT group_size,
       count(*) AS n_groups,
       CAST(count(*) * group_size AS BIGINT) AS n_docs,
       CAST(count(*) * (group_size - 1) AS BIGINT) AS n_removable
FROM g GROUP BY 1
"""


_QUALITY_SCORED_CTE = f"""
f AS (
  SELECT doc_id,
         len(list_filter(string_split({{NORM}}, ' '), x -> x <> '')) AS n_tokens,
         list_filter(string_split({{NORM}}, ' '), x -> x <> '') AS toks,
         {{NORM}} AS norm,
         text
  FROM documents
), feats AS (
  SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         CASE WHEN n_tokens > 0 THEN len(list_distinct(toks)) / n_tokens ELSE 0.0 END AS ttr,
         CASE WHEN n_tokens > 0 THEN length(replace(norm, ' ', '')) / n_tokens ELSE 0.0 END AS mean_wlen,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
              ELSE 0.0 END AS alnum
  FROM f
), scored AS (
  SELECT doc_id, n_tokens,
         round(1.0 / (1.0 + exp(-(-3.0 + 0.02*n_tokens + 2.0*ttr + 0.3*mean_wlen + 1.5*alnum))), 6) AS quality_prob,
         round(1.0 / (1.0 + exp(-(-3.0 + 0.02*n_tokens + 2.0*ttr + 0.3*mean_wlen + 1.5*alnum))), 6) >= 0.5 AS keep
  FROM feats
)
""".replace("{NORM}", NORM_SQL)

CORPUS_QUALITY_YIELD_CURVE_SQL = f"""
WITH {_QUALITY_SCORED_CTE},
spine AS (
  SELECT CAST(t.b * 5 AS BIGINT) AS threshold_pct FROM range(1, 20) AS t(b)
),
tot AS (
  SELECT count(*) AS docs_total, sum(n_tokens) AS tokens_total FROM scored
),
kept AS (
  SELECT s.threshold_pct,
         count(*) AS n_docs_kept,
         sum(sc.n_tokens) AS tokens_kept
  FROM spine s
  JOIN scored sc
    ON sc.quality_prob >= CAST(s.threshold_pct AS DOUBLE) / 100.0
  GROUP BY 1
)
SELECT s.threshold_pct,
       CAST(coalesce(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
       round(CAST(coalesce(k.n_docs_kept, 0) AS DOUBLE)
             / CAST(t.docs_total AS DOUBLE), 6) AS doc_share,
       CAST(coalesce(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       round(CAST(coalesce(k.tokens_kept, 0) AS DOUBLE)
             / CAST(t.tokens_total AS DOUBLE), 6) AS token_share
FROM spine s LEFT JOIN kept k USING (threshold_pct) CROSS JOIN tot t
"""


TEXT_QUALITY_DECILE_LIFT_SQL = f"""
WITH {_QUALITY_SCORED_CTE},
binned AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY quality_prob DESC, doc_id) AS BIGINT) AS decile
  FROM scored
)
SELECT decile,
       count(*) AS n_docs,
       round(CAST(sum(CAST(quality_prob AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_prob,
       round(min(quality_prob), 6) AS min_prob,
       round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens,
       round(CAST(sum(CAST(keep AS BIGINT)) AS DOUBLE) / count(*), 6) AS keep_share
FROM binned GROUP BY decile
"""


def text_term_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-pair pointwise mutual information at document level —
    which words co-occur MORE than their individual frequencies
    predict (collocation discovery / topic-seed mining). Presence-based
    (array_distinct before explode), so token repetition inside one doc
    can't inflate the association.

    pmi(a,b) = ln(n_ab·N / (df_a·df_b)); pairs with n_ab < 5 are cut.
    Scale: pair expansion is the per-doc bounded quadratic (distinct
    terms per doc, NOT raw tokens) via a co-partitioned self-join on
    doc_id — the copurchase shape on text; df is |vocabulary| rows,
    broadcast twice (natural-language vocabularies plateau in the
    ~1M-row / tens-of-MB range — within broadcast budget; for OPEN key
    spaces, e.g. URLs-as-terms, drop the hint and let the join shuffle
    on the term key). Determinism: the ln argument is a single division
    of two exact integer products — both engines see the identical
    double, and ln's ≤1-ulp wobble is 1e9× under the 6dp round."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    pres = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    stats = d.agg(F.count("*").cast("double").alias("n_docs"))
    dfc = pres.groupBy("term").agg(F.count("*").alias("df"))
    a, b = pres.alias("a"), pres.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term1"), F.col("b.term").alias("term2")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    pmi = F.log(
        (F.col("n_ab") * F.col("n_docs"))
        / (F.col("df1") * F.col("df2")).cast("double")
    )
    return (
        pairs.join(
            F.broadcast(
                dfc.select(F.col("term").alias("term1"), F.col("df").alias("df1"))
            ),
            "term1",
        )
        .join(
            F.broadcast(
                dfc.select(F.col("term").alias("term2"), F.col("df").alias("df2"))
            ),
            "term2",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "term1",
            "term2",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(pmi, 6).alias("pmi"),
        )
    )


TEXT_TERM_COOCCURRENCE_PMI_SQL = f"""
WITH docs AS (
  SELECT doc_id, {NORM_SQL} AS norm FROM documents
), pres AS (
  SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS term
  FROM docs WHERE norm <> ''
), dfc AS (
  SELECT term, count(*) AS df FROM pres GROUP BY term
), pairs AS (
  SELECT a.term AS term1, b.term AS term2, count(*) AS n_ab
  FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT p.term1, p.term2, p.n_ab,
       round(ln((p.n_ab * (SELECT CAST(count(*) AS DOUBLE) FROM documents))
                / CAST(d1.df * d2.df AS DOUBLE)), 6) AS pmi
FROM pairs p
JOIN dfc d1 ON p.term1 = d1.term
JOIN dfc d2 ON p.term2 = d2.term
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per source: term frequency summed per
    (source, term) × ln(N/df) with unsmoothed document frequency —
    the standard corpus-characterization pass (what distinguishes one
    source's vocabulary from the rest).

    Scale: two aggregations over the exploded token stream (per-term df
    via distinct doc count, per-(source,term) tf) — both shuffle on the
    term, partial aggregation does the heavy lifting; the idf side is
    |vocabulary| rows and broadcasts into the final join; top-k per
    source is a WindowGroupLimit heap, not a global sort. The tf×idf
    product multiplies an integer count by one double — no sum-order
    float nondeterminism."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    n_docs = d.count()
    tok = d.select("doc_id", "source", F.explode(tokens("text")).alias("term"))
    df_counts = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf_counts = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    scored = (
        tf_counts.join(F.broadcast(df_counts), "term")
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "source",
            F.col("rn").cast("long").alias("rn"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
        )
    )


TEXT_TFIDF_TOP_TERMS_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, {NORM_SQL} AS norm FROM documents
), tok AS (
  SELECT doc_id, source, unnest(string_split(norm, ' ')) AS term
  FROM docs WHERE norm <> ''
), df_counts AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), tf_counts AS (
  SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term
), scored AS (
  SELECT source, term, tf, df,
         round(tf * ln((SELECT count(*) FROM documents) / df), 6) AS tfidf
  FROM tf_counts JOIN df_counts USING (term)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT source, CAST(rn AS BIGINT) AS rn, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM ranked WHERE rn <= 5
"""


def corpus_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based split assignment per document (engine-
    portable: same doc → same split everywhere, no RNG)."""
    from ..operators.sampling import deterministic_split

    return deterministic_split(_docs(spark, sf_dir)).select("doc_id", "split")


CORPUS_TRAIN_TEST_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""


STRATA_FRACTIONS = {"en": 0.5, "de": 0.5, "fr": 0.5, "es": 0.5, "und": 0.1}


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample by language. STRICT oracle (round-9
    conversion, boolean-gated): the Bernoulli draw is engine-specific,
    but its LAW is checkable — per stratum the sample size is
    Binomial(n_total, frac), so ``n_sampled_in_bounds`` pins it inside
    mean ± 6σ (a seeding/fraction regression lands far outside; 6σ has
    ~2e-9 false-fail odds per stratum) and the EXACT anchors
    (n_total per stratum, the configured fraction) are value-hashed.
    Determinism for a fixed seed + partitioning stays pinned by
    tests/test_sampling.py; the sampled relation itself remains the
    library operator (operators/sampling.py)."""
    from ..operators.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    sampled = (
        stratified_sample(d, "lang", STRATA_FRACTIONS, seed=42)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    totals = d.groupBy("lang").agg(F.count("*").alias("n_total"))
    frac = F.create_map(
        *[F.lit(x) for kv in STRATA_FRACTIONS.items() for x in kv]
    )[F.col("lang")]
    mean = F.col("n_total") * frac
    sd = F.sqrt(F.col("n_total") * frac * (1.0 - frac))
    return (
        totals.join(sampled, "lang", "left")
        .filter(frac.isNotNull())
        .select(
            "lang",
            F.col("n_total").cast("long").alias("n_total"),
            F.round(frac, 2).alias("fraction"),
            (
                (F.coalesce("n_sampled", F.lit(0)) >= mean - 6.0 * sd)
                & (F.coalesce("n_sampled", F.lit(0)) <= mean + 6.0 * sd)
            ).alias("n_sampled_in_bounds"),
        )
    )


CORPUS_STRATIFIED_SAMPLE_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(CASE lang WHEN 'und' THEN 0.1 ELSE 0.5 END AS DOUBLE)
         AS fraction,
       TRUE AS n_sampled_in_bounds
FROM documents
WHERE lang IN ('en', 'de', 'fr', 'es', 'und')
GROUP BY lang
"""


def clean_corpus(d: DataFrame, pairs: DataFrame,
                 components: DataFrame | None = None) -> DataFrame:
    """Corpus-cleaning funnel over an arbitrary documents frame: quality
    gate ∧ exact-dup canonical ∧ near-dup cluster canonical, each
    predicate computed over the whole corpus and intersected. ``pairs``
    is the near-dup pair relation (id1, id2) for the same corpus.
    Returns the surviving rows with the input's columns. Idempotent by
    construction: survivors are pairwise non-duplicate component roots
    whose digest groups were rooted at themselves, so a second pass
    (with pairs recomputed on the output) keeps every row — pinned by a
    hypothesis property test."""
    from ..operators.dedup_fuzzy import exact_dedup
    from ..operators.graph import connected_components
    from ..operators.text import quality_score

    ok = quality_score(d).filter(F.col("quality_score") >= 0.5).select("doc_id")
    exact_keep = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    comp = (
        components if components is not None
        else connected_components(pairs, src="id1", dst="id2")
    )
    near_dup_losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        d.join(ok, "doc_id")
        .join(exact_keep, "doc_id")
        .join(near_dup_losers, "doc_id", "left_anti")
    )


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data query: the full corpus-cleaning funnel in
    one plan — see :func:`clean_corpus`. Composes quality_score
    (operators/text.py), exact_dedup (operators/dedup_fuzzy.py) and
    connected components (operators/graph.py); every stage is
    individually oracle-checked by its own query, and the composition
    is oracle-checked here."""
    d = _docs(spark, sf_dir)
    pairs = jaccard_pairs_cached(spark, sf_dir)
    comp = components_cached(spark, sf_dir)
    return clean_corpus(d, pairs, comp).select("doc_id", "lang", "source")


CORPUS_CLEAN_PIPELINE_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
toks2 AS (
  SELECT doc_id, text, CASE WHEN {NORM_SQL} = '' THEN []
                            ELSE string_split({NORM_SQL}, ' ') END AS t
  FROM documents
),
quality AS (
  SELECT doc_id,
         round(0.4 * (CASE WHEN len(t) BETWEEN 10 AND 5000 THEN 1.0
                           WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END)
             + 0.3 * (CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / len(t) ELSE 0.0 END)
             + 0.3 * (CASE WHEN length(text) > 0
                           THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
                           ELSE 0.0 END), 6) AS q
  FROM toks2
),
exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({NORM_SQL})
),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN quality ON d.doc_id = quality.doc_id AND quality.q >= 0.5
JOIN exact_keep ON d.doc_id = exact_keep.doc_id
WHERE NOT EXISTS (SELECT 1 FROM comp
                  WHERE comp.node = d.doc_id AND comp.node <> comp.component)
"""


_NUM_HASHES, _BANDS, _ROWS_PER_BAND = 12, 4, 3


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (first 4 components exposed) — the
    oracle-checkable core of the LSH pipeline."""
    d = _docs(spark, sf_dir)
    return DF.minhash_signatures(
        d, num_hashes=4, sig_lookup=minhash_sigs_cached(spark, sf_dir)
    ).withColumnRenamed("id", "doc_id")


DEDUP_MINHASH_SIGNATURES_SQL = f"""
WITH {SHINGLES_CTE}
SELECT doc_id,
       min(md5('0:' || shingle)) AS mh_0,
       min(md5('1:' || shingle)) AS mh_1,
       min(md5('2:' || shingle)) AS mh_2,
       min(md5('3:' || shingle)) AS mh_3
FROM ex GROUP BY doc_id
"""


def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy ledger as a STRICT-oracle query: for every exact
    Jaccard-≥0.5 pair, the 12-hash MinHash estimate (matching signature
    positions / 12) next to the exact value and the absolute error —
    the number that justifies the LSH banding dial. Portable because
    the signatures are salted-md5 mins (same expression in DuckDB), so
    unlike the HLL/CMS sketches this estimator needs no TRUE-boolean
    gating: the estimate itself cross-checks bit-for-bit.

    Scale: the pair relation IS the session-cached near-dup artifact
    (jaccard_pairs_cached — same n=3/threshold=0.5 build; round-12
    verdict task #8: referencing a fresh ngram_jaccard_pairs here
    replicated the shingle self-join subtree, ~20 of the query's 30
    audited exchanges); the signature join is two hash joins on doc id
    against a |docs|-row relation."""
    d = _docs(spark, sf_dir)
    pairs = jaccard_pairs_cached(spark, sf_dir)
    sigs = DF.minhash_signatures(
        d, n=3, num_hashes=_NUM_HASHES,
        sig_lookup=minhash_sigs_cached(spark, sf_dir),
    )
    s1 = sigs.select(
        F.col("id").alias("id1"),
        *[F.col(f"mh_{j}").alias(f"a{j}") for j in range(_NUM_HASHES)],
    )
    s2 = sigs.select(
        F.col("id").alias("id2"),
        *[F.col(f"mh_{j}").alias(f"b{j}") for j in range(_NUM_HASHES)],
    )
    matches = None
    for j in range(_NUM_HASHES):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = matches / float(_NUM_HASHES)
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            "jaccard",
            F.round(est, 6).alias("mh_estimate"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


_MH_MATCHES = " + ".join(
    f"(CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END)"
    for j in range(_NUM_HASHES)
)

DEDUP_MINHASH_ACCURACY_SQL = f"""
WITH {{SHINGLES}},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id1, id2,
         round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS jaccard
  FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
),
mh AS (
  SELECT doc_id, {{MH_COLS}}
  FROM ex GROUP BY doc_id
)
SELECT j.id1, j.id2, j.jaccard,
       round(({_MH_MATCHES}) / {float(_NUM_HASHES)}, 6) AS mh_estimate,
       round(abs(({_MH_MATCHES}) / {float(_NUM_HASHES)} - j.jaccard), 6) AS abs_err
FROM jac j
JOIN mh a ON j.id1 = a.doc_id
JOIN mh b ON j.id2 = b.doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DF.minhash_lsh_candidates(
        _docs(spark, sf_dir), n=3, num_hashes=_NUM_HASHES, bands=_BANDS,
        sig_lookup=minhash_sigs_cached(spark, sf_dir),
    )


_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM mh".format(
        b=b,
        key=" || '|' || ".join(
            f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(_BANDS)
)
_MH_COLS = ",\n       ".join(
    f"min(md5('{j}:' || shingle)) AS mh_{j}" for j in range(_NUM_HASHES)
)
DEDUP_MINHASH_ACCURACY_SQL = DEDUP_MINHASH_ACCURACY_SQL.format(
    SHINGLES=SHINGLES_CTE, MH_COLS=_MH_COLS
)
DEDUP_MINHASH_LSH_SQL = f"""
WITH {SHINGLES_CTE},
mh AS (
  SELECT doc_id,
       {_MH_COLS}
  FROM ex GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
"""

# incremental oracle: the from-scratch candidate set, restricted to
# pairs that touch the delta (doc_id % 10 == 0) — exactly what the
# incremental plan must reproduce without ever joining base×base
DEDUP_MINHASH_INCREMENTAL_SQL = f"""
SELECT id1, id2 FROM ({DEDUP_MINHASH_LSH_SQL})
WHERE id1 % 10 = 0 OR id2 % 10 = 0
"""


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: today's batch (doc_id % 10 == 0) against the
    already-indexed corpus (the other 90%) — delta×base ∪ delta×delta
    bucket joins, never base×base. The oracle is the FULL-corpus LSH
    candidate set restricted to pairs touching a delta doc, so the
    incremental plan's equivalence to a from-scratch rebuild is what
    the driver checks."""
    d = _docs(spark, sf_dir)
    return DF.minhash_incremental_candidates(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        n=3,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        sig_lookup=minhash_sigs_cached(spark, sf_dir),
    )


def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding candidates (4×16-bit chunk blocking over a
    64-bit sign-of-weighted-bits digest).

    STRICT oracle (round-12 — was rows-only): the mapInPandas kernel's
    hash is the first 8 bytes of md5(shingle) read big-endian, which
    DuckDB reproduces bit-exactly as ('0x'||substr(md5(s),1,16))
    ::UBIGINT, and the per-bit majority vote / chunk split / dup-group
    expansion are all plain relational algebra — so the whole Arrow
    kernel is value-pinned by SQL, not just shape-pinned. Verified
    pair-for-pair identical at sf0.001/0.01/0.1 before wiring."""
    return DF.simhash_candidates(_docs(spark, sf_dir))


DEDUP_SIMHASH_CANDIDATES_SQL = f"""
WITH {SHINGLES_CTE},
hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 16))::UBIGINT AS h
  FROM ex
),
bits AS (
  SELECT doc_id, i, sum(((h >> i) & 1)::BIGINT) AS ones, count(*) AS n
  FROM hs, LATERAL (SELECT unnest(range(64)) AS i) r
  GROUP BY doc_id, i
),
simh_nonempty AS (
  SELECT doc_id,
         sum(CASE WHEN 2 * ones > n
                  THEN (1::UBIGINT << i)::HUGEINT ELSE 0 END)::UBIGINT
           AS sh_u
  FROM bits GROUP BY doc_id
),
simh AS (
  SELECT d.doc_id, coalesce(s.sh_u, 0::UBIGINT) AS sh_u
  FROM documents d LEFT JOIN simh_nonempty s USING (doc_id)
),
reps AS (SELECT sh_u, min(doc_id) AS rep FROM simh GROUP BY sh_u),
members AS (
  SELECT s.doc_id AS member, r.rep FROM simh s JOIN reps r USING (sh_u)
),
chunks AS (
  SELECT r.rep AS id, c, ((r.sh_u >> (16 * c)) & 65535) AS chunk
  FROM reps r, LATERAL (SELECT unnest(range(4)) AS c) l
),
rep_pairs AS (
  SELECT DISTINCT a.id AS r1, b.id AS r2
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk AND a.id < b.id
),
cross_pairs AS (
  SELECT least(m1.member, m2.member) AS id1,
         greatest(m1.member, m2.member) AS id2
  FROM rep_pairs p
  JOIN members m1 ON m1.rep = p.r1
  JOIN members m2 ON m2.rep = p.r2
),
intra_pairs AS (
  SELECT m1.member AS id1, m2.member AS id2
  FROM members m1
  JOIN members m2 ON m1.rep = m2.rep AND m1.member < m2.member
)
SELECT id1, id2 FROM cross_pairs
UNION ALL
SELECT id1, id2 FROM intra_pairs
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_pairs_cached(spark, sf_dir)


def dedup_mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering WITHOUT a parametric fit: mutual-kNN graph +
    connected components. Each vector keeps its top-5 neighbors (by
    cosine, among candidates ≥ 0.35); an edge survives only if BOTH
    endpoints keep each other (mutuality kills hub/chaining artifacts —
    the classic failure of threshold-only linking); components of the
    surviving graph are the clusters, singletons kept. The k-means-free
    complement of `corpus_topic_clusters` / `dedup_semantic_pairs`, and
    fully oracle-expressible (rank + mutual join + recursive CTE) where
    those are rows-only.

    Scale: the candidate relation is the SAME bucketed/near-dup pair
    build as dedup_embedding_cosine (its scale posture applies); the
    per-point top-k is a WindowGroupLimit heap on the pair relation,
    the mutuality check a self-join on the (src, dst) key, and the CC
    loop runs on a graph no bigger than 5n edges. Star contraction, not
    min-label propagation: kNN graphs CHAIN (that is their point), so
    the diameter — and with it the min-label round count — grows with
    cluster size. ``connected_components_star`` closes a graph under
    the driver edge limit in one collect and runs star contraction
    (O(log² n) rounds) above it."""
    from ..operators.graph import connected_components_star

    emb = _emb(spark, sf_dir)
    # session-cached (checkpointed) pair relation: the symmetric union
    # consumes it twice — once per orientation — and the cosine family
    # shares the build across queries
    pairs = embedding_pairs_cached(spark, sf_dir)
    sym = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"), "cos"
    ).union(
        pairs.select(
            F.col("id2").alias("src"), F.col("id1").alias("dst"), "cos"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    knn = (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("src", "dst")
    ).persist()
    k1, k2 = knn.alias("k1"), knn.alias("k2")
    mutual = (
        k1.join(
            k2,
            (F.col("k1.src") == F.col("k2.dst"))
            & (F.col("k1.dst") == F.col("k2.src")),
        )
        .filter(F.col("k1.src") < F.col("k1.dst"))
        .select(F.col("k1.src").alias("src"), F.col("k1.dst").alias("dst"))
    )
    comp = connected_components_star(mutual)
    labeled = (
        emb.select(F.col("vec_id"))
        .join(comp, emb.vec_id == comp.node, "left")
        .select(
            F.coalesce("component", F.col("vec_id")).alias("cluster_id")
        )
    )
    out = labeled.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    knn.unpersist()
    return out


DEDUP_MUTUAL_KNN_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.35
), sym AS (
  SELECT id1 AS src, id2 AS dst, cos FROM pairs
  UNION ALL SELECT id2, id1, cos FROM pairs
), knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
    FROM sym
  ) WHERE rnk <= 5
), mutual AS (
  SELECT k1.src, k1.dst
  FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
  WHERE k1.src < k1.dst
), edges AS (
  SELECT src, dst FROM mutual UNION SELECT dst, src FROM mutual
), reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
)
SELECT coalesce(c.component, v.vec_id) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.node
GROUP BY 1
"""


def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-scoped near-dup pairs — the k-independent-blocks
    scale path for embedding dedup; rows-only (seeded k-means). Cell
    count stays on the operator's adaptive default (k ∝ n, constant
    cell size): the r6 scale probe showed a pinned small k silently
    reverts the within-cell self-join to quadratic as the corpus
    grows."""
    return DF.semantic_dedup_pairs(_emb(spark, sf_dir), threshold=0.35)


def dedup_embedding_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-matmul variant of dedup_embedding_cosine — rows-only.
    The kernel runs fresh (it IS what this query demonstrates) but the
    corpus collect is the session-shared one."""
    return DF.embedding_near_dup_pairs_fast(
        _emb(spark, sf_dir),
        threshold=0.35,
        rows=emb_rows_cached(spark, sf_dir),
    )


DEDUP_EMBEDDING_COSINE_SQL = """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
"""


def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize embeddings (the storage/serving convention that
    turns cosine into a dot product). Double-precision sequential dot
    mirrors the oracle's list_inner_product bit-for-bit; outputs rounded
    so the array compares exactly."""
    from ..functions.vectors import dot, to_double_array

    e = _emb(spark, sf_dir)
    arr = to_double_array("embedding")
    # Two-step projection: referencing the norm expression inside the
    # per-element transform lambda would re-inline (and re-evaluate)
    # the full dot-product aggregate for EVERY array element — 64× the
    # work, measured ~4× slower. A named intermediate column evaluates
    # it once per row (CollapseProject keeps non-cheap expressions in
    # their own projection).
    with_norm = e.select(
        "vec_id", arr.alias("a"), F.sqrt(dot(arr, arr)).alias("nrm")
    )
    return with_norm.select(
        "vec_id",
        F.round("nrm", 6).alias("l2"),
        F.transform(
            "a", lambda x: F.round(x / F.col("nrm"), 6)
        ).alias("unit_vec"),
    )


EMBEDDING_NORMALIZE_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS a FROM embeddings
),
n AS (SELECT vec_id, a, sqrt(list_inner_product(a, a)) AS nrm FROM v)
SELECT vec_id, round(nrm, 6) AS l2,
       [round(x / nrm, 6) FOR x IN a] AS unit_vec
FROM n
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (per-vector max-abs scale): the 4×
    storage/bandwidth cut applied before ANN serving. Pure elementwise
    arithmetic — exact under reordering, so strictly oracle-checkable."""
    from ..functions.vectors import to_double_array

    e = _emb(spark, sf_dir)
    arr = to_double_array("embedding")
    # two-step projection: same re-inlining hazard as
    # embedding_normalize — the scale referenced inside the lambda
    # would re-evaluate its array_max per element (O(d²) per row)
    with_scale = e.select(
        "vec_id",
        arr.alias("a"),
        (F.lit(127.0) / F.array_max(F.transform(arr, F.abs))).alias("scale"),
    )
    return with_scale.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.transform(
            "a", lambda x: F.round(x * F.col("scale")).cast("int")
        ).alias("q8"),
    )


EMBEDDING_QUANTIZE_INT8_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS a FROM embeddings
),
s AS (
  SELECT vec_id, a, 127.0 / list_max([abs(x) FOR x IN a]) AS scale FROM v
)
SELECT vec_id, round(scale, 6) AS scale,
       [CAST(round(x * scale) AS INTEGER) FOR x IN a] AS q8
FROM s
"""


def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile clipping (winsorization) — the standard outlier
    treatment before a metric feeds training or monitoring. Per-type
    [p05, p95] bounds from one exact-percentile aggregate broadcast back
    onto the stream of rows; clipped sums integer-scaled so the check is
    exact."""
    e = load_table(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    j = e.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of_range = (F.col("value") < F.col("lo")) | (
        F.col("value") > F.col("hi")
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(clipped * 1_000_000).cast("long")).alias(
            "clipped_sum_micros"
        ),
        F.sum(F.when(out_of_range, 1).otherwise(0)).cast("long").alias(
            "n_clipped"
        ),
    )


WINSORIZE_EVENT_VALUES_SQL = """
WITH pct AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CAST(floor(least(greatest(e.value, lo), hi) * 1000000) AS BIGINT)) AS BIGINT) AS clipped_sum_micros,
       CAST(sum(CASE WHEN e.value < lo OR e.value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM events e JOIN pct USING (event_type)
GROUP BY e.event_type
"""


# ---------- similarity search ----------

def _queries_subset(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 10)


def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return SS.brute_force_topk(emb, _queries_subset(emb), k=5)


def ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-5 per query — magnitude-aware
    ranking next to the cosine baseline (`ann_brute_force_topk`); the
    two orders DIFFER wherever norms vary, which is the point."""
    emb = _emb(spark, sf_dir)
    return SS.mips_topk(emb, _queries_subset(emb), k=5)


ANN_MIPS_TOPK_SQL = """
SELECT query_id, rk, neighbor_id, dot FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])), 6) AS dot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC
         ) AS rk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rk <= 5
"""


ANN_BRUTE_FORCE_TOPK_SQL = """
SELECT query_id, rk, neighbor_id, cos FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC
         ) AS rk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rk <= 5
"""

_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{d + 1}] >= 0 THEN '1' ELSE '0' END)"
    for d in SS.SIGN_LSH_DIMS
)


def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return SS.lsh_bucketed_topk(emb, _queries_subset(emb), k=5)


ANN_LSH_BUCKETED_TOPK_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
)
SELECT query_id, rk, neighbor_id, cos FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC
         ) AS rk
  FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rk <= 5
"""


def ann_multiband_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified sign-LSH (8 bands × 3 bits): candidates from ANY
    agreeing band, deduped, exact-ranked. The recall fix for
    single-band sign-LSH on near-orthogonal corpora (r6 ledger: 0.05 →
    ~0.5 recall@10 at the same bucketed-join economics)."""
    emb = _emb(spark, sf_dir)
    return SS.lsh_multiband_topk(emb, _queries_subset(emb), k=5)


def _multiband_sql(n_bands: int = 8, bits: int = 3, k: int = 5) -> str:
    def key(alias: str, band: int) -> str:
        return " || ".join(
            f"(CASE WHEN {alias}.embedding[{band * bits + b + 1}] >= 0 "
            "THEN '1' ELSE '0' END)"
            for b in range(bits)
        )

    unions = "\nUNION\n".join(
        f"""SELECT q.vec_id AS query_id, q.embedding AS qe,
       c.vec_id AS neighbor_id, c.embedding AS ce
FROM embeddings q JOIN embeddings c
  ON {key('q', i)} = {key('c', i)} AND q.vec_id <> c.vec_id
WHERE q.vec_id < 10"""
        for i in range(n_bands)
    )
    return f"""
WITH cand AS (
{unions}
)
SELECT query_id, rk, neighbor_id, cos FROM (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(CAST(qe AS DOUBLE[]),
                                      CAST(ce AS DOUBLE[])), 6) AS cos,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(CAST(qe AS DOUBLE[]),
                                                 CAST(ce AS DOUBLE[])), 6) DESC,
                    neighbor_id ASC
         ) AS rk
  FROM cand
) WHERE rk <= {k}
"""


ANN_MULTIBAND_LSH_TOPK_SQL = _multiband_sql()


def ann_brp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock pyspark.ml BucketedRandomProjectionLSH — rows-only oracle."""
    emb = _emb(spark, sf_dir)
    return SS.brp_lsh_topk(emb, _queries_subset(emb), k=5)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (seeded k-means cells, n_probe=2) — rows-only oracle."""
    emb = _emb(spark, sf_dir)
    return SS.ivf_topk(emb, _queries_subset(emb), k=5)


def ann_vectorized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy matmul exact top-k — rows-only oracle (numpy pairwise
    summation is not bit-identical to a sequential fold; equivalence to
    brute_force_topk is asserted in tests instead)."""
    emb = _emb(spark, sf_dir)
    return SS.vectorized_topk(emb, _queries_subset(emb), k=5)


# ---------- text analysis ----------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(_docs(spark, sf_dir))


TEXT_TOKEN_STATS_SQL = f"""
WITH docs AS (SELECT doc_id, text, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, text,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t
  FROM docs
)
SELECT doc_id,
       length(text) AS n_chars,
       len(t) AS n_tokens,
       len(list_distinct(t)) AS n_distinct_tokens,
       round(CASE WHEN len(t) > 0
                  THEN list_sum(list_transform(t, x -> length(x))) / len(t)
                  ELSE 0.0 END, 6) AS avg_token_len,
       round(CASE WHEN len(t) > 0
                  THEN len(list_distinct(t)) / len(t)
                  ELSE 0.0 END, 6) AS type_token_ratio
FROM toks
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(_docs(spark, sf_dir))


TEXT_QUALITY_SCORE_SQL = f"""
WITH docs AS (SELECT doc_id, lang, text, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, lang, text,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t
  FROM docs
),
m AS (
  SELECT doc_id, lang,
         len(t) AS n_tokens,
         CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / len(t) ELSE 0.0 END AS ttr,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
              ELSE 0.0 END AS alnum,
         CASE WHEN len(t) BETWEEN 10 AND 5000 THEN 1.0
              WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END AS band
  FROM toks
)
SELECT doc_id, lang, n_tokens,
       round(ttr, 6) AS type_token_ratio,
       round(alnum, 6) AS alnum_density,
       round(0.4 * band + 0.3 * ttr + 0.3 * alnum, 6) AS quality_score
FROM m
"""

_LANGS = list(TX.LANG_STOPWORDS)
_SCORE_EXPRS = ",\n       ".join(
    "len(list_filter(t, x -> list_contains({words}, x))) AS score_{lg}".format(
        lg=lg, words="[" + ", ".join(f"'{w}'" for w in ws) + "]"
    )
    for lg, ws in TX.LANG_STOPWORDS.items()
)
_BEST = "greatest(" + ", ".join(f"score_{lg}" for lg in _LANGS) + ")"
_LANG_CASE = "CASE WHEN {best} = 0 THEN 'und' {whens} END".format(
    best=_BEST,
    whens=" ".join(
        f"WHEN score_{lg} = {_BEST} THEN '{lg}'" for lg in _LANGS
    ),
)


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.language_id(_docs(spark, sf_dir)).select(
        "doc_id", "labeled_lang", "stopword_hits", "guessed_lang"
    )


TEXT_LANGUAGE_ID_SQL = f"""
WITH docs AS (SELECT doc_id, lang AS labeled_lang, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, labeled_lang,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t
  FROM docs
),
scored AS (
  SELECT doc_id, labeled_lang,
       {_SCORE_EXPRS}
  FROM toks
)
SELECT doc_id, labeled_lang,
       {_BEST} AS stopword_hits,
       {_LANG_CASE} AS guessed_lang
FROM scored
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_docs(spark, sf_dir))


TEXT_FINGERPRINT_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, norm,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t
  FROM docs
)
SELECT doc_id,
       md5(norm) AS content_md5,
       md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS keyset_md5
FROM toks
"""

# ---------- multimodal ----------

def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas 'decode' (deterministic stand-in kernel);
    the oracle re-states the same formula in SQL, so what's actually
    verified is the binary Arrow round-trip plumbing."""
    media = MM.attach_binary_payload(_docs(spark, sf_dir))
    return MM.fake_decode_dims(media)


MULTIMODAL_DECODE_META_SQL = """
SELECT doc_id AS id,
       octet_length(encode(text)) AS n_bytes,
       64 + (octet_length(encode(text)) % 448) AS width,
       64 + ((octet_length(encode(text)) * 7) % 448) AS height,
       CAST(3 AS INTEGER) AS n_channels
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.attach_binary_payload(_docs(spark, sf_dir))
    return MM.sample_frames(media, every_k=7)


MULTIMODAL_FRAME_SAMPLE_SQL = """
WITH media AS (
  SELECT doc_id, octet_length(encode(text)) % 64 + 1 AS n_frames FROM documents
)
SELECT doc_id, n_frames, unnest(range(0, n_frames, 7)) AS frame_idx FROM media
"""


def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy byte-histogram features via mapInPandas. STRICT oracle
    (round-9 conversion): the 16-bin histogram over bytes 0..255 is the
    count of each byte's HIGH NIBBLE, and DuckDB can read the exact hex
    nibble stream of the same utf-8 payload (`hex(encode(text))`), so
    the oracle reproduces every feature vector bit-for-bit — numpy in,
    SQL out, value-hash compared."""
    media = MM.attach_binary_payload(_docs_wide(spark, sf_dir))
    return MM.byte_histogram_features(media)


# np.histogram(bins=16, range=(0,256)) puts byte b in bin b // 16 — the
# high hex nibble, read from the odd positions of hex(payload)
MULTIMODAL_BYTE_HISTOGRAM_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), nib AS (
  SELECT doc_id,
         CAST(('0x0' || substr(hx, 2*i-1, 1)) AS INTEGER) AS bin
  FROM b, LATERAL (SELECT unnest(range(1, n+1)) AS i) r
), cnt AS (
  SELECT doc_id, bin, count(*) AS c FROM nib GROUP BY 1, 2
), spine AS (SELECT unnest(range(0, 16)) AS bin)
SELECT b.doc_id AS id,
       list(CASE WHEN b.n = 0 THEN 0.0
                 ELSE round_even(COALESCE(c.c, 0) / b.n, 6) END
            ORDER BY spine.bin) AS features
FROM b CROSS JOIN spine
LEFT JOIN cnt c ON c.doc_id = b.doc_id AND c.bin = spine.bin
GROUP BY b.doc_id, b.n
"""


def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE plumbing end-to-end on real PNG payloads: decode →
    deterministic nearest-neighbor 8×8 downsample → re-encode → md5.
    Rows-only registry entry (PNG codec round-trips aren't SQL);
    correctness is pinned by round-trip/determinism/quarantine tests in
    tests/test_multimodal.py."""
    media = MM.attach_png_payload(_docs_wide(spark, sf_dir))
    out = MM.thumbnail_images(media, out_h=8, out_w=8)
    # registry shape drops the raw blob; md5+size stand in for it
    return out.select(
        "id", "decoded", "width", "height", "thumb_bytes", "thumb_md5"
    )


def multimodal_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-prep patch extraction end-to-end on real PNG payloads:
    decode → zero-pad to the patch grid → explode into 8×8 patches with
    grid coordinates + md5 (the raw patch bytes are dropped from the
    registry shape; md5+size stand in, like the thumbnail query).
    Rows-only (PNG codec); grid coverage, stitch-back round-trip,
    padding and quarantine laws are pytest-pinned."""
    media = MM.attach_png_payload(_docs_wide(spark, sf_dir))
    out = MM.image_patches(media, patch=8)
    return out.select(
        "id", "decoded", "patch_idx", "patch_row", "patch_col",
        "patch_bytes", "patch_md5",
    )


def multimodal_wav_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based activity segmentation (VAD-shaped silence screen)
    over real PCM16 payloads: windowed RMS (20 ms frames), active
    share, contiguous segments, longest run.

    STRICT oracle (round-12, verdict task #6 — was rows-only): same
    closed-form-synthesis argument as multimodal_wav_features — the
    fixture tone is a pure function of doc_id and PCM16 is lossless,
    so the oracle re-derives the framing/RMS/islands statistics from
    the synthesis law in SQL (gaps-and-islands for segment runs). The
    codec round-trip is thereby value-pinned, not just shape-pinned;
    crafted silence/tone boundary laws remain pytest-pinned."""
    d = _docs(spark, sf_dir)
    with_audio = MM.attach_wav_payload(d)
    return MM.wav_energy_segments(with_audio)


MULTIMODAL_WAV_SEGMENTS_SQL = """
WITH s AS (
  SELECT doc_id, 220.0 + (doc_id % 440) AS freq FROM documents
), q AS (
  SELECT doc_id, k,
         trunc(0.5 * sin(2 * pi() * freq * (k / 8000.0)) * 32767)
           / 32767 AS x
  FROM s, LATERAL (SELECT unnest(range(0, 2000)) AS k) r
), fr AS (
  SELECT doc_id, k // 160 AS frame, sqrt(avg(x * x)) > 0.05 AS active
  FROM q WHERE k < (2000 // 160) * 160
  GROUP BY doc_id, k // 160
), runs AS (
  SELECT doc_id, frame, active,
         frame - row_number() OVER (
           PARTITION BY doc_id, active ORDER BY frame) AS grp
  FROM fr
), seg AS (
  SELECT doc_id, count(*) AS run_len
  FROM runs WHERE active GROUP BY doc_id, grp
)
SELECT f.doc_id AS id, TRUE AS decoded,
       count(*) AS n_frames,
       CAST(sum(CASE WHEN f.active THEN 1 ELSE 0 END) AS BIGINT)
         AS n_active,
       round_even(avg(CASE WHEN f.active THEN 1.0 ELSE 0.0 END), 6)
         AS active_share,
       coalesce(any_value(s.n_seg), 0) AS n_segments,
       coalesce(any_value(s.longest), 0) AS longest_run
FROM fr f LEFT JOIN (
  SELECT doc_id, count(*) AS n_seg, max(run_len) AS longest
  FROM seg GROUP BY doc_id
) s ON s.doc_id = f.doc_id
GROUP BY f.doc_id
"""


def text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step 1 at corpus scale: the 50 most
    frequent adjacent character pairs inside words, weighted by word
    frequency — exactly the statistic the first BPE merge selects
    (subsequent rounds re-run it over the merged symbol stream).

    Physical shape: tokenize → word-frequency aggregate (the corpus
    compresses to its vocabulary here — the pair expansion runs over
    |vocab| rows, NOT corpus tokens), then a JVM-side HOF expansion
    (transform over substring — no Python), pair aggregate, and a
    deterministic top-k (row_number over (count desc, pair asc) — ties
    at the boundary can't flap). At 100 TB the vocab agg is the only
    fact-sized shuffle; everything after is KB-to-MB."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    words = d.select(F.explode(tokens("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    wc = words.groupBy("w").agg(F.count("*").alias("n"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    agg = pairs.groupBy("pair").agg(F.sum("n").alias("n_occurrences"))
    w_rank = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 50)
        .select("pair", "n_occurrences", F.col("rank").cast("long").alias("rank"))
    )


TEXT_BPE_FIRST_MERGES_SQL = f"""
WITH words AS (
  SELECT unnest(string_split({NORM_SQL}, ' ')) AS w FROM documents
),
wc AS (SELECT w, count(*) AS n FROM words WHERE len(w) >= 2 GROUP BY 1),
pairs AS (
  SELECT substr(w, i, 2) AS pair, n
  FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
),
agg AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences FROM pairs GROUP BY 1)
SELECT pair, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS BIGINT) AS rank
FROM agg
QUALIFY rank <= 50
"""


def corpus_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain discovery validation report over the k=8 seeded k-means
    topic clustering. STRICT oracle (round-9 conversion, boolean-
    gated): the fit is iterative so per-cluster contents aren't
    portable, but the clustering's defining laws are — per cluster id
    the report pins ``assignment_nearest_ok`` (every member vector is
    re-verified nearest to its OWN cluster's centroid — the k-means
    assignment invariant; a broken argmin or stale centroid fails),
    ``partition_complete_ok`` (cluster sizes sum to the corpus — no
    vector dropped or double-assigned), and the EXACT anchor
    n_vectors. The informative per-cluster top-terms report stays
    available as :func:`topic_cluster_terms` (library form, pinned by
    tests/test_training_data_ops.py)."""
    import numpy as np

    from ..functions.vectors import assign_cells, to_double_array

    emb = _emb(spark, sf_dir)
    # ONE seeded driver fit serves both the assignment and the
    # re-verification (round-12: previously kmeans_assignments re-ran
    # the identical collect+fit internally — two collects, two Lloyd
    # runs per execution; assignment below is exactly the non-None
    # branch of kmeans_assignments, so results are unchanged) — and the
    # fit is session-memoized (pure function of (table, k, seed); warm
    # executions skip the collect + Lloyd jobs entirely)
    centers = seeded_centers_cached(spark, sf_dir)
    if centers is None:
        raise ValueError(
            "corpus_topic_clusters: corpus exceeds the driver-fit "
            "guard; the re-verification report needs the seeded "
            "driver fit (use topic_cluster_terms for the report form)"
        )
    assigned = emb.select(
        F.col("vec_id"),
        assign_cells(centers)(to_double_array("embedding")).alias(
            "cluster"
        ),
    )
    n_vectors = emb.count()
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster int, centroid array<double>",
    )
    # re-verify every member against ALL centroids: own distance must
    # be the minimum (ties resolved to the smallest cluster id, the
    # assignment kernel's contract)
    ev = emb.select("vec_id", to_double_array("embedding").alias("ev"))
    d2 = F.expr(
        "aggregate(zip_with(ev, centroid, (x,y)->(x-y)*(x-y)),"
        " CAST(0 AS DOUBLE), (a,e)->a+e)"
    )
    dists = (
        ev.join(assigned, "vec_id")
        .crossJoin(F.broadcast(cent_df.withColumnRenamed("cluster", "c2")))
        .select(
            "vec_id",
            "cluster",
            "c2",
            d2.alias("dd"),
        )
    )
    # own-distance rides the SAME aggregate as the argmin (round-12):
    # `dists` previously fed two consumers (a filtered own-distance
    # projection joined back on vec_id), so the N×K distance fold
    # executed twice and paid a join; min(when(c2=cluster, dd)) is
    # exactly the filtered value (one row per vec matches), computed in
    # the single pass — values and the nearest_ok predicate unchanged.
    best = dists.groupBy("vec_id", "cluster").agg(
        F.min(
            F.struct(F.round("dd", 9).alias("d"), F.col("c2").alias("c2"))
        ).alias("b"),
        F.min(
            F.when(F.col("c2") == F.col("cluster"), F.col("dd"))
        ).alias("own_d"),
    )
    per_vec = best.select(
        "vec_id",
        "cluster",
        (
            (F.round(F.col("own_d"), 9) <= F.col("b.d") + 1e-9)
            | (F.col("b.c2") == F.col("cluster"))
        ).alias("nearest_ok"),
    )
    per_cluster = per_vec.groupBy("cluster").agg(
        F.count("*").alias("sz"),
        F.min(F.col("nearest_ok").cast("int")).alias("all_near"),
    )
    spine = spark.range(8).select(F.col("id").cast("int").alias("cluster"))
    tot = per_cluster.groupBy().agg(F.sum("sz").alias("assigned_total"))
    return (
        spine.join(per_cluster, "cluster", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce(F.col("all_near") == 1, F.lit(True)).alias(
                "assignment_nearest_ok"
            ),
            (F.col("assigned_total") == F.lit(n_vectors)).alias(
                "partition_complete_ok"
            ),
            F.lit(n_vectors).cast("long").alias("n_vectors"),
        )
    )


CORPUS_TOPIC_CLUSTERS_SQL = """
SELECT CAST(c.c AS BIGINT) AS cluster,
       TRUE AS assignment_nearest_ok,
       TRUE AS partition_complete_ok,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors
FROM range(0, 8) AS c(c)
"""


def topic_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The informative per-cluster report (sizes + 3 most distinctive
    terms by cluster-tf × corpus-idf) — the corpus-mixture view a
    pretraining pipeline uses to steer source weighting.

    Scale: assignment is one Arrow argmin pass (centers broadcast in
    the UDF closure); term scoring is the TF-IDF economics of
    text_tfidf_top_terms keyed by cluster instead of source; top-3 is
    a WindowGroupLimit heap. Library form (fit-dependent contents —
    determinism pinned by seeded-fit + partition-invariance tests);
    the registry's strict-oracle entry is corpus_topic_clusters."""
    from ..functions.text import tokens
    from ..functions.vectors import kmeans_assignments

    emb = _emb(spark, sf_dir)
    assigned = kmeans_assignments(emb, "embedding", "vec_id", k=8)
    d = _docs(spark, sf_dir)
    n_docs = d.count()
    docs = d.join(
        assigned.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    sizes = docs.groupBy("cluster").agg(F.count("*").alias("n_docs"))
    tok = docs.select(
        "doc_id", "cluster", F.explode(tokens("text")).alias("term")
    )
    df_counts = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf_counts = tok.groupBy("cluster", "term").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    scored = tf_counts.join(F.broadcast(df_counts), "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .join(F.broadcast(sizes), "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("rn").cast("long").alias("rn"),
            "term",
            "tfidf",
        )
    )


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidate pairs over REAL PNG payloads: the corpus
    is rendered to deterministic 16×16 grayscale PNGs (encode_png), the
    pixels are decoded back (PIL or stdlib inflate+unfilter), and
    dHash64 perceptual keys are banded 4×16-bit for the hamming-≤3
    candidate join — the image twin of SimHash blocking.

    STRICT oracle (round-12 — was rows-only): the fixture image IS the
    doc's utf-8 bytes tiled 16×16 (attach_png_payload) and the corpus
    is pure ASCII, so pixel (r,c) = ord(substr(text, r*16+c+1, 1)) (0
    past the end) — the oracle re-derives the pixels from that
    synthesis law, and dHash's 8×9 block-mean comparisons reduce to
    exact integer cross-multiplication (sum₂·n₁ > sum₁·n₂ over byte
    sums), so the whole PNG encode → decode → dHash → banding → hamming
    chain is VALUE-pinned in portable SQL, pair-for-pair identical at
    sf0.001/0.01/0.1 before wiring. A payload-corruption test keeps the
    quarantine path honest (the law only covers intact fixtures)."""
    media = MM.attach_png_payload(_docs_wide(spark, sf_dir))
    return MM.phash_candidate_pairs(media)


# dHash geometry on the 16×16 fixture: 8 row blocks of 2 rows; 9 col
# blocks at boundaries [0,1,3,5,7,8,10,12,14] (np: (arange(9)*16)//9),
# giving widths [1,2,2,2,1,2,2,2,2]. Means compare as integer
# cross-products, so no float ever enters the hash.
MULTIMODAL_PHASH_DEDUP_SQL = """
WITH px AS (
  SELECT doc_id, i AS idx,
         CASE WHEN i < least(length(text), 256)
              THEN ord(substr(text, i + 1, 1)) ELSE 0 END AS val
  FROM documents, LATERAL (SELECT unnest(range(256)) AS i) r
),
cells AS (
  SELECT doc_id,
         (idx // 16) // 2 AS rb,
         CASE
           WHEN idx % 16 = 0 THEN 0
           WHEN idx % 16 < 3 THEN 1
           WHEN idx % 16 < 5 THEN 2
           WHEN idx % 16 < 7 THEN 3
           WHEN idx % 16 = 7 THEN 4
           WHEN idx % 16 < 10 THEN 5
           WHEN idx % 16 < 12 THEN 6
           WHEN idx % 16 < 14 THEN 7
           ELSE 8
         END AS cb,
         val
  FROM px
),
grid AS (
  SELECT doc_id, rb, cb, sum(val)::BIGINT AS s, count(*)::BIGINT AS n
  FROM cells GROUP BY doc_id, rb, cb
),
bits AS (
  SELECT g1.doc_id, g1.rb, g1.cb AS j,
         CASE WHEN g2.s * g1.n > g1.s * g2.n THEN 1 ELSE 0 END AS bit
  FROM grid g1 JOIN grid g2
    ON g1.doc_id = g2.doc_id AND g1.rb = g2.rb AND g2.cb = g1.cb + 1
  WHERE g1.cb < 8
),
ph AS (
  SELECT doc_id,
         sum(CASE WHEN bit = 1
                  THEN (1::UBIGINT << (rb * 8 + j))::HUGEINT
                  ELSE 0 END)::UBIGINT AS ph_u
  FROM bits GROUP BY doc_id
),
reps AS (SELECT ph_u, min(doc_id) AS rep FROM ph GROUP BY ph_u),
members AS (
  SELECT p.doc_id AS member, r.rep FROM ph p JOIN reps r USING (ph_u)
),
bands AS (
  SELECT r.rep AS id, r.ph_u, c, ((r.ph_u >> (16 * c)) & 65535) AS band
  FROM reps r, LATERAL (SELECT unnest(range(4)) AS c) l
),
rep_pairs AS (
  SELECT DISTINCT a.id AS r1, b.id AS r2,
         bit_count(xor(a.ph_u, b.ph_u))::BIGINT AS hamming
  FROM bands a
  JOIN bands b ON a.c = b.c AND a.band = b.band AND a.id < b.id
  WHERE bit_count(xor(a.ph_u, b.ph_u)) <= 3
),
cross_pairs AS (
  SELECT least(m1.member, m2.member) AS id1,
         greatest(m1.member, m2.member) AS id2,
         p.hamming
  FROM rep_pairs p
  JOIN members m1 ON m1.rep = p.r1
  JOIN members m2 ON m2.rep = p.r2
),
intra_pairs AS (
  SELECT m1.member AS id1, m2.member AS id2, 0::BIGINT AS hamming
  FROM members m1
  JOIN members m2 ON m1.rep = m2.rep AND m1.member < m2.member
)
SELECT id1, id2, hamming FROM cross_pairs
UNION ALL
SELECT id1, id2, hamming FROM intra_pairs
"""


def text_chunking_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF chunker (64-token chunks, 8-token overlap) applied per
    document via LATERAL join — oracle re-states the chunk arithmetic in
    SQL, so the UDTF's row expansion is value-checked."""
    from ..functions.udtf_ops import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def text_chunking_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production chunker: the UDTF's pure-JVM twin (split → sequence →
    explode → slice), zero Python workers — row-identical output, same
    oracle. At sf0.1 this is ~4× the Arrow-UDTF form and stays inside
    whole-stage codegen, which is the 100 TB posture for row-expansion."""
    from ..functions.udtf_ops import chunk_documents_explode

    return chunk_documents_explode(_docs(spark, sf_dir))


TEXT_CHUNKING_UDTF_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text <> ''
),
starts AS (
  SELECT doc_id, t,
         unnest(range(0, greatest(len(t) - 8, 1), 56)) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start / 56 AS INT) AS chunk_idx,
       array_to_string(t[start + 1 : start + 64], ' ') AS chunk,
       CAST(least(64, len(t) - start) AS INT) AS n_tokens
FROM starts
"""


# ---------- corpus assembly: packing / decontamination / repetition / mixing ----------

def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget packing (operators/packing.py): documents
    are packed per source in doc_id order into 200-token bins. One
    window prefix-sum per source partition — the distributed greedy
    packer."""
    from ..operators.packing import pack_contiguous
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_contiguous(
        docs, token_col="n_tokens", budget=200, order_col="doc_id",
        shard_col="source",
    )


CORPUS_PACK_SEQUENCES_SQL = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER w, 0) / 200) AS BIGINT) AS bin_id,
       CAST(coalesce(sum(n_tokens) OVER w, 0) % 200 AS BIGINT) AS bin_offset
FROM docs
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): the corpus is
    checked against an evaluation set (source 'src0' stands in for a
    held-out benchmark) by 5-gram overlap; eval-set members flag
    themselves at overlap 1.0, near-copies anywhere above threshold."""
    from ..operators.decontam import ngram_contamination

    docs = _docs(spark, sf_dir)
    eval_set = docs.filter(F.col("source") == "src0")
    return ngram_contamination(docs, eval_set, n=5, threshold=0.2)


CORPUS_DECONTAMINATE_SQL = f"""
WITH docs AS (SELECT doc_id, source, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, source, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
sh AS (
  SELECT doc_id, source,
         CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
              ELSE list_distinct([array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t)-3)])
         END AS shingles
  FROM toks
),
ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
eval_sh AS (SELECT DISTINCT shingle FROM ex WHERE source = 'src0'),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY 1),
overlap AS (
  SELECT doc_id, count(*) AS n_overlap
  FROM ex WHERE shingle IN (SELECT shingle FROM eval_sh)
  GROUP BY 1
)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(o.n_overlap, 0) / s.n_shingles, 6) AS overlap_frac,
       round(coalesce(o.n_overlap, 0) / s.n_shingles, 6) >= 0.2 AS contaminated
FROM sizes s LEFT JOIN overlap o ON s.doc_id = o.doc_id
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (operators/text.py):
    duplicate-word / top-word / duplicate-bigram fractions + keep flag."""
    return TX.repetition_stats(_docs(spark, sf_dir))


TEXT_REPETITION_STATS_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
words AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY 1, 2),
top AS (SELECT doc_id, max(cnt) AS top_word_count FROM wc GROUP BY 1),
sizes AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_words,
         CASE WHEN len(t) < 2 THEN []::VARCHAR[]
              ELSE [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
         END AS bg
  FROM toks
),
m AS (
  SELECT s.doc_id, s.n_words,
         round(1.0 - s.n_distinct_words / s.n_words, 6) AS dup_word_frac,
         round(top.top_word_count / s.n_words, 6) AS top_word_frac,
         CASE WHEN len(bg) > 0
              THEN round(1.0 - len(list_distinct(bg)) / len(bg), 6)
              ELSE 0.0 END AS dup_bigram_frac
  FROM sizes s JOIN top ON s.doc_id = top.doc_id
)
SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_bigram_frac,
       (dup_word_frac <= 0.8 AND top_word_frac <= 0.2 AND dup_bigram_frac <= 0.4) AS keep
FROM m
"""


def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-equalizing source mixture (operators/sampling.py): per-source
    deterministic sampling rates that cap over-represented sources."""
    from ..operators.sampling import source_mix_rates
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir).select(
        "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return source_mix_rates(docs, strata_col="source", token_col="n_tokens")


CORPUS_SOURCE_MIX_SQL = f"""
WITH docs AS (
  SELECT source, CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM docs GROUP BY 1
)
SELECT source, n_docs, total_tokens,
       round((SELECT min(total_tokens) FROM totals) / total_tokens, 6) AS sample_rate
FROM totals
"""


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction before ANN/clustering: fit PCA on the
    corpus embeddings via the distributed sufficient-statistics plan
    (operators/pca.py — per-partition Gram-matrix fold, tree reduce,
    driver eigensolve), project every vector onto the top-8 axes, and
    emit the per-component VALIDATION REPORT.

    STRICT oracle (round-9 conversion, boolean-gated like the binning
    twins): per-vector projections are eigensolve-dependent (sign and
    last-ulp drift aren't portable), but the algebra they must satisfy
    is checkable and the variance accounting is exactly portable. Per
    component c the report carries: basis_orthonormal_ok (‖p_c‖=1 and
    p_c ⟂ p_{j<c} at 1e-9), variance_ordered_ok (λ_c ≤ λ_{c-1}),
    projected_variance_ok (sample variance of the projected coordinate
    equals λ_c at 1e-6 relative — a broken projection or a wrong
    eigenpair fails), eigenvalue_in_range_ok (0 ≤ λ_c ≤ total variance)
    — plus the EXACT anchors n_vectors and total_variance, computed
    with the repo's decimal discipline (per-dim sums of 9dp-rounded
    terms, one final division chain) so DuckDB reproduces them
    bit-for-bit. The raw projection itself stays a library operator
    (operators/pca.py) with numpy-parity pytest coverage."""
    import numpy as np

    from ..operators.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    # session-memoized fit: the Gram fold + eigensolve is a pure
    # function of (table, k) — warm executions reuse the model object,
    # skipping the distributed sufficient-statistics job (round-12)
    model = pca_model_cached(spark, sf_dir)
    proj = pca_project(emb, model, "embedding", out_col="pc")
    var_agg = proj.agg(
        F.count("*").alias("n"),
        *[
            F.var_samp(F.col("pc")[c]).alias(f"v{c}")
            for c in range(8)
        ],
    )
    # exact cross-engine total variance: per-dim decimal sums of
    # 9dp-rounded x and x², then the textbook sample-variance formula
    # per dim (double, identical expression in DuckDB), each dim's
    # term rounded at 9dp and summed as decimal
    tv_agg = (
        emb.select(F.posexplode("embedding").alias("i", "e"))
        .groupBy("i")
        .agg(
            F.sum(
                F.round(
                    F.col("e").cast("double") * F.col("e").cast("double"),
                    9,
                ).cast("decimal(38,9)")
            ).alias("s2"),
            F.sum(
                F.round(F.col("e").cast("double"), 9).cast(
                    "decimal(38,9)"
                )
            ).alias("s1"),
            F.count("*").alias("n"),
        )
        .select(
            F.round(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n").cast("double")
                )
                / (F.col("n").cast("double") - 1.0),
                9,
            ).cast("decimal(38,9)").alias("term")
        )
        .agg(F.round(F.sum("term").cast("double"), 6).alias("tv"))
    )
    # one driver job for both report inputs: a 1-row × 1-row crossJoin
    # (broadcast nested-loop over scalar aggregates — the sanctioned
    # fold) instead of two sequential collects
    var_row = var_agg.crossJoin(F.broadcast(tv_agg)).collect()[0]
    total_var = float(var_row.tv)
    n_vectors = int(var_row.n)
    comps = model.components
    lam = model.explained_variance
    rows = []
    for c in range(8):
        dots = comps[:c] @ comps[c] if c else np.array([])
        ortho = bool(
            abs(float(comps[c] @ comps[c]) - 1.0) <= 1e-9
            and (dots.size == 0 or float(np.abs(dots).max()) <= 1e-9)
        )
        ordered = bool(c == 0 or lam[c] <= lam[c - 1] + 1e-12)
        pv = float(var_row[f"v{c}"])
        pv_ok = bool(
            abs(pv - float(lam[c])) <= 1e-6 * max(1.0, abs(float(lam[c])))
        )
        in_range = bool(-1e-9 <= float(lam[c]) <= total_var + 1e-6)
        rows.append(
            (c + 1, ortho, ordered, pv_ok, in_range, n_vectors, total_var)
        )
    return spark.createDataFrame(
        rows,
        "component long, basis_orthonormal_ok boolean, "
        "variance_ordered_ok boolean, projected_variance_ok boolean, "
        "eigenvalue_in_range_ok boolean, n_vectors long, "
        "total_variance double",
    )


EMBEDDING_PCA_PROJECT_SQL = """
WITH dims AS (
  SELECT i,
         sum(CAST(round(CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 9)
                  AS DECIMAL(38,9))) AS s2,
         sum(CAST(round(CAST(e AS DOUBLE), 9) AS DECIMAL(38,9))) AS s1,
         count(*) AS n
  FROM (
    SELECT unnest(embedding) AS e,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
  GROUP BY i
), tv AS (
  SELECT round(CAST(sum(
           CAST(round((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0), 9) AS DECIMAL(38,9))
         ) AS DOUBLE), 6) AS total_variance
  FROM dims
), nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
SELECT CAST(c.c AS BIGINT) AS component,
       TRUE AS basis_orthonormal_ok,
       TRUE AS variance_ordered_ok,
       TRUE AS projected_variance_ok,
       TRUE AS eigenvalue_in_range_ok,
       nv.n_vectors,
       tv.total_variance
FROM range(1, 9) AS c(c) CROSS JOIN tv CROSS JOIN nv
"""


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (hashingTF): tokens hash into a fixed
    D=256 bucket space (2-hex-char md5 prefix — the repo's portable
    bucket scheme, identical string math in Spark and DuckDB), counted
    per (doc, bucket). The sparse long format (doc_id, bucket, n) is
    the join-ready shape for distributed featurization: no vocabulary
    build, no global dictionary broadcast — the classic fixed-memory
    trade (collisions fold features together) that makes bag-of-words
    viable at corpus scale.

    Plan shape: explode → one map-side-combinable grouped count keyed
    on (doc_id, bucket). No joins, no driver state."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", F.substring(F.md5("tok"), 1, 2).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


TEXT_FEATURE_HASHING_SQL = f"""
WITH d AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
tok AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
  FROM d WHERE norm <> ''
)
SELECT doc_id, substr(md5(tok), 1, 2) AS bucket, count(*) AS n
FROM tok
GROUP BY 1, 2
"""


def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: the k=20 documents per source
    with the smallest md5(doc_id).

    Hash-ordered sampling is the scale-correct alternative to rand()
    for corpus curation: re-runs, task retries and incremental
    recomputation all select the SAME sample (rand() redraws per task
    attempt, so a retried partition silently changes the corpus), and
    adding documents only ever swaps in/out at the hash boundary. The
    per-group top-k compiles to WindowGroupLimit: each map task keeps
    only k rows per group before the exchange, so the shuffle carries
    O(groups x k) rows, not the corpus."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(
        key.asc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "doc_id",
            "source",
            key.alias("sample_key"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", "sample_key")
    )


CORPUS_HASH_SAMPLE_SQL = """
SELECT doc_id, source, sample_key
FROM (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 20
"""


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (algorithm
    A-ES, Efraimidis & Spirakis 2006): per source stratum keep the k=15
    docs with the smallest exponential key -ln(u)/w, where w = n_chars
    (longer docs proportionally likelier) and u is a hash-uniform drawn
    from md5(doc_id) — NOT rand(), for the same retry-stability reasons
    as corpus_hash_sample: task retries, re-runs, and incremental
    recomputes all draw the identical sample, and the selection is
    reproducible from the data alone.

    Scale shape: the per-stratum top-k compiles to WindowGroupLimit
    (map-side k-row pruning before the exchange), so the shuffle
    carries O(strata × k) rows regardless of corpus size — the same
    posture as the unweighted hash sample."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    # md5 first 8 hex chars → uniform in (0,1): (x + 0.5) / 2^32 keeps
    # the draw strictly inside the open interval so ln() never sees 0.
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w_col = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = -F.log(u) / w_col
    win = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.round(key, 6).alias("sample_key"),
            F.row_number().over(win).alias("rn"),
        )
        .filter(F.col("rn") <= 15)
        .select("doc_id", "source", "n_chars", "sample_key")
    )


CORPUS_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
             / 4294967296.0)
         / CAST(greatest(n_chars, 1) AS DOUBLE) AS k
  FROM documents
)
SELECT doc_id, source, n_chars, round(k, 6) AS sample_key
FROM (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn
  FROM keyed
)
WHERE rn <= 15
"""


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection: within each near-dup cluster
    keep the HIGHEST-quality document, not the min-id one — the choice
    production curation actually wants (min-id keeps an arbitrary
    member; quality-argmax keeps the best copy of the duplicated
    content). Composes the component labeling (operators/graph.py) with
    quality_score (operators/text.py): docs in no candidate pair are
    singleton clusters and survive unchanged; within a cluster the
    argmax is deterministic via (quality desc, doc_id asc) tie-break.

    Scale shape: the component relation only contains docs that appear
    in some pair (a small fraction of the corpus), so the label join is
    broadcast-able; the per-cluster argmax is one WindowGroupLimit
    shuffle keyed on component."""
    from pyspark.sql import Window

    comp = components_cached(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    q = TX.quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score"
    )
    labeled = q.join(F.broadcast(comp), "doc_id", "left").withColumn(
        "component", F.coalesce("component", F.col("doc_id"))
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc_id"),
            "quality_score",
        )
    )


DEDUP_KEEP_BEST_QUALITY_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2
  FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node),
qt AS (
  SELECT doc_id, text,
         CASE WHEN {NORM_SQL} = '' THEN []
              ELSE string_split({NORM_SQL}, ' ') END AS t
  FROM documents
),
q AS (
  SELECT doc_id,
         round(0.4 * (CASE WHEN len(t) BETWEEN 10 AND 5000 THEN 1.0
                           WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END)
             + 0.3 * (CASE WHEN len(t) > 0
                           THEN len(list_distinct(t)) / len(t) ELSE 0.0 END)
             + 0.3 * (CASE WHEN length(text) > 0
                           THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
                           ELSE 0.0 END), 6) AS quality_score
  FROM qt
),
labeled AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component,
         q.quality_score
  FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id
)
SELECT component, doc_id AS kept_doc_id, quality_score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY quality_score DESC, doc_id
  ) AS rn
  FROM labeled
)
WHERE rn = 1
"""


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans (ExactSubstr-style, Lee
    et al. 2022): per doc, the merged maximal spans of 8-token windows
    whose content occurs in >= 2 documents, and the token fraction they
    cover. Catches boilerplate / licence blocks / syndicated passages
    that whole-doc exact dedup and near-dup LSH both miss."""
    return DF.repeated_span_stats(
        _docs(spark, sf_dir),
        k=8,
        windows=span_windows_cached(spark, sf_dir),
    )


DEDUP_REPEATED_SPANS_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
win AS (
  SELECT doc_id, len(t) AS n_tokens, i AS pos,
         md5(array_to_string(t[i:i+7], ' ')) AS gh
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        FROM toks WHERE len(t) >= 8)
),
dup AS (
  SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM win)
  GROUP BY gh HAVING count(*) >= 2
),
flagged AS (SELECT doc_id, n_tokens, pos FROM win JOIN dup USING (gh)),
marked AS (
  SELECT doc_id, n_tokens, pos,
         max(pos + 7) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_end
  FROM flagged
),
grouped AS (
  SELECT doc_id, n_tokens, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, n_tokens, grp,
         min(pos) AS span_start, max(pos) + 7 AS span_end
  FROM grouped GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, n_tokens, count(*) AS n_dup_spans,
         sum(span_end - span_start + 1) AS dup_tokens
  FROM spans GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CASE WHEN p.n_tokens IS NULL OR p.n_tokens = 0 THEN 0.0
                  ELSE p.dup_tokens / p.n_tokens END, 6) AS dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@session_store
def dsir_weights_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weight relation — the shared upstream of the weights report
    AND the importance-resampling step (round-12; the resample
    previously re-ran the whole corpus scoring pass)."""
    return TX.dsir_importance_weights(
        _docs(spark, sf_dir), target_filter=F.col("source") == "src0"
    ).localCheckpoint(eager=True)


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed-unigram variant): score docs by
    mean token log-ratio between a target-domain bucket model (docs
    from source 'src0') and the raw-corpus model; keep = more
    target-like than corpus-like. The whole model is <= 256 rows and
    broadcasts — zero driver state, one corpus pass (per session — the
    relation is the session store above, shared with the resampler)."""
    return dsir_weights_cached(spark, sf_dir)


CORPUS_DSIR_WEIGHTS_SQL = f"""
WITH d AS (SELECT doc_id, source, {NORM_SQL} AS norm FROM documents),
inst AS (
  SELECT doc_id, source = 'src0' AS is_target,
         substr(md5(unnest(string_split(norm, ' '))), 1, 2) AS bucket
  FROM d WHERE norm <> ''
),
counts AS (
  SELECT bucket, count(*) AS r_cnt,
         count(*) FILTER (is_target) AS t_cnt
  FROM inst GROUP BY 1
),
totals AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM counts),
model AS (
  SELECT bucket,
         ln((t_cnt + 0.5) / (t_tot + 128.0))
           - ln((r_cnt + 0.5) / (r_tot + 128.0)) AS log_ratio
  FROM counts CROSS JOIN totals
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, avg(log_ratio) AS w
  FROM inst JOIN model USING (bucket) GROUP BY 1
)
SELECT d2.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       round(coalesce(s.w, 0.0), 6) AS avg_log_ratio,
       coalesce(s.w, 0.0) > 0 AS keep
FROM documents d2 LEFT JOIN scored s USING (doc_id)
"""


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-shard export manifest: per-shard doc count,
    byte count, id-sum and an order-insensitive content checksum
    (md5 over lexicographically-sorted per-doc digests) — the
    integrity record a dataloader checks before trusting a shard."""
    from ..operators.export import shard_manifest

    return shard_manifest(_docs(spark, sf_dir), n_shards=16)


CORPUS_SHARD_MANIFEST_SQL = """
WITH d AS (
  SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 16
           AS shard,
         doc_id, length(text) AS n_bytes,
         md5(CAST(doc_id AS VARCHAR) || chr(1) || text) AS digest
  FROM documents
)
SELECT shard,
       count(*) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       md5(string_agg(digest, '' ORDER BY digest)) AS content_md5
FROM d GROUP BY 1
"""


def text_unicode_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health screen: control-char / U+FFFD / mojibake counts,
    cleaned NFC text, and a keep flag on the bad-character ratio. JVM
    regex for everything except NFC composition (Arrow-batched pandas
    UDF; the oracle's twin is DuckDB's nfc_normalize)."""
    return TX.unicode_cleanup(_docs(spark, sf_dir))


def _unicode_cleanup_sql() -> str:
    from ..operators.text import CONTROL_RE, MOJIBAKE_RE, REPLACEMENT_CHAR

    clean = (
        "trim(regexp_replace(regexp_replace(text, "
        f"'{CONTROL_RE}', ' ', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '{CONTROL_RE}')) AS BIGINT)
         AS n_control,
       CAST(len(regexp_extract_all(text, '{REPLACEMENT_CHAR}')) AS BIGINT)
         AS n_replacement,
       CAST(len(regexp_extract_all(text, '{MOJIBAKE_RE}')) AS BIGINT)
         AS n_mojibake,
       nfc_normalize({clean}) AS text_clean,
       CASE WHEN length(text) = 0 THEN false
            ELSE (len(regexp_extract_all(text, '{CONTROL_RE}'))
                  + len(regexp_extract_all(text, '{REPLACEMENT_CHAR}'))
                  + len(regexp_extract_all(text, '{MOJIBAKE_RE}')))
                 / length(text) <= 0.01
       END AS keep
FROM documents
"""


TEXT_UNICODE_CLEANUP_SQL = _unicode_cleanup_sql()


def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal for web-scraped corpora: drop script/style/
    comment blocks, strip tags, decode common entities, collapse
    whitespace; emit cleaned text + markup-density gate signal."""
    return TX.html_strip(_docs(spark, sf_dir))


def _html_strip_sql() -> str:
    from ..operators.text import HTML_DROP_RE, HTML_ENTITIES, HTML_TAG_RE

    decoded = (
        "regexp_replace(regexp_replace(text, "
        f"'{HTML_DROP_RE}', ' ', 'gs'), '{HTML_TAG_RE}', ' ', 'g')"
    )
    for ent, rep in HTML_ENTITIES.items():
        rep_sql = rep.replace("'", "''")
        decoded = f"replace({decoded}, '{ent}', '{rep_sql}')"
    clean = f"trim(regexp_replace({decoded}, '\\s+', ' ', 'g'))"
    return f"""
SELECT doc_id,
       {clean} AS text_clean,
       CAST(length(text) AS BIGINT) AS n_chars_in,
       CAST(length({clean}) AS BIGINT) AS n_chars_out,
       round(CASE WHEN length(text) > 0
                  THEN (length(text) - length({clean})) / length(text)
                  ELSE 0.0 END, 6) AS markup_density
FROM documents
"""


TEXT_HTML_STRIP_SQL = _html_strip_sql()


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training step 2: apply the 50 corpus-induced
    merges (text_bpe_first_merges) to encode every document; report
    token/piece counts and pieces-per-token. The merge table is a
    50-row model artifact (driver collect is a model fit, like
    centroids); encoding runs over the VOCAB only, corpus-sized work
    stays JVM-side (explode + join + agg). STRICT oracle (round-9
    conversion): for char-char merge tables, greedy lowest-rank-first
    merging equals rank-ordered left-to-right replacement, which a
    DuckDB recursive CTE expresses exactly — see TEXT_BPE_ENCODE_SQL;
    the pure-Python reference equivalence test still pins the kernel."""
    merges_df = text_bpe_first_merges(spark, sf_dir)
    merges = [
        (r.pair[0], r.pair[1])
        for r in merges_df.orderBy("rank").collect()
    ]
    return TX.bpe_encode_stats(_docs(spark, sf_dir), merges)


# STRICT oracle (round-9 conversion): for a merge table of CHAR-CHAR
# pairs (this one — 2-char substrings of raw words), greedy
# lowest-rank-first merging is equivalent to applying the merges in
# rank order with left-to-right non-overlapping replacement: a merge's
# output symbol is multi-char and can never match another char-char
# merge, so later merges can't be unlocked out of order. Each word's
# symbol string is paren-wrapped ("(a)(b)(c)") so adjacent matches
# share no boundary characters and replace() pairs left-to-right
# exactly like the Python reference (verified against it on crafted
# overlap/tie words). The recursion applies merge #(step+1) per step
# over the DISTINCT vocabulary and ends when ranks run out.
TEXT_BPE_ENCODE_SQL = f"""
WITH RECURSIVE
mwords AS (
  SELECT unnest(string_split({NORM_SQL}, ' ')) AS w FROM documents
),
wc AS (SELECT w, count(*) AS n FROM mwords WHERE len(w) >= 2 GROUP BY 1),
mp AS (
  SELECT substr(w, i, 2) AS pair, n
  FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
),
magg AS (SELECT pair, sum(n) AS n_occ FROM mp GROUP BY 1),
merges AS (
  SELECT pair,
         CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS INTEGER)
           AS rank
  FROM magg QUALIFY rank <= 50
),
toks AS (
  SELECT doc_id,
         unnest(CASE WHEN {NORM_SQL} = '' THEN []
                     ELSE string_split({NORM_SQL}, ' ') END) AS w
  FROM documents
),
vocab AS (SELECT DISTINCT w FROM toks),
enc AS (
  SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS s, 0 AS step
  FROM vocab
  UNION ALL
  SELECT e.w,
         replace(e.s,
                 '(' || substr(m.pair, 1, 1) || ')('
                     || substr(m.pair, 2, 1) || ')',
                 '(' || m.pair || ')'),
         e.step + 1
  FROM enc e JOIN merges m ON m.rank = e.step + 1
),
pieces AS (
  SELECT w, length(s) - length(replace(s, '(', '')) AS n_pieces
  FROM enc
  QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(p.n_pieces) AS n_pieces
  FROM toks t JOIN pieces p USING (w) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(per_doc.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(per_doc.n_pieces, 0) AS BIGINT) AS n_pieces,
       round(CASE WHEN COALESCE(per_doc.n_tokens, 0) > 0
                  THEN per_doc.n_pieces / per_doc.n_tokens
                  ELSE 0.0 END, 6) AS pieces_per_token
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus card: the one-screen summary a data curator
    reads before mixing — volume (docs/tokens), mean heuristic quality,
    exact-duplicate rate, and dominant-language share. Composes the
    production operators (quality_score, content digest) rather than
    re-deriving their math, so the report can never drift from the
    gates it summarizes.

    Plan: quality relation reuses the map-only scoring pass; dup rate
    is one digest aggregate joined back on the digest; everything lands
    in a single per-source aggregate. At scale: two uniform-key
    shuffles (digest, source) — no driver state."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    q = TX.quality_score(d).select("doc_id", "n_tokens", "quality_score")
    dup = (
        d.select("doc_id", DF.content_digest("text").alias("digest"))
        .withColumn(
            "n_copies", F.count("*").over(Window.partitionBy("digest"))
        )
        .select("doc_id", (F.col("n_copies") > 1).alias("is_dup"))
    )
    return (
        d.select("doc_id", "source", "lang")
        .join(q, "doc_id")
        .join(dup, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.avg(F.col("is_dup").cast("double")), 6).alias("dup_rate"),
            F.round(
                F.count_if(F.col("lang") == "en") / F.count("*"), 6
            ).alias("en_share"),
        )
    )


CORPUS_QUALITY_REPORT_SQL = f"""
WITH docs AS (SELECT doc_id, source, lang, text, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, source, lang, text,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t,
         md5(norm) AS digest
  FROM docs
),
m AS (
  SELECT doc_id, source, lang, digest,
         len(t) AS n_tokens,
         0.4 * (CASE WHEN len(t) BETWEEN 10 AND 5000 THEN 1.0
                     WHEN len(t) > 0 THEN 0.5 ELSE 0.0 END)
         + 0.3 * (CASE WHEN len(t) > 0 THEN len(list_distinct(t)) / len(t) ELSE 0.0 END)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) / length(text)
                       ELSE 0.0 END) AS q
  FROM toks
),
dd AS (
  SELECT doc_id, source, lang, n_tokens, q,
         count(*) OVER (PARTITION BY digest) > 1 AS is_dup
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(round(q, 6)), 6) AS avg_quality,
       round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6) AS dup_rate,
       round(count(*) FILTER (lang = 'en') / count(*), 6) AS en_share
FROM dd GROUP BY 1
"""


def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation screen over real PCM16 WAV payloads synthesized
    per doc (encode AND decode codecs run end-to-end): duration, RMS,
    peak, zero-crossing rate.

    STRICT oracle (round-12, verdict task #6 — was rows-only): the
    fixture tone is a closed-form function of doc_id
    (0.5·sin(2π·(220 + id % 440)·k/8000), k<2000, quantized to int16
    by truncation) and PCM16 encode/decode is lossless, so the oracle
    recomputes the features from the synthesis law directly in SQL —
    which makes the comparison STRONGER than a codec-free twin: any
    bit the WAV writer or parser drops shows up as a feature mismatch.
    Verified exact on all 6000 fixture docs across the three sfs."""
    d = _docs(spark, sf_dir)
    with_audio = MM.attach_wav_payload(d)
    return MM.wav_features(with_audio)


# The synthesis law inlined: x_k = trunc(0.5·sin(2πf·k/8000)·32767)/32767
# (astype('<i2') truncates toward zero exactly like trunc); signbit
# change counting matches numpy because int16/32767 can never produce
# -0.0. round_even = Python round (banker's), the kernel's rounding.
MULTIMODAL_WAV_FEATURES_SQL = """
WITH s AS (
  SELECT doc_id, 220.0 + (doc_id % 440) AS freq FROM documents
), q AS (
  SELECT doc_id, k,
         trunc(0.5 * sin(2 * pi() * freq * (k / 8000.0)) * 32767)
           / 32767 AS x
  FROM s, LATERAL (SELECT unnest(range(0, 2000)) AS k) r
), w AS (
  SELECT doc_id, k, x,
         lag(x) OVER (PARTITION BY doc_id ORDER BY k) AS prev
  FROM q
), f AS (
  SELECT doc_id, count(*) AS n, sqrt(avg(x * x)) AS rms,
         max(abs(x)) AS peak,
         sum(CASE WHEN prev IS NOT NULL AND (x < 0) <> (prev < 0)
                  THEN 1 ELSE 0 END) AS zc
  FROM w GROUP BY doc_id
)
SELECT doc_id AS id, TRUE AS decoded, n AS n_samples,
       round_even(n / 8000.0, 6) AS duration_s,
       round_even(rms, 6) AS rms, round_even(peak, 6) AS peak,
       round_even(zc * 8000.0 / n, 2) AS zcr_hz
FROM f
"""


def multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio rate-normalization end-to-end on real PCM16 payloads:
    decode → decimate ×4 → re-encode at rate/4 → md5. Rows-only (WAV
    codec round-trips aren't SQL); decimation identity, sample-count
    law, round-trip and quarantine behavior are pytest-pinned."""
    d = _docs(spark, sf_dir)
    with_audio = MM.attach_wav_payload(d)
    out = MM.resample_wav(with_audio, factor=4)
    return out.select(
        "id", "decoded", "n_samples_in", "n_samples_out", "out_rate", "wav_md5"
    )


def text_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line/document hygiene (terminal-punctuation lines,
    >= 5 words/line, javascript-line drop, brace / lorem-ipsum /
    3-sentence doc gates). Crafted-input tests force branch coverage;
    on this corpus every signal is honestly computed both sides."""
    return TX.c4_line_filter(_docs(spark, sf_dir))


TEXT_C4_FILTER_SQL = """
WITH d AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents
),
f AS (
  SELECT doc_id, text, lines,
         list_filter([trim(l) FOR l IN lines], l ->
           length(l) > 0
           AND regexp_matches(l, '[.!?"]$')
           AND len(string_split_regex(l, ' +')) >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM d
),
g AS (
  SELECT doc_id, text, lines, kept,
         -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
         coalesce(array_to_string(kept, chr(10)), '') AS clean
  FROM f
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       clean AS text_clean,
       CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS n_sentences,
       (NOT contains(text, '{')
        AND NOT contains(lower(text), 'lorem ipsum')
        AND len(regexp_extract_all(clean, '[.!?]')) >= 3) AS keep
FROM g
"""


def text_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (token band, mean word length, symbol
    ratio, alphabetic-word fraction, stopword floor) with every signal
    emitted beside the gate."""
    return TX.gopher_quality_gate(_docs(spark, sf_dir))


def _gopher_sql() -> str:
    from ..operators import text as _t

    sw = ", ".join(f"'{w}'" for w in _t.GOPHER_STOPWORDS)
    return f"""
WITH d AS (SELECT doc_id, text, {NORM_SQL} AS norm FROM documents),
toks AS (
  SELECT doc_id, text,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS t
  FROM d
),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CASE WHEN len(t) > 0
              THEN list_sum([length(w) FOR w IN t]) / len(t)
              ELSE 0.0 END AS mean_wlen,
         len(regexp_extract_all(text, '[#]|\\.\\.\\.')) AS n_symbols,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) / len(t)
              ELSE 0.0 END AS alpha_frac,
         len(list_filter(t, w -> list_contains([{sw}], w))) AS stop_hits
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(mean_wlen, 6) AS mean_word_len,
       CAST(n_symbols AS BIGINT) AS n_symbols,
       round(alpha_frac, 6) AS alpha_word_frac,
       CAST(stop_hits AS BIGINT) AS stopword_hits,
       (n_tokens BETWEEN {_t.GOPHER_MIN_TOKENS} AND {_t.GOPHER_MAX_TOKENS}
        AND mean_wlen BETWEEN {_t.GOPHER_MIN_MEAN_WLEN} AND {_t.GOPHER_MAX_MEAN_WLEN}
        AND (CASE WHEN n_tokens > 0 THEN n_symbols / n_tokens ELSE 0.0 END)
            <= {_t.GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_frac >= {_t.GOPHER_MIN_ALPHA_WORD_FRAC}
        AND stop_hits >= {_t.GOPHER_MIN_STOPWORD_HITS}) AS keep
FROM m
"""


TEXT_GOPHER_GATE_SQL = _gopher_sql()


def corpus_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel wired through the round-5 gates:
    Unicode hygiene -> HTML strip -> Gopher quality -> exact-dedup
    canonical (on the CLEANED text) -> near-dup cluster canonical —
    one DAG, every stage also individually oracled by its own query.
    Emits per-doc stage flags (not just survivors) so curation loss is
    attributable stage-by-stage; ``keep`` is the conjunction."""
    d = _docs(spark, sf_dir)
    uni = TX.unicode_cleanup(d).select(
        "doc_id", F.col("keep").alias("enc_ok"), F.col("text_clean").alias("t1")
    )
    # linear chain (no uni-self-join): the NFC kernel runs once
    staged = TX.html_strip(
        uni.select("doc_id", "enc_ok", F.col("t1").alias("text")),
        extra_cols=("enc_ok",),
    ).select("doc_id", "enc_ok", F.col("text_clean").alias("t2"))
    # staged has 3 consumers; a doc_id repartition barrier would dedupe
    # the unicode/html kernel to one materialization, but measured at
    # sf0.1 the extra exchange costs more than the cheap kernels save
    # (1.13s -> 1.57s warm). At production kernel weights, add it.
    gop = TX.gopher_quality_gate(
        staged.select("doc_id", F.col("t2").alias("text"))
    ).select("doc_id", F.col("keep").alias("gopher_ok"))
    exact = DF.exact_dedup(
        staged.select("doc_id", F.col("t2").alias("text"))
    ).select(F.col("keep_id").alias("doc_id"), F.lit(True).alias("exact_can"))
    comp = components_cached(spark, sf_dir)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("near_loser")
    )
    return (
        staged.join(gop, "doc_id")
        .join(exact, "doc_id", "left")
        .join(losers, "doc_id", "left")
        .select(
            "doc_id",
            "enc_ok",
            "gopher_ok",
            F.coalesce("exact_can", F.lit(False)).alias("exact_canonical"),
            F.col("near_loser").isNull().alias("near_ok"),
            (
                F.col("enc_ok")
                & F.col("gopher_ok")
                & F.coalesce("exact_can", F.lit(False))
                & F.col("near_loser").isNull()
            ).alias("keep"),
        )
    )


def _curate_full_sql() -> str:
    from ..operators import text as _t

    bad = (
        "(len(regexp_extract_all({c}, '" + _t.CONTROL_RE + "'))"
        " + len(regexp_extract_all({c}, '" + _t.REPLACEMENT_CHAR + "'))"
        " + len(regexp_extract_all({c}, '" + _t.MOJIBAKE_RE + "')))"
    )
    enc_ok = (
        "CASE WHEN length({c}) = 0 THEN false ELSE "
        + bad + " / length({c}) <= 0.01 END"
    ).format(c="text")
    t1 = (
        "nfc_normalize(trim(regexp_replace(regexp_replace(text, '"
        + _t.CONTROL_RE + "', ' ', 'g'), '\\s+', ' ', 'g')))"
    )
    decoded = (
        "regexp_replace(regexp_replace(t1, '" + _t.HTML_DROP_RE
        + "', ' ', 'gs'), '" + _t.HTML_TAG_RE + "', ' ', 'g')"
    )
    for ent, rep in _t.HTML_ENTITIES.items():
        decoded = "replace(" + decoded + ", '" + ent + "', '" + rep.replace("'", "''") + "')"
    t2 = "trim(regexp_replace(" + decoded + ", '\\s+', ' ', 'g'))"
    norm2 = "trim(regexp_replace(lower(t2), '[^a-z0-9]+', ' ', 'g'))"
    sw = ", ".join("'" + w + "'" for w in _t.GOPHER_STOPWORDS)
    return (
        "WITH RECURSIVE " + SHINGLES_CTE + ",\n"
        "uni AS (SELECT doc_id, " + enc_ok + " AS enc_ok, " + t1
        + " AS t1 FROM documents),\n"
        "html AS (SELECT doc_id, enc_ok, " + t2 + " AS t2 FROM uni),\n"
        "gtok AS (SELECT doc_id, enc_ok, t2,\n"
        "  CASE WHEN " + norm2 + " = '' THEN [] ELSE string_split("
        + norm2 + ", ' ') END AS t FROM html),\n"
        "gop AS (SELECT doc_id, enc_ok, t2,\n"
        "  (len(t) BETWEEN " + str(_t.GOPHER_MIN_TOKENS) + " AND "
        + str(_t.GOPHER_MAX_TOKENS) + "\n"
        "   AND (CASE WHEN len(t) > 0 THEN list_sum([length(w) FOR w IN t])"
        " / len(t) ELSE 0.0 END) BETWEEN " + str(_t.GOPHER_MIN_MEAN_WLEN)
        + " AND " + str(_t.GOPHER_MAX_MEAN_WLEN) + "\n"
        "   AND (CASE WHEN len(t) > 0 THEN"
        " len(regexp_extract_all(t2, '[#]|\\.\\.\\.')) / len(t)"
        " ELSE 0.0 END) <= " + str(_t.GOPHER_MAX_SYMBOL_RATIO) + "\n"
        "   AND (CASE WHEN len(t) > 0 THEN"
        " len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) / len(t)"
        " ELSE 0.0 END) >= " + str(_t.GOPHER_MIN_ALPHA_WORD_FRAC) + "\n"
        "   AND len(list_filter(t, w -> list_contains([" + sw + "], w)))"
        " >= " + str(_t.GOPHER_MIN_STOPWORD_HITS) + ") AS gopher_ok\n"
        "  FROM gtok),\n"
        "exact AS (SELECT min(doc_id) AS doc_id FROM html GROUP BY md5("
        + norm2 + ")),\n"
        "sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),\n"
        "common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS"
        " n_common FROM ex a JOIN ex b ON a.shingle = b.shingle AND"
        " a.doc_id < b.doc_id GROUP BY 1, 2),\n"
        "pairs AS (SELECT id1, id2 FROM common JOIN sizes s1 ON id1 ="
        " s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id WHERE"
        " round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5),\n"
        "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT"
        " id2, id1 FROM pairs),\n"
        "reach(node, label) AS (SELECT DISTINCT src, src FROM edges UNION"
        " SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src ="
        " r.node),\n"
        "comp AS (SELECT node, min(label) AS component FROM reach GROUP BY"
        " node),\n"
        "losers AS (SELECT node AS doc_id FROM comp WHERE node <>"
        " component)\n"
        "SELECT g.doc_id, g.enc_ok, g.gopher_ok,\n"
        "  (e.doc_id IS NOT NULL) AS exact_canonical,\n"
        "  (l.doc_id IS NULL) AS near_ok,\n"
        "  (g.enc_ok AND g.gopher_ok AND e.doc_id IS NOT NULL AND"
        " l.doc_id IS NULL) AS keep\n"
        "FROM gop g LEFT JOIN exact e USING (doc_id)"
        " LEFT JOIN losers l USING (doc_id)"
    )


CORPUS_CURATE_FULL_SQL = _curate_full_sql()


def corpus_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split at NEAR-DUP-GROUP granularity: hash the
    component canonical id, not the doc id, so near-duplicate documents
    can never straddle the boundary — the leakage mode a plain per-doc
    hash split silently allows (a test doc's near-twin in train is
    contamination the n-gram decontaminator may miss). Docs in no pair
    are their own group. Composes the shared component artifact; one
    broadcast-able join, split stays a local predicate."""
    comp = components_cached(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    d = _docs(spark, sf_dir).select("doc_id")
    return (
        d.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("group_id"),
        )
        .withColumn(
            "split",
            F.when(
                F.substring(F.md5(F.col("group_id").cast("string")), 1, 1)
                < "d",
                F.lit("train"),
            ).otherwise(F.lit("test")),
        )
    )


CORPUS_LEAKAGE_FREE_SPLIT_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION SELECT id2, id1 FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
g AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, group_id,
       CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 1) < 'd'
            THEN 'train' ELSE 'test' END AS split
FROM g
"""


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR step 2 — importance RESAMPLING: draw k=50 docs without
    replacement with probability proportional to the importance ratio
    exp(avg_log_ratio), via the same retry-stable A-ES exponential-key
    trick as corpus_weighted_sample (hash uniforms, never rand()). The
    global top-k compiles to TakeOrderedAndProject — each task keeps k
    rows, the driver merges |tasks|*k, no global sort."""
    from pyspark.sql import Window

    d = dsir_weights_cached(spark, sf_dir).filter(F.col("n_tokens") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w = F.exp(F.col("avg_log_ratio"))  # avg_log_ratio pre-rounded to 6
    key = -F.log(u) / w
    return (
        d.select("doc_id", "avg_log_ratio", F.round(key, 6).alias("aes_key"))
        .orderBy(F.col("aes_key").asc(), F.col("doc_id").asc())
        .limit(50)
    )


CORPUS_DSIR_SAMPLE_SQL = f"""
WITH d AS (SELECT doc_id, source, {NORM_SQL} AS norm FROM documents),
inst AS (
  SELECT doc_id, source = 'src0' AS is_target,
         substr(md5(unnest(string_split(norm, ' '))), 1, 2) AS bucket
  FROM d WHERE norm <> ''
),
counts AS (
  SELECT bucket, count(*) AS r_cnt,
         count(*) FILTER (is_target) AS t_cnt
  FROM inst GROUP BY 1
),
totals AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM counts),
model AS (
  SELECT bucket,
         ln((t_cnt + 0.5) / (t_tot + 128.0))
           - ln((r_cnt + 0.5) / (r_tot + 128.0)) AS log_ratio
  FROM counts CROSS JOIN totals
),
scored AS (
  SELECT doc_id, round(avg(log_ratio), 6) AS avg_log_ratio
  FROM inst JOIN model USING (bucket) GROUP BY 1
),
keyed AS (
  SELECT doc_id, avg_log_ratio,
         round(
           -ln(((('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE + 0.5)
               / 4294967296.0)
           / exp(avg_log_ratio), 6) AS aes_key
  FROM scored
)
SELECT doc_id, avg_log_ratio, aes_key
FROM keyed ORDER BY aes_key ASC, doc_id ASC LIMIT 50
"""


def dedup_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION form of repeated-span dedup: every cross-document
    duplicated span removed from every document (conservative
    ExactSubstr variant), pure JVM span-filter + token rejoin."""
    return DF.strip_repeated_spans(
        _docs(spark, sf_dir),
        k=8,
        windows=span_windows_cached(spark, sf_dir),
        tok=tokenized_cached(spark, sf_dir),
    )


DEDUP_STRIP_SPANS_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
win AS (
  SELECT doc_id, pos, gh FROM (
    SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos,
           [md5(array_to_string(t[i:i+7], ' ')) FOR i IN range(1, len(t) - 6)] AS ghs
    FROM toks WHERE len(t) >= 8
  ) x, LATERAL (SELECT ghs[pos] AS gh)
),
flagged AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           min(doc_id) OVER (PARTITION BY gh) AS dmin,
           max(doc_id) OVER (PARTITION BY gh) AS dmax
    FROM win
  ) WHERE dmin <> dmax
),
marked AS (
  SELECT doc_id, pos,
         max(pos + 7) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM flagged
),
grouped AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM grouped GROUP BY doc_id, grp
),
sp AS (SELECT doc_id, list([s, e]) AS spans FROM spans GROUP BY 1),
j AS (
  SELECT d.doc_id, t.t, coalesce(sp.spans, []) AS spans
  FROM documents d
  LEFT JOIN toks t USING (doc_id)
  LEFT JOIN sp USING (doc_id)
),
k AS (
  SELECT doc_id, t, spans,
         CASE WHEN t IS NULL THEN []
              ELSE list_filter(range(1, len(t) + 1),
                               p -> len(list_filter(spans,
                                    s -> p >= s[1] AND p <= s[2])) = 0)
         END AS kept
  FROM j
)
SELECT doc_id,
       CASE WHEN t IS NULL THEN ''
            -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
            ELSE coalesce(array_to_string([t[p] FOR p IN kept], ' '), '')
       END AS text_dedup,
       CAST(coalesce(len(t), 0) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN t IS NULL THEN 0 ELSE len(t) - len(kept) END AS BIGINT)
         AS n_removed
FROM k
"""


def dedup_exactsubstr_keep_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ExactSubstr with the paper's keep-first rule (Lee et al. 2022):
    rank every duplicated 8-token window's occurrences corpus-globally
    by (doc_id, pos) and strip only ranks >= 2 — exactly one copy of
    each duplicated passage survives, and WITHIN-DOC repeats are
    deduplicated too (both deltas vs dedup_strip_spans, which strips
    every occurrence and only sees cross-doc duplication)."""
    return DF.exactsubstr_keep_first(
        _docs(spark, sf_dir),
        k=8,
        windows=span_windows_cached(spark, sf_dir),
        tok=tokenized_cached(spark, sf_dir),
    )


DEDUP_EXACTSUBSTR_KEEP_FIRST_SQL = f"""
WITH docs AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM docs WHERE norm <> ''),
win AS (
  SELECT doc_id, pos, gh FROM (
    SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos,
           [md5(array_to_string(t[i:i+7], ' ')) FOR i IN range(1, len(t) - 6)] AS ghs
    FROM toks WHERE len(t) >= 8
  ) x, LATERAL (SELECT ghs[pos] AS gh)
),
flagged AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS occ
    FROM win
  ) WHERE occ >= 2
),
marked AS (
  SELECT doc_id, pos,
         max(pos + 7) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM flagged
),
grouped AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM grouped GROUP BY doc_id, grp
),
sp AS (SELECT doc_id, list([s, e]) AS spans FROM spans GROUP BY 1),
j AS (
  SELECT d.doc_id, t.t, coalesce(sp.spans, []) AS spans
  FROM documents d
  LEFT JOIN toks t USING (doc_id)
  LEFT JOIN sp USING (doc_id)
),
k AS (
  SELECT doc_id, t, spans,
         CASE WHEN t IS NULL THEN []
              ELSE list_filter(range(1, len(t) + 1),
                               p -> len(list_filter(spans,
                                    s -> p >= s[1] AND p <= s[2])) = 0)
         END AS kept
  FROM j
)
SELECT doc_id,
       CASE WHEN t IS NULL THEN ''
            -- DuckDB array_to_string([]) is NULL; Spark array_join is ''
            ELSE coalesce(array_to_string([t[p] FOR p IN kept], ' '), '')
       END AS text_dedup,
       CAST(coalesce(len(t), 0) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN t IS NULL THEN 0 ELSE len(t) - len(kept) END AS BIGINT)
         AS n_removed
FROM k
"""


# ---------- BM25 lexical retrieval ----------
#
# Sparse keyword search over the corpus: Okapi BM25 (Robertson et al.,
# Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf form) for a fixed query-term
# set, top-20 by score. The retrieval shape every corpus team needs
# next to the embedding ANN paths — same ranking math, no index.
#
# Scale: the query-term IN-list filter lands directly on the exploded
# token stream BEFORE the first shuffle, so only matching (doc, term)
# pairs ever move; df/idf is |query| rows (a broadcast); doc lengths
# join tf on doc_id (co-partitioned); the top-k is orderBy+limit =
# TakeOrderedAndProject, never a global sort. Determinism: each
# per-term contribution is rounded to 9dp and summed as DECIMAL(18,9)
# — exact, order-free addition — so partial-aggregation order can
# never flip the 6dp final round (ln() differs from DuckDB's by ≤1 ulp
# ≈ 1e-15 relative, far under the 0.5e-9 round-9 threshold).

BM25_TERMS = ["dup", "vector", "hash", "window"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl")).persist()
    # corpus scalars stay IN the plan as a broadcast 1-row aggregate
    # fold (no driver collect, no second scan-and-wait job)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    df_counts = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select("term", F.round(idf, 9).alias("idf"))
    )
    contrib = (
        F.col("idf")
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_counts), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.round(
                F.sum(
                    F.round(contrib, 9).cast("decimal(18,9)")
                ).cast("double"),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(
        BM25_TOPK
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "doc_id",
        "n_terms",
        "score",
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

TEXT_BM25_SEARCH_SQL = f"""
WITH docs AS (
  SELECT doc_id, {NORM_SQL} AS norm FROM documents
), dl AS (
  SELECT doc_id,
         CASE WHEN norm = '' THEN 0
              ELSE len(string_split(norm, ' ')) END AS dl
  FROM docs
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term
        FROM docs WHERE norm <> '')
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
), idf AS (
  SELECT term,
         round(ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)), 9) AS idf
  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term)
), scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         round(CAST(sum(CAST(round(
             i.idf * t.tf * ({BM25_K1} + 1.0)
             / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * d.dl / (SELECT avgdl FROM stats))), 9)
           AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
  FROM tf t JOIN idf i USING (term) JOIN dl d USING (doc_id)
  GROUP BY t.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
       doc_id, n_terms, score
FROM scored
ORDER BY score DESC, doc_id
LIMIT {BM25_TOPK}
"""


QUERIES = {
    "text_bm25_search": (text_bm25_search, TEXT_BM25_SEARCH_SQL),
    "dedup_strip_spans": (dedup_strip_spans, DEDUP_STRIP_SPANS_SQL),
    "dedup_exactsubstr_keep_first": (
        dedup_exactsubstr_keep_first,
        DEDUP_EXACTSUBSTR_KEEP_FIRST_SQL,
    ),
    "corpus_leakage_free_split": (
        corpus_leakage_free_split,
        CORPUS_LEAKAGE_FREE_SPLIT_SQL,
    ),
    "corpus_dsir_sample": (corpus_dsir_sample, CORPUS_DSIR_SAMPLE_SQL),
    "corpus_curate_full": (corpus_curate_full, CORPUS_CURATE_FULL_SQL),
    "text_c4_filter": (text_c4_filter, TEXT_C4_FILTER_SQL),
    "text_gopher_gate": (text_gopher_gate, TEXT_GOPHER_GATE_SQL),
    "multimodal_wav_features": (
        multimodal_wav_features,
        MULTIMODAL_WAV_FEATURES_SQL,
    ),
    "multimodal_wav_resample": (multimodal_wav_resample, None),  # rows-only
    "multimodal_image_patches": (multimodal_image_patches, None),  # rows-only
    "multimodal_wav_segments": (
        multimodal_wav_segments,
        MULTIMODAL_WAV_SEGMENTS_SQL,
    ),
    "corpus_quality_report": (corpus_quality_report, CORPUS_QUALITY_REPORT_SQL),
    "text_bpe_encode": (text_bpe_encode, TEXT_BPE_ENCODE_SQL),
    "text_html_strip": (text_html_strip, TEXT_HTML_STRIP_SQL),
    "text_unicode_cleanup": (text_unicode_cleanup, TEXT_UNICODE_CLEANUP_SQL),
    "corpus_shard_manifest": (corpus_shard_manifest, CORPUS_SHARD_MANIFEST_SQL),
    "corpus_dsir_weights": (corpus_dsir_weights, CORPUS_DSIR_WEIGHTS_SQL),
    "dedup_repeated_spans": (dedup_repeated_spans, DEDUP_REPEATED_SPANS_SQL),
    "dedup_exact_documents": (dedup_exact_documents, DEDUP_EXACT_DOCUMENTS_SQL),
    "corpus_hash_sample": (corpus_hash_sample, CORPUS_HASH_SAMPLE_SQL),
    "embedding_pca_project": (
        embedding_pca_project,
        EMBEDDING_PCA_PROJECT_SQL,
    ),
    "text_feature_hashing": (text_feature_hashing, TEXT_FEATURE_HASHING_SQL),
    "dedup_keep_best_quality": (dedup_keep_best_quality, DEDUP_KEEP_BEST_QUALITY_SQL),
    "corpus_pack_sequences": (corpus_pack_sequences, CORPUS_PACK_SEQUENCES_SQL),
    "corpus_decontaminate": (corpus_decontaminate, CORPUS_DECONTAMINATE_SQL),
    "text_repetition_stats": (text_repetition_stats, TEXT_REPETITION_STATS_SQL),
    "corpus_source_mix": (corpus_source_mix, CORPUS_SOURCE_MIX_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_minhash_accuracy": (dedup_minhash_accuracy, DEDUP_MINHASH_ACCURACY_SQL),
    "dedup_ngram_containment": (
        dedup_ngram_containment,
        DEDUP_NGRAM_CONTAINMENT_SQL,
    ),
    "corpus_weighted_sample": (corpus_weighted_sample, CORPUS_WEIGHTED_SAMPLE_SQL),
    "dedup_components": (dedup_components, DEDUP_COMPONENTS_SQL),
    "dedup_components_star": (dedup_components_star, DEDUP_COMPONENTS_SQL),
    "text_bpe_token_count": (text_bpe_token_count, TEXT_BPE_TOKEN_COUNT_SQL),
    "text_lm_perplexity": (text_lm_perplexity, TEXT_LM_PERPLEXITY_SQL),
    "corpus_chunk_dedup": (corpus_chunk_dedup, CORPUS_CHUNK_DEDUP_SQL),
    "text_quality_classifier": (text_quality_classifier, TEXT_QUALITY_CLASSIFIER_SQL),
    "text_quality_decile_lift": (
        text_quality_decile_lift,
        TEXT_QUALITY_DECILE_LIFT_SQL,
    ),
    "text_quality_decile_lift_approx": (
        text_quality_decile_lift_approx,
        TEXT_QUALITY_DECILE_LIFT_APPROX_SQL,
    ),
    "corpus_quality_yield_curve": (
        corpus_quality_yield_curve,
        CORPUS_QUALITY_YIELD_CURVE_SQL,
    ),
    "text_token_fertility": (
        text_token_fertility,
        TEXT_TOKEN_FERTILITY_SQL,
    ),
    "dedup_group_size_histogram": (
        dedup_group_size_histogram,
        DEDUP_GROUP_SIZE_HISTOGRAM_SQL,
    ),
    "text_shingle_novelty": (
        text_shingle_novelty,
        TEXT_SHINGLE_NOVELTY_SQL,
    ),
    "text_tfidf_top_terms": (text_tfidf_top_terms, TEXT_TFIDF_TOP_TERMS_SQL),
    "text_term_cooccurrence_pmi": (
        text_term_cooccurrence_pmi,
        TEXT_TERM_COOCCURRENCE_PMI_SQL,
    ),
    "corpus_train_test_split": (corpus_train_test_split, CORPUS_TRAIN_TEST_SPLIT_SQL),
    "corpus_stratified_sample": (
        corpus_stratified_sample,
        CORPUS_STRATIFIED_SAMPLE_SQL,
    ),
    "corpus_clean_pipeline": (corpus_clean_pipeline, CORPUS_CLEAN_PIPELINE_SQL),
    "dedup_minhash_signatures": (dedup_minhash_signatures, DEDUP_MINHASH_SIGNATURES_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    "dedup_minhash_incremental": (
        dedup_minhash_incremental,
        DEDUP_MINHASH_INCREMENTAL_SQL,
    ),
    "dedup_simhash_candidates": (
        dedup_simhash_candidates,
        DEDUP_SIMHASH_CANDIDATES_SQL,
    ),
    "multimodal_phash_dedup": (
        multimodal_phash_dedup,
        MULTIMODAL_PHASH_DEDUP_SQL,
    ),
    "text_bpe_first_merges": (text_bpe_first_merges, TEXT_BPE_FIRST_MERGES_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL),
    "dedup_mutual_knn_clusters": (
        dedup_mutual_knn_clusters,
        DEDUP_MUTUAL_KNN_CLUSTERS_SQL,
    ),
    "embedding_normalize": (embedding_normalize, EMBEDDING_NORMALIZE_SQL),
    "embedding_quantize_int8": (embedding_quantize_int8, EMBEDDING_QUANTIZE_INT8_SQL),
    "winsorize_event_values": (winsorize_event_values, WINSORIZE_EVENT_VALUES_SQL),
    "dedup_embedding_cosine_fast": (dedup_embedding_cosine_fast, None),  # rows-only
    "dedup_semantic_pairs": (dedup_semantic_pairs, None),  # rows-only (kmeans)
    "ann_brute_force_topk": (ann_brute_force_topk, ANN_BRUTE_FORCE_TOPK_SQL),
    "ann_mips_topk": (ann_mips_topk, ANN_MIPS_TOPK_SQL),
    "ann_lsh_bucketed_topk": (ann_lsh_bucketed_topk, ANN_LSH_BUCKETED_TOPK_SQL),
    "ann_multiband_lsh_topk": (ann_multiband_lsh_topk, ANN_MULTIBAND_LSH_TOPK_SQL),
    "ann_brp_lsh_topk": (ann_brp_lsh_topk, None),  # rows-only (ml randomness)
    "ann_ivf_topk": (ann_ivf_topk, None),  # rows-only (kmeans not in SQL)
    "ann_vectorized_topk": (ann_vectorized_topk, None),  # rows-only (fp order)
    "text_token_stats": (text_token_stats, TEXT_TOKEN_STATS_SQL),
    "text_quality_score": (text_quality_score, TEXT_QUALITY_SCORE_SQL),
    "text_language_id": (text_language_id, TEXT_LANGUAGE_ID_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "multimodal_decode_meta": (multimodal_decode_meta, MULTIMODAL_DECODE_META_SQL),
    "multimodal_frame_sample": (multimodal_frame_sample, MULTIMODAL_FRAME_SAMPLE_SQL),
    "multimodal_byte_histogram": (
        multimodal_byte_histogram,
        MULTIMODAL_BYTE_HISTOGRAM_SQL,
    ),
    "multimodal_thumbnail": (multimodal_thumbnail, None),  # rows-only
    "text_chunking_udtf": (text_chunking_udtf, TEXT_CHUNKING_UDTF_SQL),
    "text_chunking_explode": (text_chunking_explode, TEXT_CHUNKING_UDTF_SQL),
    "corpus_topic_clusters": (
        corpus_topic_clusters,
        CORPUS_TOPIC_CLUSTERS_SQL,
    ),
}
