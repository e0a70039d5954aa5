"""Fuzzy / near-duplicate detection for document corpora.

The reference's dedup surface is exact-key only (D1). A training-data
pipeline needs the fuzzy family; each operator here is designed around
its 100 TB shuffle profile:

* exact_dedup        — hash-groupBy on a content digest. One shuffle on
                       the digest (uniform by construction — md5 keys
                       can't skew).
* ngram_jaccard      — exact pairwise Jaccard via shingle inverted index:
                       explode distinct shingles → self-join on shingle →
                       count per pair. Quadratic in the worst case; at
                       scale you run it AFTER an LSH candidate filter —
                       composed below in minhash_lsh_candidates.
* minhash_lsh        — MinHash signatures + banding. Implemented with
                       md5-based min-hashing (portable, deterministic,
                       no random state): minhash_j(doc) =
                       min over shingles of md5(j || shingle). Band key =
                       concat of the band's minhashes; candidate pairs are
                       docs sharing a band bucket. All shuffles key on
                       uniform hashes; signature build is one explode +
                       one groupBy.
* simhash            — 64-bit sign-of-weighted-bits digest via an
                       Arrow-vectorized pandas UDF (bit twiddling is not
                       expressible as portable SQL); hamming-close pairs
                       by banding the 64 bits into 4×16-bit chunks
                       (any exact 16-bit chunk match → candidate).
* embedding near-dup — exact cosine ≥ τ pairwise over a block-broadcast
                       join; the scale path is lsh-bucketed (simsearch).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalize_text, shingles_from_tokens, tokens
from ..functions.vectors import (
    collect_vectors_guarded,
    cosine_similarity,
    to_double_array,
)


def tokenized(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(id, toks) with the token array materialized behind a shuffle.

    The hash-repartition on id is a deliberate evaluation barrier: it
    forces the normalize-regex + split to run exactly once per doc, so
    downstream shingle slicing reads a materialized array instead of
    re-running the tokenizer per shingle (interpreted higher-order
    functions inline expression arguments — measured ~5× on the full
    pipeline). Bonus at scale: the output is hash-partitioned on id, so
    per-doc aggregations downstream (sizes, minhash signatures) reuse
    this exchange instead of shuffling again, and a self-join's two
    sides share it via ReusedExchange.
    """
    return df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).repartition(F.col("id"))


def shingle_relation(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingle) exploded relation — one row per distinct word
    n-gram per doc; docs with no tokens drop out (explode of empty)."""
    return tokenized(df, text_col, id_col).select(
        "id", F.explode(shingles_from_tokens(F.col("toks"), n)).alias("shingle")
    )


def content_digest(col: Column | str) -> Column:
    """md5 of normalized text — the exact-dedup content key."""
    return F.md5(normalize_text(col))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: one row per distinct normalized content with
    the surviving (minimum) id and the duplicate count."""
    return (
        df.withColumn("digest", content_digest(text_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _exact_groups(df: DataFrame, text_col: str, id_col: str,
                  cleanup: list | None = None):
    """Collapse exact (normalized-content) duplicates BEFORE shingle
    matching: returns (rep_rows, members) where ``rep_rows`` keeps one
    surviving row (minimum id) per distinct content and ``members`` maps
    every original id to its representative.

    This is the hot-bucket armor for the inverted-index pair plans: m
    exact copies of a document share ALL shingles, so without collapse
    every shingle bucket they touch expands m²-fold in the self-join
    (the r6 10× scale probe measured 12.8× wall at 10× rows on a
    replica-duplicated corpus). Identical shingle sets ⇒ identical
    scores, so rep-level pairs expand back to member-level pairs
    exactly (cross pairs inherit the rep score; intra-group pairs score
    1.0) — equivalence is enforced by the strict DuckDB oracle.

    ``cleanup`` (optional list): both internal lazy persists are
    appended to it so long-lived callers — the streaming pair-ingest
    stage runs this once PER MICRO-BATCH — can unpersist them after the
    batch's actions complete, instead of leaking one cached reps
    relation per batch into the CacheManager for the stream's lifetime.
    Batch callers (one invocation per query) may ignore it: their
    entries are bounded by the number of registry invocations."""
    keyed = df.withColumn("__k", content_digest(text_col))
    # reps and members are tiny (ids + digests) but referenced several
    # times by the expansion joins — LAZY persist so one action
    # evaluates the digest/group lineage once (InMemoryRelation shared
    # by every reference), instead of once per reference (measured
    # ~1.3× on the pair queries without it).
    reps = keyed.groupBy("__k").agg(F.min(id_col).alias("__rep")).persist()
    members = (
        keyed.select(F.col(id_col).alias("__member"), "__k")
        .join(reps, "__k")
        .select("__rep", "__member")
        .persist()
    )
    rep_rows = (
        keyed.join(F.broadcast(reps), "__k")
        .filter(F.col(id_col) == F.col("__rep"))
        .drop("__k", "__rep")
    )
    if cleanup is not None:
        cleanup.extend([reps, members])
    return rep_rows, members


def _expand_member_pairs(rep_pairs: DataFrame, members: DataFrame,
                         reps_with_shingles: DataFrame,
                         intra_cols: list) -> DataFrame:
    """rep-level pairs → member-level pairs: cross pairs between the two
    groups inherit the rep pair's score columns; intra-group pairs (m≥2
    copies of one content, provided it HAS shingles) are emitted with
    the perfect-score columns in ``intra_cols``."""
    score_cols = [c for c in rep_pairs.columns if c not in ("id1", "id2")]
    e1 = members.select(F.col("__rep").alias("id1"), F.col("__member").alias("__a"))
    e2 = members.select(F.col("__rep").alias("id2"), F.col("__member").alias("__b"))
    cross = (
        rep_pairs.join(e1, "id1")
        .join(e2, "id2")
        .select(
            F.least("__a", "__b").alias("id1"),
            F.greatest("__a", "__b").alias("id2"),
            *score_cols,
        )
    )
    mm = members.join(reps_with_shingles, "__rep")
    intra = (
        mm.alias("x")
        .join(
            mm.alias("y"),
            (F.col("x.__rep") == F.col("y.__rep"))
            & (F.col("x.__member") < F.col("y.__member")),
        )
        .select(
            F.col("x.__member").alias("id1"),
            F.col("y.__member").alias("id2"),
            *intra_cols,
        )
    )
    return cross.unionByName(intra)


def shingle_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> "tuple[DataFrame, DataFrame]":
    """(rep_shingles, members) — the shared upstream artifact of the
    inverted-index pair family: exact-duplicate collapse
    (``_exact_groups``) followed by the distinct word-n-gram explode of
    the representatives, kept as raw shingle STRINGS so every consumer
    can derive its own key form (xxhash64 for the equi-join plans,
    lexicographic (df, shingle) order for prefix filtering). In
    production this is written once at ingest next to the corpus; the
    plan layer memoizes it per session with the same write-once
    economics (``plans/training_data.py::shingles_cached``)."""
    reps, members = _exact_groups(df, text_col, id_col)
    return shingle_relation(reps, text_col, id_col, n), members


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    store: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Document pairs with word-n-gram Jaccard similarity ≥ threshold.

    Inverted-index plan: explode distinct shingles → self-equi-join on the
    shingle → per-pair intersection count → Jaccard from per-doc distinct
    shingle counts. No cartesian product: only docs sharing ≥1 shingle
    ever meet. Exact duplicates are collapsed first (``_exact_groups``)
    so duplicate multiplicity cannot quadratically inflate the buckets.

    ``store``: a precomputed :func:`shingle_store` pair — skips the
    collapse + tokenize/explode stages; identical results by
    construction (pinned by tests/test_training_data_ops.py).
    """
    if store is not None:
        ex, members = store
    else:
        ex, members = shingle_store(df, text_col, id_col, n)
    # Keep the exploded relation narrow (id, shingle): carrying the
    # per-doc size through the explode re-inlines the shingle expression
    # into a second projection (size + generator) and measures 2× slower
    # than paying two small post-aggregation hash joins for the sizes.
    # Shingles are reduced to 8-byte xxhash64 keys before the self-join:
    # the shuffle moves ~3× fewer bytes and the join compares longs, not
    # strings. Collision probability over |distinct shingles|² pairs is
    # ~1e-9 at 10^6 shingles — far below the FP noise of any jaccard use.
    # shingle_relation's repartition barrier makes the tokenizer run once
    # per doc, and both self-join sides + the sizes agg share that
    # exchange via ReusedExchange (one tokenize, three consumers).
    sh = ex.select("id", F.xxhash64("shingle").alias("shingle"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    rep_pairs = (
        common.join(sa, "id1")  # size joins: small; AQE picks broadcast
        .join(sb, "id2")        # locally, shuffle-hash at corpus scale

        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return _expand_member_pairs(
        rep_pairs,
        members,
        sizes.select(F.col("id").alias("__rep")),
        intra_cols=[F.lit(1.0).alias("jaccard")],
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    store: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Document pairs whose shingle OVERLAP COEFFICIENT
    |A∩B| / min(|A|, |B|) ≥ threshold — the containment test Jaccard
    misses: a short document quoted verbatim inside a much longer one
    has high containment but low Jaccard (the union is dominated by the
    long side), so quote/subset leakage survives a Jaccard-only dedup.

    Same inverted-index physical plan as :func:`ngram_jaccard_pairs`
    (xxhash64 shingle keys, shared repartition barrier, no cartesian,
    exact-duplicate collapse before matching): only the final scalar
    differs, so the 100 TB posture is identical — in production both
    scores are emitted from ONE pair relation.
    """
    if store is not None:
        ex, members = store
    else:
        ex, members = shingle_store(df, text_col, id_col, n)
    sh = ex.select("id", F.xxhash64("shingle").alias("shingle"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2"))
    cont = F.col("n_common") / F.least("n1", "n2")
    rep_pairs = (
        common.join(sa, "id1")
        .join(sb, "id2")
        .withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "n_common", "containment")
    )
    # intra-group pairs share the full shingle set: n_common = |set|
    return _expand_member_pairs(
        rep_pairs,
        members,
        sizes.select(F.col("id").alias("__rep"), F.col("n_sh")),
        intra_cols=[
            F.col("x.n_sh").alias("n_common"),
            F.lit(1.0).alias("containment"),
        ],
    ).filter(F.col("containment") >= threshold)


def minhash_sig_lookup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """(__digest, mh_0..mh_{num_hashes-1}) — one MinHash signature per
    DISTINCT normalized content. A signature is a pure function of the
    text, so this is the production "signature store" shape: computed
    once at ingest, keyed by the content digest, and every downstream
    consumer (full-corpus banding, incremental delta banding, accuracy
    ledgers) JOINS it instead of re-tokenizing the corpus. Any raw text
    sharing a digest has the same normalized tokens, so one
    representative (min raw text) per digest hashes identically.
    Contents with no tokens produce no shingle rows and therefore no
    lookup row — consumers inner-join, preserving the "docs with no
    tokens are excluded" law of :func:`minhash_signatures`."""
    distinct = (
        df.withColumn("__digest", content_digest(text_col))
        .groupBy("__digest")
        .agg(F.min(text_col).alias("__text"))
    )
    ex = shingle_relation(distinct, "__text", "__digest", n)
    return ex.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    ).withColumnRenamed("id", "__digest")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    sig_lookup: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (docs with no tokens are excluded, like a
    shingle-table GROUP BY would).

    Physical form: explode the (once-computed, shuffle-barriered) shingle
    relation and take the ``num_hashes`` salted-md5 mins in ONE hash
    aggregate. Two reasons over the array-transform formulation:
    higher-order functions evaluate interpreted (outside whole-stage
    codegen) while min()-aggregates are codegen'd, and the tokenizer is
    guaranteed to run once per doc (shingle_relation's barrier). The
    groupBy introduces no second shuffle: the barrier already hash-
    partitioned on id, so the aggregate runs exchange-free on top of it.

    ``sig_lookup``: a precomputed :func:`minhash_sig_lookup` relation
    (built with ≥ ``num_hashes`` components). When given, the whole
    tokenize/shingle/hash pipeline is replaced by one digest projection
    + one join against the store — the write-once economics of a
    persisted signature table; results are identical by construction
    (pinned by tests/test_pipeline_operators.py)."""
    if sig_lookup is not None:
        return (
            df.select(
                F.col(id_col).alias("id"),
                content_digest(text_col).alias("__digest"),
            )
            .join(sig_lookup, "__digest")
            .select("id", *[f"mh_{j}" for j in range(num_hashes)])
        )
    ex = shingle_relation(df, text_col, id_col, n)
    return ex.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_band_relation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    sig_lookup: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_key) LSH band relation: each doc's MinHash
    signature split into ``bands`` concatenated band keys. The shared
    upstream of batch candidate generation AND the streaming near-dup
    gate (the committed band relation IS the cross-batch dedup state).
    ``sig_lookup`` forwards to :func:`minhash_signatures`."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n, num_hashes, sig_lookup=sig_lookup
    )
    band_cols = [
        F.concat_ws(
            "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), band_cols[b].alias("band_key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band_idx", "bk.band_key")


def _band_self_pairs(banded: DataFrame) -> DataFrame:
    """(id1 < id2) pairs of a band relation that share a band bucket."""
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    sig_lookup: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from MinHash + LSH banding
    (``bands`` bands × ``num_hashes//bands`` rows). A pair lands in the
    candidate set iff it agrees on ALL minhashes of at least one band.

    Scale path: signatures are one narrow projection (no shuffle); the
    only shuffle keys on (band_idx, band_key) — uniform md5-derived
    buckets. Verification (exact jaccard on candidates only) composes
    downstream; at 100 TB this is the standard shingle→minhash→band plan.
    Exact duplicates are collapsed before banding (identical text ⇒
    identical signature ⇒ every band bucket they touch would inflate
    m²-fold — the same hot-bucket armor as the ngram pair plans) and the
    candidate set is expanded back over the duplicate groups.
    """
    df, members = _exact_groups(df, text_col, id_col)
    banded = minhash_band_relation(
        df, text_col, id_col, n, num_hashes, bands, sig_lookup=sig_lookup
    )
    rep_pairs = _band_self_pairs(banded).distinct()
    # docs with ≥1 shingle ARE banded (empty docs never reach a bucket)
    return _expand_member_pairs(
        rep_pairs,
        members,
        banded.select(F.col("id").alias("__rep")).distinct(),
        intra_cols=[],
    )


def minhash_incremental_candidates(
    base: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    sig_lookup: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup candidates: dedup a NEW batch (``delta``)
    against an already-deduplicated corpus (``base``) — the production
    ingestion shape, where the base's band relation is the stored dedup
    index and each day's batch only pays

        |delta bands| ⋈ |base bands|   ∪   |delta bands| ⋈ itself

    — NEVER base × base (those pairs were resolved when the base was
    built). Output equals the full-corpus ``minhash_lsh_candidates``
    (base ∪ delta) RESTRICTED to pairs touching a delta doc, which is
    what the strict oracle checks.

    Exact-duplicate collapse runs per side (the same hot-bucket armor);
    cross-side identical content needs no special casing — identical
    text ⇒ identical signature ⇒ the two reps meet in every band
    bucket, and the member expansion then emits every base×delta copy
    pair. Intra-group pairs are expanded for DELTA groups only (base
    internal duplicates are by definition already handled).

    100 TB posture: the base band relation is written once, bucketed on
    (band_idx, band_key); each incremental run shuffles only the
    delta's bands and probes the stored buckets — per-batch cost is
    |delta| + matched buckets, independent of corpus size.
    """
    base_rep, base_members = _exact_groups(base, text_col, id_col)
    delta_rep, delta_members = _exact_groups(delta, text_col, id_col)
    banded_base = minhash_band_relation(
        base_rep, text_col, id_col, n, num_hashes, bands,
        sig_lookup=sig_lookup,
    )
    banded_delta = minhash_band_relation(
        delta_rep, text_col, id_col, n, num_hashes, bands,
        sig_lookup=sig_lookup,
    )
    # The delta band relation is referenced four times (cross probe,
    # both sides of the intra self-join, the reps-with-shingles set),
    # so without a barrier the printed plan replays its lineage — 31
    # numbered / 81 tree-position exchanges at round-13 start. Round-12
    # A/B'd persist() and measured NOTHING (4.0s vs 4.1s warm): cache
    # keeps the lineage, so every consumer still re-ANALYZES the whole
    # subtree. Round-13 A/B'd localCheckpoint instead — the plan
    # truncates to an RDD leaf, cutting the re-analysis and the
    # replayed micro-stages: interleaved same-session min-of-4 at
    # sf0.1, 2.04s off vs 1.88s on (means 2.39 vs 2.09). The DELTA side
    # only: it is the small side by the operator's contract (today's
    # batch), so the eager materialization is bounded at every scale,
    # while the base band relation stays lazy/pipelined (at 100 TB it
    # is the stored index).
    banded_delta = banded_delta.localCheckpoint(eager=True)
    return incremental_band_pairs(
        banded_delta, banded_base,
        base_members.unionByName(delta_members),
    )


def incremental_band_pairs(
    banded_delta: DataFrame, banded_base: DataFrame, members: DataFrame
) -> DataFrame:
    """The incremental pair step shared by
    :func:`minhash_incremental_candidates` and the streaming pair-ingest
    stage: delta bands × base bands (ordered id1 < id2) ∪ the delta's
    band self-join, expanded over ``members`` (both sides' exact-dup
    groups, as ``(__rep, __member)``). Never base × base.

    Intra-group pairs are expanded for delta groups only: their reps are
    the banded delta ids, and a base rep never appears there. A delta id
    already in the base (a replayed doc) never pairs with itself."""
    d, b = banded_delta.alias("d"), banded_base.alias("b")
    cross = (
        d.join(
            b,
            (F.col("d.band_idx") == F.col("b.band_idx"))
            & (F.col("d.band_key") == F.col("b.band_key"))
            & (F.col("d.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("d.id"), F.col("b.id")).alias("id1"),
            F.greatest(F.col("d.id"), F.col("b.id")).alias("id2"),
        )
    )
    rep_pairs = cross.unionByName(_band_self_pairs(banded_delta)).distinct()
    return _expand_member_pairs(
        rep_pairs,
        members,
        banded_delta.select(F.col("id").alias("__rep")).distinct(),
        intra_cols=[],
    )


def simhash64(pdf_iter, text_col: str = "text", id_col: str = "doc_id"):
    """mapInPandas kernel: 64-bit SimHash over word shingle md5 digests.

    Python is unavoidable here (per-bit weighted voting over 64 bit
    positions), so it runs Arrow-batched; each batch is vectorized over
    docs with plain ints.
    """
    import numpy as np

    bit_idx = np.arange(64, dtype=np.uint64)
    for pdf in pdf_iter:
        out_ids, out_hashes = [], []
        for _id, text in zip(pdf[id_col], pdf[text_col]):
            toks = "".join(
                ch if ch.isalnum() else " " for ch in str(text).lower()
            ).split()
            shingles = (
                {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
                if len(toks) > 3
                else ({" ".join(toks)} if toks else set())
            )
            if shingles:
                hashes = np.array(
                    [
                        int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
                        for s in shingles
                    ],
                    dtype=np.uint64,
                )
                # vectorized bit voting: bits (n_shingles × 64) → per-bit
                # majority (replaces a 64×|shingles| Python loop)
                bits = (hashes[:, None] >> bit_idx) & np.uint64(1)
                votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(hashes)
                sh = int(((votes > 0).astype(np.uint64) << bit_idx).sum())
            else:
                sh = 0
            out_ids.append(_id)
            # shift into signed-64 range for Spark LongType
            out_hashes.append(sh - (1 << 63))
        yield pd.DataFrame({"id": out_ids, "simhash": out_hashes})


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup candidates: docs agreeing on any 16-bit chunk of their
    SimHash (standard 4-band hamming-distance blocking).

    Hot-bucket armor: docs with the SAME 64-bit simhash (exact dups and
    hash-identical near-dups) are collapsed to one representative before
    the chunk join — m copies would otherwise inflate every chunk bucket
    they touch m²-fold — then expanded back (same-hash pairs are all
    candidates BY DEFINITION: all four chunks agree). Collapsing on the
    computed hash itself, not on text, makes the rewrite risk-free: the
    group key IS the join-relevant value."""
    # persist the (id, simhash) relation: reps/members/chunks all read
    # it, and without the cache each reference re-runs the Python
    # hashing kernel over the corpus
    hashed_all = df.select(id_col, text_col).mapInPandas(
        lambda it: simhash64(it, text_col, id_col), schema="id long, simhash long"
    ).persist()
    reps = hashed_all.groupBy("simhash").agg(F.min("id").alias("__rep"))
    members = hashed_all.join(reps, "simhash").select(
        "__rep", F.col("id").alias("__member")
    )
    hashed = reps.select(F.col("__rep").alias("id"), "simhash")
    chunks = hashed.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.shiftrightunsigned(F.col("simhash"), c * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("chunk"),
                )
                for c in range(4)
            ])
        ).alias("ck"),
    ).select("id", "simhash", "ck.chunk_idx", "ck.chunk").repartition(
        # barrier on the join keys: AQE dedupes the two self-join
        # stages, so the simhash Python kernel materializes once, not
        # once per join side (same fix as phash_candidate_pairs)
        F.col("chunk_idx"), F.col("chunk")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # every doc is hashed (empty text → simhash 0), so every dup group
    # is eligible for intra-pair expansion
    return _expand_member_pairs(
        rep_pairs, members, reps.select("__rep"), intra_cols=[]
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_cells: int | None = None,
    seed: int = 42,
    target_cell_rows: int = 128,
) -> DataFrame:
    """SemDeDup-style cluster-scoped near-duplicate pairs (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): k-means partitions the embedding space, then
    cosine near-dup pairs are searched only WITHIN each cluster.

    This is the billion-document scale path for embedding dedup: the
    all-pairs compare (``embedding_near_dup_pairs``) is O(n²); clustering
    first turns it into k independent O((n/k)²) blocks that self-join on
    the cluster id — one shuffle co-partitioning both sides, no row ever
    compared across clusters. The deliberate trade (as in the paper) is
    that pairs straddling a cluster boundary are missed; recall against
    the exact all-pairs set is asserted in tests. Seeded k-means is
    deterministic run-to-run but not SQL-expressible → rows-only oracle.

    ``n_cells`` defaults to n / ``target_cell_rows`` (min 16): the cell
    COUNT must scale with the corpus so the cell SIZE stays constant —
    with fixed k the within-cell self-join is O((n/k)²) per cell and the
    whole operator quietly reverts to quadratic as the corpus grows (the
    r6 10× scale probe measured 22.7× wall at 10× rows with fixed k=16;
    adaptive k restores ~linear). This mirrors the paper's k ∝ corpus
    practice.

    Returns (id1, id2, cluster, cos) with id1 < id2, cos rounded to 6
    exactly like the all-pairs plans.
    """
    from ..functions.vectors import (
        assign_cells,
        dot,
        l2_norm,
        seeded_kmeans_centers,
    )

    if n_cells is None:
        n_cells = max(16, df.count() // target_cell_rows)
    centers = seeded_kmeans_centers(df, vec_col, k=n_cells, seed=seed)
    assigned = df.select(
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    ).withColumn("cluster", assign_cells(centers)(F.col("v")))
    a = assigned.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), "cluster"
    ).withColumn("n1", l2_norm(F.col("v1")))
    b = assigned.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), "cluster"
    ).withColumn("n2", l2_norm(F.col("v2")))
    return (
        a.join(b, "cluster")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "cos",
            F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", F.col("cluster").cast("long").alias("cluster"), "cos")
    )


def embedding_near_dup_pairs_fast(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    rows: "list | None" = None,
) -> DataFrame:
    """Arrow/numpy blocked-matmul near-dup pairs: the full corpus matrix
    rides to every partition (broadcast-sized precondition — at larger
    scale, loop this kernel over right-side blocks), each Arrow batch
    does one dense matmul, and only pairs ≥ threshold with id1 < id2 are
    emitted. ~10× the expression-tree pairwise plan on wide corpora;
    rows-only oracle (numpy summation order), equivalence to the exact
    plan asserted in tests. ``rows`` lets a caller that already holds
    the guarded collect (the cosine family shares one per session —
    round-12 verdict task #1) pass it in instead of re-collecting."""
    import numpy as np
    import pandas as pd

    if rows is None:
        rows = collect_vectors_guarded(
            df, id_col, vec_col, what="near-dup corpus"
        )
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    all_mat = np.array([r[1] for r in rows], dtype=np.float64)
    all_norm = np.linalg.norm(all_mat, axis=1)

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm = np.linalg.norm(mat, axis=1)
            sims = (mat @ all_mat.T) / np.outer(norm, all_norm)
            ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {
                    "id1": ids[ii],
                    "id2": all_ids[jj],
                    "cos": np.round(sims[ii, jj], 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, schema="id1 long, id2 long, cos double"
    )


def embedding_near_dup_pairs_expr(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (cos ≥ threshold, id1 < id2) as
    a pure Catalyst expression plan — the semantics-defining reference
    form; `embedding_near_dup_pairs` computes the identical result ~10×
    faster and is the one wired into the query surface.

    O(n²/2) compare. Each side's L2 norm is computed ONCE per vector in
    its own projection (not per pair — that would redo 2·d multiply-adds
    on all n²/2 pairs; measured ~3× on the pairwise pass). cos =
    dot/(n1·n2) is the same double arithmetic as the oracle's
    list_cosine_similarity.
    """
    from ..functions.vectors import dot, l2_norm

    a = df.select(
        F.col(id_col).alias("id1"), to_double_array(vec_col).alias("v1")
    ).withColumn("n1", l2_norm(F.col("v1")))
    b = df.select(
        F.col(id_col).alias("id2"), to_double_array(vec_col).alias("v2")
    ).withColumn("n2", l2_norm(F.col("v2")))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn(
            "cos",
            F.round(dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    rows: "list | None" = None,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (cos ≥ threshold, id1 < id2),
    two-phase Arrow kernel:

    1. candidate generation: one dense numpy matmul per Arrow batch
       against the broadcast corpus matrix, keeping pairs above
       ``threshold - 1e-4`` (the margin safely covers matmul summation-
       order error, ~1e-12 relative, plus the round-to-6 boundary);
    2. exact verification: for candidates only, recompute dot and both
       norms with strict left-to-right double accumulation (a loop over
       the dimension axis of the candidate row block) — element-wise
       numpy ops round each step exactly like a scalar loop, so the
       emitted cos is bit-identical to the Catalyst expression plan
       (`embedding_near_dup_pairs_expr`) and to the DuckDB oracle.

    The final round + threshold filter run Spark-side so rounding
    semantics stay the engine's own. Corpus matrix rides to every
    partition (broadcast-sized precondition — at larger scale loop the
    kernel over right-side blocks, as in simsearch). Equivalence to the
    expression plan is asserted in tests. ``rows`` lets a caller that
    already holds the guarded collect pass it in (the cosine family
    shares one per session — round-12 verdict task #1).
    """
    import numpy as np

    if rows is None:
        rows = collect_vectors_guarded(
            df, id_col, vec_col, what="near-dup corpus"
        )
    all_ids = np.array([r[0] for r in rows], dtype=np.int64)
    all_mat = np.array([r[1] for r in rows], dtype=np.float64)
    all_norm = np.linalg.norm(all_mat, axis=1)
    margin = threshold - 1e-4

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(ids) == 0:
                continue
            norm = np.linalg.norm(mat, axis=1)
            sims = (mat @ all_mat.T) / np.outer(norm, all_norm)
            ii, jj = np.nonzero(
                (sims >= margin) & (ids[:, None] < all_ids[None, :])
            )
            if len(ii) == 0:
                continue
            v1, v2 = mat[ii], all_mat[jj]
            dot_lr = np.zeros(len(ii))
            sq1 = np.zeros(len(ii))
            sq2 = np.zeros(len(ii))
            for k in range(v1.shape[1]):
                dot_lr = dot_lr + v1[:, k] * v2[:, k]
                sq1 = sq1 + v1[:, k] * v1[:, k]
                sq2 = sq2 + v2[:, k] * v2[:, k]
            cos = dot_lr / (np.sqrt(sq1) * np.sqrt(sq2))
            yield pd.DataFrame({"id1": ids[ii], "id2": all_ids[jj], "cos": cos})

    exact = df.select(id_col, vec_col).mapInPandas(
        kernel, schema="id1 long, id2 long, cos double"
    )
    return (
        exact.withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= threshold)
    )


def repeated_span_stats(df: DataFrame, k: int = 8,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        windows: DataFrame | None = None) -> DataFrame:
    """Cross-document repeated-substring detection at span granularity
    (the ExactSubstr idea from "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022, re-expressed relationally:
    instead of a monolithic suffix array, every k-token window is a
    row, and "substring shared across documents" becomes a grouped
    count on the window digest).

    Per document: the maximal merged spans of k-token windows whose
    content also occurs in at least one OTHER document, plus the token
    fraction those spans cover — the signal used to strip boilerplate /
    licence blocks / syndicated passages that whole-doc and near-dup
    passes both miss.

    Plan shape (all JVM-side — sequence/transform/explode, one digest
    window, one bounded per-doc window):
      1. tokenize once behind the ``tokenized`` barrier;
      2. ONE projection explodes (pos, xxhash64-of-k-token-slice)
         structs — 8-byte digests, no join-back, no string gram build
         (a 64-bit digest collides at ~1e-9 even for 10^5 windows;
         widen to two seeded xxhash64 columns past ~10^9 windows);
      3. "seen in >= 2 docs" as a single window over the digest:
         min(id) != max(id) over (partition by gh) — one shuffle on
         the uniform digest, no sort (whole-partition frame), replaces
         the naive distinct + grouped-count + semi-join (3 shuffles);
      4. classic gaps-and-islands interval merge per doc (window is
         bounded by the doc's own span count, never corpus-wide).

    At 100 TB the window relation is ~n_tokens rows; everything before
    the per-doc merge is embarrassingly parallel and the merge
    partitions on doc id. No driver state, no collect.
    """
    spans = repeated_spans(df, k, text_col, id_col, windows=windows)
    per_doc = spans.groupBy("id", "n_tokens").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return (
        base.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens").isNull() | (F.col("n_tokens") == 0),
                    F.lit(0.0),
                ).otherwise(F.col("dup_tokens") / F.col("n_tokens")),
                6,
            ).alias("dup_fraction"),
        )
    )


def _kgram_windows(tok: DataFrame, k: int,
                   with_len: bool = False) -> DataFrame:
    """One row per k-token window over the tokenizer barrier:
    (id[, n_tokens], pos, gh) where gh is the xxhash64 digest of the
    window's token slice. Shared stage of the whole ExactSubstr family
    (repeated_spans / strip / keep-first)."""
    n_tok = F.size("toks")
    carried = [n_tok.alias("n_tokens")] if with_len else []
    tail = ["n_tokens"] if with_len else []
    return tok.select(
        "id",
        *carried,
        F.explode(
            F.when(
                n_tok < k,
                F.array().cast("array<struct<pos:int,gh:bigint>>"),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), n_tok - F.lit(k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(F.slice("toks", i, k)).alias("gh"),
                    ),
                )
            )
        ).alias("w"),
    ).select(
        "id", *tail, F.col("w.pos").alias("pos"), F.col("w.gh").alias("gh")
    )


def _merge_spans(flagged: DataFrame, k: int,
                 keys: tuple = ("id",)) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    spans: (*keys, span_start, span_end), 1-based inclusive. ``keys``
    must start with "id" (the merge partitions per doc; extra keys are
    doc-constant carry-through columns like n_tokens)."""
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.withColumn(
            "prev_end", F.max(F.col("pos") + k - 1).over(w_prev)
        )
        .withColumn(
            "new_grp",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("pos") > F.col("prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("new_grp").over(w_run))
        .groupBy(*keys, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(*keys, "span_start", "span_end")
    )


def _strip_spans_rebuild(df: DataFrame, spans: DataFrame,
                         text_col: str, id_col: str,
                         tok: DataFrame | None = None) -> DataFrame:
    """Drop every token covered by a span and rebuild the text:
    (id_col, text_dedup, n_tokens, n_removed). ``spans`` needs
    (id, span_start, span_end); docs with no span pass through
    unchanged via the left join. ``tok``: a precomputed
    :func:`tokenized` relation — skips the re-tokenize (identical
    results by construction)."""
    per_doc = spans.groupBy("id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                F.col("span_end").alias("e"),
            )
        ).alias("spans")
    )
    if tok is None:
        tok = tokenized(df, text_col, id_col)
    joined = tok.join(per_doc, "id", "left")
    kept_pos = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda p: ~F.exists(
            F.coalesce(
                F.col("spans"),
                F.array().cast("array<struct<s:int,e:int>>"),
            ),
            lambda sp: (p >= sp["s"]) & (p <= sp["e"]),
        ),
    )
    kept = F.transform(kept_pos, lambda p: F.element_at("toks", p))
    return joined.select(
        F.col("id").alias(id_col),
        F.when(F.size("toks") == 0, F.lit("")).otherwise(
            F.array_join(kept, " ")
        ).alias("text_dedup"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.when(F.size("toks") == 0, F.lit(0).cast("long")).otherwise(
            (F.size("toks") - F.size(kept)).cast("long")
        ).alias("n_removed"),
    )


def repeated_spans(df: DataFrame, k: int = 8,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   windows: DataFrame | None = None) -> DataFrame:
    """(id, n_tokens, span_start, span_end) — the merged maximal spans
    of k-token windows occurring in >= 2 docs (1-based inclusive token
    positions). Shared upstream of the stats and strip operators.
    ``windows``: a precomputed ``_kgram_windows(tok, k, with_len=True)``
    relation (id, n_tokens, pos, gh) — skips the tokenize + window
    explode (identical results by construction)."""
    if windows is not None:
        win = windows
    else:
        tok = tokenized(df, text_col, id_col)
        win = _kgram_windows(tok, k, with_len=True)
    w_gh = Window.partitionBy("gh")
    flagged = (
        win.withColumn("id_min", F.min("id").over(w_gh))
        .withColumn("id_max", F.max("id").over(w_gh))
        .filter(F.col("id_min") != F.col("id_max"))
        .select("id", "n_tokens", "pos")
    )
    return _merge_spans(flagged, k, keys=("id", "n_tokens"))


def exactsubstr_keep_first(df: DataFrame, k: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           windows: DataFrame | None = None,
                           tok: DataFrame | None = None) -> DataFrame:
    """ExactSubstr dedup with Lee et al. 2022's ACTUAL removal rule —
    keep the FIRST occurrence of every duplicated substring, strip the
    rest — where :func:`strip_repeated_spans` is the conservative
    strip-everywhere variant. Two semantic deltas, each a new operator
    shape (round-11 registry class):

    1. CANONICAL-OCCURRENCE SELECTION: duplicated k-token windows are
       ranked corpus-globally (row_number over the window hash, ordered
       by (doc_id, pos)); only occurrences ranked >= 2 are stripped, so
       exactly one copy of each duplicated passage survives in the
       corpus — at min (doc_id, pos), the deterministic total order.
    2. WITHIN-DOC REPEATS COUNT: a window occurring twice inside one
       document is duplicated (the existence-flag variant requires two
       distinct docs and misses self-repetition — the "repeated lorem
       blocks inside one crawl page" failure mode).

    Approximation note (inherent to span-merging, documented not
    hidden): a canonical occurrence's tokens can still be removed when
    a DIFFERENT window's non-canonical occurrence overlaps them; the
    guarantee is "every duplicated window survives somewhere" per
    window, not per merged span.

    Plan shape = tokenizer barrier -> _kgram_windows explode (O(total
    tokens) rows of (id, pos, hash) — the documented memory bound: no
    suffix array, nothing per-task beyond one doc's token array) -> ONE
    shuffle on the window hash for the global rank -> _merge_spans
    gaps-and-islands -> _strip_spans_rebuild JVM token filter. Cites
    the reference's dedup stage (02_silver_layer_processing.py:21) as
    the whole-row ancestor this generalizes."""
    if windows is not None:
        # the with_len store relation minus the ride-along length —
        # identical to _kgram_windows(tok, k) by construction
        win = windows.select("id", "pos", "gh")
    else:
        tok = tok if tok is not None else tokenized(df, text_col, id_col)
        win = _kgram_windows(tok, k)
    w_occ = Window.partitionBy("gh").orderBy("id", "pos")
    strip = (
        win.withColumn("occ", F.row_number().over(w_occ))
        .filter(F.col("occ") >= 2)
        .select("id", "pos")
    )
    spans = _merge_spans(strip, k)
    return _strip_spans_rebuild(df, spans, text_col, id_col, tok=tok)


def strip_repeated_spans(df: DataFrame, k: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         windows: DataFrame | None = None,
                         tok: DataFrame | None = None) -> DataFrame:
    """The ACTION form of ExactSubstr dedup (Lee et al. 2022 remove the
    duplicated substring from all but one occurrence; this operator
    strips it everywhere, the conservative variant): rebuild each
    document's text with every cross-document repeated span removed.

    Plan: the shared spans relation collapses to one array per doc
    (collect_list over the doc-id partition — bounded by the doc's own
    span count), joins back onto the tokenizer barrier, and the token
    filter + rejoin is pure JVM higher-order functions
    (_strip_spans_rebuild). Docs with no flagged span pass through
    unchanged via the left join."""
    spans = repeated_spans(df, k, text_col, id_col, windows=windows).select(
        "id", "span_start", "span_end"
    )
    return _strip_spans_rebuild(df, spans, text_col, id_col, tok=tok)
