"""Deduplication operators: exact, fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design:
  - exact / fingerprint dedup: one hash-shuffle groupBy — the canonical
    map-side-combinable pattern; at 100 TB this is a single shuffle on the
    (short) hash key, never on the document text.
  - MinHash+LSH: signatures are k xxhash64/array_min expressions (JVM
    codegen, no Python); candidate generation explodes b band keys and
    self-joins on (band_idx, band_hash) — the join key is small and
    uniformly distributed, so the shuffle is balanced; exact Jaccard
    verification happens ONLY on candidate pairs.
  - brute-force pair scans (n-gram Jaccard, cosine) exist as oracles /
    small-set tools; their docstrings say so. The LSH paths are the scale
    paths.
  - SimHash: 64-bit signature via one Arrow-batched Pandas UDF (numpy bit
    ops — Spark lacks per-bit popcount aggregation); banding by 16-bit
    chunks gives Hamming-distance candidate pairs pigeonhole-style.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.operators.text import fingerprint_tokens, tokens_column


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """One representative (min id) per exact (optionally lower-cased) text.
    groupBy on two INDEPENDENT hashes of the text (64-bit xxhash64 + 128-bit
    md5) plus its length, not the text itself, so the shuffle key is ~26
    bytes regardless of document size. Merging distinct texts requires a
    simultaneous collision in both hash families within a length class —
    ~2^-192 per pair, negligible past any realistic corpus size (a single
    64-bit hash alone reaches its birthday bound near 2^32 docs).
    Returns (id, group_size)."""
    key = F.lower(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.groupBy(
            F.xxhash64(key).alias("__h"),
            F.md5(key).alias("__h2"),
            F.length(key).alias("__l"),
        )
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .drop("__h", "__h2", "__l")
    )


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Word-set (order/multiplicity-insensitive) dedup: representative +
    group size per sorted-distinct-token fingerprint."""
    return (
        df.withColumn("__fp", fingerprint_tokens(F.col(text_col)))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("group_size"))
        .drop("__fp")
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id",
    canonicalize: bool = True, materialize: bool = False,
) -> DataFrame:
    """URL-level dedup — the first stage of every standard web pipeline
    (CCNet/RefinedWeb/Dolma dedup by canonicalized URL before touching
    content): keep the min-id row per canonical URL, pass rows with a
    NULL url through untouched (no URL is not a dedup key).  Returns
    the surviving rows with all original columns plus `canonical_url`
    (NULL where url was NULL).

    Scale shape: one groupBy on the canonical-url string key (short —
    a few hundred bytes worst case) to pick winners, then one join of
    the winner ids back to the input on (canonical, id).  The winner
    table is id+url only, so the full-width document rows ride exactly
    one shuffle.

    `materialize=True` localCheckpoints the canonicalized frame (the
    p16 pattern) so the ~12-regexp canonicalization chain runs ONCE
    instead of once per consumer (winners + semi-join + anything
    downstream reading `canonical_url`) — the right trade when the
    chain dominates, at the cost of an eager materialization."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        canonicalize_url,
    )

    canon = (
        canonicalize_url(F.col(url_col)) if canonicalize else F.col(url_col)
    )
    keyed = df.withColumn("canonical_url", canon)
    if materialize:
        keyed = keyed.localCheckpoint()
    winners = (
        keyed.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias(id_col))
    )
    return keyed.join(
        winners, ["canonical_url", id_col], "left_semi"
    ).unionByName(keyed.where(F.col("canonical_url").isNull()))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise — small sets / LSH verification)
# ---------------------------------------------------------------------------

def _distinct_ngrams(text: Column, n: int) -> Column:
    toks = tokens_column(text)
    if n == 1:
        return F.array_distinct(toks)
    # guard: sequence(1, 0) is a DESCENDING [1, 0] in Spark, and slice()
    # rejects start 0 — a document shorter than n tokens has no n-grams
    idx = F.sequence(F.lit(1), F.size(toks) - n + 1)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold. O(N^2) — use for small
    N or as the verifier behind minhash_lsh_pairs at scale. Returns
    (id_a, id_b, jaccard) with id_a < id_b."""
    grams = df.select(
        F.col(id_col).alias("id"), _distinct_ngrams(F.col(text_col), n).alias("g")
    )
    a = grams.alias("a")
    b = grams.alias("b")
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    # |A u B| = |A|+|B|-|A n B| for distinct-gram sets: skip the second
    # per-pair hash-set build (bit-identical jaccard — integer identity)
    union = F.size("a.g") + F.size("b.g") - inter
    j = inter / F.greatest(union, F.lit(1))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            j.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(grams: Column, num_perm: int) -> list[Column]:
    """k minhash values: min over shingles of xxhash64(shingle, seed_k).
    Pure codegen — one array_min(transform(...)) per permutation.

    Prefer `minhash_signature_array` in pipelines: k expressions this wide
    can fall out of whole-stage codegen; the array form is one expression."""
    def hasher(seed: int):
        # single-arg lambda via closure (HOF lambdas dispatch on arity)
        return lambda x: F.xxhash64(x, F.lit(seed))

    return [
        F.array_min(F.transform(grams, hasher(seed))).alias(f"mh_{seed}")
        for seed in range(num_perm)
    ]


def minhash_signature_array(grams: Column, num_perm: int) -> Column:
    """All `num_perm` minhash values as ONE array<bigint> column (nested
    HOF: transform over the seed sequence, array_min(transform(grams))
    inside).

    CAUTION — evaluation hazard, measured: `grams` MUST be a materialized
    attribute (a real column after an exchange/persist), and the result
    must itself be materialized before any further HOF consumes it.
    Spark's interpreted higher-order-function path re-evaluates a
    non-attribute child expression per array element, turning this into
    O(seeds x tokens x |child tree|) per row — a 500-row input went from
    sub-second to unbounded in round-2 profiling. minhash_lsh_pairs uses
    the flat per-seed form (`minhash_signature`) over an attribute, which
    is immune: generator/projection children evaluate once per row."""
    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    return F.transform(
        seeds,
        lambda k: F.array_min(F.transform(grams, lambda x: F.xxhash64(x, k))),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    max_bucket_size: Optional[int] = None,
    max_candidate_pairs: Optional[int] = None,
    min_matching_bands: Optional[int] = None,
    cache_grams: bool = False,
    broadcast_grams: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding; candidates verified with
    exact Jaccard when `verify` (the production configuration).

    `min_matching_bands` (opt-in) is the verify-cost valve the r12
    verdict asked for: the candidate dedup is already a groupBy over
    (id_a, id_b), so the number of bands in which a pair co-occurs
    comes FREE from the same exchange (count instead of distinct), and
    it is a sharp similarity statistic: a pair at similarity s matches
    each band independently with p = s^r, so a TRUE pair at the
    default (threshold .9, r=4, 32 bands) matches ~21 bands in
    expectation and P(Binom(32, .9^4) < 2) ~ 9e-14 — while the
    degenerate small-vocabulary collisions that dominate candidate
    volume are overwhelmingly 1-band flukes (measured sf10: 326M
    candidates, 53% one-band, 89% under four).  Filtering to
    >= min_matching_bands before the gram re-attach cuts the exact-
    verify join to near-threshold pairs only, at a miss probability
    per true pair of P(Binom(bands, threshold^r) < c) — deterministic
    per corpus (no RNG), so a differential that passes once always
    passes.

    Interaction with max_bucket_size — SOLVED with censored-band slack
    (r13 measured the naive combination dropping 54% of true output;
    r13 verdict #2 asked for the valve-aware form): when the star
    valve is also set, counted co-occurrences are VALVE-CENSORED — two
    members of an over-cap bucket accrue no count from it.  But the
    censoring is bounded by observable per-doc statistics: a pair's
    true matching bands B splits into counted bands (both in the same
    under-cap bucket) plus censored bands, and a band can only be
    censored for the pair if it is over-cap for BOTH docs, so
    B <= __nb + min(cens_a, cens_b) where cens_x counts the bands in
    which doc x sat in an over-cap bucket.  The filter therefore keeps
    any pair with __nb + min(cens_a, cens_b) >= min_matching_bands:
    a dropped pair provably has B < min_matching_bands, so the
    binomial miss bound P(Binom(bands, s^r) < c) holds EXACTLY as in
    the unvalved case.  cens is a tiny per-doc aggregate (only docs
    that ever sat over-cap appear) broadcast onto the candidate
    stream — both attach joins are map-side; its size is bounded by
    the membership of degenerate buckets, the same population the star
    valve exists for.  Docs never over-cap get zero slack — the sharp
    pure-binomial filter; over-cap-family pairs get exactly the slack
    their censoring warrants.

    `cache_grams` persists the tokenize->hash gram table
    (MEMORY_AND_DISK) across its two consumers — the signature build
    and the verify re-attach — instead of recomputing the tokenize
    pipeline three times.  Measured at sf10 (PLANS r13): SLOWER on
    this host (329 s vs 280 s baseline) — the persist's memory
    pressure during the 326M-pair verify join costs more than the two
    recomputed scans it saves — so it stays off by default; it is the
    right trade only when executor memory is comfortably above the
    gram-table footprint.  Spark's ContextCleaner reclaims the blocks
    when the plan is GC'd.

    With r = num_perm/bands rows per band, a pair of similarity s collides
    in >=1 band with p = 1-(1-s^r)^bands; at (128, 32) -> r=4, pairs at
    s=0.9 are missed with p ~ 1e-15, making verified output equal to the
    exact O(N^2) scan at a fraction of the cost.

    Scale shape: each distinct shingle is hashed to int64 ONCE; the 128
    permutations and the verification intersections run over int arrays.
    Signature + banding are one flat projection of per-seed expressions
    over the materialized gram attribute (see minhash_signature_array's
    docstring for why the nested-HOF form is avoided). Banded rows stay
    slim (id + 2 ints) through the explode and self-join; shingle arrays
    re-attach only to deduped candidate pairs.

    `max_bucket_size` is the skew valve for degenerate corpora (a giant
    exact-dup cluster lands one band bucket on one task): buckets larger
    than the cap switch from all-pairs to a star around the bucket's min
    id. Members that verify >=threshold against the hub are kept; a member
    similar to OTHER members but not the hub is missed, so this trades
    recall within pathological buckets for bounded cost (output pairs are
    always a subset of the exact pair list). Leave None (default) for
    exact-pairs semantics; prefer running exact_dedup first so identical
    texts never reach the LSH at all."""
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    if min_matching_bands is not None and not (
        1 <= min_matching_bands <= bands
    ):
        raise ValueError(
            f"min_matching_bands must be in [1, {bands}], "
            f"got {min_matching_bands}"
        )
    grams_df, banded = _grams_and_bands(
        df, num_perm, bands, n, text_col, id_col
    )
    if materialize:
        # The tokenize->gram-hash->128-perm-signature->band-explode
        # chain is re-evaluated by EVERY consumer of `banded`: with the
        # star valve engaged that is `sizes`, the `sized` re-attach,
        # both aliases of the `small` self-join, the `big` branch and
        # `hubs` — the r14 plan capture counted the chain EIGHT times
        # in one p04 plan (8 Generate nodes, 10 scans of the corpus;
        # only Exchange nodes are runtime-reused, and the signature
        # projection sits above the reused exchange).  Eagerly
        # localCheckpointing the SLIM band table (id + 2 int64s;
        # num_docs x bands rows — sf10: 16M rows ~ 0.4 GB of
        # per-executor local blocks) computes the chain once and lets
        # every consumer read checkpoint blocks.  Unlike the rejected
        # cache_grams (r13: persisting the HEAVY gram arrays lost to
        # memory pressure during the verify join), this persists only
        # the lightweight proxy rows.  Content is deterministic
        # (per-row expressions, no RNG), so output is row-identical
        # with the flag off; pinned by pytest and the oracle row.
        banded = banded.localCheckpoint(eager=True)
    if cache_grams:
        from pyspark import StorageLevel

        grams_df = grams_df.persist(StorageLevel.MEMORY_AND_DISK)
    if max_candidate_pairs is not None:
        # candidate-budget guard (r11: the unvalved sf10 bench run
        # OOM'd at 9.6e9 candidates — the degenerate tail-bucket
        # pathology the star valve exists for, hit silently).  One
        # cheap aggregate over bucket sizes PREDICTS the join volume;
        # over budget, refuse loudly with the number and the
        # remediations instead of an OOM an hour into the join.
        # Opt-in because it costs an extra eager job per call.
        # When the star valve is ALSO set, buckets above the cap join as
        # a star (n-1 pairs), not all-pairs — estimate the VALVED join
        # volume, or the guard spuriously refuses the exact configuration
        # whose remediation it recommends (r11 advice).
        bucket_n = F.col("__n")  # NOT `n` — that's the shingle size param
        if max_bucket_size is not None:
            per_bucket = F.when(
                bucket_n <= F.lit(max_bucket_size),
                bucket_n * (bucket_n - 1) / 2,
            ).otherwise(bucket_n - 1)
        else:
            per_bucket = bucket_n * (bucket_n - 1) / 2
        est = (
            banded.groupBy("bi", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.sum(per_bucket))
            .collect()[0][0]
            or 0
        )
        if est > max_candidate_pairs:
            raise ValueError(
                "minhash_lsh_pairs: banding would generate "
                f"~{int(est):,} candidate pairs (budget "
                f"{max_candidate_pairs:,}). The corpus has degenerate "
                "band buckets — set max_bucket_size to star-valve "
                "them, raise the shingle size n (unigram shingles on "
                "a small vocabulary make unrelated documents "
                "collide), or run exact_dedup first."
            )
    # Candidate pairs via the banded SELF-JOIN, deliberately: the join and
    # the de-dup aggregate both run inside whole-stage codegen, which is
    # what survives this corpus's giant near-dup buckets (a ~2.6k-member
    # bucket appears in all 32 bands -> >100M raw pairs stream through the
    # join into the partial aggregate). The tempting alternative —
    # groupBy(bucket).collect_list(id) + generator-expanded pairs, which
    # computes the signature once instead of twice — was built and
    # measured: Generate over HOF slices runs on the INTERPRETED row path,
    # and the same >100M pairs took minutes instead of seconds. Paying the
    # signature twice (cheap, codegen) for a codegen'd join is the right
    # trade on Spark.
    if max_bucket_size is not None:
        sizes = banded.groupBy("bi", "bh").agg(F.count(F.lit(1)).alias("__n"))
        sized = banded.join(sizes, ["bi", "bh"])
        small = sized.where(F.col("__n") <= max_bucket_size).drop("__n")
        big = sized.where(F.col("__n") > max_bucket_size).drop("__n")
        hubs = big.groupBy("bi", "bh").agg(F.min("id").alias("hub"))
        star = (
            big.join(hubs, ["bi", "bh"])
            .where(F.col("id") != F.col("hub"))
            .select(
                F.least("hub", "id").alias("id_a"),
                F.greatest("hub", "id").alias("id_b"),
            )
        )
    else:
        small, star = banded, None
    a = small.alias("a")
    b = small.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if star is not None:
        cand = cand.unionByName(star)
    # the dedup groupBy doubles as the matching-band counter: count()
    # instead of distinct costs nothing extra on the same exchange
    cand = cand.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("__nb")
    )
    if min_matching_bands is not None and min_matching_bands > 1:
        if star is not None:
            # valve-aware slack (docstring): B_true <= __nb +
            # min(cens_a, cens_b), so this drop is exactly as sound as
            # the unvalved binomial filter.  cens is doc-proportional
            # over over-cap membership only -> broadcast, map-side.
            cens = big.groupBy("id").agg(F.count(F.lit(1)).alias("__cens"))
            ca = cens.select(
                F.col("id").alias("id_a"), F.col("__cens").alias("__ca")
            )
            cb = cens.select(
                F.col("id").alias("id_b"), F.col("__cens").alias("__cb")
            )
            slack = F.least(
                F.coalesce(F.col("__ca"), F.lit(0)),
                F.coalesce(F.col("__cb"), F.lit(0)),
            )
            cand = (
                cand.join(F.broadcast(ca), "id_a", "left")
                .join(F.broadcast(cb), "id_b", "left")
                .where((F.col("__nb") + slack) >= min_matching_bands)
                .drop("__ca", "__cb")
            )
        else:
            cand = cand.where(F.col("__nb") >= min_matching_bands)
    cand = cand.drop("__nb")
    if not verify:
        return cand
    ga = grams_df.select(F.col("id").alias("id_a"), F.col("g").alias("ga"))
    gb = grams_df.select(F.col("id").alias("id_b"), F.col("g").alias("gb"))
    if broadcast_grams:
        # The verify re-attach is the measured cost center on degenerate
        # corpora (sf10: 326M candidate pairs): as shuffle joins, the
        # pair table exchanges TWICE and the second exchange carries the
        # already-attached ~KB gram arrays — hundreds of GB for a gram
        # table that is itself only ~650 MB.  Broadcasting the per-doc
        # gram table turns both attaches map-side: the pair stream never
        # shuffles, arrays never ride an exchange.  Opt-in because the
        # broadcast must fit executor memory: right whenever
        # sum(|grams|)*8B per doc is broadcastable (sf10: 0.65 GB),
        # wrong at corpus scales where it isn't — there, prefer the
        # default co-partitioned joins (grams_df is already id-hashed).
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    pairs = cand.join(ga, "id_a").join(gb, "id_b")
    # |A u B| = |A| + |B| - |A n B| exactly (gram arrays are distinct
    # sets), so the union's second per-pair hash-set build is redundant
    # work — at sf10 the exact verify is COMPUTE-bound on these set ops
    # (326M pairs x ~150-element arrays; measured r13), and this halves
    # it.  Integer identity -> the same division -> bit-identical
    # jaccard.
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size("ga") + F.size("gb") - inter
    j = inter / F.greatest(union, F.lit(1))
    return pairs.select("id_a", "id_b", j.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def _grams_and_bands(
    df: DataFrame,
    num_perm: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared tokenize→signature→band pipeline: returns
    (grams_df: (id, g int64-shingle array), banded: (id, bi, bh)).
    Used by the one-shot pair scan AND the persisted index, so an
    index built today bands identically to a query tomorrow."""
    r = num_perm // bands
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    # a single-file local input arrives as 1 partition; the tokenize stage
    # must parallelize (no-op on a well-partitioned cluster input)
    shuffle_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if base.rdd.getNumPartitions() < max(2, shuffle_n // 2):
        base = base.repartition(shuffle_n, "id")
    grams_df = (
        base.select(
            "id",
            F.transform(
                _distinct_ngrams(F.col("__t"), n), lambda x: F.xxhash64(x)
            ).alias("g"),
        )
        .where(F.size("g") > 0)
        # The exchange below is load-bearing, not just partitioning: it
        # pins `g` as a materialized attribute. Without it CollapseProject
        # inlines the tokenize+hash tree INTO the nested-HOF signature,
        # and interpreted HOF eval re-evaluates that child per array
        # element — O(seeds x tokens x tokens) per row. The shuffle rows
        # are slim (id + int64 shingle hashes, never raw text) and the
        # id-partitioning is reused by the verify joins.
        .repartition(shuffle_n, "id")
    )
    # Signature + banding in ONE flat projection over the materialized `g`
    # attribute: num_perm independent array_min(transform) trees, each
    # evaluated exactly once per row (explode's child array is built once
    # per input row). Flat-wide beats nested-compact here — see the
    # minhash_signature_array docstring for the measured hazard.
    #
    # The projection is emitted as selectExpr STRINGS, not Column objects:
    # building 128 Column trees costs one py4j round-trip per operator
    # node (~3 s of pure driver time, measured), while the string form is
    # a single JVM-side parse (~0.1 s) of the exact same expressions —
    # identical band hashes, identical plan. Driver-side build cost is
    # per-query fixed overhead that does NOT shrink on a bigger cluster,
    # so it is worth engineering away even though executors never see it.
    sig_sql = [
        f"array_min(transform(g, x -> xxhash64(x, {k}))) AS s{k}"
        for k in range(num_perm)
    ]
    band_sql = "explode(array(%s)) AS bk" % ",".join(
        "named_struct('bi', %d, 'bh', xxhash64(%s))"
        % (b, ",".join(f"s{b * r + i}" for i in range(r)))
        for b in range(bands)
    )
    # Banded rows stay SLIM (id + 2 ints): the shingle arrays must not ride
    # through the x`bands` explode and the self-join shuffle — at scale
    # that multiplies shuffle bytes by bands x candidate-degree.
    banded = (
        grams_df.selectExpr("id", *sig_sql)
        .selectExpr("id", band_sql)
        .selectExpr("id", "bk.bi AS bi", "bk.bh AS bh")
    )
    return grams_df, banded


# ---------------------------------------------------------------------------
# Persisted MinHash index (incremental dedup)
# ---------------------------------------------------------------------------

def save_minhash_index(
    df: DataFrame,
    path: str,
    num_perm: int = 128,
    bands: int = 32,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus side of MinHash dedup: banded bucket rows
    partitioned by band id plus the int64 shingle arrays for exact
    verification, with the banding parameters pinned alongside.

    Build once, dedup many: the production shape is not "all pairs in
    one corpus" but "does today's batch duplicate the existing 100 TB
    corpus" — re-banding the corpus per batch re-pays the full scan
    every day.  The index stores only (id, bi, bh) bucket rows (~16
    bytes x bands per doc) and the hashed shingles; raw text never
    lands in the index.  `mode="append"` grows it incrementally
    (yesterday's accepted batch becomes part of today's corpus).

    The dedup-pipeline sibling of similarity.save_ivf_index (same
    train-once/query-many rationale)."""
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    spark = df.sparkSession
    if mode == "append":
        meta = _read_minhash_meta(spark, path)
        if meta != (num_perm, bands, n):
            raise ValueError(
                f"index at {path} was built with (num_perm, bands, n)="
                f"{meta}; appending with {(num_perm, bands, n)} would "
                "band inconsistently"
            )
    else:
        commit.clear_marker(spark, path)
        spark.createDataFrame(
            [(num_perm, bands, n)], "num_perm int, bands int, n int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    grams_df, banded = _grams_and_bands(
        df, num_perm, bands, n, text_col, id_col
    )
    # grams FIRST, bands second: the three writes are not atomic, and the
    # verify join in dedup_against_index resolves band candidates against
    # grams — a band row whose grams are missing would silently drop a
    # true duplicate, while an orphaned gram row (failure after the grams
    # write, before the bands write) is unreachable and harmless.
    grams_df.write.mode(mode).parquet(f"{path}/grams")
    banded.write.mode(mode).partitionBy("bi").parquet(f"{path}/bands")
    if mode != "append":
        commit.stamp_marker(spark, path)


def _read_minhash_meta(spark, path: str) -> tuple[int, int, int]:
    commit.require_marker(spark, path)
    row = spark.read.parquet(f"{path}/meta").collect()[0]
    return (int(row["num_perm"]), int(row["bands"]), int(row["n"]))


def _read_index_table(spark, path: str, fallback_schema) -> DataFrame:
    """Read a persisted index dataset with schema INFERENCE whenever it
    has data files — the STORED types win, so an index saved with (say)
    array<double> embeddings probed by an array<float> batch keeps
    working through the expressions' explicit casts, as it did before
    r8.  The caller's schema applies only to the cold-start case where
    an empty partitionBy write left no files to infer from (r8 advice:
    forcing the batch schema onto populated files broke cross-type
    probes at the parquet reader)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return spark.read.schema(fallback_schema).parquet(path)


def dedup_against_index(
    new_df: DataFrame,
    path: str,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    banding: Optional[tuple] = None,
    broadcast: bool = True,
    include_same_id: bool = False,
) -> DataFrame:
    """Near-duplicate pairs between a NEW batch and a persisted corpus
    index: (new_id, index_id, jaccard >= threshold).

    `include_same_id=False` (default) excludes id-identical matches so a
    corpus can be probed against its own index; `include_same_id=True`
    keeps them — a batch doc whose same-id near-identical twin already
    sits in the index reports itself, which is how streaming curation
    recognizes redelivered input as already-accepted (content-keyed
    idempotence, no extra I/O: an identical doc bands identically, so
    its same-id row lives in exactly the partitions the probe reads).

    Scale shape (broadcast=True, the daily-increment default — asserts
    the batch is small next to the corpus): the batch's banded rows are
    broadcast, so the bucket probe is a broadcast hash join against the
    index's bands scan (no corpus shuffle, no corpus re-banding), and
    exact verification streams the stored grams through two further
    broadcast hash joins — first against the slim candidate id pairs
    (which prunes the corpus grams to candidates with NO exchange; the
    previous shape joined the full grams table and relied on AQE to
    avoid a corpus-wide shuffle), then against the batch's freshly
    hashed shingles.  The full plan has zero Exchange nodes over index
    data (pinned in tests).

    broadcast=False is the large-batch fallback (a backfill the size of
    the corpus, not a daily increment): every join downgrades to a
    shuffled hash/sort-merge join on slim keys — the batch's banded and
    gram frames never transit the driver, mirroring
    ngram_decontaminate's broadcast_test flag.

    Banding parameters come from the index meta, so a query can never
    band differently than the index was built; callers that already
    read the meta pass it as `banding=(num_perm, bands, n)` to skip the
    re-read (a per-micro-batch driver round trip in streaming)."""
    spark = new_df.sparkSession
    num_perm, bands, n = banding or _read_minhash_meta(spark, path)
    new_grams, new_banded = _grams_and_bands(
        new_df, num_perm, bands, n, text_col, id_col
    )
    q_banded = F.broadcast(new_banded) if broadcast else new_banded
    idx_banded = _read_index_table(spark, f"{path}/bands", new_banded.schema)
    bucket_match = (F.col("i.bi") == F.col("q.bi")) & (
        F.col("i.bh") == F.col("q.bh")
    )
    if not include_same_id:
        bucket_match = bucket_match & (F.col("i.id") != F.col("q.id"))
    cand = (
        idx_banded.alias("i")
        .join(q_banded.alias("q"), bucket_match)
        .select(
            F.col("q.id").alias("new_id"), F.col("i.id").alias("index_id")
        )
        .dropDuplicates(["new_id", "index_id"])
    )
    ga = new_grams.select(F.col("id").alias("new_id"), F.col("g").alias("ga"))
    gb = _read_index_table(spark, f"{path}/grams", new_grams.schema).select(
        F.col("id").alias("index_id"), F.col("g").alias("gb")
    )
    if broadcast:
        # corpus grams stream through broadcast joins: candidates prune
        # first (slim id pairs), shingle arrays attach after
        pairs = gb.join(F.broadcast(cand), "index_id").join(
            F.broadcast(ga), "new_id"
        )
    else:
        pairs = cand.join(ga, "new_id").join(gb, "index_id")
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size("ga") + F.size("gb") - inter  # same identity as above
    j = inter / F.greatest(union, F.lit(1))
    return pairs.select("new_id", "index_id", j.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def _hamming_bands(df: DataFrame, hash_col: str, id_col: str) -> DataFrame:
    """(id, h, bi, bh) banded rows for a 64-bit fingerprint column —
    one row per 16-bit chunk, the persisted/probe shape shared by
    save_hamming_index and its probe.  Null hashes drop (a null
    fingerprint matches nothing)."""
    sig = df.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    )
    bands = None
    for c in range(4):
        b = sig.select(
            "id", "h", F.lit(c).alias("bi"),
            F.shiftrightunsigned(F.col("h"), c * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("bh"),
        )
        bands = b if bands is None else bands.unionByName(b)
    return bands


def save_hamming_index(
    df: DataFrame,
    path: str,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus side of fingerprint (SimHash / image
    dHash) dedup: banded (id, h, bi, bh) rows partitioned by band id,
    completing the persisted-index family (MinHash, cosine-LSH, IVF —
    and now Hamming).  Build once, probe per batch: "does today's
    image batch perceptually duplicate the existing corpus" never
    re-bands the corpus.  Unlike MinHash, the full 64-bit hash rides in
    every band row (8 bytes), so verification needs NO second table —
    the probe is one bucket join plus a bit_count.  `mode="append"`
    grows it incrementally under the shared marker discipline."""
    spark = df.sparkSession
    if mode != "append":
        commit.clear_marker(spark, path)
        spark.createDataFrame(
            [(4, 16)], "bands int, chunk_bits int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    else:
        commit.require_marker(spark, path)
        row = spark.read.parquet(f"{path}/meta").collect()[0]
        if (row["bands"], row["chunk_bits"]) != (4, 16):
            raise ValueError(
                f"index at {path} was banded {row['bands']}x"
                f"{row['chunk_bits']}; this build writes 4x16"
            )
    _hamming_bands(df, hash_col, id_col).write.mode(mode).partitionBy(
        "bi"
    ).parquet(f"{path}/bands")
    if mode != "append":
        commit.stamp_marker(spark, path)


def hamming_dedup_against_index(
    new_df: DataFrame,
    path: str,
    max_hamming: int = 2,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    broadcast: bool = True,
    include_same_id: bool = False,
) -> DataFrame:
    """Fingerprint near-duplicates between a NEW batch and a persisted
    Hamming index: (new_id, index_id, hamming <= max_hamming).
    Exhaustive for max_hamming <= 3 (pigeonhole over the 4x16 bands;
    looser thresholds refused, same contract as hamming_neardup_pairs).

    Scale shape mirrors dedup_against_index: with broadcast=True (the
    daily-increment default) the batch's banded rows broadcast into a
    hash join against the index's bands scan — zero Exchange over index
    data, and the stored hash verifies inline (no second join at all).
    broadcast=False is the corpus-sized-backfill fallback (shuffled
    join on the slim band keys)."""
    if max_hamming > 3:
        raise ValueError(
            "4x16-bit banding guarantees exhaustive recall only for "
            f"max_hamming <= 3 (got {max_hamming})"
        )
    spark = new_df.sparkSession
    commit.require_marker(spark, path)
    q = _hamming_bands(new_df, hash_col, id_col)
    q_banded = F.broadcast(q) if broadcast else q
    idx = _read_index_table(spark, f"{path}/bands", q.schema)
    bucket_match = (F.col("i.bi") == F.col("q.bi")) & (
        F.col("i.bh") == F.col("q.bh")
    )
    if not include_same_id:
        bucket_match = bucket_match & (F.col("i.id") != F.col("q.id"))
    return (
        idx.alias("i")
        .join(q_banded.alias("q"), bucket_match)
        .select(
            F.col("q.id").alias("new_id"),
            F.col("i.id").alias("index_id"),
            _hamming(F.col("q.h"), F.col("i.h")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["new_id", "index_id"])
    )


def lsh_dedup_representatives(
    pairs: DataFrame, df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Greedy cluster representatives from a pair list: a document is a
    duplicate if any SMALLER id pairs with it (one join pass; transitive
    chains keep their per-edge minimum — a deliberate single-pass
    approximation of connected components, documented)."""
    dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dup_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    weighted: bool = False,
) -> DataFrame:
    """64-bit SimHash per document via one Arrow-batched Pandas UDF:
    Spark has no per-bit signed popcount aggregation, so tokens are hashed
    JVM-side (xxhash64 per token), then a numpy kernel folds the +-1 bit
    votes. Returns (id, simhash, chunk_0..chunk_3) where chunks are 16-bit
    bands for Hamming-candidate joins.

    weighted=False (default) votes once per DISTINCT token — a deliberate
    divergence from Charikar's construction (STOC 2002), which weights
    each bit vote by term frequency.  Unweighted is robust to keyword
    stuffing (a token repeated 1000x still votes once); weighted=True is
    the canonical variant — repetition-dominant documents hash near the
    signature of their dominant tokens, so boilerplate with small
    insertions clusters tighter.  Weighted mode simply skips the
    array_distinct: every occurrence's hash enters the fold, so the
    numpy kernel's vote sum IS the frequency-weighted sum — no second
    code path, no per-token count shuffle (counts stay implicit in the
    per-document array, which never leaves its row)."""
    @F.pandas_udf("long")
    def fold_bits(hashes: pd.Series) -> pd.Series:
        import numpy as np

        out = np.zeros(len(hashes), dtype=np.int64)
        for row, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            arr = np.asarray(hs, dtype=np.uint64)
            bits_m = (arr[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            # the popcount is uint64: cast to SIGNED before `*2 - n`, or
            # minority bits underflow to ~2^64 and read as positive
            # votes — which silently set (almost) every signature bit
            # and made every document look near-every-other (r10
            # self-review find; the planted-exact-dup oracle and the
            # determinism pins were all blind to it)
            votes = bits_m.sum(axis=0).astype(np.int64) * 2 - len(arr)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out[row] = np.int64(sig)
        return pd.Series(out)

    toks = tokens_column(F.col(text_col))
    votes_src = toks if weighted else F.array_distinct(toks)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(votes_src, lambda t: F.xxhash64(t)).alias("th"),
    )
    sig = hashed.select("id", fold_bits("th").alias("simhash"))
    for c in range(4):
        sig = sig.withColumn(
            f"chunk_{c}",
            F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)),
        )
    return sig


def simhash_candidate_pairs(
    sig: DataFrame, materialize: bool = True
) -> DataFrame:
    """Pairs sharing any 16-bit chunk — by pigeonhole, contains every pair
    with Hamming distance <= 3.

    `materialize` (default True) eagerly localCheckpoints `sig` before
    the four band self-joins: the joins reference it EIGHT times (two
    aliases x four bands), and each reference re-evaluates the caller's
    entire upstream chain (tokenize + weighted vote matrix for text
    SimHash — the r14 p21 plan capture counted 32 corpus scans in one
    plan).  The signature table is slim by construction (id + hash +
    4 chunk ints, ~48 bytes/row), so the checkpoint is cheap at any
    corpus size; content is deterministic, so output is row-identical
    either way.  Pass False to compose lazily (e.g. the caller already
    materialized).

    Cluster caveat (ADVICE r14): `materialize=True` makes construction
    run an eager Spark job, and localCheckpoint blocks are executor-
    local and NON-replicated — they are unrecoverable on executor loss
    and discouraged under dynamic allocation.  On clusters where that
    risk matters, pass False and persist the signature table yourself
    (reliable checkpoint / write+read-back)."""
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    out = None
    for c in range(4):
        a = sig.alias("a")
        b = sig.alias("b")
        p = a.join(
            b,
            (F.col(f"a.chunk_{c}") == F.col(f"b.chunk_{c}"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _hamming(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        out = p if out is None else out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


def _hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def hamming_neardup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs over ANY 64-bit fingerprint column
    (SimHash, image dHash, ...) by banded Hamming join: 4 x 16-bit
    chunks, pairs sharing a chunk verified with bit_count — by
    pigeonhole this is EXHAUSTIVE for distance <= 3, so max_hamming
    above 3 is refused rather than silently under-recalling.  Null
    hashes (an on_error="null" decode) are excluded — a null
    fingerprint matches nothing rather than colliding in the 0-chunk
    band.  Same scale shape as simhash_candidate_pairs: candidates are
    band-local, nothing all-pairs.

    `materialize` (default True) shares simhash_candidate_pairs'
    behavior AND its cluster caveat (ADVICE r14): construction runs an
    eager job, and the localCheckpoint blocks are executor-local and
    non-replicated — unrecoverable on executor loss, discouraged under
    dynamic allocation.  Pass False there and persist the slim
    signature frame reliably yourself.  (minhash_lsh_pairs keeps
    materialize=False as ITS default because its banded table is built
    inside the operator from heavier inputs — callers opt in, as the
    bench rows do; the differing defaults are deliberate and
    documented rather than unified, to avoid changing any verified
    default path again.)"""
    if max_hamming > 3:
        raise ValueError(
            "4x16-bit banding guarantees exhaustive recall only for "
            f"max_hamming <= 3 (got {max_hamming}); use more bands or "
            "the cosine-LSH path for looser matching"
        )
    sig = df.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    )
    for c in range(4):
        sig = sig.withColumn(
            f"chunk_{c}",
            F.shiftrightunsigned(F.col("h"), c * 16).bitwiseAND(
                F.lit(0xFFFF)
            ),
        )
    if materialize:
        # same rationale as simhash_candidate_pairs: the four band
        # self-joins reference `sig` eight times, and for media
        # fingerprints each reference re-runs the upstream DECODE
        # kernel (the r14 m05 plan capture counted 16 corpus scans
        # through the dhash chain in one plan).  The table is slim
        # (id + int64 + 4 chunk ints) — checkpoint once, decode once.
        # Deterministic content -> row-identical output; micro-batch
        # frames inside foreachBatch are static DataFrames, so the
        # streaming curation caller is safe.
        sig = sig.localCheckpoint(eager=True)
    out = None
    for c in range(4):
        a, b = sig.alias("a"), sig.alias("b")
        p = a.join(
            b,
            (F.col(f"a.chunk_{c}") == F.col(f"b.chunk_{c}"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _hamming(F.col("a.h"), F.col("b.h")).alias("hamming"),
        )
        out = p if out is None else out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"]).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    dims: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scale path for embedding near-dup: hyperplane-LSH bucket the
    vectors, compute exact cosine only within buckets. Recall is bounded by
    the bucket-collision probability (1 - acos(s)/pi)^bits for similarity
    s — pick `bits` from the target threshold; candidates drop from O(N^2)
    to sum of per-bucket squares."""
    from cloudfabric_eventsourcing_spark.operators.similarity import lsh_bucket

    bucketed = lsh_bucket(df, dims=dims, bits=bits, seed=seed, vec_col=vec_col)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col(f"a.{vec_col}"),
            F.col(f"b.{vec_col}"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(f"{side}.{vec_col}"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    cos = dot / (norm("a") * norm("b"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# partition-dir cap for the cosine index layout: dirs = 2^min(bits, 10)
# (see save_cosine_index docstring for the measured motivation)
_COSINE_PARTITION_BITS = 10


def save_cosine_index(
    df: DataFrame,
    path: str,
    dims: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus side of embedding near-dup: vectors bucketed
    under the hyperplane LSH and written PARTITIONED BY bucket, with
    (dims, bits, seed) pinned alongside so a query can never bucket
    differently than the index was built.

    The embedding sibling of save_minhash_index (text) and
    save_ivf_index (ANN): the probe filters on the NEW batch's bucket
    set before scanning, so at 100 TB a batch touching B of the 2^bits
    buckets reads only those buckets' data — enforced at the file
    listing for the partition prefix, at parquet row-group min/max for
    the full bucket value.

    Layout (r9, measured in PLANS.md's cosine probe study): partitioning
    by the FULL bucket value explodes into 2^bits directories — at
    bits=16 a 500-vector multiprobe batch touched ~8.5k tiny-file
    partitions and the probe spent 22s listing/opening them, slower
    than the corpus-scan pathology it was meant to fix.  The vectors
    dataset is therefore partitioned by ``pbucket``, the HIGH
    `_COSINE_PARTITION_BITS` bits of the bucket (dir count capped at
    1024), with the full bucket stored as an in-file column and rows
    sorted by it (row-group pruning finishes the job).  High bits
    deliberately: a 1-bit multiprobe flip of any LOW bit stays in the
    SAME directory, so the probe fan-out touches at most
    1 + min(bits, 10) dirs per query instead of 1 + bits."""
    from cloudfabric_eventsourcing_spark.operators.similarity import lsh_bucket

    spark = df.sparkSession
    if mode == "append":
        meta = _read_cosine_meta(spark, path)
        if meta != (dims, bits, seed):
            raise ValueError(
                f"index at {path} was built with (dims, bits, seed)="
                f"{meta}; appending with {(dims, bits, seed)} would "
                "bucket inconsistently"
            )
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(f"{path}/vectors").columns
        except AnalysisException:
            existing = None  # cold dir / no data files: nothing to clash
        if existing is not None:
            # appending pbucket=*/ dirs beside a legacy bucket=*/ layout
            # corrupts the dataset (conflicting partition columns on
            # every later read) — refuse before writing anything
            _check_cosine_layout(existing, path)
    else:
        commit.clear_marker(spark, path)
        spark.createDataFrame(
            [(dims, bits, seed)], "dims int, bits int, seed int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    shift = max(bits - _COSINE_PARTITION_BITS, 0)
    bucketed = (
        lsh_bucket(df, dims=dims, bits=bits, seed=seed, vec_col=vec_col)
        .select(id_col, vec_col, "bucket")
        .withColumn("pbucket", F.shiftright("bucket", shift))
    )
    bucketed.sortWithinPartitions("pbucket", "bucket").write.mode(
        mode
    ).partitionBy("pbucket").parquet(f"{path}/vectors")
    if mode != "append":
        commit.stamp_marker(spark, path)


def _check_cosine_layout(columns, path: str) -> None:
    """Fail fast on a vectors dataset written by the pre-pbucket layout
    (partitionBy('bucket'), r8 and earlier).  Without this, a probe
    dies mid-stream on an unresolved `pbucket` column, and an append
    writes pbucket=*/ dirs NEXT TO the legacy bucket=*/ dirs — after
    which every read fails on conflicting partition columns and the
    index needs manual cleanup.  Same fail-before-first-batch contract
    as the curation loop's _check_corpus_layout."""
    if "pbucket" not in columns:
        raise ValueError(
            f"cosine index at {path} uses the legacy bucket-partitioned "
            "layout; rebuild it with save_cosine_index(mode='overwrite') "
            "(the r9 layout partitions by the bucket's high bits — see "
            "save_cosine_index) before probing or appending"
        )


def _read_cosine_meta(spark, path: str) -> tuple[int, int, int]:
    commit.require_marker(spark, path)
    row = spark.read.parquet(f"{path}/meta").collect()[0]
    return (int(row["dims"]), int(row["bits"]), int(row["seed"]))


def cosine_dedup_against_index(
    new_df: DataFrame,
    path: str,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe_flips: int = 1,
    meta: Optional[tuple] = None,
    include_same_id: bool = False,
) -> DataFrame:
    """Embedding near-duplicates between a NEW batch and a persisted
    cosine index: (new_id, index_id, cosine >= threshold).

    Scale shape: the batch's bucket SET (bounded by batch size × probe
    count) is collected driver-side and pushed as TWO pruning levels
    against the prefix-partitioned layout (save_cosine_index): the
    bucket's high bits prune the file listing (≤ 2^10 dirs), the full
    bucket value prunes parquet row groups within them — then the
    batch's bucketed rows broadcast into the join and exact cosine
    verifies within buckets.

    `nprobe_flips=1` (default) probes each query's bucket AND its
    `bits` one-bit neighbors, the same multiprobe lsh_topk uses: a true
    near-dup whose sign flips on one near-margin hyperplane lands one
    bit away, and exact-bucket probing alone misses it with probability
    1-(1-acos(s)/pi)^bits (~11% at bits=8, s=0.999).  Set 0 for
    exact-bucket probing; the probe fan-out multiplies the scanned
    bucket count, not the corpus.

    `include_same_id=True` keeps id-identical matches — the streaming
    vector loop's content-keyed idempotence: a redelivered vector (same
    id, same embedding) buckets identically, finds its own index row in
    the probed partitions, and rejects itself.  `meta=(dims, bits, seed)`
    skips the per-call meta read for callers that hold it (one driver
    round trip per micro-batch in streaming)."""
    from cloudfabric_eventsourcing_spark.operators.similarity import lsh_bucket

    if nprobe_flips not in (0, 1):
        # only exact-bucket and 1-bit-neighbor probing are implemented;
        # accepting larger values silently as 1 would under-deliver the
        # recall the caller asked for
        raise ValueError("nprobe_flips must be 0 or 1")
    spark = new_df.sparkSession
    dims, bits, seed = meta or _read_cosine_meta(spark, path)
    qb = lsh_bucket(
        new_df, dims=dims, bits=bits, seed=seed, vec_col=vec_col
    ).select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("qv"), "bucket")
    # the probe frame broadcast into the bucket join is SLIM (new_id,
    # bucket) — exploding before broadcasting the embeddings would ship
    # bits+1 copies of every query vector; qv re-attaches afterwards by
    # new_id (one row per query)
    probes_df = qb.select("new_id", "bucket")
    if nprobe_flips == 1:
        # each query row probes its own bucket + all 1-bit flips; probe
        # values are distinct per row, so a given (query, index) pair
        # can join at most once — no candidate dedup needed
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(bits)
            ],
        )
        probes_df = probes_df.withColumn("bucket", F.explode(probes))
    buckets = [
        r["bucket"] for r in probes_df.select("bucket").distinct().collect()
    ]
    # two-level pruning against the prefix-partitioned layout (see
    # save_cosine_index): pbucket prunes the file LISTING to at most
    # 2^_COSINE_PARTITION_BITS dirs (high bits — low-bit multiprobe
    # flips stay in-dir), bucket prunes row groups within them
    shift = max(bits - _COSINE_PARTITION_BITS, 0)
    prefixes = sorted({b >> shift for b in buckets})
    fallback_schema = (
        qb.select(
            F.col("new_id").alias(id_col), F.col("qv").alias(vec_col), "bucket"
        )
        .withColumn("pbucket", F.shiftright("bucket", shift))
        .schema
    )
    idx_raw = _read_index_table(spark, f"{path}/vectors", fallback_schema)
    _check_cosine_layout(idx_raw.columns, path)
    idx = idx_raw.where(
        F.col("pbucket").isin(prefixes) & F.col("bucket").isin(buckets)
    ).select(
        F.col(id_col).alias("index_id"), F.col(vec_col).alias("iv"), "bucket"
    )
    join_cond = idx.bucket == probes_df.bucket
    if not include_same_id:
        join_cond = join_cond & (F.col("index_id") != F.col("new_id"))
    cand = (
        idx.join(F.broadcast(probes_df), join_cond)
        .select("new_id", "index_id", "iv")
    )
    pairs = cand.join(F.broadcast(qb.select("new_id", "qv")), "new_id")
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("iv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(c), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    cos = dot / (norm("qv") * norm("iv"))
    return (
        pairs.select("new_id", "index_id", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold (double accumulation). O(N^2);
    the scale path buckets by hyperplane LSH first (similarity.lsh_bucket)
    and runs this within buckets. Returns (id_a, id_b, cosine rounded 4)."""
    normed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    a = normed.alias("a")
    b = normed.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# test-set decontamination
# ---------------------------------------------------------------------------

def ngram_decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_test: bool = True,
) -> DataFrame:
    """Drop training documents that share ANY word n-gram with a held-out
    evaluation set — the standard contamination filter a training corpus
    runs against its benchmark suites before training.

    Scale shape: every n-gram is reduced to an 8-byte xxhash64 before it
    leaves its scan, so the explode and the membership join shuffle slim
    (id, int64) rows. The test-set gram table is tiny next to the corpus
    — broadcast by default so the 100 TB side never shuffles; set
    broadcast_test=False for an evaluation set too large to broadcast
    (falls back to a shuffled semi join, still on 8-byte keys).

    Returns the surviving training rows (all columns)."""
    # a Column expression, resolved against whichever frame selects it —
    # both frames are read through the same `text_col` name
    gram_hashes = F.transform(
        _distinct_ngrams(F.col(text_col), n), lambda x: F.xxhash64(x)
    )

    test_grams = (
        test.select(F.explode(gram_hashes).alias("__g")).distinct()
    )
    if broadcast_test:
        test_grams = F.broadcast(test_grams)
    train_grams = train.select(
        F.col(id_col).alias("__id"), F.explode(gram_hashes).alias("__g")
    )
    contaminated = (
        train_grams.join(test_grams, "__g", "left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def ngram_overlap_stats(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_test: bool = True,
) -> DataFrame:
    """Decontamination REPORT: per training doc, how much of it overlaps
    the held-out set — (id, n_grams, n_contaminated, overlap_ratio).
    The binary filter (ngram_decontaminate) drops on ANY shared gram; a
    pipeline operator usually wants the distribution first to pick a
    threshold (a quote of one benchmark question is different from a
    verbatim inclusion).  Docs with fewer than n tokens report 0 grams
    and ratio 0.0.

    Same scale shape as the filter: grams leave their scan as 8-byte
    hashes, the tiny test-gram set broadcasts, and the per-doc
    aggregate is map-side combinable."""

    gram_hashes = F.transform(
        _distinct_ngrams(F.col(text_col), n), lambda x: F.xxhash64(x)
    )

    test_grams = (
        test.select(F.explode(gram_hashes).alias("__g")).distinct()
    )
    if broadcast_test:
        test_grams = F.broadcast(test_grams)
    train_grams = train.select(
        F.col(id_col).alias("id"), F.explode_outer(gram_hashes).alias("__g")
    )
    marked = train_grams.join(
        test_grams.select(F.col("__g"), F.lit(True).alias("__hit")),
        "__g",
        "left",
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("__g").alias("n_grams"),
            F.count(F.when(F.col("__hit"), 1)).alias("n_contaminated"),
        )
        .select(
            "id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated")
                / F.greatest(F.col("n_grams"), F.lit(1))
            ).alias("overlap_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# exact-substring (duplicated-span) dedup — Lee et al., ACL 2022
# ---------------------------------------------------------------------------

def _positioned_grams(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, gram): every token k-gram with its 1-based start
    position.  Linear zip-of-shifted-slices (the t06/p16 form — never
    transform(sequence), whose nested re-evaluation goes quadratic);
    docs shorter than k tokens yield no rows."""
    toks = tokens_column(F.col(text_col))
    # clamp: docs shorter than k tokens (incl. empty/null text, where
    # size() is 0 or -1) must yield an empty gram array, not a negative
    # slice length
    gspan = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gz = F.arrays_zip(*[F.slice(toks, i + 1, gspan) for i in range(k)])
    grams = F.transform(
        gz, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)])
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(grams).alias("pos0", "gram"),
    ).select(
        "id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "gram"
    )


def _positioned_gram_hashes(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, gram) like _positioned_grams, but gram is a 64-bit
    HASH built straight from per-token xxhash64 values folded with a
    rotate(7)-xor chain — the k-token STRING is never materialized.
    Position matters (rotate-xor is order-sensitive), adjacent grams
    share no arithmetic shortcut an adversary... rather: inputs are
    already-uniform token hashes, so the fold stays uniform and the
    collision odds per gram pair are ~2^-64 (documented at the
    hash_grams boundary).  All shift/xor Column ops — no overflow, so
    ANSI mode is safe; tokens hash ONCE each (n per doc) instead of
    appearing in k gram strings (the r10 hash_grams variant built the
    strings and then hashed them, paying both costs — that is why it
    measured SLOWER than raw)."""
    from cloudfabric_eventsourcing_spark.operators.text import tokens_column

    toks = tokens_column(F.col(text_col))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    gspan = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gz = F.arrays_zip(*[F.slice(th, i + 1, gspan) for i in range(k)])

    def fold(s):
        h = s["0"]
        for j in range(1, k):
            h = (
                F.shiftleft(h, 7)
                .bitwiseOR(F.shiftrightunsigned(h, 57))
                .bitwiseXOR(s[str(j)])
            )
        return h

    grams = F.transform(gz, fold)
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(grams).alias("pos0", "gram"),
    ).select(
        "id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "gram"
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
    mark: str = "window",
) -> DataFrame:
    """Exact-substring duplicate detection (the ExactSubstr operator of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): maximal token spans covered by k-grams that
    occur >= min_count times ANYWHERE in the corpus (including repeats
    within one document).  Returns (doc_id, span_start, span_end,
    n_grams) with 1-based inclusive token indices — the span report a
    pipeline thresholds before cutting (remove_duplicated_spans).

    Where the suffix-array construction of the paper is a single-node
    algorithm, this is its distributed k-gram reformulation: any
    duplicated substring of >= k tokens is covered by duplicated
    k-grams, so merging overlapping/adjacent duplicated-gram starts
    (gaps-and-islands per document) recovers exactly the maximal
    duplicated spans at k-token resolution.

    Scale shape: the explode is ~one row per corpus token (the same
    cost every ExactSubstr implementation pays to look at every
    position); the count is a map-side-combinable groupBy on the gram
    key; the span merge is a per-document window (partitioned by id —
    no global window).  Corpus-wide boilerplate grams have huge counts
    but — unlike pair-listing operators (p16/minhash bands) — nothing
    here is quadratic in posting length: positions are marked by a
    semi-join, never paired, so no skew valve is needed.

    `mark` picks how duplicated positions are identified — both give
    IDENTICAL results (pinned); the choice is physical (r11 sf10 A/B,
    interleaved, DuckDB wall 10.2 s):

    - "window" (default, 16.9 s = 1.66x oracle): ONE shuffle of the
      positioned grams by gram key, then a partition-wide COUNT window
      — the gram frame is built once and never re-shuffled.  Caveat: a
      window partition cannot be skew-split by AQE, so a pathological
      mega-gram (corpus-wide boilerplate repeated ~10^8 times) becomes
      one straggler task (it spills, it does not OOM).  At that point
      switch to "semijoin" or pre-filter boilerplate
      (boilerplate_lines) ahead of span detection.
    - "semijoin" (21.7 s = 2.1x): skew-safe — the count is a
      map-side-combinable groupBy and AQE can skew-split the mark
      join — at the cost of building AND shuffling the gram frame a
      second time.  The r11 decomposition: the gram build itself is
      ~14 s of the wall (the JVM array/expression floor — arrays_zip
      of k slices; zip_with doubling, window-lead, and pandas variants
      all measured slower), so avoiding the rebuild is the whole win.

    hash_grams=True shuffles 8-byte keys instead of k-token strings
    (~2^-64 collision odds per gram pair): per-token xxhash64 values
    fold into the gram key with a rotate-xor chain, so the k-token
    STRING is never materialized.  Re-measured in r11 with the direct
    fold (the r10 variant built strings then hashed them): STILL loses
    on local[32] at sf10 — 60 s vs 22 s — because the per-element HOF
    fold is interpreter-bound; it remains the right key only when a
    real network shuffle is the bottleneck.  The default keeps raw
    grams, which makes the selection engine-reproducible (the p17
    oracle row)."""
    from pyspark.sql import Window

    if mark not in ("window", "semijoin"):
        raise ValueError(f"mark must be 'window' or 'semijoin', got {mark!r}")
    if hash_grams:
        g = _positioned_gram_hashes(df, k, text_col, id_col)
    else:
        g = _positioned_grams(df, k, text_col, id_col)
    if mark == "window":
        wc = Window.partitionBy("gram")
        marked = (
            g.withColumn("__n", F.count(F.lit(1)).over(wc))
            .where(F.col("__n") >= min_count)
            .select("id", "pos")
        )
    else:
        dup = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") >= min_count)
            .select("gram")
        )
        marked = g.join(dup, "gram", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = (
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
    )
    islands = marked.select(
        "id", "pos", F.sum(brk).over(w).alias("__island")
    )
    return (
        islands.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "n_grams"
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    spans: Optional[DataFrame] = None,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The thresholding report between detection and cutting:
    (doc_id, n_tokens, dup_tokens, dup_ratio) for EVERY document —
    dup_tokens is the union size of the doc's duplicated spans (spans
    from duplicated_spans never overlap, so a plain sum is the union).
    A pipeline reads the dup_ratio distribution to pick its policy
    (drop >0.8 wholesale, cut spans in the 0.2-0.8 band, keep the
    rest) before committing to remove_duplicated_spans — the same
    report-first pattern as ngram_overlap_stats.

    One aggregation over the span frame joined back to a token-count
    projection; docs without spans report 0/0.0."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        token_count_whitespace,
    )

    if spans is None:
        spans = duplicated_spans(
            df, k=k, min_count=min_count, text_col=text_col, id_col=id_col
        )
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens"
        )
    )
    counted = df.select(
        F.col(id_col),
        # null text counts as an empty doc (size(null) would propagate
        # a null n_tokens into the ratio)
        F.coalesce(
            token_count_whitespace(F.col(text_col)).cast("bigint"),
            F.lit(0),
        ).alias("n_tokens"),
    )
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0))
    n = F.greatest(F.col("n_tokens"), F.lit(1))
    # ratio in exact integer ten-thousandths (design rule 5, the
    # quality_score lesson): round(dup/n, 4) lands exactly ON .00005
    # boundaries whenever n is a power of two, where engines tie-break
    # differently; floor((20000*dup + n) / (2n)) is half-up rounding
    # computed exactly — the quotient's distance from any integer is 0
    # or >= 1/(2n), far above double error
    ratio4 = F.floor((20000 * dup + n) / (2 * n)).cast("long")
    return (
        counted.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            dup.alias("dup_tokens"),
            (ratio4 / 10000).cast("double").alias("dup_ratio"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    spans: Optional[DataFrame] = None,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean",
) -> DataFrame:
    """Cut every duplicated span out of the text (whitespace-normalized
    reconstruction of the surviving tokens, original casing kept).
    Removes EVERY occurrence — the Lee et al. ExactSubstr policy; a
    keep-one-canonical variant would need a corpus-wide choice of
    "the" original among overlapping cross-document spans, which the
    paper itself declines.  Pass a precomputed `spans` frame (from
    duplicated_spans, possibly filtered to e.g. n_grams >= t) to
    decouple thresholding from cutting; otherwise one is computed with
    (k, min_count).

    The cut is a per-row filter over token positions against the doc's
    own (typically tiny) span list — the only shuffle is the span
    join on id."""
    if spans is None:
        spans = duplicated_spans(
            df, k=k, min_count=min_count, text_col=text_col, id_col=id_col
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = df.join(per_doc, id_col, "left")
    orig = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    kept = F.filter(
        orig,
        lambda x, i: ~F.exists(
            sp,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        *[c for c in df.columns], F.concat_ws(" ", kept).alias(out_col)
    )


# ---------------------------------------------------------------------------
# semantic dedup — SemDeDup (Abbas et al. 2023)
# ---------------------------------------------------------------------------

def _semantic_prune(
    assigned: DataFrame, dim: int, threshold: float, id_col: str, id_field
) -> DataFrame:
    """Shared SemDeDup pruning stage: (id, cid, v) -> (id_col,
    cluster_id, kept).  One shuffle of N rows into per-cluster groups,
    then a blockwise pairwise kernel per cluster (memory-bounded; the
    Column fold's IEEE op order; Decimal HALF_UP only on the threshold
    boundary zone; min-id survivor; null ids neither remove nor get
    removed).  Used by both the exact Arrow path and the two-level
    assignment path — assignment strategies differ, pruning semantics
    must not."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    from pyspark.sql import types as T

    unit = 1e-4
    unit_d = Decimal(1).scaleb(-4)

    def _jround(x: float) -> float:
        if np.isnan(x) or np.isinf(x):
            return float(x)
        return float(Decimal(repr(float(x))).quantize(unit_d, ROUND_HALF_UP))

    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("cluster_id", T.LongType(), False),
            T.StructField("kept", T.BooleanType(), False),
        ]
    )

    def _prune_cluster(pdf):
        from cloudfabric_eventsourcing_spark.operators.similarity import (
            _id_asc_key,
        )

        m = len(pdf)
        ids = pdf["id"].to_numpy()
        # clean numeric ids (the common corpus) keep the C-speed
        # argsort; otherwise the sentinel path: a None/NaN id must not
        # crash the object argsort (r13 advice) — and, matching the
        # Column form, a null id can neither remove nor be removed
        # (`a.id < b.id` is null), so null-id rows are excluded from
        # the pairwise pass below
        if ids.dtype.kind in "iu":
            order = np.argsort(ids, kind="stable")
            id_ok = np.ones(m, dtype=bool)
        elif ids.dtype.kind == "f" and not np.isnan(ids).any():
            order = np.argsort(ids, kind="stable")
            id_ok = np.ones(m, dtype=bool)
        else:
            keys = [_id_asc_key(v) for v in ids]
            order = np.array(
                sorted(range(m), key=lambda i: keys[i]), dtype=np.int64
            )
            id_ok = np.array(
                [keys[i][0] == 1 for i in order], dtype=bool
            )
        pdf = pdf.iloc[order]
        ids = pdf["id"].to_numpy()
        vs = pdf["v"]
        live = id_ok & np.array(
            [v is not None and len(v) == dim for v in vs], dtype=bool
        )
        removed = np.zeros(m, dtype=bool)
        li = np.flatnonzero(live)
        if len(li) > 1:
            mat = np.array([list(vs.iloc[i]) for i in li], dtype=np.float64)
            lm = len(li)
            nrm2 = np.zeros(lm, dtype=np.float64)
            for t in range(dim):
                nrm2 = nrm2 + mat[:, t] * mat[:, t]
            nrm = np.sqrt(nrm2)
            # blockwise pairwise pass bounds memory on runaway clusters
            B = max(1, min(lm, (1 << 22) // max(lm, 1)))
            hit = np.zeros(lm, dtype=bool)
            for lo in range(0, lm, B):
                hi = min(lo + B, lm)
                blk = np.zeros((hi - lo, lm), dtype=np.float64)
                for t in range(dim):  # sequential fold again
                    blk = blk + mat[lo:hi, t][:, None] * mat[:, t][None, :]
                dnb = nrm[lo:hi][:, None] * nrm[None, :]
                nullb = dnb == 0.0  # Column form: NULL cosine
                with np.errstate(divide="ignore", invalid="ignore"):
                    csb = np.where(
                        nullb, np.nan, blk / np.where(nullb, 1.0, dnb)
                    )
                # threshold on ROUNDED cs: decide definitively outside
                # the +/-unit boundary zone, Decimal only inside it
                ge = csb >= (threshold + unit)
                maybe = (csb >= (threshold - unit)) & ~ge
                if maybe.any():
                    mi, mj = np.nonzero(maybe)
                    for a_, b_ in zip(mi, mj):
                        v = csb[a_, b_]
                        if not np.isnan(v) and _jround(v) >= threshold:
                            ge[a_, b_] = True
                # NaN cosine (NaN components): Spark NaN >= x is TRUE
                # (NaN sorts largest); NULL cosine (zero norm) never
                # passes a predicate — excluded via nullb
                ge |= np.isnan(csb) & ~nullb
                # row i removes column j when global i < j (ids sorted
                # asc -> index order IS id order)
                rows_idx = np.arange(lo, hi)[:, None]
                cols_idx = np.arange(lm)[None, :]
                hit |= (ge & (rows_idx < cols_idx)).any(axis=0)
            removed[li] = hit
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cid"].to_numpy(),
                "kept": ~removed,
            }
        )

    return assigned.groupBy("cid").applyInPandas(_prune_cluster, out_schema)


def _semantic_dedup_arrow(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
) -> DataFrame:
    """Arrow evaluation of semantic_dedup — see its docstring for the
    exactness contract (sequential-fold IEEE order, Decimal HALF_UP on
    boundary sets, identical tie rules)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    from pyspark.sql import types as T

    unit = 1e-4
    unit_d = Decimal(1).scaleb(-4)

    def _jround(x: float) -> float:
        if np.isnan(x) or np.isinf(x):
            return float(x)
        return float(Decimal(repr(float(x))).quantize(unit_d, ROUND_HALF_UP))

    crows = sorted(
        (
            (int(r[0]), [float(x) for x in r[1]])
            for r in centroids.select(
                F.col(centroid_id_col), F.col(centroid_vec_col)
            ).collect()
        ),
        key=lambda t: t[0],
    )
    if not crows:
        raise ValueError("semantic_dedup: empty centroid table")
    cids = np.array([c for c, _ in crows], dtype=np.int64)
    cmat = np.array([v for _, v in crows], dtype=np.float64)
    k, dim = cmat.shape
    cnrm2 = np.zeros(k, dtype=np.float64)
    for t in range(dim):  # same fold order as _normed
        cnrm2 = cnrm2 + cmat[:, t] * cmat[:, t]
    cnrm = np.sqrt(cnrm2)

    id_field = df.schema[id_col]
    vec_field = df.schema[vec_col]
    assigned_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType, id_field.nullable),
            T.StructField("cid", T.LongType(), False),
            T.StructField("v", vec_field.dataType, True),
        ]
    )

    def _assign_batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(batch.schema.get_field_index(vec_col))
            idc = batch.column(batch.schema.get_field_index(id_col))
            mat = None
            live_sel = None
            if (
                isinstance(vec, (pa.ListArray, pa.LargeListArray))
                and vec.null_count == 0
            ):
                offs = vec.offsets.to_numpy(zero_copy_only=False)
                widths = np.diff(offs)
                if len(widths) and widths[0] == dim and (widths == widths[0]).all():
                    vals = vec.values.to_numpy(
                        zero_copy_only=False
                    ).astype(np.float64)
                    mat = vals[offs[0]: offs[-1]].reshape(n, dim)
            if mat is None:  # dirty batch: null / ragged rows
                rows = vec.to_pylist()
                live_i = [
                    i for i, v in enumerate(rows)
                    if v is not None and len(v) == dim
                ]
                dead_i = [
                    i for i, v in enumerate(rows)
                    if v is None or len(v) != dim
                ]
                if dead_i:
                    # Column form: null/padded products -> null cs for
                    # every centroid -> all-tie -> lowest cid; the row
                    # carries its (unusable) vector as null so the pair
                    # pass keeps it
                    sel = pa.array(dead_i)
                    yield pa.RecordBatch.from_arrays(
                        [
                            idc.take(sel),
                            pa.array(
                                [int(cids[0])] * len(dead_i),
                                type=pa.int64(),
                            ),
                            pa.nulls(len(dead_i), type=vec.type),
                        ],
                        names=["id", "cid", "v"],
                    )
                if not live_i:
                    continue
                live_sel = pa.array(live_i)
                idc = idc.take(live_sel)
                vec = vec.take(live_sel)
                n = len(live_i)
                mat = np.array(
                    [rows[i] for i in live_i], dtype=np.float64
                )
            dot = np.zeros((n, k), dtype=np.float64)
            nrm2 = np.zeros(n, dtype=np.float64)
            for t in range(dim):  # the zip_with fold's exact op order
                col = mat[:, t]
                dot = dot + col[:, None] * cmat[:, t][None, :]
                nrm2 = nrm2 + col * col
            denom = np.sqrt(nrm2)[:, None] * cnrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cs = np.where(denom != 0.0, dot / np.where(
                    denom != 0.0, denom, 1.0
                ), np.nan)
                null_cs = denom == 0.0  # Column form: NULL cosine
            # rounded argmax, ties to lowest cid; NULL cosines sort
            # SMALLEST (max_by struct ordering), NaN cosines (NaN
            # components) sort LARGEST (Spark's double ordering).  Only
            # the margin set is Decimal-rounded: rounding is monotone,
            # so the rounded max is rounded(raw max) and any tie
            # satisfies raw >= max-unit.
            key = np.where(np.isnan(cs) & ~null_cs, np.inf, cs)
            key = np.where(null_cs, -np.inf, key)
            raw_max = key.max(axis=1)
            chosen = np.empty(n, dtype=np.int64)
            for i in range(n):
                cand = np.flatnonzero(key[i] >= raw_max[i] - unit)
                if len(cand) == 1:
                    chosen[i] = cids[cand[0]]
                    continue
                best = None
                for j in cand:
                    if null_cs[i, j]:
                        rj = -np.inf  # NULL sorts below every value
                    elif np.isnan(cs[i, j]):
                        rj = np.inf  # NaN sorts above every value
                    else:
                        rj = _jround(cs[i, j])
                    # max by (rounded cs, -cid): cids sorted asc, so
                    # strict > keeps the lowest cid on ties
                    if best is None or rj > best[0]:
                        best = (rj, cids[j])
                chosen[i] = best[1]
            yield pa.RecordBatch.from_arrays(
                [idc, pa.array(chosen, type=pa.int64()), vec],
                names=["id", "cid", "v"],
            )

    assigned = df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _assign_batches, assigned_schema
    )

    return _semantic_prune(assigned, dim, threshold, id_col, id_field)


def _normed(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )


def _cos(av, anrm, bv, bnrm) -> Column:
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # zero-norm vectors have no defined cosine: NULL (the
    # cosine_to_query convention) — under ANSI mode the unguarded
    # division was a job-killing SparkArithmeticException for ONE
    # degenerate row (found by the r13 dirty-corpus pin).  NULL never
    # wins an assignment argmax against a real cosine and never
    # crosses a >= threshold predicate, so clean-corpus results are
    # unchanged bit-for-bit.
    denom = anrm * bnrm
    return F.when(denom != F.lit(0.0), F.round(dot / denom, 4))


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "embedding",
    use_arrow: bool = True,
    max_centroid_cells: Optional[int] = 32_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): assign every vector
    to its nearest centroid by cosine, then WITHIN each cluster mark as
    duplicate any vector that has a lower-id neighbor at cosine >=
    threshold.  Returns (id_col, cluster_id, kept) — the per-item
    verdict a pipeline filters on (`WHERE kept`) or audits.

    Centroids come in as a (cid, vector) frame: the output of
    similarity.ivf_centroids_from_sample in production (SemDeDup is
    exactly the IVF partitioning reused for pruning instead of search),
    or any deterministic choice when reproducibility across engines
    matters (the p18 oracle row uses the C lowest-id corpus vectors).

    Deterministic tie rules, stated because they ARE the semantics:
    assignment breaks cosine ties (after the 4-decimal round) toward
    the lowest cid; the survivor of a near-duplicate pair is always the
    lowest id — the same min-id rule as lsh_dedup_representatives, and
    deliberately NOT transitive closure (A~B, B~C with A<B<C removes
    both B and C even if cos(A,C) < threshold; the paper's per-pair
    pruning has the same property).

    Scale shape: the centroid table is tiny (k clusters) and
    broadcast; the per-id argmax is a max_by aggregation, which
    partial-aggregates map-side — each task reduces its N*k scored
    rows to one candidate per vector BEFORE the exchange, so the
    assignment shuffle is ~N rows, not N*k.  (The first cut used a
    row_number window, whose exchange carries every scored row with
    its embedding payload — at k ~ sqrt(N) an N^1.5-row vector
    shuffle; the self-review caught the docstring claiming otherwise.)
    The cluster self-join is bounded by cluster sizes the way LSH
    buckets bound the near-dup join.  Pick k ~ sqrt(N) (the paper's
    regime) so expected cluster cost is ~N^1.5/k = N; a runaway
    cluster means the centroids no longer span the corpus — retrain
    (ivf_index_report's occupancy histogram is the detector), don't
    valve.

    Two evaluation paths, pytest-pinned equal and both under the p18
    differential:

    - `use_arrow=True` (default since r13): the N x k scoring
      cross-join and the in-cluster pairwise pass were the interpreted
      -HOF trap again (sf10: 200k vectors x 447 centroids x 64 dims of
      per-element lambda evaluation — the s04/s05/t09 lesson).  The
      Arrow path computes both with the Column fold's EXACT IEEE op
      order (sequential accumulation over the dim axis, one multiply
      then one divide), reproduces Spark ROUND(double) via
      Decimal(repr) HALF_UP on the argmax margin set / threshold
      boundary zone only, and keeps the same tie rules (rounded-cs
      desc, cid asc; NaN cosines sort largest, as Spark orders NaN).
      Assignment is map-only (centroids collected — k rows, the
      PQ-codebook pattern); the pair pass is one shuffle of N
      (id, vec) rows into per-cluster groups.
    - `use_arrow=False`: the Column-expression form, the oracle-exact
      reference.

    WHERE THIS OPERATOR ENDS (r13 verdict #3): both paths collect the
    k-centroid table to the driver and broadcast it (the Arrow path
    captures it in the kernel closure), and assignment costs N*k*dim
    flops.  At the paper's k ~ sqrt(N) regime that is fine through
    hundreds of millions of docs (k=450 at sf10 is ~230 KB), but at
    10^10 docs x dim 768 the table alone is ~600 MB of driver/executor
    closure and the flops grow as N^1.5*dim.  `max_centroid_cells`
    (default 32M cells = 256 MB float64) is the budget-guard-family
    refusal: over the ceiling the call fails loudly BEFORE collecting,
    naming the remedy — `semantic_dedup_two_level`, the SHIPPED
    coarse-then-fine assignment (only ~sqrt(k) seeds collected; the
    centroid table streams as data into a cogrouped fine-scoring
    stage; pinned equal to this operator at coarse_nprobe=cells).
    Raise the ceiling only with executor memory to back it."""
    if max_centroid_cells is not None:
        stats = centroids.select(
            F.count(F.lit(1)).alias("k"),
            F.max(F.size(centroid_vec_col)).alias("dim"),
        ).first()
        cells = int(stats["k"] or 0) * int(stats["dim"] or 0)
        if cells > max_centroid_cells:
            raise ValueError(
                "semantic_dedup: the centroid table is "
                f"{stats['k']:,} x dim {stats['dim']} = {cells:,} "
                f"cells (ceiling {max_centroid_cells:,}) — too large "
                "to collect/broadcast, and N*k*dim assignment flops "
                "would dominate. Use semantic_dedup_two_level (only "
                "~sqrt(k) seeds are collected; the centroid table "
                "streams as DATA into a cogrouped fine-scoring "
                "stage), retrain with fewer centroids, or raise "
                "max_centroid_cells if executor memory backs it."
            )
    if use_arrow:
        return _semantic_dedup_arrow(
            df, centroids, threshold, vec_col, id_col,
            centroid_id_col, centroid_vec_col,
        )
    n = _normed(df, vec_col, id_col)
    c = _normed(
        centroids.select(
            F.col(centroid_id_col).alias("cid"),
            F.col(centroid_vec_col).alias("cv"),
        ),
        "cv",
        "cid",
    ).select(
        F.col("id").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = n.crossJoin(F.broadcast(c)).select(
        "id",
        "v",
        "nrm",
        "cid",
        _cos(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cnrm")).alias(
            "cs"
        ),
    )
    # argmax over (cs desc, cid asc) as a map-side-combinable max_by:
    # struct comparison is lexicographic, so (cs, -cid) max == highest
    # cosine, ties to the LOWEST cid — identical to the oracle's
    # ROW_NUMBER() ORDER BY cs DESC, cid ASC
    asg = (
        scored.groupBy("id")
        .agg(
            F.max_by(
                F.struct("cid", "v", "nrm"),
                F.struct(F.col("cs"), (-F.col("cid")).alias("nc")),
            ).alias("__m")
        )
        .select(
            "id",
            F.col("__m.v").alias("v"),
            F.col("__m.nrm").alias("nrm"),
            F.col("__m.cid").alias("cid"),
        )
    )
    a = asg.alias("a")
    b = asg.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(
            _cos(
                F.col("a.v"), F.col("a.nrm"), F.col("b.v"), F.col("b.nrm")
            )
            >= threshold
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        asg.join(removed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("kept"),
        )
    )


def semantic_dedup_two_level(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "cid",
    centroid_vec_col: str = "embedding",
    coarse_cells: Optional[int] = None,
    coarse_nprobe: int = 1,
) -> DataFrame:
    """semantic_dedup beyond the centroid-collect boundary: the
    max_centroid_cells guard's upgrade path, SHIPPED (r13 verdict #3/
    r14).  Only `coarse_cells` seed vectors (default ceil(sqrt(k)) —
    the lowest-cid centroids, the deterministic ivf-seed pattern) are
    collected and closed over; the full k-centroid table never touches
    the driver — it is assigned to coarse cells distributively and
    then streams as DATA into a cogrouped fine-scoring stage, so the
    memory per task is one cell's centroids (~k/m * dim ~ sqrt(k)*dim
    doubles) and assignment flops drop from N*k*dim to
    N*(m + nprobe*k/m)*dim.

    Semantics: each doc probes its `coarse_nprobe` nearest seed cells
    and is assigned the best fine centroid AMONG THOSE CELLS (rounded
    cosine desc, cid asc — the semantic_dedup tie rules; zero-norm /
    null / ragged vectors assign to the global lowest cid with the
    NULL-cosine convention, exactly as the exact path).  With
    coarse_nprobe >= coarse_cells every centroid is scored and the
    result is pytest-pinned EQUAL to semantic_dedup; with nprobe <
    cells it is the standard IVF approximation — a doc whose true
    nearest centroid lives outside its probed cells lands in a
    neighboring cluster (deterministic, never crashes; SemDeDup is
    itself an approximation family, and the paper's k ~ sqrt(N) regime
    keeps cells well-separated).  The pruning stage is byte-identical
    shared code (`_semantic_prune`): min-id survivor, no transitive
    closure.

    Scale shape: ONE m-row collect; one mapInArrow probe pass over
    docs emitting nprobe slim rows each; one exchange of those rows +
    the centroid table by cell into the cogroup; one per-doc max_by
    reduce (map-side combinable); then the shared N-row pruning
    shuffle.  Everything is doc- or centroid-proportional — nothing
    quadratic, nothing driver-bound.

    WHEN TO USE, measured (sf10, N=200k, k=447, m=21 — PLANS r14):
    below the collect guard the ONE-LEVEL kernel stays faster (13.0 s
    vs 14.9/7.7 s at nprobe=1/2) — its closure is tiny and its
    assignment is map-only, while this operator pays a probe pass and
    a cell exchange regardless of k.  This operator's design point is
    exactly where semantic_dedup REFUSES (k*dim over the guard).
    Approximation quality is corpus-dependent: on the synthetic
    sf10 embeddings (no real cluster structure — near-tied centroids
    everywhere) nprobe=1 flips 64% of cluster ASSIGNMENTS yet the
    kept/removed VERDICT still agrees 99.6%; on a corpus whose
    centroids came from its own k-means (the production path) the
    coarse route is the same IVF premise ivf_topk relies on."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow  # noqa: F401  (env guard: Arrow path required)
    from pyspark.sql import types as T

    if coarse_nprobe < 1:
        raise ValueError("coarse_nprobe must be >= 1")
    k = centroids.count()
    if k == 0:
        raise ValueError("semantic_dedup_two_level: empty centroid table")
    m = coarse_cells if coarse_cells is not None else max(1, int(k**0.5))
    if not (1 <= m <= k):
        raise ValueError(f"coarse_cells must be in [1, {k}], got {m}")
    p = min(coarse_nprobe, m)

    seed_rows = (
        centroids.select(
            F.col(centroid_id_col).alias("cid"),
            F.col(centroid_vec_col).alias("cv"),
        )
        .orderBy("cid")
        .limit(m)
        .collect()
    )
    seeds = [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in seed_rows]
    global_min_cid = seeds[0][0]
    smat = np.array([v for _, v in seeds], dtype=np.float64)
    dim = smat.shape[1]
    snrm2 = np.zeros(m, dtype=np.float64)
    for t in range(dim):  # the shared sequential fold order
        snrm2 = snrm2 + smat[:, t] * smat[:, t]
    snrm = np.sqrt(snrm2)

    unit = 1e-4
    unit_d = Decimal(1).scaleb(-4)

    def _jround(x: float) -> float:
        if np.isnan(x) or np.isinf(x):
            return float(x)
        return float(Decimal(repr(float(x))).quantize(unit_d, ROUND_HALF_UP))

    def _seed_keys(mat):
        """(rows x m) comparison keys vs the seeds: jround(cos), with
        NaN components -> +inf (Spark NaN sorts largest) and zero-norm
        seeds -> -inf (NULL cosine sorts smallest)."""
        n = mat.shape[0]
        dot = np.zeros((n, m), dtype=np.float64)
        nrm2 = np.zeros(n, dtype=np.float64)
        for t in range(dim):
            col = mat[:, t]
            dot = dot + col[:, None] * smat[:, t][None, :]
            nrm2 = nrm2 + col * col
        nrm = np.sqrt(nrm2)
        denom = nrm[:, None] * snrm[None, :]
        null_cs = denom == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            cs = np.where(null_cs, np.nan, dot / np.where(null_cs, 1.0, denom))
        key = np.where(np.isnan(cs) & ~null_cs, np.inf, cs)
        key = np.where(null_cs, -np.inf, key)
        return key, nrm

    id_field = df.schema[id_col]
    vec_field = df.schema[vec_col]
    probed_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType, id_field.nullable),
            T.StructField("rk", T.LongType(), False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("v", vec_field.dataType, True),
        ]
    )

    def _probe_batches(batches):
        import pyarrow as pa

        seq = 0  # per-partition row counter: with the partition id it
        # forms `rk`, the surrogate the cross-cell argmax groups on —
        # grouping on `id` alone would merge distinct NULL-id docs
        # (deterministic: stable input partitioning -> stable rk)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(batch.schema.get_field_index(vec_col))
            idc = batch.column(batch.schema.get_field_index(id_col))
            pid = int(batch.column(batch.schema.get_field_index("__pid"))[0].as_py())
            rk0 = (pid << 40) + seq
            seq += n
            orig = list(range(n))  # original batch positions for rk
            mat = None
            if (
                isinstance(vec, (pa.ListArray, pa.LargeListArray))
                and vec.null_count == 0
            ):
                offs = vec.offsets.to_numpy(zero_copy_only=False)
                widths = np.diff(offs)
                if len(widths) and widths[0] == dim and (widths == widths[0]).all():
                    vals = vec.values.to_numpy(
                        zero_copy_only=False
                    ).astype(np.float64)
                    mat = vals[offs[0]: offs[-1]].reshape(n, dim)
            if mat is None:  # dirty batch: null / ragged rows
                rows = vec.to_pylist()
                live_i = [
                    i for i, v in enumerate(rows)
                    if v is not None and len(v) == dim
                ]
                dead_i = [
                    i for i, v in enumerate(rows)
                    if v is None or len(v) != dim
                ]
                if dead_i:
                    sel = pa.array(dead_i)
                    yield pa.RecordBatch.from_arrays(
                        [
                            idc.take(sel),
                            pa.array(
                                [rk0 + i for i in dead_i], type=pa.int64()
                            ),
                            pa.array([-1] * len(dead_i), type=pa.int32()),
                            pa.nulls(len(dead_i), type=vec.type),
                        ],
                        names=["id", "rk", "cell", "v"],
                    )
                if not live_i:
                    continue
                sel = pa.array(live_i)
                idc = idc.take(sel)
                vec = vec.take(sel)
                n = len(live_i)
                orig = live_i
                mat = np.array([rows[i] for i in live_i], dtype=np.float64)
            key, nrm = _seed_keys(mat)
            # zero-norm docs: NULL cosine to EVERY centroid -> global
            # lowest cid, same as the exact path's all-tie rule
            zn = nrm == 0.0
            # top-p cells per row by (key desc, seed index asc) — seed
            # indices are cid-ascending by construction
            order = np.argsort(-key, axis=1, kind="stable")[:, :p]
            out_id, out_rk, out_cell, out_v = [], [], [], []
            for i in range(n):
                if zn[i]:
                    out_id.append(i)
                    out_rk.append(rk0 + orig[i])
                    out_cell.append(-1)
                    out_v.append(i)
                    continue
                for c in order[i]:
                    out_id.append(i)
                    out_rk.append(rk0 + orig[i])
                    out_cell.append(int(c))
                    out_v.append(i)
            sel = pa.array(out_id)
            yield pa.RecordBatch.from_arrays(
                [
                    idc.take(sel),
                    pa.array(out_rk, type=pa.int64()),
                    pa.array(out_cell, type=pa.int32()),
                    vec.take(pa.array(out_v)),
                ],
                names=["id", "rk", "cell", "v"],
            )

    probed = df.select(
        F.col(id_col), F.col(vec_col), F.spark_partition_id().alias("__pid")
    ).mapInArrow(_probe_batches, probed_schema)

    cprobed_schema = T.StructType(
        [
            T.StructField("ccid", T.LongType(), False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("cv", centroids.schema[centroid_vec_col].dataType, True),
        ]
    )

    def _centroid_cells(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cid_a = batch.column(batch.schema.get_field_index(centroid_id_col))
            cv_a = batch.column(batch.schema.get_field_index(centroid_vec_col))
            rows = cv_a.to_pylist()
            bad = [
                i for i, v in enumerate(rows)
                if v is None or len(v) != dim
            ]
            if bad:
                raise ValueError(
                    "semantic_dedup_two_level: centroid "
                    f"{cid_a[bad[0]].as_py()!r} is null/ragged — the "
                    "centroid table must be clean (same requirement as "
                    "semantic_dedup's collect)"
                )
            mat = np.array(rows, dtype=np.float64)
            key, _ = _seed_keys(mat)
            # nearest seed, ties to the lowest seed index (= lowest
            # seed cid); zero-norm centroids land on seed 0 (all -inf)
            cells = np.argmax(key, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [int(cid_a[i].as_py()) for i in range(n)],
                        type=pa.int64(),
                    ),
                    pa.array(cells, type=pa.int32()),
                    cv_a,
                ],
                names=["ccid", "cell", "cv"],
            )

    cent_cells = centroids.select(
        F.col(centroid_id_col), F.col(centroid_vec_col)
    ).mapInArrow(_centroid_cells, cprobed_schema)

    scored_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType, id_field.nullable),
            T.StructField("rk", T.LongType(), False),
            T.StructField("cid", T.LongType(), False),
            T.StructField("key", T.DoubleType(), False),
            T.StructField("v", vec_field.dataType, True),
        ]
    )

    def _score_cell(docs_pdf, cents_pdf):
        if len(docs_pdf) == 0 or len(cents_pdf) == 0:
            return pd.DataFrame(
                {"id": [], "rk": [], "cid": [], "key": [], "v": []}
            ).astype({"rk": "int64", "cid": "int64", "key": "float64"})
        dmat = np.array([list(v) for v in docs_pdf["v"]], dtype=np.float64)
        corder = np.argsort(cents_pdf["ccid"].to_numpy(), kind="stable")
        cids = cents_pdf["ccid"].to_numpy()[corder]
        cmat = np.array(
            [list(v) for v in cents_pdf["cv"].iloc[corder]],
            dtype=np.float64,
        )
        n, kc = dmat.shape[0], cmat.shape[0]
        dot = np.zeros((n, kc), dtype=np.float64)
        nrm2 = np.zeros(n, dtype=np.float64)
        cnrm2 = np.zeros(kc, dtype=np.float64)
        for t in range(dim):
            col = dmat[:, t]
            dot = dot + col[:, None] * cmat[:, t][None, :]
            nrm2 = nrm2 + col * col
            cnrm2 = cnrm2 + cmat[:, t] * cmat[:, t]
        denom = np.sqrt(nrm2)[:, None] * np.sqrt(cnrm2)[None, :]
        null_cs = denom == 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            cs = np.where(null_cs, np.nan, dot / np.where(null_cs, 1.0, denom))
        key = np.where(np.isnan(cs) & ~null_cs, np.inf, cs)
        key = np.where(null_cs, -np.inf, key)
        raw_max = key.max(axis=1)
        best_cid = np.empty(n, dtype=np.int64)
        best_key = np.empty(n, dtype=np.float64)
        for i in range(n):
            cand = np.flatnonzero(key[i] >= raw_max[i] - unit)
            best = None
            for j in cand:
                rj = key[i, j] if np.isinf(key[i, j]) else _jround(cs[i, j])
                if best is None or rj > best[0]:
                    best = (rj, cids[j])
            best_cid[i] = best[1]
            best_key[i] = best[0]
        return pd.DataFrame(
            {
                "id": docs_pdf["id"].to_numpy(),
                "rk": docs_pdf["rk"].to_numpy(),
                "cid": best_cid,
                "key": best_key,
                "v": docs_pdf["v"].to_numpy(),
            }
        )

    live = probed.where(F.col("cell") >= 0)
    dead = probed.where(F.col("cell") < 0).select(
        "id", F.lit(int(global_min_cid)).alias("cid"), "v"
    )
    scored = (
        live.groupBy("cell")
        .cogroup(cent_cells.groupBy("cell"))
        .applyInPandas(
            lambda l, r: _score_cell(l, r), scored_schema
        )
    )
    # cross-cell argmax, map-side combinable: (key desc, cid asc) — the
    # exact path's tie rules (keys are already rounded per cell).
    # Grouped on the surrogate rk, not id: NULL-id docs stay distinct
    best = (
        scored.groupBy("rk")
        .agg(
            F.max_by(
                F.struct("id", "cid", "v"),
                F.struct(F.col("key"), (-F.col("cid")).alias("nc")),
            ).alias("__m")
        )
        .select(
            F.col("__m.id").alias("id"),
            F.col("__m.cid").alias("cid"),
            F.col("__m.v").alias("v"),
        )
    )
    assigned = best.unionByName(dead)
    return _semantic_prune(assigned, dim, threshold, id_col, id_field)
