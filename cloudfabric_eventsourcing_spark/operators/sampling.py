"""Deterministic sampling for training-data pipelines.

Random sampling (df.sample / sampleBy) is cheap but irreproducible across
engines and partitionings. Training-data curation wants the opposite:
samples that are (a) stratified per group, (b) exactly sized, and
(c) bit-reproducible across runs, engines and cluster layouts — so a
pipeline re-run selects the same documents and an auditor can re-derive
the sample. Hash-rank sampling gives all three: order rows inside each
stratum by a cryptographic hash of their key and keep the first k.
The hash is uniform, so this is a uniform random sample with the hash as
the (fixed) randomness source; salt it to draw an independent sample.

Scale shape: one window per stratum (single shuffle on the stratum key);
no driver-side state, no collect.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: Sequence[str],
    k: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by md5 hash-rank
    of ``id_col`` (ties on hash broken by the id itself, so the selection
    is total-ordered and engine-independent). ``salt`` varies the draw."""
    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
        F.col(id_col),
    )
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    total: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic data mixture: draw ``total`` rows with per-stratum
    counts proportional to ``weights`` (rounded), each stratum's rows
    chosen by the same hash-rank as stratified_sample_exact. Strata absent
    from ``weights`` are excluded. The standard pretraining-mixture shape:
    'sample 1B docs at 50% web / 30% code / 20% books', reproducibly.

    Under-full strata yield what they have (the mixture shrinks rather
    than re-balancing — re-run with adjusted weights if exact totals
    matter); counts derive from weights alone, so the plan stays a single
    window + broadcast join, no extra pass over the data."""
    wsum = float(sum(weights.values()))
    ks = [(s, int(round(total * w / wsum))) for s, w in weights.items()]
    mapping = df.sparkSession.createDataFrame(ks, [strata_col, "__k"])
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
        F.col(id_col),
    )
    return (
        df.join(F.broadcast(mapping), strata_col)
        .withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= F.col("__k"))
        .drop("__rank", "__k")
    )


def stratified_sample_fraction(
    df: DataFrame,
    strata_cols: Sequence[str],
    fractions: dict,
    seed: int = 0,
    default_fraction: Optional[float] = None,
    max_strata: int = 100_000,
) -> DataFrame:
    """Approximate per-stratum Bernoulli sampling (Spark-native sampleBy)
    for when exact sizes don't matter and a second scan is too expensive.
    Single stratum column only (sampleBy limitation).

    ``default_fraction`` needs the distinct stratum set on the driver
    (sampleBy takes a literal fraction map).  That is bounded and fine
    for real strata (language, source, quality bucket) but a mistaken
    high-cardinality column (doc id, url) would funnel the corpus into
    the driver — so the collect is capped at ``max_strata`` and fails
    loudly past it rather than OOMing quietly."""
    if len(strata_cols) != 1:
        raise ValueError("sampleBy supports exactly one stratum column")
    col = strata_cols[0]
    if default_fraction is not None:
        # limit(max+1): bounded driver transfer regardless of cardinality
        present = [
            r[0]
            for r in df.select(col).distinct().limit(max_strata + 1).collect()
        ]
        if len(present) > max_strata:
            raise ValueError(
                f"stratum column {col!r} has more than {max_strata} "
                "distinct values — default_fraction materializes the "
                "stratum set on the driver, which is only sane for "
                "low-cardinality strata (language, source, bucket). "
                "Pass an explicit `fractions` map, raise `max_strata` "
                "deliberately, or stratify on a coarser column."
            )
        fractions = {v: fractions.get(v, default_fraction) for v in present}
    return df.sampleBy(col, fractions=fractions, seed=seed)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str = "",
    out: str = "position",
    prefix_chars: int = 3,
) -> DataFrame:
    """Global training-order shuffle: assign every row a 0-based
    ``position`` in md5-hash order — uniformly random but bit-identical
    across runs, engines and partitionings (``salt`` draws an
    independent permutation). The last step of a curation pipeline:
    examples must reach training in an order uncorrelated with source
    layout, and re-runs must reproduce it.

    A global ``row_number() OVER (ORDER BY hash)`` would funnel the
    corpus through one task. Two-phase instead (same scheme as
    packing.global_prefix_sum): bucket by the hash's first
    ``prefix_chars`` hex chars (fixed-length lowercase hex, so
    lexicographic prefix order == numeric hash order), count per bucket,
    exclusive-prefix the 16^prefix_chars bucket counts on the tiny
    totals frame, broadcast offsets back, row_number within buckets
    (parallel across buckets, ties broken by id for totality).
    """
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    with_h = df.withColumn("__h", h).withColumn(
        "__b", F.conv(F.substring("__h", 1, prefix_chars), 16, 10).cast("long")
    )
    counts = with_h.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    prior = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__n").over(prior), F.lit(0)).alias("__off")
    )
    within = Window.partitionBy("__b").orderBy("__h", id_col)
    return (
        with_h.join(F.broadcast(offsets), "__b")
        .withColumn(out, F.col("__off") + F.row_number().over(within) - 1)
        .drop("__h", "__b", "__off")
    )


# ---------------------------------------------------------------------------
# DSIR — importance weighting for data selection (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _hashed_gram_buckets(text_col: str, bucket_hex: int, bigrams: bool):
    """Array of hashed n-gram feature buckets for one document: word
    unigrams (+ bigrams) mapped to a `bucket_hex`-character md5 prefix
    (16^bucket_hex buckets).  md5 keeps the bucketing engine-portable —
    the p16 lesson — so the p19 oracle reproduces feature hashing
    exactly."""
    from cloudfabric_eventsourcing_spark.operators.text import tokens_column

    toks = tokens_column(F.col(text_col))
    grams = toks
    if bigrams:
        span = F.greatest(F.size(toks) - 1, F.lit(0))
        bi = F.zip_with(
            F.slice(toks, 1, span),
            F.slice(toks, 2, span),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        grams = F.concat(toks, bi)
    return F.transform(grams, lambda g: F.substring(F.md5(g), 1, bucket_hex))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    bucket_hex: int = 3,
    bigrams: bool = True,
    cache_features: bool = False,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per raw document, the
    log-likelihood ratio of its hashed n-gram features under the
    TARGET distribution vs the RAW distribution —
    (doc_id, n_grams, log_weight), log_weight exact on the 1e-6
    lattice (the micro-unit sum divided back down — see below; it is
    NOT re-rounded).  Select
    with dsir_top_k (deterministic) or feed the weights to Gumbel
    resampling for the paper's sampled variant.

    Both bag-of-hashed-gram multinomials are Laplace-smoothed with
    `alpha` over the FIXED bucket space B = 16^bucket_hex, so buckets
    unseen in either corpus still have finite probability and every
    weight is defined.  Cross-engine determinism is load-bearing and
    subtle: per-bucket log-ratios are quantized to INTEGER micro-units
    (round(lw * 1e6)) and the per-doc reduction sums BIGINTs — exact
    and order-independent — with one final double division.  The naive
    alternative (sum doubles, round the sum) fails systematically, not
    rarely: 6-decimal-rounded terms are lattice points whose sums land
    exactly ON 4-decimal rounding boundaries, where summation order
    decides the last digit (observed on the first sf0.01 run, doc 461:
    -11.8044 vs -11.8045).

    Scale shape: the target fit is one map-side-combinable groupBy into
    <= B buckets; the raw fit likewise (one extra pass over the raw
    corpus — at 100 TB this is the cheapest possible full-scan shape,
    a count into 4096 cells).  The per-doc scoring pass joins each
    exploded gram to the B-row weight table, which is broadcast — the
    corpus itself is never shuffled; the only wide exchange is the
    final per-doc sum keyed by id.  That join is the only scoring form:
    an Arrow kernel over a collected weight table ran at 0.82x its
    speed at sf10.  `cache_features=True` makes the raw fit and the
    scoring join read one persisted tokenize+md5 pass (same output).
    Empty documents weigh 0."""
    buckets = _hashed_gram_buckets(text_col, bucket_hex, bigrams)
    n_buckets = 16 ** bucket_hex

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(buckets).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias(name))
        )

    tc = counts(target, "tc")
    per_gram = raw.select(
        F.col(id_col).alias("id"), F.explode_outer(buckets).alias("b")
    )
    if cache_features:
        # one tokenize+md5 pass over the raw corpus instead of two:
        # the exploded (id, bucket) rows feed BOTH the raw fit and the
        # scoring join (persisted MEMORY_AND_DISK; ContextCleaner
        # reclaims on GC).  Same results bit-for-bit — the fit's
        # explode() equals the outer-explode rows minus the null-b
        # rows empty documents contribute.
        from pyspark import StorageLevel

        per_gram = per_gram.persist(StorageLevel.MEMORY_AND_DISK)
        rc = (
            per_gram.where(F.col("b").isNotNull())
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("rc"))
        )
    else:
        rc = counts(raw, "rc")
    tot = tc.agg(F.sum("tc").alias("tt")).crossJoin(
        rc.agg(F.sum("rc").alias("tr"))
    )
    lw = (
        tc.join(rc, "b", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + alpha)
                        / (
                            F.coalesce(F.col("tt"), F.lit(0))
                            + alpha * n_buckets
                        )
                    )
                    - F.log(
                        (F.coalesce(F.col("rc"), F.lit(0)) + alpha)
                        / (
                            F.coalesce(F.col("tr"), F.lit(0))
                            + alpha * n_buckets
                        )
                    )
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("lw_micro"),
        )
    )
    return (
        per_gram.join(F.broadcast(lw), "b", "left")
        .groupBy("id")
        .agg(
            F.count("b").alias("n_grams"),
            (
                F.coalesce(F.sum("lw_micro"), F.lit(0)).cast("double")
                / 1e6
            ).alias("log_weight"),
        )
        .select(F.col("id").alias(id_col), "n_grams", "log_weight")
    )


def dsir_top_k(
    weights: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic DSIR selection: the k raw documents with the
    highest log_weight, ties to the lowest id.  The paper resamples
    with Gumbel noise instead; this is the reproducible variant an
    audited pipeline wants (the same trade stratified_sample_exact
    makes against df.sample)."""
    return (
        weights.orderBy(F.col("log_weight").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hash_uniform(id_col: str, salt: str):
    """Uniform(0,1) Column derived from md5(id || '|' || salt) — the
    shared randomness source for every hash-randomized sampler here
    (dsir_resample's Gumbel, classify's Pareto draw): (top-48-bits +
    0.5) / 2^48, never exactly 0 or 1 so downstream logs/powers stay
    finite.  One definition on purpose — a change to the draw (width,
    separator) must hit every sampler at once or their shared
    "same contract" documentation becomes a lie.

    A NULL id raises at evaluation time rather than drawing: concat_ws
    silently skips nulls, so every null-id row would otherwise hash to
    md5(salt) and share ONE draw — silently correlating the Gumbel
    resample and Pareto filter decisions across all such rows
    (advice-pinned)."""
    id_str = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"hash_uniform: null {id_col} — null ids would collapse to "
            "a single shared draw; filter or coalesce ids first"
        )),
    ).otherwise(F.col(id_col).cast("string"))
    h48 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", id_str, F.lit(salt))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return (h48.cast("double") + 0.5) / float(1 << 48)


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
    weight_col: str = "log_weight",
) -> DataFrame:
    """The paper's actual selection step — sampling WITHOUT replacement
    proportional to exp(log_weight) — via the Gumbel top-k trick, with
    the Gumbel noise derived from md5(id || salt) instead of an RNG:
    argtop-k(log_weight + Gumbel) is distributed exactly as weighted
    sampling without replacement (Vieira 2014), and hash-derived noise
    makes the draw bit-reproducible across runs, engines and
    partitionings — the same determinism trade every sampler in this
    module makes.  Different `salt` values give independent draws.

    The uniform is (h + 0.5) / 2^48 from the md5 top 48 bits — never 0
    or 1, so the double log is always finite.  Selection is a global
    top-k (TakeOrderedAndProject — no full sort), ties broken by id."""
    gumbel = -F.log(-F.log(hash_uniform(id_col, salt)))
    return (
        weights.withColumn("__key", F.col(weight_col) + gumbel)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__key")
    )
