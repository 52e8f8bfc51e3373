"""End-to-end corpus curation: the standard training-data pipeline as one
composable plan.

Chains the operator families this package provides in their canonical
order (each stage is the documented scale shape — see the individual
modules):

  0. URL dedup          — optional (url_col=): keep one min-id row per
                          canonicalized URL (dedup.url_dedup) before any
                          content hashing — the cheapest dedup signal a
                          web corpus has, and the one every standard
                          pipeline (CCNet/RefinedWeb/Dolma) applies
                          first
  1. boilerplate strip  — corpus-frequent lines removed before anything
                          hashes text (boilerplate otherwise glues
                          near-dup clusters together and skews LSH
                          buckets)
  1b. span policy       — optional exact-substring pass (span_k=):
                          documents whose duplicated-k-gram coverage
                          (dedup.duplicated_span_stats) exceeds
                          span_max_ratio drop wholesale; survivors get
                          their duplicated spans CUT
                          (dedup.remove_duplicated_spans, the Lee et
                          al. ExactSubstr policy).  Runs before the
                          hash-based dedups for the same reason
                          boilerplate does: cut text changes every
                          downstream hash
  2. exact dedup        — collapse byte-identical texts first (one slim
                          hash shuffle; also the primary defense against
                          LSH bucket skew)
  3. near-dup removal   — MinHash+LSH verified pairs -> keep min-id
                          representatives
  3b. corpus dedup      — optional incremental mode (dedup_index_path=):
                          survivors probe a persisted MinHash corpus
                          index (dedup.save_minhash_index) so a batch
                          dedups against everything accepted before it;
                          streaming/curation.py wraps this per
                          micro-batch
  4. quality gate       — language id + quality score + repeated-trigram
                          ratio thresholds (pure Column expressions)
  5. PII scrub          — regexp_replace pass over the surviving text
  6. decontamination    — drop docs sharing word n-grams with a held-out
                          evaluation set
  7. fluency gate       — perplexity-proxy floor on mean corpus bigram
                          frequency (text.fluency_scores)
  7b. learned gate      — optional classifier floor (quality_model=): a
                          classify.train_quality_classifier model scores
                          the survivors (map-only) and rows below
                          quality_floor drop — the GPT-3 recipe's last
                          filter, placed late so the most expensive
                          signal sees the fewest rows
  8. sampling / mixing  — deterministic stratified sample to the target
                          budget (operators.sampling)
  9. training order     — deterministic global shuffle positions
                          (sampling.deterministic_shuffle), the handoff
                          point to packing.pack_offsets

Every stage stays declarative (Catalyst plans end to end). Stages toggle
off for ablations. Returns (curated_df, stats_dict) where stats records
the rows remaining after each stage.

The counts cost one pass, not one pass per stage: each noted stage
carries a string-named ``DataFrame.observe`` count, and ONE action — an
eager ``localCheckpoint`` of the output, tagged in the Spark UI with
``setJobDescription("curate: <stages>")`` — runs the pipeline and fills
every count at once (the observed-metrics mechanism Structured Streaming
uses for per-trigger progress).  The one exception is a stage whose
metric node the optimizer drops because it sat under a join with an
empty side; that stage gets a count of its own.  The returned frame is
that checkpoint, so the caller's collect/write reads materialized rows
instead of running the pipeline again, and no metric node leaks into
the caller's plans.
Checkpoint blocks are executor-local and non-replicated, the same
caveat as dedup.hamming_neardup_pairs: unrecoverable on executor loss
and discouraged under dynamic allocation.  With collect_stats=False
curate adds no action: the result is the lazy plan and stats is empty.

``pyspark.sql.Observation`` is deliberately not used: the first use
initializes the session's observation manager, which is not
serializable, and from then on every task whose closure captures the
SparkSession (a fitted LogisticRegressionModel that still holds its
training summary does) fails with "Task not serializable".  Metrics
named by a string are read back from the action's QueryExecution
instead, which leaves the manager untouched.
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.operators import dedup as _dedup
from cloudfabric_eventsourcing_spark.operators import sampling as _sampling
from cloudfabric_eventsourcing_spark.operators import text as _text
from cloudfabric_eventsourcing_spark.session import job_description


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: Optional[str] = None,
    exact: bool = True,
    boilerplate_min_docs: Optional[int] = None,
    span_k: Optional[int] = None,
    span_max_ratio: float = 0.8,
    span_min_count: int = 2,
    neardup_threshold: Optional[float] = 0.9,
    dedup_index_path: Optional[str] = None,
    dedup_index_broadcast: bool = True,
    min_quality: Optional[float] = None,
    max_repetition: Optional[float] = None,
    repetition_n: int = 3,
    languages: Optional[list[str]] = None,
    scrub_pii: bool = True,
    decontaminate_against: Optional[DataFrame] = None,
    decontaminate_n: int = 8,
    min_fluency: Optional[float] = None,
    quality_model: object = None,
    quality_floor: float = 0.5,
    sample_per_stratum: Optional[int] = None,
    sample_strata: Optional[str] = None,
    sample_salt: str = "",
    shuffle_positions: bool = False,
    collect_stats: bool = True,
) -> tuple[DataFrame, dict]:
    """Run the curation pipeline; see module docstring for stage order.

    With collect_stats=True (the default) the pipeline runs exactly once,
    inside this call: the result is an eager local checkpoint of the
    output and stats maps each noted stage to its remaining row count.
    With collect_stats=False curate adds no action and stats is empty."""
    tag = uuid.uuid4().hex  # two curated frames never share a metric name
    noted: dict[str, DataFrame] = {}

    def note(stage: str, df: DataFrame) -> DataFrame:
        if not collect_stats:
            return df
        noted[stage] = df.observe(f"curate_{tag}_{stage}", F.count(F.lit(1)))
        return noted[stage]

    out = note("input", docs)

    if url_col is not None:
        out = note(
            "url_deduped",
            _dedup.url_dedup(out, url_col=url_col, id_col=id_col).drop(
                "canonical_url"
            ),
        )

    if boilerplate_min_docs is not None:
        stripped = _text.remove_boilerplate_lines(
            out,
            min_docs=boilerplate_min_docs,
            text_col=text_col,
            id_col=id_col,
            out="__clean",
        )
        out = note(
            "boilerplate_stripped",
            stripped.withColumn(text_col, F.col("__clean")).drop("__clean"),
        )

    if span_k is not None:
        spans = _dedup.duplicated_spans(
            out, k=span_k, min_count=span_min_count,
            text_col=text_col, id_col=id_col,
        )
        heavy = (
            _dedup.duplicated_span_stats(
                out, spans=spans, text_col=text_col, id_col=id_col
            )
            .where(F.col("dup_ratio") > span_max_ratio)
            .select(id_col)
        )
        survivors = out.join(heavy, id_col, "left_anti")
        cut = _dedup.remove_duplicated_spans(
            survivors,
            spans=spans.join(heavy, id_col, "left_anti"),
            text_col=text_col,
            id_col=id_col,
        )
        out = note(
            "span_policy",
            cut.withColumn(text_col, F.col("clean")).drop("clean"),
        )

    if exact:
        reps = _dedup.exact_dedup(out, text_col=text_col, id_col=id_col).select(
            id_col
        )
        out = note("exact_dedup", out.join(reps, id_col, "left_semi"))

    # one meta read serves both the batch-internal scan and the index probe
    index_banding = (
        _dedup._read_minhash_meta(docs.sparkSession, dedup_index_path)
        if dedup_index_path is not None
        else None
    )

    if neardup_threshold is not None:
        # in incremental mode the batch-internal scan must band exactly
        # like the corpus index, or acceptance would depend on whether
        # two near-dups arrive together or apart; otherwise fall through
        # to the callee's own defaults (no duplicated constants to drift)
        mh_kwargs = (
            {}
            if index_banding is None
            else dict(zip(("num_perm", "bands", "n"), index_banding))
        )
        pairs = _dedup.minhash_lsh_pairs(
            out, threshold=neardup_threshold, text_col=text_col,
            id_col=id_col, **mh_kwargs,
        )
        out = note(
            "neardup", _dedup.lsh_dedup_representatives(pairs, out, id_col=id_col)
        )

    if dedup_index_path is not None:
        # incremental mode: this batch vs the persisted corpus index
        # (dedup.save_minhash_index) — runs AFTER internal dedup so only
        # within-batch representatives pay the probe; a backfill-sized
        # batch sets dedup_index_broadcast=False to keep its banded/gram
        # frames off the driver
        cross = _dedup.dedup_against_index(
            out,
            dedup_index_path,
            threshold=neardup_threshold if neardup_threshold is not None else 0.9,
            text_col=text_col,
            id_col=id_col,
            banding=index_banding,
            broadcast=dedup_index_broadcast,
        )
        dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
        out = note("corpus_dedup", out.join(dup_ids, id_col, "left_anti"))

    if languages is not None or min_quality is not None or max_repetition is not None:
        gated = _text.with_language_id(
            _text.with_quality_score(out, text_col=text_col), text_col=text_col
        )
        if languages is not None:
            gated = gated.where(F.col("lang_pred").isin(languages))
        if min_quality is not None:
            gated = gated.where(F.col("quality") >= min_quality)
        if max_repetition is not None:
            reps = _text.repetition_stats(
                out, n=repetition_n, text_col=text_col, id_col=id_col
            ).where(F.col("repetition_ratio") <= max_repetition).select(id_col)
            gated = gated.join(reps, id_col, "left_semi")
        out = note("quality_gate", gated.select(*out.columns))

    if scrub_pii:
        out = out.withColumn(text_col, _text.redact_pii(F.col(text_col)))

    if decontaminate_against is not None:
        out = note(
            "decontaminated",
            _dedup.ngram_decontaminate(
                out,
                decontaminate_against,
                n=decontaminate_n,
                text_col=text_col,
                id_col=id_col,
            ),
        )

    if min_fluency is not None:
        # fluency_scores only emits docs with >= 1 bigram; docs with
        # fewer than 2 tokens are scored 0 here so the THRESHOLD decides
        # their fate (min_fluency=0 keeps them) instead of the join
        # silently dropping them.  scores is unique per id, so the left
        # join cannot duplicate rows.
        scores = _text.fluency_scores(
            out, text_col=text_col, id_col=id_col
        ).select(F.col("id").alias(id_col), "fluency")
        gated = (
            out.join(scores, id_col, "left")
            .where(
                F.coalesce(F.col("fluency"), F.lit(0.0)) >= F.lit(min_fluency)
            )
            .drop("fluency")
        )
        out = note("fluency_gate", gated.select(*out.columns))

    if quality_model is not None:
        from cloudfabric_eventsourcing_spark.operators.classify import (
            score_quality,
        )

        scored = score_quality(
            out, quality_model, text_col=text_col, out_col="__qprob"
        )
        out = note(
            "learned_gate",
            scored.where(F.col("__qprob") >= quality_floor).drop("__qprob"),
        )

    if sample_per_stratum is not None:
        staged = out.withColumn(
            "__stratum",
            F.col(sample_strata) if sample_strata else F.lit("all"),
        )
        out = note(
            "sampled",
            _sampling.stratified_sample_exact(
                staged,
                strata_cols=("__stratum",),
                k=sample_per_stratum,
                id_col=id_col,
                salt=sample_salt,
            ).drop("__stratum"),
        )

    if shuffle_positions:
        out = _sampling.deterministic_shuffle(
            out, id_col=id_col, salt=sample_salt
        )

    if not collect_stats:
        return out, {}
    out = note("output", out)
    with job_description(out.sparkSession, "curate: " + ", ".join(noted)):
        done = out.localCheckpoint(eager=True)
    observed = out._jdf.queryExecution().observedMetrics()
    stats = {}
    for stage, df in noted.items():
        name = f"curate_{tag}_{stage}"
        # a join with an empty side is replaced by an empty relation
        # (statically, or by AQE once a stage comes back empty), and the
        # metric nodes beneath it go with it: only such a stage is
        # counted on its own
        stats[stage] = (
            observed.apply(name).getLong(0)
            if observed.contains(name)
            else df.count()
        )
    return done, stats


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: Optional[str] = None,
    approximate: bool = False,
    accuracy: int = 10_000,
) -> dict:
    """Dataset-card statistics for a (curated) corpus — the report a
    training pipeline emits before a run: document/token totals, token-
    length distribution, and the language mix.

    The corpus is tokenized ONCE into a slim persisted (tokens, lang)
    projection; the global aggregate (count/sum/min/max + exact
    percentiles — exact, sort-based, because a dataset card is quoted,
    not sampled) and the language histogram both read that projection.
    Exact global percentiles cannot merge from per-group ones, so two
    aggregates over the 2-column frame is the cheapest exact shape.

    `approximate=True` swaps the sort-based percentiles for
    approx_percentile (KLL-style mergeable sketch at the given
    `accuracy`, default 1/10000 relative rank error) — the 100 TB
    opt-out: exact global percentiles force a single-reducer sort of
    one int64 per document, the sketch merges map-side and never
    concentrates the column on one task.  Everything else in the report
    is unchanged (count/sum/min/max/histogram are already mergeable).
    Languages come from the stored `lang_col` when given, else the
    heuristic language id.  NULL text counts as 0 tokens, same as the
    empty string.  Returns a plain dict; callers serialize it next to
    the shards."""
    # NULL-safe: size(split(NULL)) is NULL, which would drop NULL-text
    # docs from sum/min/max/percentile while n_docs still counts them
    toks = F.coalesce(
        _text.token_count_whitespace(F.col(text_col)), F.lit(0)
    )
    if lang_col is not None:
        lang_expr_src = docs.select(
            toks.alias("__n"), F.col(lang_col).alias("lang")
        )
    else:
        lang_expr_src = _text.with_language_id(docs, text_col=text_col).select(
            toks.alias("__n"), F.col("lang_pred").alias("lang")
        )
    proj = lang_expr_src.persist()
    try:
        agg = proj.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
            F.min("__n").alias("min_tokens"),
            F.max("__n").alias("max_tokens"),
            (
                F.expr(
                    "approx_percentile(__n, array(0.5, 0.9, 0.99), "
                    f"{int(accuracy)})"
                )
                if approximate
                else F.expr("percentile(__n, array(0.5, 0.9, 0.99))")
            ).alias("pct"),
        ).collect()[0]
        pct = agg["pct"]
        langs = {
            r["lang"]: r["n"]
            for r in proj.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        proj.unpersist()
    n_docs = int(agg["n_docs"] or 0)
    total = int(agg["total_tokens"] or 0)
    return {
        "n_docs": n_docs,
        "total_tokens": total,
        "mean_tokens": (total / n_docs) if n_docs else 0.0,
        "min_tokens": int(agg["min_tokens"] or 0),
        "max_tokens": int(agg["max_tokens"] or 0),
        "p50_tokens": float(pct[0]) if pct else 0.0,
        "p90_tokens": float(pct[1]) if pct else 0.0,
        "p99_tokens": float(pct[2]) if pct else 0.0,
        "languages": langs,
    }
